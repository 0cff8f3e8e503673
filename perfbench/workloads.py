"""The two workloads. Each sets up (session start, the seeded inputs, a
warm-up call of the engine functions it times most), then measures one kind
of use, checking every output it gets.

- bulk:   one ~10M-token batch: encode_job.run six times or more, then
          decode_job.decode (noop sink) six times and
          verify.verify_by_hash once on the last table, lint_job.lint once
          in traced runs; then point lookups on the table. Per-token work
          (codec kernels, Arrow transfer to the UDFs, the chunk shuffle)
          has its largest share here, though fixed cost per call is still
          most of the wall.
- append: a table fed ~1.4k-row files, one micro-batch each, by
          streaming.encode_stream; then full decodes and point lookups
          whose candidates span every batch's chunk prefix; in traced runs
          also lint_job.lint_encoded and a compaction that merges every
          chunk. Kernel work is tiny: Spark jobs per call, lineage
          re-reads, attempt-dir listing and Python worker start-up
          dominate.

Both report the same end-to-end names (README.md gives what each means per
workload) plus a detail record with the workload's own named metrics.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from . import inputs
from .trace import CALL_GROUPS, spark_breakdown

BULK_SCALE = 0.1  # ~9.4M synthetic tokens
BULK_DOCS = 2000
BULK_ENCODES = 6  # measured encode_job.run calls, at least
BULK_READS = 5  # measured decode calls, after one warm-up decode
APPEND_FILE_SCALE = 0.006  # ~1.4k rows per micro-batch file
APPEND_WARM_BATCHES = 3  # batch 0 starts the query; 1 and 2 still ran slow
APPEND_STEADY = 5  # measured micro-batches, at least
APPEND_READS = 3  # measured full decodes of the streamed table, after a warm-up one
DRIFT_WINDOW = 10  # append_growth and lookup_drift compare 10 first with 10 last
MIN_LOOKUPS = 3  # the first is the lookup path's warm-up
PRESENT_PER_LOOKUP = 2  # plus one absent id per call
SEQ_SCHEMA = pa.schema([
    ("doc_id", pa.string()), ("tokens", pa.list_(pa.int32())),
    ("n_tok", pa.int32()), ("source", pa.string()),
])


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs: list[float]) -> dict:
    """Highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if n <= 10:
        return {"value": None, "percentile": None, "samples": n}
    pct = 100.0 * (n - 10) / n
    return {"value": float(np.percentile(xs, pct)), "percentile": round(pct, 2), "samples": n}


def drift(xs: list[float]) -> float | None:
    """Median of the last DRIFT_WINDOW samples over the median of the first
    DRIFT_WINDOW; null until there are twice that many."""
    if len(xs) < 2 * DRIFT_WINDOW:
        return None
    return median(xs[-DRIFT_WINDOW:]) / median(xs[:DRIFT_WINDOW])


def read_rows(paths: list[str]) -> pa.Table:
    """Sequence rows of parquet files, in one schema."""
    parts = []
    for p in paths:
        t = pq.read_table(p).select(SEQ_SCHEMA.names)
        parts.append(t.cast(SEQ_SCHEMA))
    return pa.concat_tables(parts)


def parquet_files(d: str) -> list[str]:
    return sorted(
        os.path.join(r, f) for r, _, fs in os.walk(d) for f in fs if f.endswith(".parquet")
    )


def disk_bytes(d: str) -> int:
    return sum(os.path.getsize(p) for p in parquet_files(d))


def attempt_dirs(out_dir: str) -> int:
    enc = os.path.join(out_dir, "encoded")
    return sum(1 for n in os.listdir(enc) if n.startswith("attempt="))


def digests(frames: dict) -> dict:
    """Per-source (row count, sum of row hashes) of each named sequence
    DataFrame, all in one job: the benchmark's own order-independent content
    check, independent of tokenlake.verify."""
    from functools import reduce

    from pyspark.sql import functions as F

    h = F.xxhash64("doc_id", "tokens", "n_tok", "source").cast("decimal(38,0)")
    sides = [
        df.groupBy("source").agg(F.count("*").alias("n"), F.sum(h).alias("h"))
        .select(F.lit(tag).alias("side"), "source", "n", "h")
        for tag, df in frames.items()
    ]
    rows = reduce(lambda a, b: a.unionAll(b), sides).collect()
    return {t: {r["source"]: (r["n"], r["h"]) for r in rows if r["side"] == t} for t in frames}


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    warm_batches = 0  # a streaming query's first batches, left out as warm-up

    def __init__(self, bench) -> None:
        self.b = bench
        self.tr = bench.tracer
        self.detail: dict = {}
        # layers only some workloads exercise read 0 on the others
        self.layers: dict[str, float] = {
            "streaming.add_batch_s": 0.0,
            "streaming.trigger_overhead_s": 0.0,
            "decode_job.lookup.chunks_per_result": 0.0,
        }
        self.calls: dict[str, int] = {}

    @property
    def spark(self):
        return self.b.spark

    def path(self, *parts: str) -> str:
        return os.path.join(self.b.work, self.name, *parts)

    # -- set-up ---------------------------------------------------------
    def setup(self) -> float:
        """Session start, then the seeded inputs, then the warm-up: a first
        call of the encode and decode paths on a small input, which pays JVM
        code generation and Python worker start-up before anything is timed.
        Returns setup_s, the wall of the three."""
        with self.tr.span("setup") as setup:
            with self.tr.span("session.start") as start:
                self.b.start()
            with self.tr.span("setup.inputs") as gen:
                self.make_inputs()
            with self.tr.warming(), self.tr.span("session.warmup") as warm:
                self.warm_up()
        self.detail["setup_parts"] = {
            "session_start_s": start["end"] - start["start"],
            "inputs_s": gen["end"] - gen["start"],
            "warmup_s": warm["end"] - warm["start"],
        }
        return setup["end"] - setup["start"]

    def warm_up(self) -> None:
        raise NotImplementedError

    def make_inputs(self) -> None:
        raise NotImplementedError

    def measure(self) -> dict[str, float]:
        """Run the measured phase; returns the end-to-end metrics other
        than setup_s and peak_rss_mb."""
        raise NotImplementedError

    # -- traced-run layers ------------------------------------------------
    def common_layers(self, seq_df, rows: pa.Table, table_dir: str, encode_walls: list[float]) -> None:
        """Layers every workload reports, measured on its own input and
        table: chunk planning, kernels, noop encode, local reader."""
        from tokenlake import chunking, encode_job

        from .layers import kernel_layers, local_reader_layer

        L = self.layers
        t0 = time.perf_counter()
        with self.tr.call("chunking.plan_buckets"):
            chunking.plan_buckets(seq_df).collect()
        L["chunking.plan_buckets_s"] = time.perf_counter() - t0
        meta = pq.read_table(os.path.join(table_dir, "encoded"), columns=["n_values", "elapsed_ms"])
        nv = meta.column("n_values").to_numpy()
        L["chunking.chunks"] = float(len(nv))
        L["chunking.chunk_skew"] = float(nv.max() / nv.mean()) if len(nv) else 0.0
        udf_cpu = float(pc.sum(meta.column("elapsed_ms")).as_py() or 0.0) / 1e3
        L["encode_job.udf_cpu_s"] = udf_cpu
        wall = sum(encode_walls)
        L["encode_job.sched_utilization"] = udf_cpu / (self.b.cores * wall) if wall else 0.0
        L["encode_job.attempt_dirs"] = float(attempt_dirs(table_dir))
        t0 = time.perf_counter()
        with self.tr.call("encode_job.encode_dataframe"):
            noop(encode_job.encode_dataframe(seq_df))
        L["encode_job.encode_noop_s"] = time.perf_counter() - t0
        kl, wrong = kernel_layers(rows)
        L.update(kl)
        self.b.record("kernels", wrong)
        lr, wrong = local_reader_layer(table_dir, rows)
        L.update(lr)
        self.b.record("local_reader", wrong)
        L["decode_job.decode.plan_s"] = median(self.tr.walls("decode_job.decode.plan"))

    def spark_layers(self, app_id: str, alias: dict[str, str]) -> None:
        calls = {g: self.tr.count(g) for g in CALL_GROUPS}
        calls.update(self.calls)
        out, extra = spark_breakdown(self.b.event_log_dir, app_id, alias, calls, self.warm_batches)
        self.layers.update(out)
        if extra["lookup_udf_rows_out"]:
            self.layers["decode_job.lookup.chunks_per_result"] = (
                extra["lookup_udf_rows_in"] / extra["lookup_udf_rows_out"]
            )
        self.detail["lookup_udf_rows"] = extra

    def timed_decode(self, table_dir: str) -> float:
        """Full decode into a noop sink; returns its wall. The time until
        decode() returns its DataFrame is a span of its own."""
        from tokenlake import decode_job

        with self.tr.call("decode_job.decode") as sp:
            with self.tr.span("decode_job.decode.plan"):
                df = decode_job.decode(self.spark, table_dir)
            noop(df)
        return sp["end"] - sp["start"]

    def n_lookups(self) -> int:
        """At least MIN_LOOKUPS; long runs get one per 8 s, enough for a
        drift reading."""
        return max(MIN_LOOKUPS, int(self.b.seconds // 8))

    def lookups(self, table_dir: str, rows: pa.Table, n: int) -> list[float]:
        """`n` closed-loop point lookups of PRESENT_PER_LOOKUP seeded present
        ids and one absent id; each must return exactly the present rows
        with their tokens. The first lookup is the lookup path's warm-up
        (first call on the table, pandas imported in the workers for the
        bloom probe): lookup_p50_s and the Spark breakdown leave it out."""
        from tokenlake import decode_job

        ids = rows.column("doc_id").to_pylist()
        at = {d: i for i, d in enumerate(ids)}
        tokens = rows.column("tokens")
        rng = np.random.default_rng(np.random.SeedSequence([self.b.seed, 0x5E7E]))
        walls = []
        for k in range(n):
            present = [ids[j] for j in rng.choice(len(ids), PRESENT_PER_LOOKUP, replace=False)]
            absent = f"absent-{self.b.seed}-{k:06d}"
            with self.tr.warming(k == 0), self.tr.call("decode_job.lookup") as c:
                got = decode_job.lookup(self.spark, table_dir, [*present, absent]).collect()
            walls.append(c["end"] - c["start"])
            self.b.attempted += 1
            ok = sorted(r["doc_id"] for r in got) == sorted(present) and all(
                r["tokens"] == tokens[at[r["doc_id"]]].as_py() and r["n_tok"] == len(r["tokens"])
                for r in got
            )
            self.b.record("lookup_rows", not ok)
        return walls


class Bulk(Workload):
    name = "bulk"

    def make_inputs(self) -> None:
        from tokenlake.schema import sequences_from_documents

        d, docs_dir = self.path("in"), self.path("docs")
        inputs.write_sequences(os.path.join(d, "synth.parquet"), BULK_SCALE, self.b.seed)
        inputs.write_documents(docs_dir, BULK_DOCS, self.b.seed)
        sequences_from_documents(self.spark, docs_dir).write.mode("append").parquet(d)
        self.input_dir = d

    def warm_up(self) -> None:
        """One encode of the run's own input. The first full-size encode
        pays Python worker start-up and code generation: it ran 3-4x slower
        than the later ones here, and still ~60% slower after a small-input
        warm-up, which cost more set-up time than it saved. Decodes and
        lookups warm up in the measured phase, on the table they read."""
        from tokenlake import encode_job

        seq = self.spark.read.parquet(self.input_dir)
        out = self.path("warm")
        with self.tr.call("encode_job.run"):
            summary = encode_job.run(self.spark, seq, out)
        self.warm_bytes = int(summary["encoded_bytes"])
        shutil.rmtree(out, ignore_errors=True)

    def measure(self) -> dict[str, float]:
        from tokenlake import decode_job, encode_job, lint_job, verify

        spark = self.spark
        seq = spark.read.parquet(self.input_dir)
        self.rows = read_rows(parquet_files(self.input_dir))
        n_rows, tokens = self.rows.num_rows, inputs.token_count(self.rows)
        # lint reads only the input and backs no end-to-end metric: one call,
        # in traced runs, where its Spark work is broken down
        lint_s = None
        if self.b.trace:
            with self.tr.call("lint_job.lint") as c:
                decisions = lint_job.lint(spark, seq).collect()
            lint_s = c["end"] - c["start"]
            self.b.attempted += 1
            self.b.record("lint_nonempty", not decisions)
        walls: dict[str, list[float]] = {"encode": [], "decode": []}
        # encode walls still fall call by call after the warm-up (JVM code
        # still compiling), so the encodes are many and the metric is their
        # median; they fill at least 40% of the run
        sizes = [self.warm_bytes]
        window = self.b.seconds * 0.4
        t_start = time.perf_counter()
        while len(walls["encode"]) < BULK_ENCODES or time.perf_counter() - t_start < window:
            i = len(walls["encode"])
            out = self.path(f"out{i}")
            with self.tr.call("encode_job.run") as c:
                summary = encode_job.run(spark, seq, out)
            walls["encode"].append(c["end"] - c["start"])
            self.b.attempted += 1
            sizes.append(int(summary["encoded_bytes"]))
            if i:
                shutil.rmtree(self.path(f"out{i - 1}"), ignore_errors=True)
        self.table = out
        # every encode, the warm-up's included, must store the same bytes
        self.b.record("encode_deterministic", len(set(sizes)) != 1)
        # the first decode of a table ran ~50% slower than the next ones
        with self.tr.warming():
            dec_warm_s = self.timed_decode(out)
        for _ in range(BULK_READS):
            walls["decode"].append(self.timed_decode(out))
        # the decoded table must equal the input: one check, timed for the
        # detail record only
        with self.tr.call("verify.verify_by_hash") as c:
            result = verify.verify_by_hash(seq, decode_job.decode(spark, out))
        verify_s = c["end"] - c["start"]
        self.b.attempted += BULK_READS + 2
        self.b.record("verify_by_hash", not (result["pass"] and result["rows"] == n_rows))
        enc, dec = walls["encode"], walls["decode"]

        look = self.lookups(out, self.rows, self.n_lookups())
        raw = tokens * 4
        self.seq, self.enc_walls = seq, enc
        d = self.detail
        d.update({
            "rows": n_rows, "tokens": tokens, "encodes": len(enc),
            "compressed_bytes": sizes[-1],
            "encode_tok_per_s": tokens / median(enc), "lint_s": lint_s,
            "decode_tok_per_s": tokens / median(dec), "verify_s": verify_s,
            "bytes_per_raw_byte": disk_bytes(os.path.join(out, "encoded")) / raw,
            "lookup_p50_s": median(look[1:]), "lookup_tail_s": tail(look[1:]),
            "walls_s": {k: [round(w, 3) for w in v] for k, v in walls.items()},
            "warm_decode_s": dec_warm_s,
            "lookup_walls_s": [round(w, 3) for w in look],
        })
        return {
            "write_p50_s": median(enc),
            "read_tok_per_s": d["decode_tok_per_s"],
            "lookup_p50_s": d["lookup_p50_s"],
            "bytes_per_raw_byte": d["bytes_per_raw_byte"],
        }

    def trace_layers(self) -> None:
        self.common_layers(self.seq, self.rows, self.table, self.enc_walls[-1:])


class Append(Workload):
    name = "append"
    warm_batches = APPEND_WARM_BATCHES

    def make_inputs(self) -> None:
        d = self.path("stage")
        self.files = []
        # a micro-batch takes 1.5 s or more: enough files for the window
        steady = max(APPEND_STEADY, int(self.b.seconds * 0.3 / 1.5))
        for i in range(APPEND_WARM_BATCHES + steady):
            p = os.path.join(d, f"f{i:03d}.parquet")
            inputs.write_sequences(p, APPEND_FILE_SCALE, self.b.seed * 1000 + i, prefix=f"f{i:03d}-")
            self.files.append(p)

    def warm_up(self) -> None:
        """The stream's first APPEND_WARM_BATCHES micro-batches are the
        warm-up. Batch 0 starts the query, creates the table and pays the
        encode path's cold start; batches 1 and 2 still ran 40-80% and
        15-30% slower than the later ones here. The query keeps running
        into the measured phase."""
        from tokenlake import streaming

        self.watch, self.out = self.path("watch"), self.path("table")
        os.makedirs(self.watch)
        self.moved = 0
        self.feed()
        with self.tr.call("streaming.encode_stream"):
            self.query = streaming.encode_stream(
                self.spark, self.watch, self.out, available_now=False, max_files_per_trigger=1
            )
            self.run_id = str(self.query.runId)
            self.wait_batches(self.moved)
            while self.moved < APPEND_WARM_BATCHES:
                self.feed()
                self.wait_batches(self.moved)

    def feed(self) -> None:
        """Move the next staged file into the watched directory."""
        src = self.files[self.moved]
        os.rename(src, os.path.join(self.watch, os.path.basename(src)))
        self.moved += 1

    def wait_batches(self, n: int, timeout: float = 150.0) -> list[dict]:
        """Progress reports of the first `n` micro-batches that read data."""
        q = self.query
        deadline = time.perf_counter() + timeout
        while True:
            done = [p for p in q.recentProgress if p["numInputRows"] > 0]
            if len(done) >= n:
                return done
            if q.exception() is not None:
                raise RuntimeError(f"stream failed: {q.exception()}")
            if time.perf_counter() > deadline:
                raise TimeoutError(f"stream processed {len(done)} of {n} batches")
            time.sleep(0.1)

    def stream(self) -> list[dict]:
        """Feed the rest of the staged files one at a time, each once the
        previous micro-batch has finished, for about 30% of the run (at
        least APPEND_STEADY batches after the warm-up's); then stop the
        query."""
        window = self.b.seconds * 0.3
        t_start = time.perf_counter()
        with self.tr.call("streaming.encode_stream") as sp:
            try:
                while self.moved < len(self.files) and (
                    self.moved < APPEND_WARM_BATCHES + APPEND_STEADY
                    or time.perf_counter() - t_start < window
                ):
                    self.feed()
                    self.wait_batches(self.moved)
                progress = self.wait_batches(self.moved)
            finally:
                self.query.stop()
        # the breakdown counts the steady batches
        self.calls["streaming.encode_stream"] = self.moved - APPEND_WARM_BATCHES
        self.b.attempted += self.moved
        self.detail["stream_wall_s"] = sp["end"] - sp["start"]
        return sorted(progress, key=lambda p: p["batchId"])

    def measure(self) -> dict[str, float]:
        from tokenlake import decode_job, encode_job, lint_job

        spark = self.spark
        watch, out = self.watch, self.out
        batches = self.stream()
        trig = [p["durationMs"]["triggerExecution"] / 1e3 for p in batches]
        add = [p["durationMs"].get("addBatch", 0) / 1e3 for p in batches]
        steady = trig[APPEND_WARM_BATCHES:]
        self.rows = read_rows(parquet_files(watch))
        tokens = inputs.token_count(self.rows)
        source = spark.read.parquet(watch)

        # the first decode of the multi-attempt table ran twice as slow as
        # the next ones here: it is a warm-up
        with self.tr.warming():
            dec = [self.timed_decode(out)]
        dec += [self.timed_decode(out) for _ in range(APPEND_READS)]
        dec_wall = median(dec[1:])
        self.b.attempted += len(dec)
        look = self.lookups(out, self.rows, self.n_lookups())
        # lint_encoded and compaction back no end-to-end metric: one call
        # each, in traced runs, where their Spark work is broken down. A
        # compaction costs ~8-12 s, and one cold call spread too much
        # between runs to gate on.
        lint_s = compact_s = cmp_bytes = None
        tables = {"fed": source, "streamed": decode_job.decode(spark, out)}
        if self.b.trace:
            with self.tr.call("lint_job.lint_encoded") as c:
                decisions = lint_job.lint_encoded(spark, out).collect()
            lint_s = c["end"] - c["start"]
            self.b.attempted += 1
            self.b.record("lint_encoded_nonempty", not decisions)
            cmp_out = self.path("compacted")
            with self.tr.call("encode_job.compact") as c:
                encode_job.compact(spark, out, cmp_out)
            compact_s = c["end"] - c["start"]
            cmp_bytes = disk_bytes(os.path.join(cmp_out, "encoded"))
            self.b.attempted += 1
            tables["compacted"] = decode_job.decode(spark, cmp_out)
        # the streamed table (and the compacted one) decode to the files fed
        with self.tr.span("check.digests"):
            got = digests(tables)
        for side in tables:
            if side != "fed":
                self.b.record(f"{side}_rows", got[side] != got["fed"])

        raw = tokens * 4
        d = self.detail
        d.update({
            "batches": len(batches), "tokens": tokens,
            "append_p50_s": median(steady), "append_tail_s": tail(steady),
            "append_growth": drift(steady),
            "stream_decode_tok_per_s": tokens / dec_wall,
            "compact_s": compact_s,
            "lookup_p50_s": median(look[1:]), "lookup_tail_s": tail(look[1:]),
            "lookup_drift": drift(look[1:]),
            "lint_encoded_s": lint_s,
            "attempt_dirs": attempt_dirs(out),
            "bytes_per_raw_byte": disk_bytes(os.path.join(out, "encoded")) / raw,
            "compacted_bytes_per_raw_byte": cmp_bytes / raw if cmp_bytes else None,
            "batch_walls_s": [round(t, 3) for t in trig],
            "lookup_walls_s": [round(w, 3) for w in look],
        })
        self.add, self.trig, self.table = add, trig, out
        return {
            "write_p50_s": d["append_p50_s"],
            "read_tok_per_s": d["stream_decode_tok_per_s"],
            "lookup_p50_s": d["lookup_p50_s"],
            "bytes_per_raw_byte": d["bytes_per_raw_byte"],
        }

    def trace_layers(self) -> None:
        w = APPEND_WARM_BATCHES
        self.layers["streaming.add_batch_s"] = median(self.add[w:])
        self.layers["streaming.trigger_overhead_s"] = median(
            [t - a for t, a in zip(self.trig[w:], self.add[w:])]
        )
        # every batch's chunks are in the table, so every batch's wall counts
        # in encode_job.sched_utilization
        first = self.spark.read.parquet(parquet_files(self.watch)[0])
        self.common_layers(first, self.rows, self.table, self.add)


WORKLOADS = {"bulk": Bulk, "append": Append}

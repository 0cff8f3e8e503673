"""In-process timings of the engine's kernel layers (traced runs only).

Each function times public `tokenlake` functions on slices of a
workload's own input, outside Spark, and returns per-layer metrics plus the
number of wrong outputs it saw.
"""

from __future__ import annotations

import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

CODECS = ("plain", "for", "delta", "rle", "dict", "fsst", "bss")


def source_slices(t: pa.Table, max_tokens: int):
    """(source, slice table) per source: the source's first rows up to
    `max_tokens` tokens — one chunk's worth of one content profile."""
    for src in sorted(pc.unique(t.column("source")).to_pylist()):
        part = t.filter(pc.equal(t.column("source"), src))
        cum = np.cumsum(part.column("n_tok").to_numpy())
        n = max(1, int(np.searchsorted(cum, max_tokens, side="right")))
        yield src, part.slice(0, n)


def _flat(t: pa.Table) -> np.ndarray:
    toks = t.column("tokens").combine_chunks()
    return toks.flatten().to_numpy(zero_copy_only=False).astype(np.int32, copy=False)


def kernel_layers(t: pa.Table, max_tokens: int = 131072) -> tuple[dict[str, float], int]:
    from tokenlake import decode_job, encode_job
    from tokenlake.codecs.intcodecs import INT_CODEC_IDS, decode_int_body, encode_int_body
    from tokenlake.select import select_codec
    from tokenlake.stats import compute_chunk_stats

    wrong = 0
    mtok = 0.0
    acc = {k: 0.0 for k in ("stats", "select", "encode_chunk", "decode_chunk")}
    enc = {c: 0.0 for c in CODECS}
    dec = {c: 0.0 for c in CODECS}
    chosen_bytes = best_bytes = 0
    est_err: list[float] = []
    for src, part in source_slices(t, max_tokens):
        flat = _flat(part)
        if len(flat) == 0:
            continue
        mtok += len(flat) / 1e6
        t0 = time.perf_counter()
        st = compute_chunk_stats(flat, part.num_rows)
        t1 = time.perf_counter()
        decision = select_codec(flat, st)
        t2 = time.perf_counter()
        acc["stats"] += t1 - t0
        acc["select"] += t2 - t1
        sizes = {}
        for c in CODECS:
            t0 = time.perf_counter()
            body = encode_int_body(INT_CODEC_IDS[c], flat)
            t1 = time.perf_counter()
            back = decode_int_body(INT_CODEC_IDS[c], memoryview(body))
            t2 = time.perf_counter()
            enc[c] += t1 - t0
            dec[c] += t2 - t1
            sizes[c] = len(body)
            wrong += not np.array_equal(np.asarray(back, dtype=np.int64), flat.astype(np.int64))
        cands = [c for c in (decision.candidates or sizes) if c in sizes] or list(sizes)
        chosen_bytes += sizes[decision.codec]
        best_bytes += min(sizes[c] for c in cands)
        est_err.append(abs(decision.est_bytes - sizes[decision.codec]) / max(sizes[decision.codec], 1))

        chunk = pa.table({
            "doc_id": part.column("doc_id"),
            "tokens": part.column("tokens").cast(pa.list_(pa.int32())),
            "n_tok": part.column("n_tok"),
            "source": part.column("source"),
            "chunk_id": pa.array([f"{src}#0"] * part.num_rows),
            "nbuckets": pa.array([1] * part.num_rows, pa.int32()),
        })
        t0 = time.perf_counter()
        encoded = encode_job.encode_chunk(chunk)
        t1 = time.perf_counter()
        decoded = decode_job.decode_chunk(encoded)
        t2 = time.perf_counter()
        acc["encode_chunk"] += t1 - t0
        acc["decode_chunk"] += t2 - t1
        want = part.sort_by("doc_id")
        wrong += not (
            decoded.column("doc_id").to_pylist() == want.column("doc_id").to_pylist()
            and np.array_equal(_flat(decoded), _flat(want))
        )
    per = max(mtok, 1e-9)
    out = {
        "stats.compute_chunk_stats_s_per_Mtok": acc["stats"] / per,
        "select.select_codec_s_per_Mtok": acc["select"] / per,
        "select.regret": chosen_bytes / max(best_bytes, 1),
        "select.estimate_error": float(np.median(est_err)) if est_err else 0.0,
        "encode_job.encode_chunk_s_per_Mtok": acc["encode_chunk"] / per,
        "decode_job.decode_chunk_s_per_Mtok": acc["decode_chunk"] / per,
    }
    for c in CODECS:
        out[f"codecs.enc_s_per_Mtok.{c}"] = enc[c] / per
        out[f"codecs.dec_s_per_Mtok.{c}"] = dec[c] / per
    return out, wrong


def local_reader_layer(out_dir: str, source: pa.Table) -> tuple[dict[str, float], int]:
    """Spark-free decode of a stored table, checked row for row against the
    source rows."""
    from tokenlake.local_reader import read_encoded_local

    t0 = time.perf_counter()
    got = read_encoded_local(out_dir)
    wall = time.perf_counter() - t0
    got = got.sort_by("doc_id")
    want = source.sort_by("doc_id")
    same = (
        got.num_rows == want.num_rows
        and got.column("doc_id").to_pylist() == want.column("doc_id").to_pylist()
        and np.array_equal(_flat(got), _flat(want))
        and got.column("n_tok").to_pylist() == want.column("n_tok").to_pylist()
    )
    tokens = int(pc.sum(want.column("n_tok")).as_py() or 0)
    return {"local_reader.tok_per_s": tokens / wall}, int(not same)

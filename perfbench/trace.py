"""Measurement plumbing: spans around engine calls, a process-tree RSS
sampler, and a reader for Spark's own event log.

Spans are recorded from the benchmark's side of each call into a
`tokenlake` module; nothing inside the engine is instrumented. Each engine
call also tags its Spark jobs with a job group named after the call
(`encode_job.run`, `decode_job.lookup`, ...), which is how the event log's
jobs, tasks and SQL metrics are attributed back to calls.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from collections import defaultdict

# the eight engine calls whose Spark work the traced run breaks down
CALL_GROUPS = (
    "encode_job.run",
    "lint_job.lint",
    "decode_job.decode",
    "verify.verify_by_hash",
    "streaming.encode_stream",
    "encode_job.compact",
    "decode_job.lookup",
    "lint_job.lint_encoded",
)
# per-call Spark breakdown fields (times in seconds, sizes in bytes)
SPARK_FIELDS = (
    "jobs",
    "tasks",
    "task_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_fetch_wait_s",
    "python_start_s",
    "python_init_s",
    "python_run_s",
    "python_bytes_in",
)
WARMUP_GROUP = "warmup"


class Tracer:
    """In-memory spans: (id, parent, name, start, end); `parent` is the
    enclosing span."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None  # current SparkContext; job groups are set on it
        self.warmup = False

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "parent": parent, "name": name,
               "warmup": self.warmup, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextlib.contextmanager
    def warming(self, on: bool = True):
        """Mark the spans and engine calls inside as warm-up (when `on`)."""
        prev, self.warmup = self.warmup, self.warmup or on
        try:
            yield
        finally:
            self.warmup = prev

    @contextlib.contextmanager
    def call(self, name: str):
        """Span around one engine call; its Spark jobs carry `name` as job
        group (warm-up calls carry a separate group so the breakdown counts
        only measured calls)."""
        if self.sc is not None:
            self.sc.setJobGroup(WARMUP_GROUP if self.warmup else name, name)
        try:
            with self.span(name) as rec:
                yield rec
        finally:
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def walls(self, name: str) -> list[float]:
        """Walls of the measured (not warm-up) spans named `name`."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] and not s["warmup"]]

    def count(self, name: str) -> int:
        return len(self.walls(name))

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        child: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in self.spans}

    def unattributed_share(self, phase: str) -> float:
        """Share of the `phase` spans' wall that no child span covers: the
        benchmark's own time between calls. The self times of a phase and
        of the spans under it sum to the phase wall."""
        own = self.self_times()
        phases = [s for s in self.spans if s["name"] == phase]
        wall = sum(s["end"] - s["start"] for s in phases)
        return sum(own[s["id"]] for s in phases) / wall if wall else 0.0

    def self_time_by_name(self) -> dict[str, float]:
        """Summed self time per span name, warm-up spans included: with the
        root spans' walls, the whole run's time by layer."""
        own = self.self_times()
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[("warmup:" if s["warmup"] else "") + s["name"]] += own[s["id"]]
        return {k: round(v, 4) for k, v in out.items()}


class RssSampler:
    """Peak resident memory of this process's descendants (the Spark JVM
    and the Python workers it forks), sampled from /proc."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _tree_rss(self) -> int:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            # the command name may contain spaces: fields resume after ')'
            parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
        me = os.getpid()
        kids: dict[int, list[int]] = defaultdict(list)
        for pid, ppid in parent.items():
            kids[ppid].append(pid)
        total, todo = 0, list(kids[me])
        while todo:
            pid = todo.pop()
            todo.extend(kids[pid])
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval)


def _app_events(log_dir: str, app_id: str):
    """Yield the JSON events of one application's (rolling, uncompressed)
    event log, in order."""
    paths = glob.glob(os.path.join(log_dir, f"*{app_id}*"))
    files = []
    for p in paths:
        if os.path.isdir(p):
            for f in glob.glob(os.path.join(p, "events_*")):
                files.append((int(os.path.basename(f).split("_")[1]), f))
        else:
            files.append((0, p))
    if not files:
        raise FileNotFoundError(f"no Spark event log for {app_id} under {log_dir}")
    for _, f in sorted(files):
        with open(f) as fh:
            for line in fh:
                yield json.loads(line)


def _output_rows_id(node: dict) -> int | None:
    for m in node.get("metrics", []):
        if m["name"] == "number of output rows":
            return m["accumulatorId"]
    return None


def _metric_types(node: dict, out: dict[int, str]) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = m.get("metricType", "sum")
    for c in node.get("children", []):
        _metric_types(c, out)


# SQL metrics of the Python UDF nodes, by accumulable name
PYTHON_METRICS = {
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "python_bytes_in",
}
# a SQL metric's stored unit, by its plan metricType
METRIC_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def _find_udf_input(node: dict) -> tuple[int | None, int | None]:
    """(accumulator of rows entering the MapInArrow UDF, accumulator of rows
    it returned) for the first MapInArrow node of a plan tree."""
    if "MapInArrow" in node.get("nodeName", ""):
        out_id = _output_rows_id(node)
        below = node["children"][0] if node.get("children") else None
        while below is not None:
            acc = _output_rows_id(below)
            if acc is not None:
                return acc, out_id
            below = below["children"][0] if below.get("children") else None
        return None, out_id
    for c in node.get("children", []):
        found = _find_udf_input(c)
        if found != (None, None):
            return found
    return None, None


def spark_breakdown(log_dir: str, app_id: str, group_alias: dict[str, str],
                    calls: dict[str, int], warm_batches: int = 0) -> tuple[dict[str, float], dict]:
    """Per-call Spark breakdown of every CALL_GROUPS entry from the event log.

    `group_alias` maps extra job-group ids (a streaming query's run id) to a
    call group, leaving out the query's first `warm_batches` batches, its
    warm-up; `calls` is the number of measured calls per group — every
    field is reported per call. Returns (metrics, extras) where extras
    holds the lookup UDF row counts."""
    sums: dict[str, dict[str, float]] = {g: defaultdict(float) for g in CALL_GROUPS}
    stage_group: dict[int, str] = {}
    exec_plan: dict[int, dict] = {}  # lookup executions' latest plans
    acc_totals: dict[int, float] = defaultdict(float)
    acc_type: dict[int, str] = {}
    # (group, field, accumulator id) -> summed raw task updates
    py_raw: dict[tuple[str, str, int], float] = defaultdict(float)
    for e in _app_events(log_dir, app_id):
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            gid = props.get("spark.jobGroup.id")
            g = group_alias.get(gid, gid)
            if gid in group_alias and int(props.get("streaming.sql.batchId", -1)) < warm_batches:
                continue
            if g in sums:
                sums[g]["jobs"] += 1
                for sid in e.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
        elif ev.endswith("SQLExecutionStart"):
            _metric_types(e["sparkPlanInfo"], acc_type)
            g = group_alias.get(e.get("jobGroupId"), e.get("jobGroupId"))
            if g == "decode_job.lookup":
                exec_plan[e["executionId"]] = e["sparkPlanInfo"]
        elif ev.endswith("SQLAdaptiveExecutionUpdate"):
            _metric_types(e["sparkPlanInfo"], acc_type)
            if e["executionId"] in exec_plan:
                exec_plan[e["executionId"]] = e["sparkPlanInfo"]
        elif ev == "SparkListenerTaskEnd":
            accs = e["Task Info"].get("Accumulables", [])
            for a in accs:
                try:
                    acc_totals[a["ID"]] += float(a.get("Update", 0))
                except (TypeError, ValueError):
                    pass
            g = stage_group.get(e.get("Stage ID"))
            if g is None:
                continue
            s = sums[g]
            tm = e.get("Task Metrics") or {}
            s["tasks"] += 1
            s["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            s["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            s["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            s["shuffle_fetch_wait_s"] += (tm.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0) / 1e3
            for a in accs:
                field = PYTHON_METRICS.get(a.get("Name"))
                if field is not None and a.get("Update") is not None:
                    py_raw[(g, field, a["ID"])] += float(a["Update"])
        elif ev.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, upd in e.get("accumUpdates", []):
                acc_totals[acc_id] += float(upd)
    for (g, field, acc_id), raw in py_raw.items():
        sums[g][field] += raw * METRIC_SCALE.get(acc_type.get(acc_id, ""), 1.0)
    out: dict[str, float] = {}
    for g in CALL_GROUPS:
        n = max(calls.get(g, 0), 1)
        for f in SPARK_FIELDS:
            out[f"{g}.{f}"] = sums[g][f] / n if calls.get(g) else 0.0
    rows_in = rows_out = 0.0
    for plan in exec_plan.values():
        in_id, out_id = _find_udf_input(plan)
        if in_id is not None:
            rows_in += acc_totals.get(in_id, 0.0)
        if out_id is not None:
            rows_out += acc_totals.get(out_id, 0.0)
    return out, {"lookup_udf_rows_in": rows_in, "lookup_udf_rows_out": rows_out}

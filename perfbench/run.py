#!/usr/bin/env python3
"""tokenlake benchmark: one workload per run, in one process at local[nproc].

    python3 perfbench/run.py --workload bulk|append --seed N \\
        --seconds S --trace 0|1

Run from the root of a source tree. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones. The
line before it is the run's detail record: the pinned environment, the
host-interference gauge and the workload's own named metrics.

--trace 1 turns on Spark's event log (through PYSPARK_SUBMIT_ARGS, so the
engine's session code is untouched) and adds in-process kernel timings.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

END_TO_END_UNITS = {
    "setup_s": "s",
    "write_p50_s": "s",
    "read_tok_per_s": "tok/s",
    "lookup_p50_s": "s",
    "peak_rss_mb": "MB",
    "bytes_per_raw_byte": "ratio",
}


BURN = """\
import sys
print(flush=True)
sys.stdin.readline()
x = 0
for i in range({n}):
    x += i * i
print(flush=True)
"""


def _burn_wall(procs: int, iters: int) -> float:
    """Wall for `procs` Python processes, started together, to each run a
    pure-Python loop of `iters` steps."""
    code = BURN.format(n=iters)
    ps = [subprocess.Popen([sys.executable, "-c", code], stdin=subprocess.PIPE,
                           stdout=subprocess.PIPE, text=True) for _ in range(procs)]
    try:
        for p in ps:
            p.stdout.readline()  # up and ready
        t0 = time.perf_counter()
        for p in ps:
            p.stdin.write("\n")
            p.stdin.flush()
        for p in ps:
            p.stdout.readline()
        return time.perf_counter() - t0
    finally:
        for p in ps:
            p.stdin.close()
            p.wait(timeout=30)


def host_gauge(procs: int, iters: int = 1_000_000) -> dict:
    """One burning process alone, then `procs` at once. On a quiet host
    effective_cores ~= procs; interference from other tenants shows as
    fewer effective cores or a slower single_s."""
    single = _burn_wall(1, iters)
    wall = _burn_wall(procs, iters)
    return {"single_s": round(single, 4), "procs": procs,
            "effective_cores": round(procs * single / wall, 2)}


def driver_mem_gb() -> int:
    """A quarter of the host's memory, between 1 and 4 GB."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return max(1, min(4, int(line.split()[1]) // (4 * 1024 * 1024)))
    return 2


def pin_environment(work: str, cores: int, trace: bool) -> dict:
    """Everything the engine's session and its Python workers read from the
    environment, set before the JVM starts."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "eventlog")
    for d in (local, tmp, events):
        os.makedirs(d, exist_ok=True)
    submit = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf", f"spark.hadoop.hadoop.tmp.dir={tmp}",
        # no hsperfdata files: HotSpot writes them to /tmp whatever tmpdir says
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
    ]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", f"spark.eventLog.dir=file://{events}",
        ]
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join([ROOT, *filter(None, [os.environ.get("PYTHONPATH")])]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TOKENLAKE_DRIVER_MEM": f"{driver_mem_gb()}g",
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
    }
    os.environ.update(env)
    return env


class Bench:
    """Run state shared by the workload: the session, the tracer and the
    correctness tally."""

    def __init__(self, args, work: str, cores: int, tracer) -> None:
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.work, self.cores, self.tracer = work, cores, tracer
        self.event_log_dir = os.path.join(work, "eventlog")
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, check: str, wrong) -> None:
        """Count a failed output check (`wrong` truthy, or a count)."""
        n = int(wrong)
        if n:
            self.failed += n
            self.failures.append(check)

    def start(self) -> None:
        """The engine's session: started on first use, then the running one
        (get_spark is getOrCreate)."""
        from tokenlake.session import get_spark

        self.spark = get_spark(master=f"local[{self.cores}]", app_name="tokenlake-perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.sc = self.spark.sparkContext

    def stop(self) -> None:
        """Stop the session and the JVM behind it, and wait for it to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                # the JVM exits when its stdin closes
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "tokenlake", "__init__.py")):
        print(f"perfbench: no tokenlake package under {ROOT}; run from a source tree",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.trace import RssSampler, Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = pin_environment(work, cores, bool(args.trace))
    gauge = host_gauge(cores)
    # stray files of Spark's (derby, warehouse) land in the work dir
    os.chdir(work)

    tracer = Tracer()
    bench = Bench(args, work, cores, tracer)
    wl = WORKLOADS[args.workload](bench)
    try:
        with RssSampler() as rss:
            setup_s = wl.setup()
            with tracer.span("measure"):
                e2e = wl.measure()
            if bench.trace:
                wl.trace_layers()
            app_id = bench.spark.sparkContext.applicationId
            bench.stop()
        e2e["setup_s"] = setup_s
        e2e["peak_rss_mb"] = rss.peak_bytes / 2**20
        if bench.trace:
            alias = {getattr(wl, "run_id", None): "streaming.encode_stream"}
            wl.spark_layers(app_id, alias)
            layers = wl.layers
            layers["session.start_s"] = wl.detail["setup_parts"]["session_start_s"]
            layers["session.warmup_s"] = wl.detail["setup_parts"]["warmup_s"]
            layers["trace.unattributed_share"] = tracer.unattributed_share("measure")
            layers["trace.write_p50_s"] = e2e["write_p50_s"]
            wl.detail["span_self_s"] = tracer.self_time_by_name()
    finally:
        bench.stop()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(WORK)  # only when no other run is using it

    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores, "master": f"local[{cores}]",
        "env": {k: env[k] for k in ("SPARK_LOCAL_DIRS", "PYTHONPATH", "TOKENLAKE_DRIVER_MEM")},
        "host_gauge": gauge,
        "fail_ratio": bench.failed / max(bench.attempted, 1),
        "failed_checks": bench.failures,
        "setup_s": e2e["setup_s"], "peak_rss_mb": e2e["peak_rss_mb"],
        **wl.detail,
    }
    if args.trace:
        metrics = {k: {"value": float(v), "unit": unit_of(k)} for k, v in sorted(wl.layers.items())}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END_UNITS.items()}
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": max(bench.attempted, 1),
        "failed": min(bench.failed, max(bench.attempted, 1)),
        "metrics": metrics,
    }))
    return 0


def unit_of(name: str) -> str:
    leaf = name.rsplit(".", 1)[-1]
    if name.startswith("codecs.") or leaf.endswith("_s_per_Mtok"):
        return "s/Mtok"
    if leaf.endswith("tok_per_s"):
        return "tok/s"
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("bytes") or leaf.endswith("bytes_in"):
        return "B"
    if leaf in ("jobs", "tasks", "chunks", "attempt_dirs"):
        return "count"
    return "ratio"


if __name__ == "__main__":
    sys.exit(main())

"""The repository benchmark: one command, seeded workloads.

    python3 perfbench/run.py --workload live_alert --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The benchmark generates every input
from ``--seed``, sets the program up (several times; ``setup_s`` is the
median), measures for ``--seconds``, checks every output against an
independent re-derivation, and prints as its last stdout line one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics; with ``--trace 1``
they are the per-layer metrics of a separate traced run. The line
before it is a JSON record of the run's context (input sizes, offered
rate, seed, core count, load average at start and end).

Every file it writes lives under ``.perfbench_work/`` in the checkout
and is removed at exit. It exits non-zero without printing a result
when the program is not next to it.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 5

END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "stream.add_batch_ms": "ms",
    "stream.trigger_ms": "ms",
    "stream.rows_per_batch": "count",
    "stream.query_planning_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "stream.state_commit_ms": "ms",
    "stream.state_rows": "count",
    "stream.state_mem_bytes": "bytes",
    "sources.scan_passes": "ratio",
    "tick.build_ms": "ms",
    "server.define_ms": "ms",
    "spark.plan_ms": "ms",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.exec_ms": "ms",
    "spark.shuffle_bytes": "bytes",
    "py.boundary_ms": "ms",
    "gen.lag_p99_ms": "ms",
    "sink.rows": "count",
    "traced.latency_p50_ms": "ms",
    "traced.throughput_per_s": "1/s",
}


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sequence."""
    s = sorted(values)
    return float(s[max(1, math.ceil(q / 100.0 * len(s))) - 1])


class Context:
    """What a workload gets from the runner: its seed, run length,
    tracer, a private work directory and a SparkSession factory."""

    def __init__(self, args, work: str):
        from tracing import Tracer

        self.seed = args.seed
        self.seconds = args.seconds
        self.cores = args.cores
        self.tracer = Tracer(bool(args.trace))
        self.work = work
        self.spark = None

    def path(self, *parts: str) -> str:
        """A file path in the work directory (its parent is created)."""
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def dir(self, *parts: str) -> str:
        """A new or existing directory in the work directory."""
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def new_session(self):
        """A fresh SparkContext (the JVM is launched once per process)."""
        from kapacitor_spark import get_spark

        if self.spark is not None:
            self.spark.stop()
        tmp = self.dir("tmp")
        self.spark = get_spark(
            "perfbench",
            shuffle_partitions=self.cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.warehouse.dir": self.dir("warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
            },
        )
        return self.spark

    def close(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to end:
        the gateway JVM exits when its stdin closes."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


def _isolate(work: str, cores: int) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the work directory, and size Spark to ``cores`` local threads."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEM"] = "3g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["live_alert", "task_fanout", "backfill"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=3,
                    help="Spark local threads (the live generator takes one more core)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "kapacitor_spark", "__init__.py")):
        print(f"perfbench: no kapacitor_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    _isolate(work, args.cores)

    import workloads
    from tracing import RssSampler

    load_start = os.getloadavg()
    ctx = Context(args, work)
    wl = workloads.WORKLOADS[args.workload](ctx)
    try:
        wl.prepare()
        with RssSampler() as rss:
            setup_s = []
            for rep in range(SETUP_REPS):
                t = time.perf_counter()
                wl.setup()
                setup_s.append(time.perf_counter() - t)
                if rep < SETUP_REPS - 1:
                    wl.teardown()
            res = wl.measure()
            wl.teardown()
        failed = wl.verify(res)
        layer = wl.layers(res) if ctx.tracer.enabled else {}
    finally:
        wl.cleanup()
        ctx.close()
        shutil.rmtree(work, ignore_errors=True)
    if ctx.tracer.enabled:
        ctx.tracer.dump(os.path.join(
            work_root, f"spans-{args.workload}-seed{args.seed}.json"))
    else:
        with contextlib.suppress(OSError):
            os.rmdir(work_root)  # only when no other run is using it

    e2e = {
        "setup_s": statistics.median(setup_s),
        "latency_p50_ms": percentile(res["latencies_ms"], 50),
        "throughput_per_s": res["throughput_per_s"],
        "peak_rss_mb": rss.peak_mb,
    }
    if ctx.tracer.enabled:
        layer["traced.latency_p50_ms"] = e2e["latency_p50_ms"]
        layer["traced.throughput_per_s"] = e2e["throughput_per_s"]
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores_spark": args.cores, "nproc": os.cpu_count(),
        "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        "setup_s_reps": setup_s, "latency_samples": len(res["latencies_ms"]),
        "latency_p90_ms": percentile(res["latencies_ms"], 90),
        **wl.describe(),
    }
    print(json.dumps({"context": context}))
    print(json.dumps({"correct": failed == 0, "attempted": int(res["attempted"]),
                      "failed": int(failed), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

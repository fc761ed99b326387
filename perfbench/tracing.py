"""Spans, counters and Spark-side readings for the traced run.

The benchmark records spans only around its own calls into the layers
(``server``, ``tick``, the Spark action, the streaming query); it never
patches the program. With tracing off every hook here is a no-op, so
the untraced run measures the program alone and the traced run's extra
time is the tracing overhead.

Spark-side readings use interfaces that work with the UI disabled:
``QueryExecution.tracker().phases()`` for the planning phases, the
executed-plan SQL metrics (walked through adaptive query stages) for
shuffle and Python-boundary figures, the app status store for job,
stage and task counts and executor run time, and a
``StreamingQueryListener`` for per-trigger progress.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

PLAN_PHASES = ("analysis", "optimization", "planning")


class Tracer:
    """In-memory span recorder. ``span(name, op=...)`` nests: a span's
    parent is the innermost open span on the same thread. Spans of one
    operation share its ``op`` identifier."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack = threading.local()
        self._next_id = 0

    @contextlib.contextmanager
    def _span(self, name: str, op):
        stack = getattr(self._stack, "s", None)
        if stack is None:
            stack = self._stack.s = []
        self._next_id += 1
        rec = {"id": self._next_id, "name": name, "op": op,
               "parent": stack[-1]["id"] if stack else None,
               "start": time.perf_counter()}
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.spans.append(rec)

    def span(self, name: str, op=None):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name, op)

    def mean_ms(self, name: str) -> float:
        ms = [(s["end"] - s["start"]) * 1000 for s in self.spans if s["name"] == name]
        return sum(ms) / len(ms) if ms else 0.0

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans}, fh)


# --------------------------------------------------------------------- #
# Spark engine readings
# --------------------------------------------------------------------- #


def plan_phase_ms(df) -> float:
    """Analysis + optimization + planning time recorded by the
    DataFrame's QueryExecution tracker (call after its action)."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0
    for k in PLAN_PHASES:
        opt = phases.get(k)
        if opt.isDefined():
            total += opt.get().durationMs()
    return float(total)


def _walk_plan(node, acc: dict) -> None:
    name = node.getClass().getSimpleName()
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        key = kv._1()
        acc[key] = acc.get(key, 0) + kv._2().value()
    if name == "AdaptiveSparkPlanExec":
        _walk_plan(node.executedPlan(), acc)
    elif name.endswith("QueryStageExec"):
        _walk_plan(node.plan(), acc)
    for seq in (node.children(), node.subqueries()):
        ch = seq.iterator()
        while ch.hasNext():
            _walk_plan(ch.next(), acc)


def plan_metrics(executed_plan) -> dict:
    """Sum of every SQL metric in an executed physical plan, by metric
    name (``shuffleBytesWritten``, ``pythonTotalTime``, ...)."""
    acc: dict = {}
    _walk_plan(executed_plan, acc)
    return acc


def df_plan_metrics(df) -> dict:
    return plan_metrics(df._jdf.queryExecution().executedPlan())


# Python-boundary time in the executed plan: worker start-up, init and
# the time Spark waited on the Python side of an Arrow/pickle exchange.
PY_TIME_KEYS = ("pythonBootTime", "pythonInitTime", "pythonTotalTime")


def py_boundary_ms(metrics: dict) -> float:
    return float(sum(metrics.get(k, 0) for k in PY_TIME_KEYS))


def job_stats(spark, group: str) -> dict:
    """Jobs, stages, tasks, executor run time (ms) and shuffle bytes of
    every job Spark ran under ``group`` (a job group or a streaming
    query's run id)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "exec_ms": 0.0, "shuffle_bytes": 0}
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        out["jobs"] += 1
        info = sc.statusTracker().getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            try:
                st = store.lastStageAttempt(int(sid))
            except Exception:  # noqa: BLE001 — stage skipped or evicted
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["exec_ms"] += st.executorRunTime()
            out["shuffle_bytes"] += st.shuffleWriteBytes()
    return out


def make_progress_listener():
    """A StreamingQueryListener that keeps each trigger's progress as a
    plain dict (durationMs, numInputRows, stateOperators)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.progress.append({
                "batchId": p.batchId,
                "numInputRows": p.numInputRows,
                "durationMs": dict(p.durationMs),
                "state": [
                    {"rows": s.numRowsTotal, "mem": s.memoryUsedBytes,
                     "commit_ms": s.commitTimeMs}
                    for s in p.stateOperators
                ],
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressListener()


# --------------------------------------------------------------------- #
# Memory
# --------------------------------------------------------------------- #


def _tree_rss_kb(root: int) -> int:
    """Resident set of ``root`` and all its descendants (JVM, Python
    workers, the generator), read from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{d}/statm") as fh:
                pages = int(fh.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue
        pid = int(d)
        children.setdefault(ppid, []).append(pid)
        rss[pid] = pages * (os.sysconf("SC_PAGE_SIZE") // 1024)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Samples the process tree's resident set on a background thread;
    ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(root))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

"""The workloads. Each one:

- ``setup()``: a fresh SparkContext, its tasks defined through
  ``server.TaskStoreService.handle`` and compiled by ``tick`` — the
  runner repeats it and reports the median as ``setup_s``;
- ``measure()``: runs for ``ctx.seconds`` and returns per-operation
  latencies, a throughput and what ``verify`` needs;
- ``verify(res)``: re-derives the expected output independently
  (pandas or DuckDB over the generated inputs) and returns the number
  of mismatching operations;
- ``layers(res)``: per-layer metrics, read only in a traced run.

Operations: ``live_alert`` — points written (latency: point creation to
alert delivery); ``task_fanout`` — task definitions (latency: define to
materialised result); ``backfill`` — passes of every batch task over the
stored history (latency: one full pass).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from dataclasses import asdict

import numpy as np

import inputs
import oracle
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))


def _mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


class Workload:
    """Base of every workload: the runner's hooks and the task-store calls."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.tracer = ctx.tracer

    def prepare(self) -> None:
        """Generate and store the inputs (not part of set-up time)."""

    def teardown(self) -> None:
        pass

    def cleanup(self) -> None:
        pass

    def _service(self, executor):
        from kapacitor_spark.server import TaskStoreService

        return TaskStoreService(store_dir=None, executor=executor)

    def _post(self, svc, path: str, body: dict, op=None) -> None:
        with self.tracer.span("server.define", op):
            status, payload = svc.handle("POST", "/kapacitor/v1" + path, {}, body)
        if status != 200:
            raise RuntimeError(f"define {path} failed: {status} {payload}")

    def _enable(self, svc, task_id: str, op=None) -> None:
        with self.tracer.span("server.enable", op):
            status, payload = svc.handle(
                "PATCH", f"/kapacitor/v1/tasks/{task_id}", {}, {"status": "enabled"})
        # the task store reports an executor failure on the task, not as
        # an HTTP error
        if status != 200 or payload.get("error"):
            raise RuntimeError(f"enable {task_id} failed: {status} {payload}")


# --------------------------------------------------------------------- #
# live_alert — open loop through the streaming path
# --------------------------------------------------------------------- #

LIVE_SCRIPT = f"""
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |alert()
        .crit(lambda: "value" > {inputs.CRIT})
        .warn(lambda: "value" > {inputs.WARN})
        .stateChangesOnly()
    |httpOut('alerts')
"""
DRAIN_TIMEOUT_S = 60.0


class LiveAlert(Workload):
    spec = inputs.LiveSpec()

    def __init__(self, ctx):
        super().__init__(ctx)
        self.gen_proc = None
        self.query = None
        self.listener = None
        self.rep = 0

    def describe(self) -> dict:
        return {"loop": "open", "offered_rate_pts_s": self.spec.rate,
                "spec": asdict(self.spec), "inputs_sha": self.inputs_sha}

    def setup(self) -> None:
        from kapacitor_spark.sources.line_protocol import promote, subscribe_stream
        from kapacitor_spark.tick import run_tickscript_stream

        spark = self.ctx.new_session()
        self.rep += 1
        self.spool = self.ctx.dir(f"spool{self.rep}")
        ckpt = self.ctx.dir(f"ckpt{self.rep}")
        self.delivered: list = []
        if self.tracer.enabled:
            self.listener = tracing.make_progress_listener()
            spark.streams.addListener(self.listener)

        self.py_ms: list[float] = []

        def sink(batch_df, batch_id):
            out = batch_df.selectExpr("unix_micros(time) AS t_us", "host", "level")
            rows = out.collect()
            self.delivered.append((time.time_ns(), batch_id, rows))
            if self.tracer.enabled and self.query is not None:
                # foreachBatch hands over the batch as an already-planned
                # RDD; the stateful operator's metrics sit on the query's
                # current incremental execution
                plan = self.query._jsq.streamingQuery().lastExecution().executedPlan()
                self.py_ms.append(tracing.py_boundary_ms(tracing.plan_metrics(plan)))

        def executor(task):
            with self.tracer.span("tick.build"):
                points = promote(subscribe_stream(spark, self.spool), "cpu",
                                 float_fields=["value"], tag_cols=["host"])
                outs = run_tickscript_stream(task["script"], sources={"cpu": points},
                                             time_col="time")
            with self.tracer.span("stream.start"):
                self.query = (outs["alerts"].writeStream.foreachBatch(sink)
                              .option("checkpointLocation", ckpt).start())

        svc = self._service(executor)
        self._post(svc, "/tasks", {"id": "live_alert", "type": "stream",
                                   "script": LIVE_SCRIPT})
        self._enable(svc, "live_alert")

    def teardown(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None

    def _drain(self) -> bool:
        """processAllAvailable with a deadline; False if it ran out."""
        done = threading.Event()

        def run():
            try:
                self.query.processAllAvailable()
                done.set()
            except Exception:  # noqa: BLE001 — surfaces as undelivered points
                pass

        th = threading.Thread(target=run, daemon=True)
        th.start()
        th.join(DRAIN_TIMEOUT_S)
        return done.is_set()

    def _warm(self) -> None:
        """One trigger over points of hosts outside the schedule, all OK
        (so they raise no alert): Python workers, codegen and the state
        store are warm before the first measured point."""
        now = time.time_ns()
        body = "".join(f"cpu,host=warm{i:03d} value=50.0 {now + i}\n" for i in range(100))
        tmp = os.path.join(self.spool, ".warm")
        with open(tmp, "w") as fh:
            fh.write(body)
        os.rename(tmp, os.path.join(self.spool, "warm.lp"))
        if not self._drain():
            raise RuntimeError("warm-up trigger did not finish")

    def measure(self) -> dict:
        spec = self.spec
        with self.tracer.span("live.warm"):
            self._warm()
        report = self.ctx.path("gen_report.json")
        t0_ns = time.time_ns() + 2_000_000_000
        self.gen_proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "generator.py"),
             "--spool", self.spool, "--report", report, "--seed", str(self.ctx.seed),
             "--seconds", str(self.ctx.seconds), "--t0-ns", str(t0_ns),
             "--spec", json.dumps(asdict(spec))])
        with self.tracer.span("live.generate"):
            rc = self.gen_proc.wait(timeout=spec.warmup_s + self.ctx.seconds + 60)
        self.gen_proc = None
        if rc != 0:
            raise RuntimeError(f"generator exited {rc}")
        # drain: every file written must be processed before the query
        # stops (stopping mid-batch masks real errors)
        with self.tracer.span("live.drain"):
            drained = self._drain()
        drain_end_ns = time.time_ns()
        if self.query.exception() is not None:
            raise RuntimeError(f"streaming query failed: {self.query.exception()}")
        run_id = str(self.query.runId)
        with open(report) as fh:
            gen = json.load(fh)
        n_points = gen["points"]
        warm_ns = t0_ns + int(spec.warmup_s * 1e9)
        lat = []
        for deliver_ns, _bid, rows in self.delivered:
            for r in rows:
                t_ns = r["t_us"] * 1000
                if t_ns >= warm_ns:
                    lat.append((deliver_ns - t_ns) / 1e6)
        if not lat:
            raise RuntimeError("no alert was delivered after the warm-up")
        return {
            "attempted": n_points,
            "latencies_ms": lat,
            "throughput_per_s": n_points / ((drain_end_ns - t0_ns) / 1e9),
            "drained": drained,
            "gen": gen, "t0_ns": t0_ns, "run_id": run_id,
        }

    def verify(self, res) -> int:
        sched = inputs.live_schedule(self.ctx.seed, self.ctx.seconds, self.spec)
        sched = sched.iloc[: res["gen"]["points"]]
        self.inputs_sha = inputs.fingerprint(sched)
        expected = oracle.state_changes(sched, res["t0_ns"])
        got = [(r["host"], r["t_us"], r["level"])
               for _d, _b, rows in self.delivered for r in rows]
        return oracle.count_mismatches(expected, got) + (0 if res["drained"] else 1)

    def layers(self, res) -> dict:
        prog = [p for p in self.listener.progress if p["numInputRows"] > 0]
        d = lambda k: _mean(p["durationMs"].get(k, 0) for p in prog)  # noqa: E731
        state = [s for p in prog for s in p["state"]]
        last_state = prog[-1]["state"] if prog else []
        n_points = res["gen"]["points"]
        js = tracing.job_stats(self.ctx.spark, res["run_id"])
        n_trig = max(1, len(prog))
        return {
            "stream.add_batch_ms": d("addBatch"),
            "stream.trigger_ms": d("triggerExecution"),
            "stream.rows_per_batch": n_points / n_trig,
            "stream.query_planning_ms": d("queryPlanning"),
            "stream.wal_commit_ms": d("walCommit"),
            "stream.commit_offsets_ms": d("commitOffsets"),
            "stream.state_commit_ms": _mean(s["commit_ms"] for s in state),
            "stream.state_rows": sum(s["rows"] for s in last_state),
            "stream.state_mem_bytes": sum(s["mem"] for s in last_state),
            "sources.scan_passes": sum(p["numInputRows"] for p in prog) / max(1, n_points),
            "tick.build_ms": self.tracer.mean_ms("tick.build"),
            "server.define_ms": self.tracer.mean_ms("server.define"),
            "spark.plan_ms": d("queryPlanning"),
            "spark.jobs": js["jobs"] / n_trig,
            "spark.tasks": js["tasks"] / n_trig,
            "spark.exec_ms": js["exec_ms"] / n_trig,
            "spark.shuffle_bytes": js["shuffle_bytes"] / n_trig,
            "py.boundary_ms": _mean(self.py_ms),
            "gen.lag_p99_ms": float(np.percentile(res["gen"]["lags_ms"], 99)),
            "sink.rows": sum(len(rows) for _d, _b, rows in self.delivered),
        }

    def cleanup(self) -> None:
        if self.gen_proc is not None:
            self.gen_proc.kill()
            self.gen_proc.wait()
            self.gen_proc = None


# --------------------------------------------------------------------- #
# shared by the two batch workloads
# --------------------------------------------------------------------- #


def _epoch_us_rows(out):
    """Materialise a task's output with time as epoch µs."""
    cols = [f"unix_micros(`{c}`) AS `{c}`" if c == "time" else f"`{c}`" for c in out.columns]
    return out.selectExpr(*cols)


def _sources(spark, path: str) -> dict:
    df = spark.read.parquet(path).selectExpr(
        "timestamp_micros(time) AS time", "host", "measurement", "value")
    return {m: df.filter(f"measurement = '{m}'").drop("measurement") for m in ("cpu", "mem")}


class _BatchWorkload(Workload):
    """Runs TICK tasks through the task store: POST defines, PATCH
    enables, and the executor compiles with ``tick.run_tickscript`` and
    materialises the result. Spark readings are taken per operation in a
    traced run (job group per op, plan read after the action)."""

    def _executor(self, sources_for, materialise):
        from kapacitor_spark.tick import run_tickscript

        self.results: dict = {}
        self.action_dfs: dict = {}
        self.actions = 0

        def executor(task):
            op = task["id"]
            if self.tracer.enabled:
                self.ctx.spark.sparkContext.setJobGroup(op, op)
                self.actions += 1
            with self.tracer.span("tick.build", op):
                outs = run_tickscript(task["script"], sources=sources_for(task),
                                      time_col="time", template_vars=task.get("vars") or None)
            out = _epoch_us_rows(outs["out"])
            if self.tracer.enabled:
                # plan on the frame's own QueryExecution, so its tracker
                # holds the planning phases whatever the action is
                with self.tracer.span("spark.plan", op):
                    out._jdf.queryExecution().executedPlan()
            with self.tracer.span("spark.action", op):
                self.results[op] = materialise(out)
            if self.tracer.enabled:
                self.action_dfs[op] = out

        return executor

    def layers(self, res) -> dict:
        # a job group is a task id, so it spans every run of that task
        stats = [tracing.job_stats(self.ctx.spark, op) for op in self.action_dfs]
        plans = [tracing.df_plan_metrics(df) for df in self.action_dfs.values()]
        n = max(1, self.actions)
        return {
            "tick.build_ms": self.tracer.mean_ms("tick.build"),
            "server.define_ms": self.tracer.mean_ms("server.define"),
            "spark.plan_ms": _mean(tracing.plan_phase_ms(df) for df in self.action_dfs.values()),
            "spark.jobs": sum(s["jobs"] for s in stats) / n,
            "spark.tasks": sum(s["tasks"] for s in stats) / n,
            "spark.exec_ms": sum(s["exec_ms"] for s in stats) / n,
            "spark.shuffle_bytes": sum(s["shuffle_bytes"] for s in stats) / n,
            "py.boundary_ms": _mean(tracing.py_boundary_ms(m) for m in plans),
            "sink.rows": _mean(len(r) for r in self.results.values()),
        }


# --------------------------------------------------------------------- #
# task_fanout — closed loop, one client, many small tasks
# --------------------------------------------------------------------- #


class TaskFanout(_BatchWorkload):
    spec = inputs.FanoutSpec()
    WARM_TASKS = 4  # one per template, before timing

    def __init__(self, ctx):
        super().__init__(ctx)
        self.ops: list[dict] = []

    def describe(self) -> dict:
        return {"loop": "closed", "clients": 1, "templates": list(inputs.TEMPLATES),
                "tasks_run": len(self.ops), "spec": asdict(self.spec),
                "inputs_sha": inputs.fingerprint([*self.frames, self.plan])}

    def prepare(self) -> None:
        self.frames = inputs.fanout_inputs(self.ctx.seed, self.spec)
        self.paths = []
        for k, pdf in enumerate(self.frames):
            p = self.ctx.path("inputs", f"set{k}.parquet")
            pdf.to_parquet(p, index=False)
            self.paths.append(p)
        self.plan = inputs.fanout_tasks(self.ctx.seed, 20000, self.spec)

    def setup(self) -> None:
        spark = self.ctx.new_session()
        srcs = [_sources(spark, p) for p in self.paths]
        by_id = {t["id"]: t for t in self.plan}
        self.svc = self._service(self._executor(
            lambda task: srcs[by_id[task["id"]]["input"]], lambda out: out.collect()))
        for kind, script in inputs.TEMPLATES.items():
            self._post(self.svc, "/templates", {"id": kind, "type": "stream",
                                                "script": script})

    def _run_task(self, t: dict) -> float:
        start = time.perf_counter()
        self._post(self.svc, "/tasks", {"id": t["id"], "template-id": t["kind"],
                                        "vars": t["vars"]}, op=t["id"])
        self._enable(self.svc, t["id"], op=t["id"])
        return (time.perf_counter() - start) * 1000

    def measure(self) -> dict:
        for t in self.plan[: self.WARM_TASKS]:
            self._run_task(t)
        lat = []
        start = time.perf_counter()
        deadline = start + self.ctx.seconds
        for t in self.plan[self.WARM_TASKS:]:
            if time.perf_counter() >= deadline:
                break
            lat.append(self._run_task(t))
            self.ops.append(t)
        elapsed = time.perf_counter() - start
        return {"attempted": len(lat), "latencies_ms": lat,
                "throughput_per_s": len(lat) / elapsed}

    def verify(self, res) -> int:
        import duckdb

        con = duckdb.connect()
        try:
            for k, pdf in enumerate(self.frames):
                con.register(f"set{k}", pdf)
            failed = 0
            for t in self.ops:
                sql = oracle.fanout_sql(t, f"set{t['input']}")
                expected = [tuple(r) for r in con.execute(sql).fetchall()]
                got = [tuple(r) for r in self.results.get(t["id"], [])]
                failed += oracle.compare_rows(expected, got) > 0
        finally:
            con.close()
        return failed



# --------------------------------------------------------------------- #
# backfill — closed loop, batch tasks over stored history
# --------------------------------------------------------------------- #


def backfill_scripts(spec: inputs.BackfillSpec) -> dict:
    w = f"{spec.window_s}s"
    return {
        "window_alert": f"""
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |window()
        .period({w})
        .every({w})
    |mean('value')
        .as('value')
    |alert()
        .crit(lambda: "value" > {inputs.CRIT})
        .warn(lambda: "value" > {inputs.WARN})
        .stateChangesOnly()
    |httpOut('out')
""",
        "join": f"""
var c = stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |window()
        .period({w})
        .every({w})
    |max('value')
        .as('v')
var m = stream
    |from()
        .measurement('mem')
        .groupBy('host')
    |window()
        .period({w})
        .every({w})
    |max('value')
        .as('v')
c
    |join(m)
        .as('cpu', 'mem')
    |httpOut('out')
""",
        "derivative_ma": f"""
stream
    |from()
        .measurement('mem')
        .groupBy('host')
    |derivative('value')
        .unit(1s)
    |movingAverage('value', {spec.moving_avg})
        .as('ma')
    |httpOut('out')
""",
    }


class Backfill(_BatchWorkload):
    spec = inputs.BackfillSpec()

    def __init__(self, ctx):
        super().__init__(ctx)
        self.passes = 0

    def describe(self) -> dict:
        return {"loop": "closed", "clients": 1, "tasks": list(self.scripts),
                "passes": self.passes, "spec": asdict(self.spec),
                "inputs_sha": inputs.fingerprint(self.history)}

    def prepare(self) -> None:
        self.scripts = backfill_scripts(self.spec)
        self.history = inputs.backfill_history(self.ctx.seed, self.spec)
        self.hist_path = self.ctx.path("inputs", "history.parquet")
        self.history.to_parquet(self.hist_path, index=False, row_group_size=250_000)

    def setup(self) -> None:
        spark = self.ctx.new_session()
        srcs = _sources(spark, self.hist_path)
        # results come back through Arrow, not a parquet write: the
        # disk's small-file sync times swing on a shared box
        self.svc = self._service(self._executor(lambda task: srcs, lambda out: out.toPandas()))
        for name, script in self.scripts.items():
            self._post(self.svc, "/tasks", {"id": name, "type": "batch", "script": script})

    def _run_task(self, name: str) -> float:
        start = time.perf_counter()
        self._enable(self.svc, name, op=name)
        ms = (time.perf_counter() - start) * 1000
        status, _ = self.svc.handle("PATCH", f"/kapacitor/v1/tasks/{name}", {},
                                    {"status": "disabled"})
        if status != 200:
            raise RuntimeError(f"disable {name} failed: {status}")
        return ms

    def measure(self) -> dict:
        for name in self.scripts:  # warm pass, not timed
            self._run_task(name)
        lat = []
        start = time.perf_counter()
        while time.perf_counter() - start < self.ctx.seconds:
            lat.append(sum(self._run_task(name) for name in self.scripts))
            self.passes += 1
        elapsed = time.perf_counter() - start
        return {"attempted": len(lat), "latencies_ms": lat,
                "throughput_per_s": self.spec.points * self.passes / elapsed}

    def verify(self, res) -> int:
        import duckdb

        con = duckdb.connect()
        try:
            con.register("history", self.history)
            failed = 0
            for name in self.scripts:
                sql, key = oracle.backfill_sql(name, "history", self.spec)
                expected = con.execute(sql).df()
                got = self.results[name]
                failed += oracle.compare_frames(expected, got, key) > 0
        finally:
            con.close()
        # every pass produced the same outputs: a wrong one fails every pass
        return self.passes if failed else 0


WORKLOADS = {"live_alert": LiveAlert, "task_fanout": TaskFanout, "backfill": Backfill}

"""Structured Streaming mode (SURVEY §2.8) — deterministic replay tests:
fixture rows written as parquet, read back with readStream + availableNow
trigger into a memory sink, mirroring the reference's replay harness
(/root/reference/replay.go, clock-driven determinism → event-time
determinism here). Multi-file inputs exercise state across micro-batches."""

import os

import pytest
from pyspark.sql import functions as F

from kapacitor_spark.streaming import (
    alert_stream,
    barrier,
    run_available_now,
    state_count_stream,
)

SCHEMA = "t timestamp, host string, value double"


def _write_batches(spark, path, batches):
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "t string, host string, value double").withColumn(
            "t", F.to_timestamp("t")
        )
        df.coalesce(1).write.mode("append").parquet(path)


def test_streaming_window_agg(spark, tmp_path):
    path = str(tmp_path / "in")
    # batch 1 fills window [:00,:30); batch 2 advances the watermark past
    # its end so append mode emits it (watermark moves BETWEEN batches)
    _write_batches(
        spark,
        path,
        [
            [
                ("2024-01-01 00:00:00", "a", 10.0),
                ("2024-01-01 00:00:10", "a", 95.0),
                ("2024-01-01 00:00:20", "a", 96.0),
            ],
            [("2024-01-01 00:00:50", "b", 99.0)],
        ],
    )
    src = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(path)
    src = barrier(src, "t", "10s")
    agg = (
        src.groupBy(F.window("t", "30 seconds").alias("w"), "host")
        .agg(F.count("value").alias("n"), F.avg("value").alias("m"))
        .select(F.col("w.start").alias("t"), "host", "n", "m")
    )
    out = run_available_now(agg, "win_agg_t", str(tmp_path / "cp1"))
    rows = {(r.t.second, r.host): r for r in out.collect()}
    # closed window [:00,:30) for host a emitted; [:30,:60) still open
    assert rows[(0, "a")].n == 3
    assert rows[(0, "a")].m == pytest.approx((10 + 95 + 96) / 3)
    assert (30, "b") not in rows


def test_streaming_alert_state_across_batches(spark, tmp_path):
    path = str(tmp_path / "in2")
    # batch 1 ends CRITICAL; batch 2 starts CRITICAL (no transition) then OK
    _write_batches(
        spark,
        path,
        [
            [
                ("2024-01-01 00:00:00", "a", 10.0),
                ("2024-01-01 00:00:10", "a", 95.0),
            ],
            [
                ("2024-01-01 00:00:20", "a", 97.0),
                ("2024-01-01 00:00:30", "a", 5.0),
            ],
        ],
    )
    src = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(path)
    alerts = alert_stream(
        src, "t", ["host"], crit="value > 90", state_changes_only=True
    )
    out = run_available_now(alerts, "alerts_t", str(tmp_path / "cp2")).orderBy("t")
    got = [(r.t.second, r.level) for r in out.collect()]
    # :00 OK start (no emit — initial state OK), :10 →CRITICAL, :20 stays
    # CRITICAL across the micro-batch boundary (state!), :30 →OK
    assert got == [(10, "CRITICAL"), (30, "OK")]


def test_streaming_state_count(spark, tmp_path):
    path = str(tmp_path / "in3")
    _write_batches(
        spark,
        path,
        [
            [
                ("2024-01-01 00:00:00", "a", 95.0),
                ("2024-01-01 00:00:10", "a", 96.0),
            ],
            [
                ("2024-01-01 00:00:20", "a", 97.0),
                ("2024-01-01 00:00:30", "a", 5.0),
                ("2024-01-01 00:00:40", "a", 98.0),
            ],
        ],
    )
    src = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(path)
    sc = state_count_stream(src, "t", ["host"], "value > 90", as_="n")
    out = run_available_now(sc, "sc_t", str(tmp_path / "cp3")).orderBy("t")
    # streak continues across the micro-batch boundary: 1,2 | 3,-1,1
    assert [r.n for r in out.collect()] == [1, 2, 3, -1, 1]


def test_batch_alert_flapping(spark):
    # rapidly flapping level sequence → suppressed once flapping detected
    rows = []
    for i in range(30):
        rows.append((i, f"2024-01-01 00:00:{i:02d}", "a", 95.0 if i % 2 else 5.0))
    df = spark.createDataFrame(rows, "id long, t string, host string, value double").withColumn(
        "t", F.to_timestamp("t")
    )
    from kapacitor_spark import Pipeline

    p = Pipeline.from_df(df, time_col="t", dims=("host",), tiebreak=("id",))
    no_flap = p.alert(crit="value > 90", state_changes_only=True).result().count()
    with_flap = (
        p.alert(crit="value > 90", state_changes_only=True, flapping=(0.25, 0.5))
        .result()
        .count()
    )
    assert no_flap == 29  # every point transitions
    assert 0 < with_flap < no_flap  # suppression kicks in once history fills


def test_batch_alert_no_recoveries(spark):
    rows = [
        (0, "2024-01-01 00:00:00", "a", 95.0),
        (1, "2024-01-01 00:00:10", "a", 5.0),
        (2, "2024-01-01 00:00:20", "a", 96.0),
    ]
    df = spark.createDataFrame(rows, "id long, t string, host string, value double").withColumn(
        "t", F.to_timestamp("t")
    )
    from kapacitor_spark import Pipeline

    p = Pipeline.from_df(df, time_col="t", dims=("host",), tiebreak=("id",))
    out = p.alert(
        crit="value > 90", state_changes_only=True, no_recoveries=True
    ).result()
    assert [r.level for r in out.orderBy("t").collect()] == ["CRITICAL", "CRITICAL"]


def test_streaming_window_count(spark, tmp_path):
    path = str(tmp_path / "in4")
    _write_batches(
        spark,
        path,
        [
            [("2024-01-01 00:00:00", "a", 1.0), ("2024-01-01 00:00:10", "a", 2.0)],
            [("2024-01-01 00:00:20", "a", 3.0), ("2024-01-01 00:00:30", "a", 4.0)],
        ],
    )
    from kapacitor_spark.streaming import window_count_stream

    src = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(path)
    out = window_count_stream(src, "t", ["host"], "value", period_count=3, agg="sum", as_="s")
    res = run_available_now(out, "wc_t", str(tmp_path / "cp4")).orderBy("t")
    # ring persists across batches: 1 | 1+2 | 1+2+3 | 2+3+4
    assert [r.s for r in res.collect()] == [1.0, 3.0, 6.0, 9.0]


def test_streaming_declarative_pipeline_subset(spark, tmp_path):
    """The declarative Pipeline subset (where/eval/window_time/agg) compiles
    unchanged on a streaming DataFrame — same code, incremental plan."""
    from kapacitor_spark import Pipeline

    path = str(tmp_path / "in5")
    _write_batches(
        spark,
        path,
        [
            [
                ("2024-01-01 00:00:00", "a", 10.0),
                ("2024-01-01 00:00:10", "a", 20.0),
                ("2024-01-01 00:00:20", "b", 30.0),
            ],
            # flush rows must PASS the filter: Catalyst pushes a
            # non-time predicate below EventTimeWatermark, so filtered
            # rows never advance the watermark
            [("2024-01-01 00:01:40", "a", 100.0)],
            # emission uses the PREVIOUS batch's watermark — a trailing
            # batch flushes the closed [0,30) windows
            [("2024-01-01 00:03:00", "a", 100.0)],
        ],
    )
    src = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(path)
    p = (
        Pipeline.from_df(barrier(src, "t", "10s"), time_col="t", dims=("host",))
        .where("value > 5")
        .eval(doubled="value * 2")
        .window_time("30s")
        .agg(F.sum("doubled").alias("s"), F.count("doubled").alias("n"))
    )
    out = run_available_now(p.result(), "decl_t", str(tmp_path / "cp5"))
    rows = {(r.t.second, r.host): r for r in out.collect()}
    assert rows[(0, "a")].s == 60.0 and rows[(0, "a")].n == 2
    assert rows[(0, "b")].s == 60.0


def test_streaming_alert_idle_timeout(spark, tmp_path):
    # event-time idle timeout (barrier().delete() semantics): host a goes
    # idle; when the watermark (driven by host b's later events in batch 2)
    # passes a's last event + 1h, a's state is dropped — so a's next event
    # in batch 3 starts from fresh OK state and re-emits CRITICAL.
    path = str(tmp_path / "in6")
    _write_batches(
        spark, path,
        [
            [("2024-01-01 00:00:00", "a", 95.0)],   # a → CRITICAL
            [("2024-01-01 02:00:00", "b", 95.0)],   # advances watermark past a+1h
            [("2024-01-01 02:01:00", "b", 5.0)],    # a has no data → timeout fires
            [("2024-01-01 02:02:00", "a", 95.0)],   # fresh state → re-emits CRITICAL
        ],
    )
    src = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    src = barrier(src, "t", "1s")
    alerts = alert_stream(
        src, "t", ["host"], crit="value > 90", state_changes_only=True,
        idle_timeout="1h",
    )
    out = run_available_now(alerts, "alerts_to", str(tmp_path / "cp6")).orderBy("t")
    got = [(r.host, r.level) for r in out.collect()]
    # the final (a, CRITICAL) proves DeleteGroup: had a's state survived
    # (last level CRITICAL), stateChangesOnly would suppress it
    assert got == [
        ("a", "CRITICAL"), ("b", "CRITICAL"), ("b", "OK"), ("a", "CRITICAL")
    ]


def test_join_stream_matches_batch_join(spark, tmp_path):
    """Stream-stream tolerance join: availableNow replay of the two sides
    produces exactly the batch join()'s pairs (each (bucket, key) cell
    holds one row per side, so sequential pairing == the cell join)."""
    import datetime as dt

    from kapacitor_spark import Pipeline
    from kapacitor_spark.streaming import join_stream, run_available_now

    t0 = dt.datetime(2024, 1, 1)
    rows_a = [(t0 + dt.timedelta(minutes=7 * i), f"k{i % 3}", float(i)) for i in range(20)]
    rows_b = [(t0 + dt.timedelta(minutes=7 * i, seconds=90), f"k{i % 3}", 100.0 + i)
              for i in range(20)]
    schema = "ts timestamp, key string, value double"
    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    spark.createDataFrame(rows_a, schema).write.parquet(a_dir)
    spark.createDataFrame(rows_b, schema).write.parquet(b_dir)

    batch = Pipeline.from_df(
        spark.read.parquet(a_dir), time_col="ts", dims=("key",)
    ).join(
        Pipeline.from_df(spark.read.parquet(b_dir), time_col="ts", dims=("key",)),
        prefixes=("a", "b"), tolerance="5m",
    ).result().select("ts", "key", "a_value", "b_value")

    sa = spark.readStream.schema(schema).parquet(a_dir)
    sb = spark.readStream.schema(schema).parquet(b_dir)
    streamed = join_stream(
        sa, sb, "ts", ["key"], tolerance="5m", watermark="1h",
        prefixes=("a", "b"),
    ).select("ts", "key", "a_value", "b_value")
    got = run_available_now(
        streamed, "join_stream_test", str(tmp_path / "ckpt")
    )

    key = lambda r: (r["ts"], r["key"], r["a_value"], r["b_value"])
    assert sorted(map(key, got.collect())) == sorted(map(key, batch.collect()))
    assert batch.count() > 0


def test_barrier_drops_late_data(spark, tmp_path):
    """barrier() = watermark: a point older than the watermark is DROPPED
    once its window has been emitted and evicted
    (/root/reference/pipeline/barrier.go:13-18 — messages older than the
    last barrier are discarded; Spark's guarantee is the same once state
    is gone, and late rows within the grace window may still count —
    documented divergence from the reference's hard cut)."""
    path = str(tmp_path / "late_in")
    _write_batches(
        spark,
        path,
        [
            [
                ("2024-01-01 00:00:00", "a", 1.0),
                ("2024-01-01 00:00:10", "a", 1.0),
            ],
            [("2024-01-01 00:01:30", "a", 1.0)],   # watermark -> past :30
            [("2024-01-01 00:02:30", "a", 1.0)],   # flush: [:00,:30) emits+evicts
            [("2024-01-01 00:00:20", "a", 1.0)],   # LATE into the EVICTED window
            [("2024-01-01 00:04:00", "a", 1.0)],   # trailing flush batch
        ],
    )
    src = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(path)
    agg = (
        barrier(src, "t", "10s")
        .groupBy(F.window("t", "30 seconds").alias("w"), "host")
        .agg(F.count("value").alias("n"))
        .select(F.col("w.start").alias("t"), "host", "n")
    )
    out = run_available_now(agg, "late_drop_t", str(tmp_path / "cp_late"))
    rows = [(r.t.minute, r.t.second, r.n) for r in out.collect()]
    # the [:00,:30) window emitted exactly once with the 2 ON-TIME rows;
    # the late third row neither re-emitted nor grew it
    assert rows.count((0, 0, 2)) == 1
    assert all(n == 2 for m, s, n in rows if (m, s) == (0, 0))


def test_streaming_alert_max_interval_expiry(spark, tmp_path):
    """stateChangesOnly(maxInterval) in streaming: a steady CRITICAL
    re-fires once maxInterval of EVENT time has passed since the last
    triggered event — lastTriggered survives the micro-batch boundary
    (alert.go:1288-1290 updateExpired)."""
    path = str(tmp_path / "in_mi")
    _write_batches(
        spark,
        path,
        [
            [
                ("2024-01-01 00:00:00", "a", 95.0),   # OK→CRIT: fire
                ("2024-01-01 00:00:05", "a", 96.0),   # +5s < 10s: suppressed
            ],
            [
                ("2024-01-01 00:00:12", "a", 97.0),   # +12s >= 10s: re-fire
                ("2024-01-01 00:00:15", "a", 98.0),   # +3s: suppressed
                ("2024-01-01 00:00:30", "a", 5.0),    # recovery: fire
            ],
        ],
    )
    src = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(path)
    alerts = alert_stream(
        src, "t", ["host"], crit="value > 90",
        state_changes_only=True, max_interval="10s",
    )
    out = run_available_now(alerts, "alerts_mi", str(tmp_path / "cp_mi")).orderBy("t")
    got = [(r.t.second, r.level) for r in out.collect()]
    assert got == [(0, "CRITICAL"), (12, "CRITICAL"), (30, "OK")]


def test_streaming_alert_max_interval_steady_ok_never_refires(spark, tmp_path):
    """Steady OK past maxInterval must NOT re-fire: the reference's
    trigger gate (alert.go:1128) is `level != OK || changed`, so expiry
    only re-emits non-OK levels. Levels CRIT,OK,OK,OK,OK with
    maxInterval=2s emit exactly the first two rows."""
    path = str(tmp_path / "in_mi_ok")
    _write_batches(
        spark,
        path,
        [
            [
                ("2024-01-01 00:00:00", "a", 95.0),   # OK→CRIT: fire
                ("2024-01-01 00:00:01", "a", 5.0),    # recovery: fire
                ("2024-01-01 00:00:05", "a", 5.0),    # steady OK +4s: silent
            ],
            [
                ("2024-01-01 00:00:09", "a", 5.0),    # steady OK +8s: silent
                ("2024-01-01 00:00:30", "a", 5.0),    # steady OK +29s: silent
            ],
        ],
    )
    src = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(path)
    alerts = alert_stream(
        src, "t", ["host"], crit="value > 90",
        state_changes_only=True, max_interval="2s",
    )
    out = run_available_now(alerts, "alerts_mi_ok", str(tmp_path / "cp_mi_ok")).orderBy("t")
    got = [(r.t.second, r.level) for r in out.collect()]
    assert got == [(0, "CRITICAL"), (1, "OK")]


def test_walk_levels_steady_ok_expiry_unit():
    """Unit repro from the machine itself: [CRIT,OK,OK,OK,OK] at 1s
    spacing with maxInterval=2s keeps exactly rows 0 and 1."""
    import numpy as np

    from kapacitor_spark.streaming.state import new_state, walk_levels

    levels = np.array([3, 0, 0, 0, 0], dtype=np.int64)
    times = np.arange(5, dtype=np.int64) * 1_000_000
    emit, _ = walk_levels(
        levels, new_state(), state_changes_only=True,
        times=times, max_interval_us=2_000_000,
    )
    assert emit.tolist() == [True, True, False, False, False]


def test_checkpoint_restart_restores_state(spark, tmp_path):
    """Snapshot/restore parity (/root/reference/task.go:532-586 — node
    state survives a task restart): run the stateful alert machine over
    phase-1 files, STOP, append phase-2 files, and resume from the SAME
    checkpoint — the restored state must see phase 2's first CRITICAL as
    a steady level (no re-fire), exactly as one continuous run would."""
    path = str(tmp_path / "in_ckpt")
    ckpt = str(tmp_path / "cp_ckpt")
    phase1 = [
        [
            ("2024-01-01 00:00:00", "a", 95.0),   # OK→CRIT: fire
            ("2024-01-01 00:00:10", "a", 96.0),   # steady: suppressed
        ],
    ]
    phase2 = [
        [
            ("2024-01-01 00:00:20", "a", 97.0),   # steady ACROSS RESTART
            ("2024-01-01 00:00:30", "a", 5.0),    # recovery: fire
        ],
    ]
    _write_batches(spark, path, phase1)

    out_dir = str(tmp_path / "out_ckpt")

    def run():
        # file sink: the one sink kind that supports checkpoint RECOVERY
        # (the memory sink cannot resume)
        src = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )
        alerts = alert_stream(
            src, "t", ["host"], crit="value > 90", state_changes_only=True
        )
        q = (
            alerts.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out_dir)

    out1 = run().collect()
    assert [(r.t.second, r.level) for r in out1] == [(0, "CRITICAL")]

    _write_batches(spark, path, phase2)
    out2 = run().collect()
    # resumed run processes ONLY the new files; :20 must NOT re-fire
    # (last_level CRITICAL restored from the checkpoint), :30 recovers
    assert [(r.t.second, r.level) for r in sorted(out2, key=lambda r: r.t)] == [
        (0, "CRITICAL"),
        (30, "OK"),
    ]


def test_ordered_transform_stream_matches_batch(spark, tmp_path):
    """Streaming derivative/difference/elapsed/cumulativeSum must equal
    the batch operators even when the series is split across micro-batch
    boundaries — the carry state holds exactly the previous point."""
    from kapacitor_spark import Pipeline
    from kapacitor_spark.streaming import ordered_transform_stream

    path = str(tmp_path / "in_ord")
    batches = [
        [
            ("2024-01-01 00:00:00", "a", 10.0),
            ("2024-01-01 00:00:02", "a", 16.0),
            ("2024-01-01 00:00:03", "b", 5.0),
        ],
        [
            ("2024-01-01 00:00:05", "a", 7.0),   # negative rate
            ("2024-01-01 00:00:06", "b", 11.0),
            ("2024-01-01 00:00:09", "a", 13.0),
        ],
    ]
    _write_batches(spark, path, batches)
    all_rows = spark.read.parquet(path)
    batch_p = Pipeline.from_df(all_rows, time_col="t", dims=("host",))

    cases = {
        "derivative": (dict(op="derivative", unit="1s"), batch_p.derivative("value")),
        "difference": (dict(op="difference"), batch_p.difference("value")),
        "elapsed": (dict(op="elapsed", unit="1s", as_="elapsed"),
                    batch_p.elapsed("1s")),
        "cumulative_sum": (dict(op="cumulative_sum"),
                           batch_p.cumulative_sum("value")),
    }
    for name, (kw, expected_p) in cases.items():
        src = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )
        got_df = ordered_transform_stream(src, "t", ["host"], "value", **kw)
        got = run_available_now(got_df, f"ord_{name}", str(tmp_path / f"cp_{name}"))
        out_col = kw.get("as_", "value" if name != "elapsed" else "elapsed")
        key = lambda r: (r["host"], r["t"])
        g = [(r["host"], r["t"], r[out_col]) for r in sorted(got.collect(), key=key)]
        e = [
            (r["host"], r["t"], r[out_col])
            for r in sorted(expected_p.result().collect(), key=key)
        ]
        assert g == e, name


def test_state_duration_stream_across_batches(spark, tmp_path):
    """stateDuration's episode START survives the micro-batch boundary —
    a state entered in batch 1 keeps accruing duration in batch 2."""
    from kapacitor_spark.streaming import state_duration_stream

    path = str(tmp_path / "in_sd")
    _write_batches(
        spark,
        path,
        [
            [
                ("2024-01-01 00:00:00", "a", 50.0),   # false: -1
                ("2024-01-01 00:00:10", "a", 95.0),   # episode start: 0
            ],
            [
                ("2024-01-01 00:00:25", "a", 96.0),   # +15s ACROSS RESTART
                ("2024-01-01 00:00:30", "a", 5.0),    # false: -1
                ("2024-01-01 00:00:40", "a", 97.0),   # new episode: 0
            ],
        ],
    )
    src = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(path)
    out = state_duration_stream(src, "t", ["host"], cond="value > 90", unit="1s")
    got = run_available_now(out, "sd_t", str(tmp_path / "cp_sd")).orderBy("t")
    assert [(r.t.second, r.state_duration) for r in got.collect()] == [
        (0, -1.0), (10, 0.0), (25, 15.0), (30, -1.0), (40, 0.0)
    ]


def test_deadman_stream_fires_on_fully_silent_group(spark, tmp_path):
    """VERDICT r3 #9 / reference stats.go ("stats are real-time not
    data-time"): a group that stops sending — or never sends again —
    must still raise deadman CRITICAL after one wall-clock interval.
    Event-time watermarks can't do this (time stops with the data);
    deadman_stream's ProcessingTimeTimeout can."""
    import time

    from kapacitor_spark.streaming import deadman_stream

    path = str(tmp_path / "in_dm")
    _write_batches(
        spark, path,
        [[("2024-01-01 00:00:00", "a", 1.0), ("2024-01-01 00:00:01", "a", 2.0)]],
    )
    src = spark.readStream.schema(SCHEMA).parquet(path)
    out = deadman_stream(src, "t", ["host"], interval="2s")
    q = (
        out.writeStream.format("memory").queryName("dm_silent")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_dm"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 30
        rows = []
        while time.time() < deadline:
            rows = spark.table("dm_silent").collect()
            if rows:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert rows, "deadman never fired on the silent stream"
    # the first tick carries the pre-silence count; silence then keeps
    # CRITICAL ticks coming (threshold 0: 2 points -> OK, 0 points -> CRITICAL)
    by_level = {(r["host"], r["level"]) for r in rows}
    assert ("a", "OK") in by_level or ("a", "CRITICAL") in by_level
    # wait for a second, fully-silent interval if we only saw the first
    if not any(r["level"] == "CRITICAL" for r in rows):
        q2 = (
            deadman_stream(
                spark.readStream.schema(SCHEMA).parquet(path), "t", ["host"],
                interval="1s",
            )
            .writeStream.format("memory").queryName("dm_silent2")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck_dm2"))
            .trigger(processingTime="300 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 30
            crit = []
            while time.time() < deadline:
                crit = [
                    r for r in spark.table("dm_silent2").collect()
                    if r["level"] == "CRITICAL"
                ]
                if crit:
                    break
                time.sleep(0.5)
        finally:
            q2.stop()
        assert crit, "no CRITICAL tick during sustained silence"


def test_stateful_udf_checkpoint_restore_no_reemission(spark, tmp_path):
    """VERDICT r3 #8 / udf/agent/udf.proto:99-118 snapshot+restore: a
    @stateful_udf_node stream stopped after batch 1 and RESTARTED from
    its checkpoint must (a) not re-emit batch-1 rows and (b) resume with
    the carried state — the trailing average over the restart boundary
    includes pre-restart values, proving the state snapshot round-trip."""
    import pandas as pd

    from kapacitor_spark.udf import stateful_udf_node

    @stateful_udf_node(
        "t timestamp, host string, mavg double",
        "vals array<double>",
    )
    def moving_avg_state(key, pdfs, state, size=3):
        vals = list(state.get[0]) if state.exists else []
        frames = [pdf.sort_values("t", kind="stable") for pdf in pdfs]
        out = []
        for pdf in frames:
            for _, row in pdf.iterrows():
                vals.append(float(row["value"]))
                window = vals[-size:]
                out.append((row["t"], key[0], sum(window) / len(window)))
        state.update((vals[-size:],))
        yield pd.DataFrame(out, columns=["t", "host", "mavg"])

    path = str(tmp_path / "in_udfck")
    ckpt = str(tmp_path / "ck_udfck")
    _write_batches(
        spark, path,
        [[("2024-01-01 00:00:00", "a", 3.0),
          ("2024-01-01 00:00:01", "a", 6.0),
          ("2024-01-01 00:00:02", "a", 9.0)]],
    )

    outdir = str(tmp_path / "out_udfck")

    def run():
        # a FILE sink (unlike the memory sink) supports restart-from-
        # checkpoint — the point of this test
        src = spark.readStream.schema(SCHEMA).parquet(path)
        q = (
            moving_avg_state(src, ["host"])
            .writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(outdir)

    first = run().orderBy("t").collect()
    assert [r["mavg"] for r in first] == [3.0, 4.5, 6.0]

    # "restart": new query, same checkpoint + sink, one more input file
    _write_batches(spark, path, [[("2024-01-01 00:00:03", "a", 12.0)]])
    both = run().orderBy("t").collect()
    # exactly ONE new row appended (no batch-1 re-emission)...
    assert len(both) == 4
    # ...and its trailing-3 window spans the restart: (6 + 9 + 12) / 3
    assert both[-1]["mavg"] == pytest.approx(9.0)


def _barrier_input(spark, path):
    rows = [(f"2024-01-01 00:00:{s:02d}", "a", float(s)) for s in range(21)]
    _write_batches(spark, path, [rows])


def _poll_table(spark, name, want, timeout_s=40):
    import time

    deadline = time.time() + timeout_s
    rows = []
    while time.time() < deadline:
        rows = spark.table(name).collect()
        if want(rows):
            return rows
        time.sleep(0.5)
    return rows


def test_stream_barrier_idle_forces_partial_windows(spark, tmp_path):
    """TestStream_Barrier_Idle / TestStream_Barrier_Idle_No_Data /
    TestStream_Barrier_Idle_No_Idle /
    TestStream_Barrier_Idle_Replay_After_Idle (streamer_test.go): with
    barrier().idle(d), windows the event-time watermark can never close
    (the stream went silent) are force-emitted after d of wall-clock
    idleness. 21 points, period 14s / every 10s: new data closes [0,14)
    (count 14) immediately; the idle barrier then flushes the pending
    [10,24) (count 11) and [20,34) (count 1) partial windows that plain
    watermarking would hold forever. (Windows are epoch-aligned here vs
    the reference's arrival-relative grid — documented divergence.)"""
    from kapacitor_spark.streaming import window_barrier_stream

    path = str(tmp_path / "in_bi")
    _barrier_input(spark, path)
    src = spark.readStream.schema(SCHEMA).parquet(path)
    out = window_barrier_stream(
        src, "t", ["host"], period="14s", every="10s",
        barrier_interval="2s", mode="idle",
    )
    q = (
        out.writeStream.format("memory").queryName("bi_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_bi"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        rows = _poll_table(spark, "bi_out", lambda rs: len(rs) >= 3)
    finally:
        q.stop()
    got = {r["window_start"].second: r["count"] for r in rows}
    assert got == {0: 14, 10: 11, 20: 1}


def test_stream_barrier_period_forces_partial_windows(spark, tmp_path):
    """TestStream_Barrier_Period / TestStream_Barrier_Period_No_Data /
    TestStream_Barrier_Period_No_Idle /
    TestStream_Barrier_Period_Replay_After_Idle (streamer_test.go): the
    period barrier ticks on the wall clock REGARDLESS of data flow and
    closes everything pending on each tick — same three windows as the
    idle variant, emitted within one period of the data ending."""
    from kapacitor_spark.streaming import window_barrier_stream

    path = str(tmp_path / "in_bp")
    _barrier_input(spark, path)
    src = spark.readStream.schema(SCHEMA).parquet(path)
    out = window_barrier_stream(
        src, "t", ["host"], period="14s", every="10s",
        barrier_interval="2s", mode="period",
    )
    q = (
        out.writeStream.format("memory").queryName("bp_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_bp"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        rows = _poll_table(spark, "bp_out", lambda rs: len(rs) >= 3)
    finally:
        q.stop()
    got = {r["window_start"].second: r["count"] for r in rows}
    assert got == {0: 14, 10: 11, 20: 1}


def test_deadman_stream_gc_after_max_silent_intervals(spark, tmp_path):
    """A departed group alerts for the grace window, then its state is
    garbage-collected (barrier().delete()/DeleteGroup analog): with
    max_silent_intervals=2 the silent group emits at most 2 CRITICAL
    ticks and then goes quiet — state removed, no eternal alerting."""
    import time

    from kapacitor_spark.streaming import deadman_stream

    path = str(tmp_path / "in_dmgc")
    _write_batches(spark, path, [[("2024-01-01 00:00:00", "gone", 1.0)]])
    src = spark.readStream.schema(SCHEMA).parquet(path)
    out = deadman_stream(src, "t", ["host"], interval="1s",
                         max_silent_intervals=2)
    q = (
        out.writeStream.format("memory").queryName("dmgc")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_dmgc"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        # run long enough for ~6 intervals; only 2 critical ticks may land
        deadline = time.time() + 12
        while time.time() < deadline:
            time.sleep(0.5)
        rows = spark.table("dmgc").collect()
    finally:
        q.stop()
    crit = [r for r in rows if r["level"] == "CRITICAL"]
    assert 1 <= len(crit) <= 2, rows


def test_stats_stream_ticks_through_traffic_and_silence(spark, tmp_path):
    """Wall-clock stats() (stats.go "real-time not data-time"): the
    ticker emits per interval while data flows AND keeps emitting
    (emitted=0) once it stops — data arrival must not postpone the tick
    (the absolute next-tick time lives in state)."""
    import time

    from kapacitor_spark.streaming import stats_stream

    path = str(tmp_path / "in_ss")
    _write_batches(
        spark, path,
        [[("2024-01-01 00:00:00", "a", 1.0), ("2024-01-01 00:00:01", "a", 2.0)]],
    )
    src = spark.readStream.schema(SCHEMA).parquet(path)
    out = stats_stream(src, "t", ["host"], interval="1s")
    q = (
        out.writeStream.format("memory").queryName("ss_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_ss"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 30
        rows = []
        while time.time() < deadline:
            rows = spark.table("ss_out").collect()
            if len(rows) >= 3:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert len(rows) >= 3, rows
    counts = [r["emitted"] for r in rows]
    # first tick carries the 2 ingested points; silent ticks carry 0
    assert counts[0] == 2 or 2 in counts
    assert counts.count(0) >= 1


def test_stats_stream_ungrouped_ticks(spark, tmp_path):
    """An ungrouped wall-clock operator (dims=[]) runs: Spark refuses a
    stateful operator grouped on no keys at query start, so the kernel
    keys ungrouped input on a synthetic column — and emits only the
    real dims, not that key."""
    from kapacitor_spark.streaming import stats_stream

    path = str(tmp_path / "in_ssu")
    _write_batches(
        spark, path,
        [[("2024-01-01 00:00:00", "a", 1.0), ("2024-01-01 00:00:01", "b", 2.0)]],
    )
    src = spark.readStream.schema(SCHEMA).parquet(path)
    q = (
        stats_stream(src, "t", [], interval="1s")
        .writeStream.format("memory").queryName("ssu_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_ssu"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        rows = _poll_table(spark, "ssu_out", lambda rs: len(rs) >= 2)
    finally:
        q.stop()
    assert [r.asDict() for r in rows[:2]] == [{"emitted": 2}, {"emitted": 0}]


def test_stream_barrier_period_fires_during_traffic(spark, tmp_path):
    """The period barrier ticks on the wall clock REGARDLESS of data
    (barrier.go period barrier): while a point arrives every trigger, it
    still force-emits the partial window that no point can close (the
    1h window outlives the test), and each later tick emits a follow-up
    row with the points that came since. An idle barrier would wait for
    silence."""
    from kapacitor_spark.streaming import window_barrier_stream

    src = (
        spark.readStream.format("rate").option("rowsPerSecond", 20).load()
        .select(
            F.timestamp_seconds(F.col("value")).alias("t"),
            F.lit("a").alias("host"),
        )
    )
    out = window_barrier_stream(
        src, "t", ["host"], period="1h", barrier_interval="1s",
        mode="period",
    )
    q = (
        out.writeStream.format("memory").queryName("bpt_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_bpt"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        rows = _poll_table(spark, "bpt_out", lambda rs: len(rs) >= 2,
                           timeout_s=20)
    finally:
        q.stop()
    assert len(rows) >= 2
    assert len({r["window_start"] for r in rows}) == 1
    assert all(r["count"] > 0 for r in rows)


def test_autoscale_stream_matches_batch_golden(spark, tmp_path):
    """Streaming autoscale (live mode) replays the TestStream_Autoscale
    decision sequence split across TWO micro-batches and must emit the
    reference's exact update sequences — cooldown clocks and the current
    replica count survive the trigger boundary in keyed state."""
    from kapacitor_spark.operators.autoscale import SwarmAutoscaler
    from kapacitor_spark.streaming import autoscale_stream, run_available_now

    path = str(tmp_path / "in_scale")
    mk = lambda s, d, r: (f"2024-01-01 00:00:0{s}", d, float(r))
    batches = [
        [mk(1, "serviceA", 1), mk(1, "serviceB", 10),
         mk(2, "serviceA", 2), mk(2, "serviceB", 20)],
        [mk(3, "serviceA", -1), mk(3, "serviceB", 0),
         mk(4, "serviceA", 1000), mk(4, "serviceB", 1000),
         mk(5, "serviceA", 2), mk(5, "serviceB", 20)],
    ]
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(
            rows, "t string, deployment string, replicas double"
        ).withColumn("t", F.to_timestamp("t"))
        df.coalesce(1).write.mode("append").parquet(path)

    class Client:
        def service_replicas(self, name):
            return {"serviceA": 1, "serviceB": 10}[name]

        def update_service(self, name, n):
            pass

    scaler = SwarmAutoscaler(Client(), service_name_tag="deployment")
    src = (
        spark.readStream.schema("t timestamp, deployment string, replicas double")
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    ev = autoscale_stream(
        src, "t", scaler, 'cast(replicas as long)',
        initial={"serviceA": 1, "serviceB": 10},
    )
    got = run_available_now(ev, "auto_ev", str(tmp_path / "cp_auto"))
    by_svc = {}
    for r in sorted(got.collect(), key=lambda r: (r["t"], r["resource"])):
        by_svc.setdefault(r["resource"], []).append((r["old"], r["new"]))
    # the reference's expUpdatesByService (streamer_test.go:11912), as
    # (old, new) transitions: A 1->2->1->1000->2, B 10->20->1->1000->20
    assert by_svc == {
        "serviceA": [(1, 2), (2, 1), (1, 1000), (1000, 2)],
        "serviceB": [(10, 20), (20, 1), (1, 1000), (1000, 20)],
    }


def test_autoscale_stream_cooldown_across_batches(spark, tmp_path):
    """An increase applied in micro-batch 1 suppresses an increase inside
    the cooldown window arriving in micro-batch 2 (the lastIncrease clock
    lives in keyed state); unknown resources seed from their first point
    without emitting."""
    from kapacitor_spark.operators.autoscale import SwarmAutoscaler
    from kapacitor_spark.streaming import autoscale_stream, run_available_now

    path = str(tmp_path / "in_scale2")
    batches = [
        [("2024-01-01 00:00:00", "svc1", 4.0)],   # unknown: seeds current=4
        [("2024-01-01 00:00:05", "svc1", 8.0)],   # event 4->8, last_inc=:05
        [("2024-01-01 00:00:08", "svc1", 16.0)],  # within 10s cooldown: drop
        [("2024-01-01 00:00:20", "svc1", 16.0)],  # cooldown open: 8->16
    ]
    for rows in batches:
        df = spark.createDataFrame(
            rows, "t string, svc string, replicas double"
        ).withColumn("t", F.to_timestamp("t"))
        df.coalesce(1).write.mode("append").parquet(path)

    class Client:
        def update_service(self, name, n):
            pass

    scaler = SwarmAutoscaler(Client(), service_name_tag="svc")
    src = (
        spark.readStream.schema("t timestamp, svc string, replicas double")
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    ev = autoscale_stream(
        src, "t", scaler, "cast(replicas as long)", increase_cooldown="10s"
    )
    got = run_available_now(ev, "auto_cd", str(tmp_path / "cp_auto2"))
    seq = [(r["old"], r["new"]) for r in sorted(got.collect(), key=lambda r: r["t"])]
    assert seq == [(4, 8), (8, 16)]


def test_subscribe_stream_line_protocol(spark, tmp_path):
    """Subscription data plane: line-protocol files landing in a spool
    dir parse into typed points continuously (two micro-batches, plain
    and quoted-string lines), ready for streaming ops."""
    import os

    from kapacitor_spark.sources.line_protocol import subscribe_stream
    from kapacitor_spark.streaming import run_available_now

    spool = tmp_path / "spool"
    os.makedirs(spool)
    (spool / "b1.txt").write_text(
        "cpu,host=serverA value=90.5 1000000000\n"
        "cpu,host=serverB value=88.0 2000000000\n"
    )
    (spool / "b2.txt").write_text(
        'cpu,host=serverC msg="hello world",value=70.25 3000000000\n'
    )
    src = subscribe_stream(spark, str(spool), max_files_per_trigger=1)
    got = run_available_now(src, "sub_lp", str(tmp_path / "cp_sub"))
    rows = {r["tags"]["host"]: r for r in got.collect()}
    assert rows["serverA"]["fields_f"]["value"] == 90.5
    assert rows["serverB"]["name"] == "cpu"
    assert rows["serverC"]["fields_s"]["msg"] == "hello world"
    assert rows["serverC"]["fields_f"]["value"] == 70.25
    assert rows["serverA"]["time"].second == 1


def test_subscribe_stream_survives_bad_writes(spark, tmp_path):
    """One bad write must not kill a live task: a repeated tag or field
    key keeps its last value, a malformed line or an int64 overflow is
    dropped, and the running query goes on to the next trigger (the old
    JVM parse failed the query with DUPLICATED_MAP_KEY or a cast error)."""
    import os

    from kapacitor_spark.sources.line_protocol import subscribe_stream

    spool = tmp_path / "spool"
    os.makedirs(spool)
    (spool / "b1.txt").write_text(
        "cpu,host=a,host=b v=1 1000\n"
        "cpu,host=c v=1,v=2 2000\n"
        "cpu,host=x v=abc 2500\n"
        "cpu,host=y v=99999999999999999999i 2600\n"
    )
    rows = []
    q = (
        subscribe_stream(spark, str(spool))
        .writeStream.foreachBatch(lambda df, _bid: rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        (spool / "b2.txt").write_text("cpu,host=d v=3 3000\n")
        q.processAllAvailable()
        assert q.isActive and q.exception() is None
    finally:
        q.stop()
    got = {(r["tags"]["host"], r["fields_f"]["v"]) for r in rows}
    assert got == {("b", 1.0), ("c", 2.0), ("d", 3.0)}


def test_parse_prometheus_exposition():
    """Exposition-format parsing: labels with escapes, NaN drop, comment
    skip, optional ms timestamps, bare metrics."""
    from kapacitor_spark.sources.prometheus import parse_prometheus

    text = """
# HELP http_requests_total Total requests.
# TYPE http_requests_total counter
http_requests_total{method="post",code="200"} 1027 1395066363000
http_requests_total{method="post",code="400"}    3 1395066363000
msdos_file_access_time_seconds{path="C:\\\\DIR\\\\FILE.TXT",error="Cannot find file:\\n\\"FILE.TXT\\""} 1.458255915e9
something_weird{problem="division by zero"} +Inf -3982045
no_labels_metric 42.5
rpc_duration_seconds{quantile="0.01"} NaN
"""
    got = parse_prometheus(text, default_ts_ms=777)
    by = {}
    for s in got:
        by.setdefault(s["name"], []).append(s)
    assert len(by["http_requests_total"]) == 2
    assert by["http_requests_total"][0]["labels"] == {
        "method": "post", "code": "200"}
    assert by["http_requests_total"][0]["ts_ms"] == 1395066363000
    m = by["msdos_file_access_time_seconds"][0]
    assert m["labels"]["path"] == "C:\\DIR\\FILE.TXT"
    assert m["labels"]["error"] == 'Cannot find file:\n"FILE.TXT"'
    assert by["something_weird"][0]["value"] == float("inf")
    assert by["no_labels_metric"][0]["ts_ms"] == 777
    assert "rpc_duration_seconds" not in by  # NaN dropped (service.go:193)


def test_scrape_targets_end_to_end(spark):
    """Scrape two local /metrics endpoints on executors: sample→point
    mapping (measurement=__name__-style name, tags incl. instance+job,
    value field), blacklist drops an instance."""
    import http.server
    import socketserver
    import threading

    from kapacitor_spark.sources.prometheus import scrape_targets

    body = (b"cpu_usage{host=\"h1\",cpu=\"0\"} 12.5 1000\n"
            b"cpu_usage{host=\"h1\",cpu=\"1\"} 30.0 1000\n"
            b"mem_free_bytes 4096 2000\n")

    class H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            self.send_response(200)
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    with socketserver.TCPServer(("127.0.0.1", 0), H) as s1, \
         socketserver.TCPServer(("127.0.0.1", 0), H) as s2:
        p1, p2 = s1.server_address[1], s2.server_address[1]
        threading.Thread(target=s1.serve_forever, daemon=True).start()
        threading.Thread(target=s2.serve_forever, daemon=True).start()
        try:
            df = scrape_targets(
                spark,
                [f"http://127.0.0.1:{p1}/metrics",
                 f"http://127.0.0.1:{p2}/metrics"],
                job="node",
                blacklist=[f"127.0.0.1:{p2}"],
            )
            rows = df.collect()
        finally:
            s1.shutdown()
            s2.shutdown()
    # only the non-blacklisted target contributed: 3 samples
    assert len(rows) == 3
    cpu = [r for r in rows if r["name"] == "cpu_usage"]
    assert {r["tags"]["cpu"] for r in cpu} == {"0", "1"}
    assert all(r["tags"]["job"] == "node" for r in rows)
    assert all(r["tags"]["instance"] == f"127.0.0.1:{p1}" for r in rows)
    mem = [r for r in rows if r["name"] == "mem_free_bytes"][0]
    assert mem["value"] == 4096.0 and mem["time"].second == 2


def test_scrape_stream_continuous_intervals(spark):
    """Continuous scraping (the reference scraper's run loop): a local
    /metrics server serves an INCREMENTING counter per request; the
    streaming source must scrape it on ≥3 separate triggers and emit the
    changing values — proving it re-scrapes per micro-batch rather than
    snapshotting once. Blacklist semantics ride the shared closure."""
    import http.server
    import socketserver
    import threading
    import time
    import uuid

    from kapacitor_spark.sources.prometheus import scrape_stream

    hits = [0]

    class H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            hits[0] += 1
            body = (
                f'ticks_total{{src="a"}} {hits[0]}\n'
                f'dropme{{instance="bad:1"}} 1\n'
            ).encode()
            self.send_response(200)
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    with socketserver.TCPServer(("127.0.0.1", 0), H) as srv:
        port = srv.server_address[1]
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        sink = f"scrape_stream_{uuid.uuid4().hex[:8]}"
        q = (
            scrape_stream(
                spark,
                [f"http://127.0.0.1:{port}/metrics"],
                job="loop",
                blacklist=["bad:1"],
            )
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(processingTime="300 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 60
            while time.time() < deadline:
                vals = {
                    r["value"]
                    for r in spark.sql(
                        f"SELECT value FROM {sink} WHERE name = 'ticks_total'"
                    ).collect()
                }
                if len(vals) >= 3:
                    break
                time.sleep(0.3)
            rows = spark.sql(f"SELECT * FROM {sink}").collect()
        finally:
            q.stop()
            srv.shutdown()
    counter = [r for r in rows if r["name"] == "ticks_total"]
    vals = sorted(r["value"] for r in counter)
    # ≥3 scrape waves observed, each seeing a LARGER counter value
    assert len(vals) >= 3 and len(set(vals)) == len(vals), vals
    assert all(r["tags"]["job"] == "loop" for r in counter)
    assert all(
        r["tags"]["instance"] == f"127.0.0.1:{port}" for r in counter
    )
    # the blacklisted instance never appears in ANY wave
    assert not [r for r in rows if r["name"] == "dropme"]
    # wall-clock stamped PER WAVE: times advance with the counter
    times = [r["time"] for r in sorted(counter, key=lambda r: r["value"])]
    assert times == sorted(times)


def test_static_and_file_discovery_units(tmp_path):
    """Discovery plumbing without a server: static config validation +
    address normalization (Prometheus defaults http://<addr>/metrics),
    file_sd JSON parsing with globs, and the reference's path rule
    (file_discovery/config.go fileRegex + error string)."""
    import json

    import pytest

    from kapacitor_spark.sources.prometheus import (
        file_sd_targets,
        static_targets,
    )

    with pytest.raises(ValueError, match="static discovery must be given a ID"):
        static_targets("", ["h:9100"])
    got = static_targets("s1", ["h1:9100", "http://h2/custom"], {"env": "prod"})
    assert got == [
        ("http://h1:9100/metrics", {"env": "prod"}),
        ("http://h2/custom", {"env": "prod"}),
    ]

    (tmp_path / "a.json").write_text(
        json.dumps(
            [
                {"targets": ["n1:9100", "n2:9100"], "labels": {"dc": "east"}},
                {"targets": ["n3:9100"]},
            ]
        )
    )
    (tmp_path / "b.json").write_text(
        json.dumps([{"targets": ["n4:9100"], "labels": {"dc": "west"}}])
    )
    got = file_sd_targets([str(tmp_path / "*.json")])
    assert ("http://n1:9100/metrics", {"dc": "east"}) in got
    assert ("http://n3:9100/metrics", {}) in got
    assert ("http://n4:9100/metrics", {"dc": "west"}) in got
    assert len(got) == 4

    with pytest.raises(ValueError, match="is not valid for file discovery"):
        file_sd_targets(["/etc/targets.txt"])
    with pytest.raises(ValueError, match="is not valid for file discovery"):
        file_sd_targets(["/e*tc/deep/*.json"])  # glob only in the basename

    # YAML file_sd (the reference's path rule accepts .yml/.yaml too)
    (tmp_path / "c.yaml").write_text(
        "- targets: ['y1:9100']\n  labels: {dc: north}\n"
    )
    got = file_sd_targets([str(tmp_path / "c.yaml")])
    assert got == [("http://y1:9100/metrics", {"dc": "north"})]

    # tolerant discovery (the Prometheus file_sd behavior the streaming
    # wave uses): a malformed file contributes nothing, the rest work
    (tmp_path / "bad").mkdir()
    (tmp_path / "bad" / "x.json").write_text("{not json")
    (tmp_path / "bad" / "y.json").write_text(
        json.dumps([{"targets": ["ok:9100"]}])
    )
    with pytest.raises(Exception):
        file_sd_targets([str(tmp_path / "bad" / "*.json")])
    got = file_sd_targets([str(tmp_path / "bad" / "*.json")], tolerant=True)
    assert got == [("http://ok:9100/metrics", {})]


def test_scrape_discovery_labels_override(spark):
    """Target labels from discovery override exposition labels AND the
    configured job (Prometheus honor_labels=false — what the reference's
    embedded scrape manager runs with); unlabeled samples keep the
    configured job."""
    import http.server
    import socketserver
    import threading

    from kapacitor_spark.sources.prometheus import scrape_targets

    body = b'up{env="exposed"} 1 1000\nfree_bytes 42 1000\n'

    class H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            self.send_response(200)
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    with socketserver.TCPServer(("127.0.0.1", 0), H) as srv:
        port = srv.server_address[1]
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        try:
            rows = scrape_targets(
                spark,
                [
                    (
                        f"127.0.0.1:{port}",
                        {"env": "prod", "job": "custom"},
                    )
                ],
                job="node",
                scrape_time_ms=0,
            ).collect()
        finally:
            srv.shutdown()
    up = [r for r in rows if r["name"] == "up"][0]
    assert up["tags"]["env"] == "prod"      # target label wins over exposed
    assert up["tags"]["job"] == "custom"    # ...and over the configured job
    free = [r for r in rows if r["name"] == "free_bytes"][0]
    assert free["tags"]["env"] == "prod"
    assert free["tags"]["instance"] == f"127.0.0.1:{port}"


def test_scrape_stream_file_sd_hot_reload(spark, tmp_path):
    """File discovery refresh: the stream re-reads the file_sd file every
    wave, so adding a second target to the file mid-stream makes its
    samples appear in later waves without restarting the query."""
    import http.server
    import json
    import socketserver
    import threading
    import time
    import uuid

    from kapacitor_spark.sources.prometheus import scrape_stream_file_sd

    def handler(metric):
        class H(http.server.BaseHTTPRequestHandler):
            def do_GET(self):
                self.send_response(200)
                self.end_headers()
                self.wfile.write(f"{metric} 1\n".encode())

            def log_message(self, *a):
                pass

        return H

    sd = tmp_path / "targets.json"
    with socketserver.TCPServer(("127.0.0.1", 0), handler("m_one")) as s1, \
         socketserver.TCPServer(("127.0.0.1", 0), handler("m_two")) as s2:
        p1, p2 = s1.server_address[1], s2.server_address[1]
        threading.Thread(target=s1.serve_forever, daemon=True).start()
        threading.Thread(target=s2.serve_forever, daemon=True).start()
        sd.write_text(json.dumps([{"targets": [f"127.0.0.1:{p1}"]}]))
        sink = f"sd_stream_{uuid.uuid4().hex[:8]}"
        q = (
            scrape_stream_file_sd(spark, [str(sd)], job="sd")
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(processingTime="300 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 60
            # wait until the first target has been scraped at least once
            while time.time() < deadline:
                if spark.sql(
                    f"SELECT 1 FROM {sink} WHERE name='m_one' LIMIT 1"
                ).count():
                    break
                time.sleep(0.3)
            # hot-reload: add the second target to the file mid-stream
            sd.write_text(
                json.dumps(
                    [{"targets": [f"127.0.0.1:{p1}", f"127.0.0.1:{p2}"]}]
                )
            )
            while time.time() < deadline:
                if spark.sql(
                    f"SELECT 1 FROM {sink} WHERE name='m_two' LIMIT 1"
                ).count():
                    break
                time.sleep(0.3)
            rows = spark.sql(f"SELECT * FROM {sink}").collect()
        finally:
            q.stop()
            s1.shutdown()
            s2.shutdown()
    names = {r["name"] for r in rows}
    assert {"m_one", "m_two"} <= names
    assert all(r["tags"]["job"] == "sd" for r in rows)


def test_scrape_targets_tolerates_dead_target(spark):
    """A dead target loses only its own samples (reference scrape-manager
    behavior); tolerant=False fails fast; samples whose FINAL instance
    tag is blacklisted drop even when served from an allowed URL."""
    import http.server
    import socket
    import socketserver
    import threading

    import pytest as _pytest

    from kapacitor_spark.sources.prometheus import scrape_targets

    body = (b'up{instance="good:1"} 1 1000\n'
            b'up{instance="bad-host:9100"} 1 1000\n')

    class H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            self.send_response(200)
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    # find a port that is certainly closed
    s = socket.socket()
    s.bind(("127.0.0.1", 0))
    dead_port = s.getsockname()[1]
    s.close()

    with socketserver.TCPServer(("127.0.0.1", 0), H) as srv:
        port = srv.server_address[1]
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        try:
            targets = [f"http://127.0.0.1:{port}/metrics",
                       f"http://127.0.0.1:{dead_port}/metrics"]
            rows = scrape_targets(
                spark, targets, blacklist=["bad-host:9100"],
            ).collect()
            # healthy target's samples survive; the exposition-supplied
            # blacklisted instance drops (final-tag check)
            assert len(rows) == 1
            assert rows[0]["tags"]["instance"] == "good:1"
            with _pytest.raises(Exception):
                scrape_targets(spark, targets, tolerant=False).collect()
        finally:
            srv.shutdown()


def test_scrape_targets_stamps_scrape_time(spark):
    """Samples without explicit timestamps take the wall-clock scrape
    time by default (not epoch 1970), like the reference's scrape loop."""
    import http.server
    import socketserver
    import threading

    from kapacitor_spark.sources.prometheus import scrape_targets

    class H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            self.send_response(200)
            self.end_headers()
            self.wfile.write(b"cpu_usage 12.5\n")

        def log_message(self, *a):
            pass

    with socketserver.TCPServer(("127.0.0.1", 0), H) as srv:
        port = srv.server_address[1]
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        try:
            rows = scrape_targets(
                spark, [f"http://127.0.0.1:{port}/m"]
            ).collect()
        finally:
            srv.shutdown()
    assert rows[0]["time"].year >= 2024


def test_scrape_to_alert_composed_end_to_end(spark):
    """The reference's actual scrape use-shape COMPOSED end to end:
    scrape → alert, one continuous streaming query (scraper feeds the
    task's edge feeds alertnode — /root/reference/services/scraper ties
    into the same stream pipeline the alert node consumes). A local
    /metrics server serves a counter that increments per wave; the alert
    lambda is `value >= 3`, so the first waves are OK and the crossing
    wave must fire CRITICAL — exactly once under stateChangesOnly even
    though every later wave stays above the threshold."""
    import http.server
    import socketserver
    import threading
    import time
    import uuid

    from kapacitor_spark.sources.prometheus import scrape_stream
    from kapacitor_spark.streaming import alert_stream

    hits = [0]

    class H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            hits[0] += 1
            self.send_response(200)
            self.end_headers()
            self.wfile.write(f'load_avg{{host="web01"}} {hits[0]}\n'.encode())

        def log_message(self, *a):
            pass

    with socketserver.TCPServer(("127.0.0.1", 0), H) as srv:
        port = srv.server_address[1]
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        sink = f"scrape_alert_{uuid.uuid4().hex[:8]}"
        scraped = scrape_stream(
            spark, [f"http://127.0.0.1:{port}/metrics"], job="compose"
        )
        alerts = alert_stream(
            scraped.filter("name = 'load_avg'"),
            "time",
            dims=["name"],
            crit="value >= 3",
            state_changes_only=True,
        )
        q = (
            alerts.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(processingTime="300 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 90
            rows = []
            while time.time() < deadline:
                rows = spark.sql(
                    f"SELECT value, level FROM {sink} ORDER BY value"
                ).collect()
                # wait until at least one post-crossing wave has ALSO been
                # scraped (value > 3 seen by the server) so the
                # exactly-once assertion is meaningful
                if any(r["level"] == "CRITICAL" for r in rows) and hits[0] >= 5:
                    time.sleep(1.0)  # let one more wave land
                    rows = spark.sql(
                        f"SELECT value, level FROM {sink} ORDER BY value"
                    ).collect()
                    break
                time.sleep(0.3)
        finally:
            q.stop()
            srv.shutdown()
    crits = [r for r in rows if r["level"] == "CRITICAL"]
    oks = [r for r in rows if r["level"] == "OK"]
    # the crossing wave (value 3) fires CRITICAL exactly once — later
    # waves stay CRITICAL and are suppressed by stateChangesOnly
    assert len(crits) == 1, rows
    assert crits[0]["value"] == 3.0, rows
    # every emitted OK precedes the crossing (values 1-2)
    assert all(r["value"] < 3 for r in oks), rows


def test_dns_discovery_validation_and_resolution():
    """DNS discovery mirrors the reference's validation exactly
    (services/dns/config.go): ID required, SRV|A|AAAA only, A/AAAA need
    a port. A-record resolution uses the stdlib resolver; SRV needs an
    injected resolver (stdlib cannot query SRV)."""
    import pytest as _pytest

    from kapacitor_spark.sources.prometheus import dns_targets

    with _pytest.raises(ValueError, match="must be given a ID"):
        dns_targets("", ["x.example"], type="A", port=9100)
    with _pytest.raises(ValueError, match="Port required"):
        dns_targets("d1", ["x.example"], type="A")
    with _pytest.raises(ValueError, match="invalid dns discovery records type"):
        dns_targets("d1", ["x.example"], type="MX", port=1)
    with _pytest.raises(NotImplementedError, match="SRV"):
        dns_targets("d1", ["_svc._tcp.example"])
    # stdlib A-record path against a name that always resolves
    got = dns_targets("d1", ["localhost"], type="A", port=9100)
    assert ("http://127.0.0.1:9100/metrics", {"__meta_dns_name": "localhost"}) in got
    # injected-resolver seam: SRV answers carry their own ports
    def resolver(name, rtype):
        assert (name, rtype) == ("_svc._tcp.example", "SRV")
        return ["10.0.0.5:1234", "10.0.0.6:1234"]

    got = dns_targets("d1", ["_svc._tcp.example"], resolver=resolver)
    assert [u for u, _ in got] == [
        "http://10.0.0.5:1234/metrics", "http://10.0.0.6:1234/metrics"
    ]


def test_http_sd_discovery_end_to_end(spark):
    """HTTP SD serves the public Prometheus target-group JSON; the
    discovered targets must scrape end to end, labels overriding the
    configured job (honor_labels=false), and a failing poll must map to
    an empty wave under tolerant=True."""
    import http.server
    import json
    import socketserver
    import threading

    import pytest as _pytest

    from kapacitor_spark.sources.prometheus import http_sd_targets, scrape_targets

    class H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            if self.path == "/sd":
                body = json.dumps(
                    [{"targets": [f"127.0.0.1:{port}"],
                      "labels": {"job": "discovered", "dc": "east"}}]
                ).encode()
            elif self.path == "/metrics":
                body = b"up 1\n"
            else:
                self.send_response(404); self.end_headers(); return
            self.send_response(200)
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    with socketserver.TCPServer(("127.0.0.1", 0), H) as srv:
        port = srv.server_address[1]
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        pairs = http_sd_targets(f"http://127.0.0.1:{port}/sd")
        assert pairs == [
            (f"http://127.0.0.1:{port}/metrics", {"job": "discovered", "dc": "east"})
        ]
        rows = scrape_targets(spark, pairs, job="cfgjob").collect()
        assert rows and all(r["tags"]["job"] == "discovered" for r in rows)
        assert all(r["tags"]["dc"] == "east" for r in rows)
        # tolerant poll isolation: a 404 contributes nothing
        assert http_sd_targets(
            f"http://127.0.0.1:{port}/nope", tolerant=True
        ) == []
        with _pytest.raises(Exception):
            http_sd_targets(f"http://127.0.0.1:{port}/nope")
        srv.shutdown()


def test_simhash_match_stream_against_history(spark, tmp_path):
    """Continuous near-dup: a document stream matched against the corpus
    signature table. Batch 1 carries a near-dup of a history doc (one
    token changed) and a fresh doc; batch 2 carries an EXACT dup.
    Exactly one match row per (doc, history doc) pair must emit — the
    first-agreeing-band filter dedups multi-band agreement statelessly."""
    import time

    from kapacitor_spark.dataprep.dedup import simhash
    from kapacitor_spark.streaming import simhash_match_stream

    # 60 distinct tokens: per-bit vote margins ~sqrt(60), so a one-token
    # edit flips only a few signature bits (measured: hamming 3)
    words = [f"word{i}" for i in range(60)]
    base = " ".join(words)
    near = " ".join(w if i != 30 else "changed" for i, w in enumerate(words))
    history = spark.createDataFrame(
        [(100, base), (101, "completely different content about spark engines")],
        "doc_id long, text string",
    )
    hist_sig = simhash(history).persist()
    hist_sig.count()

    in_dir = str(tmp_path / "docs_in")
    spark.createDataFrame(
        [(1, near), (2, "unrelated brand new text entirely")],
        "doc_id long, text string",
    ).write.parquet(in_dir)
    spark.createDataFrame(
        [(3, base)], "doc_id long, text string"
    ).write.mode("append").parquet(in_dir)

    src = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(in_dir)
    out = simhash_match_stream(src, hist_sig, max_hamming=3)
    q = (
        out.writeStream.format("memory").queryName("shmatch")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_shm"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT doc_id, history_id, hamming FROM shmatch").collect()
    hist_sig.unpersist()
    got = {(r["doc_id"], r["history_id"]): r["hamming"] for r in rows}
    # exact dup: hamming 0; near dup: within the bound; doc 2 matches nothing
    assert got.get((3, 100)) == 0
    assert (1, 100) in got and got[(1, 100)] <= 3
    assert not [k for k in got if k[0] == 2]
    # exactly one row per pair (multi-band agreement must not duplicate —
    # the exact dup agrees on ALL 4 bands)
    assert len(rows) == len(got)


def test_orchestrator_discovery_seams():
    """Consul/k8s/EC2 discovery behind injected clients — reference
    validation mirrored (consul: ID + server address; k8s: ID + client;
    ec2: ID + region), targets carrying the public __meta_* labels."""
    import pytest as _pytest

    from kapacitor_spark.sources.prometheus import (
        consul_targets,
        ec2_targets,
        k8s_targets,
    )

    class Consul:
        address = "127.0.0.1:8500"

        def catalog_services(self):
            return {
                "web": [
                    {"address": "10.0.0.1", "port": 9100,
                     "tags": ["prod", "edge"], "node": "n1", "datacenter": "dc1"},
                ],
                "db": [{"address": "10.0.0.2", "port": 9100}],
            }

    with _pytest.raises(ValueError, match="must be given a ID"):
        consul_targets("", Consul())

    class NoAddr(Consul):
        address = " "

    with _pytest.raises(ValueError, match="requires a server address"):
        consul_targets("c1", NoAddr())
    got = dict(consul_targets("c1", Consul()))
    assert got["http://10.0.0.1:9100/metrics"]["__meta_consul_service"] == "web"
    assert got["http://10.0.0.1:9100/metrics"]["__meta_consul_tags"] == ",prod,edge,"
    assert got["http://10.0.0.1:9100/metrics"]["__meta_consul_node"] == "n1"
    # service filter
    assert [u for u, _ in consul_targets("c1", Consul(), services=["db"])] == [
        "http://10.0.0.2:9100/metrics"
    ]

    class K8s:
        def pods(self, ns):
            return [{"name": "web-abc", "namespace": ns or "default",
                     "ip": "10.1.0.5", "port": 8080, "labels": {"app": "web"}}]

        def services(self, ns):
            return [{"name": "websvc", "namespace": ns or "default",
                     "cluster_ip": "10.2.0.9", "port": 80, "labels": {}}]

    with _pytest.raises(ValueError, match="invalid k8s discovery role"):
        k8s_targets("k1", K8s(), role="node")
    with _pytest.raises(ValueError, match="api-servers"):
        k8s_targets("k1", None)
    got = dict(k8s_targets("k1", K8s(), role="pod", namespace="prod"))
    lab = got["http://10.1.0.5:8080/metrics"]
    assert lab["__meta_kubernetes_pod_name"] == "web-abc"
    assert lab["__meta_kubernetes_namespace"] == "prod"
    assert lab["__meta_kubernetes_pod_label_app"] == "web"
    got = dict(k8s_targets("k1", K8s(), role="service"))
    assert "http://10.2.0.9:80/metrics" in got

    class EC2:
        region = "us-east-1"

        def instances(self):
            return [
                {"instance_id": "i-1", "private_ip": "172.31.0.4",
                 "availability_zone": "us-east-1a", "tags": {"Name": "web1"}},
                {"instance_id": "i-2", "private_ip": None},  # skipped
            ]

    class NoRegion(EC2):
        region = ""

    with _pytest.raises(ValueError, match="requires a region"):
        ec2_targets("e1", NoRegion())
    got = dict(ec2_targets("e1", EC2(), port=9100))
    assert list(got) == ["http://172.31.0.4:9100/metrics"]
    assert got["http://172.31.0.4:9100/metrics"]["__meta_ec2_tag_Name"] == "web1"


def test_simhash_ingest_updates_history_across_batches(spark, tmp_path):
    """Corpus-update e2e for the continuous dedup matcher: accepted
    arrivals APPEND their signatures to the history table inside
    foreachBatch, so later micro-batches match against earlier arrivals.
    Three micro-batches (maxFilesPerTrigger=1): batch 1 brings a fresh
    doc (accepted), batch 2 a near-dup of IT (one token changed — must
    match the batch-1 arrival, not the seed), batch 3 an exact dup of it
    (must match the batch-1 arrival only: the batch-2 dup was rejected
    and never entered the history)."""
    import time

    from kapacitor_spark.dataprep.dedup import simhash
    from kapacitor_spark.streaming import simhash_ingest_foreachbatch

    words = [f"tok{i}" for i in range(60)]
    fresh = " ".join(words)
    near = " ".join(w if i != 7 else "edited" for i, w in enumerate(words))
    hist_dir = str(tmp_path / "history_sig")
    matches_dir = str(tmp_path / "matches")
    seed = spark.createDataFrame(
        [(100, "completely unrelated seed corpus text about spark engines")],
        "doc_id long, text string",
    )
    simhash(seed).write.parquet(hist_dir)

    in_dir = str(tmp_path / "docs_in")
    for batch in ([(1, fresh)], [(2, near)], [(3, fresh)]):
        spark.createDataFrame(batch, "doc_id long, text string").write.mode(
            "append"
        ).parquet(in_dir)
        time.sleep(0.05)  # distinct mtimes -> deterministic batch order

    src = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(in_dir)
    q = (
        src.writeStream.foreachBatch(
            simhash_ingest_foreachbatch(hist_dir, max_hamming=3, matches_path=matches_dir)
        )
        .option("checkpointLocation", str(tmp_path / "ck_ingest"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["doc_id"], r["history_id"]): r["hamming"]
        for r in spark.read.parquet(matches_dir).collect()
    }
    # cross-batch: both the near dup and the exact dup matched the
    # batch-1 arrival (id 1), which only exists in the history because
    # batch 1 appended it
    assert got == {(2, 1): got[(2, 1)], (3, 1): 0}
    assert 0 < got[(2, 1)] <= 3
    # history = seed + the one accepted arrival; rejected dups never enter
    hist_ids = sorted(
        r["doc_id"] for r in spark.read.parquet(hist_dir).select("doc_id").collect()
    )
    assert hist_ids == [1, 100]


def test_run_available_now_state_partitions(spark, tmp_path):
    """state_partitions (r11): identical results with a state-cardinality-
    sized partition count, and the session's shuffle-partitions setting is
    restored afterwards — including when the run fails."""
    path = str(tmp_path / "in_sp")
    _write_batches(
        spark,
        path,
        [
            [
                ("2024-01-01 00:00:00", "a", 10.0),
                ("2024-01-01 00:00:10", "a", 95.0),
                ("2024-01-01 00:05:20", "b", 96.0),
                ("2024-01-01 00:11:50", "b", 99.0),
            ]
        ],
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")

    def agg():
        src = spark.readStream.schema(SCHEMA).parquet(path)
        return (
            src.groupBy(F.window("t", "10 minutes").alias("w"), "host")
            .agg(F.count("value").alias("n"), F.sum("value").alias("s"))
            .select(F.col("w.start").alias("t"), "host", "n", "s")
        )

    base = run_available_now(
        agg(), "sp_base", str(tmp_path / "cp_sp_base"), output_mode="complete"
    )
    small = run_available_now(
        agg(), "sp_small", str(tmp_path / "cp_sp_small"),
        output_mode="complete", state_partitions=2,
    )
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    key = lambda r: (r.t, r.host, r.n, r.s)
    assert sorted(map(key, base.collect())) == sorted(map(key, small.collect()))
    # the pinned value really reached the stateful operator: the state
    # store checkpoint has exactly 2 partition dirs for batch 0
    state_root = tmp_path / "cp_sp_small" / "state" / "0"
    parts = sorted(p.name for p in state_root.iterdir() if p.name.isdigit())
    assert parts == ["0", "1"]
    # restore-on-failure: a bad plan must not leak the pinned conf
    with pytest.raises(Exception):
        run_available_now(
            agg().selectExpr("no_such_column"),
            "sp_bad", str(tmp_path / "cp_sp_bad"),
            output_mode="complete", state_partitions=3,
        )
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev

"""Streaming TICK compile target — the r11 widened subset (VERDICT r10
directives #2/#3). Every node newly admitted to run_tickscript_stream is
pinned STREAM == BATCH REPLAY of the identical script on the identical
fixture: the batch path (run_tickscript) is the oracle, exactly how the
reference validates live tasks against recordings
(/root/reference/integrations/streamer_test.go TestStream_Alert*)."""

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def fixture_df(spark):
    vals = [10, 20, 95, 96, 50, 94, 10, 97, 98, 11, 12, 99, 60, 95, 40, 94]
    rows = [
        (i, f"2024-01-01 00:00:{i:02d}", "h1" if i % 2 else "h2", float(v))
        for i, v in enumerate(vals)
    ]
    return spark.createDataFrame(
        rows, "id long, time string, host string, value double"
    ).withColumn("time", F.to_timestamp("time"))


@pytest.fixture(scope="module")
def stream_src(fixture_df, tmp_path_factory):
    src = tmp_path_factory.mktemp("tick_stream") / "in"
    fixture_df.coalesce(1).write.parquet(str(src))
    return str(src)


@pytest.fixture(scope="module")
def split_src(fixture_df, tmp_path_factory):
    """The same fixture as 3 time-ordered files: read with
    maxFilesPerTrigger=1, every host's points span 3 micro-batches."""
    src = str(tmp_path_factory.mktemp("tick_stream_split") / "in")
    for cond in ("id < 5", "id >= 5 and id < 11", "id >= 11"):
        fixture_df.filter(cond).coalesce(1).write.mode("append").parquet(src)
    return src


def _stream_df(spark, src):
    return spark.readStream.schema(
        "id long, time timestamp, host string, value double"
    ).option("maxFilesPerTrigger", 1).parquet(src)


def _run_both(spark, script, out, fixture_df, stream_src, tmp_path, cols):
    """Run the SAME script through the streaming compile and the batch
    replay; return both results as sorted tuple lists over ``cols``."""
    from kapacitor_spark.streaming import run_available_now
    from kapacitor_spark.tick import run_tickscript, run_tickscript_stream

    souts = run_tickscript_stream(
        script, sources={"cpu": _stream_df(spark, stream_src)},
        time_col="time",
    )
    tag = f"ts_{out}_{abs(hash((script, stream_src))) % 10**8}"
    res = run_available_now(souts[out], tag, str(tmp_path / f"ck_{tag}"))

    def rows(df):
        return sorted(
            tuple(str(r[c]) if c == "time" else r[c] for c in cols)
            for r in df.select(*cols).collect()
        )

    bouts = run_tickscript(
        script, sources={"cpu": fixture_df}, time_col="time", dims=()
    )
    return rows(res), rows(bouts[out])


def test_alert_state_changes_only_stream_equals_batch(
    spark, fixture_df, stream_src, tmp_path
):
    """The reference's canonical live task
    (TestStream_AlertStateChangesOnly): alert().crit().stateChangesOnly()
    directly on the stream compiles onto the keyed alert state machine
    (streaming/state.py) instead of raising — VERDICT r10 #2."""
    script = """
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |alert()
        .crit(lambda: "value" > 90)
        .warn(lambda: "value" > 50)
        .stateChangesOnly()
    |httpOut('a')
"""
    s, b = _run_both(
        spark, script, "a", fixture_df, stream_src, tmp_path,
        ["time", "host", "value", "level"],
    )
    assert s == b and len(s) >= 6
    assert {r[3] for r in s} >= {"CRITICAL", "WARNING", "OK"}


def test_alert_reset_hysteresis_stream_equals_batch(
    spark, fixture_df, stream_src, split_src, tmp_path
):
    """Level resets (alert.go:915-950): once WARNING is active it HOLDS
    until warnReset passes — the held level lives in keyed state, shared
    with the batch walk via determine_levels."""
    script = """
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |alert()
        .warn(lambda: "value" > 90)
        .warnReset(lambda: "value" < 20)
        .stateChangesOnly()
    |httpOut('a')
"""
    s, b = _run_both(
        spark, script, "a", fixture_df, stream_src, tmp_path,
        ["time", "host", "value", "level"],
    )
    assert s == b and len(s) >= 3
    # hysteresis visible: a value in (20, 90] while WARNING held must NOT
    # appear as an OK transition (h2 values 50/40 hold the warning)
    assert not any(r[2] in (50.0, 40.0) and r[3] == "OK" for r in s)
    # the held level crosses micro-batch boundaries in keyed state
    s2, _ = _run_both(
        spark, script, "a", fixture_df, split_src, tmp_path,
        ["time", "host", "value", "level"],
    )
    assert s2 == b


def test_alert_no_recoveries_and_max_interval(
    spark, fixture_df, stream_src, tmp_path
):
    script = """
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |alert()
        .crit(lambda: "value" > 90)
        .stateChangesOnly(3s)
        .noRecoveries()
    |httpOut('a')
"""
    s, b = _run_both(
        spark, script, "a", fixture_df, stream_src, tmp_path,
        ["time", "host", "value", "level"],
    )
    assert s == b and len(s) >= 2
    assert all(r[3] != "OK" for r in s)  # noRecoveries drops OK transitions


def test_alert_duration_field_stream_equals_batch(
    spark, fixture_df, stream_src, split_src, tmp_path
):
    """.durationField() on the LIVE path (the last alert template knob
    that raised toward batch): episode duration — ns since the OK→non-OK
    transition, recovery rows carry the ended episode's length — lives in
    keyed state (one int64 episode-start per group), pinned against the
    batch compile's window-expression derivation."""
    script = """
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |alert()
        .crit(lambda: "value" > 90)
        .warn(lambda: "value" > 50)
        .durationField('dur')
        .stateChangesOnly()
    |httpOut('a')
"""
    s, b = _run_both(
        spark, script, "a", fixture_df, stream_src, tmp_path,
        ["time", "host", "value", "level", "dur"],
    )
    assert s == b and len(s) >= 6
    # non-degenerate: at least one mid-episode/recovery row with a
    # positive duration AND a fresh episode start at 0
    assert any(r[4] > 0 for r in s) and any(r[4] == 0 for r in s)
    # episodes that span micro-batches keep their start in keyed state
    s2, _ = _run_both(
        spark, script, "a", fixture_df, split_src, tmp_path,
        ["time", "host", "value", "level", "dur"],
    )
    assert s2 == b


def test_alert_duration_field_without_stateful_knobs(
    spark, fixture_df, stream_src, tmp_path
):
    """durationField alone routes the otherwise-stateless alert onto the
    keyed machine with the batch replay's emission flags (events_only:
    non-OK fires, OK only as recovery) — stream == batch."""
    script = """
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |alert()
        .crit(lambda: "value" > 90)
        .durationField('dur')
    |httpOut('a')
"""
    s, b = _run_both(
        spark, script, "a", fixture_df, stream_src, tmp_path,
        ["time", "host", "value", "level", "dur"],
    )
    assert s == b and len(s) >= 4
    assert any(r[4] > 0 for r in s)


def test_windowed_alert_duration_field(
    spark, fixture_df, stream_src, tmp_path
):
    """durationField through the FUSED window+agg+alert operator: the
    emitted window rows' event time is the window start, so episode
    durations are multiples of the window stride."""
    script = """
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |window()
        .period(4s)
        .every(4s)
    |mean('value')
        .as('mean')
    |alert()
        .crit(lambda: "mean" > 90)
        .warn(lambda: "mean" > 50)
        .durationField('dur')
        .stateChangesOnly()
    |httpOut('a')
"""
    got, exp = _run_windowed_alert_both(
        spark, script, fixture_df, stream_src, tmp_path, period_s=4,
        extra_cols=("dur",),
    )
    assert got == exp and len(got) >= 3
    assert any(t[4] > 0 for t in got)


def test_ungrouped_stateful_alert_stream_equals_batch(
    spark, fixture_df, stream_src, tmp_path
):
    """Stateful alert on an UNGROUPED stream (no groupBy dims) — r11 3rd
    wave: a synthetic constant key gives keyed-state-with-no-key, one
    serial group exactly like the reference's ungrouped stream task."""
    script = """
stream
    |from()
        .measurement('cpu')
    |alert()
        .crit(lambda: "value" > 90)
        .warn(lambda: "value" > 50)
        .durationField('dur')
        .stateChangesOnly()
    |httpOut('a')
"""
    s, b = _run_both(
        spark, script, "a", fixture_df, stream_src, tmp_path,
        ["time", "value", "level", "dur"],
    )
    assert s == b and len(s) >= 5


def test_ungrouped_windowed_stateful_alert_stream_equals_batch(
    spark, fixture_df, stream_src, tmp_path
):
    """The fused window+agg+alert with NO dims: one synthetic group.
    Sealing is global (one group's max event time)."""
    import pandas as pd

    from kapacitor_spark.streaming import run_available_now
    from kapacitor_spark.tick import run_tickscript, run_tickscript_stream

    script = """
stream
    |from()
        .measurement('cpu')
    |window()
        .period(4s)
        .every(4s)
    |mean('value')
        .as('mv')
    |alert()
        .crit(lambda: "mv" > 70)
        .warn(lambda: "mv" > 60)
        .stateChangesOnly()
    |httpOut('a')
"""
    souts = run_tickscript_stream(
        script, sources={"cpu": _stream_df(spark, stream_src)},
        time_col="time",
    )
    res = run_available_now(
        souts["a"], "ts_ungrouped_wa", str(tmp_path / "ck_uwa")
    )
    def rows(df):
        return sorted(
            (str(r["time"]), round(r["mv"], 9), r["level"])
            for r in df.select("time", "mv", "level").collect()
        )
    bouts = run_tickscript(
        script, sources={"cpu": fixture_df}, time_col="time", dims=()
    )
    mx_ts = fixture_df.agg(F.max("time")).collect()[0][0]
    exp = [
        t for t in rows(bouts["a"])
        if pd.Timestamp(t[0]) + pd.Timedelta(seconds=4) <= mx_ts
    ]
    assert rows(res) == exp and len(exp) >= 2


def test_alert_level_field_tag_topic_stream_equals_batch(
    spark, fixture_df, stream_src, tmp_path
):
    """.levelField()/.levelTag()/.topic() on the live path — previously
    silently ignored by the streaming compile (they parsed as
    spec-closing props and vanished); now applied exactly like batch:
    levelTag duplicates the level, topic is a routing literal, and
    levelField renames the level output column last."""
    script = """
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |alert()
        .crit(lambda: "value" > 90)
        .warn(lambda: "value" > 50)
        .levelField('lv')
        .levelTag('ltag')
        .topic('cpu_alerts')
        .stateChangesOnly()
    |httpOut('a')
"""
    s, b = _run_both(
        spark, script, "a", fixture_df, stream_src, tmp_path,
        ["time", "host", "value", "lv", "ltag", "topic"],
    )
    assert s == b and len(s) >= 6
    assert all(r[3] == r[4] and r[5] == "cpu_alerts" for r in s)


def test_projections_stream_equals_batch(
    spark, fixture_df, stream_src, tmp_path
):
    """eval/default/delete compile through the SAME _Env._mk_* builders
    the batch replay uses (VERDICT r10 #3) — parity by construction,
    pinned anyway."""
    script = """
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |eval(lambda: "value" * 2.0, lambda: "v2" + 1.0)
        .as('v2', 'v3')
        .keep('value')
    |default()
        .field('region', 'us-east')
    |delete()
        .field('v2')
    |httpOut('p')
"""
    s, b = _run_both(
        spark, script, "p", fixture_df, stream_src, tmp_path,
        ["time", "host", "value", "v3", "region"],
    )
    assert s == b and len(s) == 16
    assert all(r[4] == "us-east" for r in s)
    assert all(r[3] == r[2] * 2.0 + 1.0 for r in s)


def test_ordered_transforms_stream_equals_batch(
    spark, fixture_df, stream_src, tmp_path
):
    """derivative / stateCount compile onto the keyed streaming operators
    (ordered_transform_stream / state_count_stream)."""
    d_script = """
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |derivative('value')
        .unit(1s)
        .as('rate')
        .nonNegative()
    |httpOut('d')
"""
    s, b = _run_both(
        spark, d_script, "d", fixture_df, stream_src, tmp_path,
        ["time", "host", "rate"],
    )
    assert s == b and len(s) >= 4 and all(r[2] >= 0 for r in s)

    sc_script = """
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |stateCount(lambda: "value" > 50)
        .as('n_high')
    |httpOut('s')
"""
    s2, b2 = _run_both(
        spark, sc_script, "s", fixture_df, stream_src, tmp_path,
        ["time", "host", "n_high"],
    )
    assert s2 == b2 and len(s2) == 16
    assert max(r[2] for r in s2) >= 2  # a real streak exists


def test_transform_then_window_agg(spark, fixture_df, stream_src, tmp_path):
    """A projection feeding the window aggregation — the widened chain
    composes: eval -> window -> mean -> httpOut."""
    from kapacitor_spark.streaming import run_available_now
    from kapacitor_spark.tick import run_tickscript_stream

    script = """
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |eval(lambda: "value" * 10.0)
        .as('v10')
    |window()
        .period(8s)
        .every(8s)
    |mean('v10')
        .as('m')
    |httpOut('w')
"""
    outs = run_tickscript_stream(
        script, sources={"cpu": _stream_df(spark, stream_src)},
        time_col="time",
    )
    res = run_available_now(
        outs["w"], "ts_evalwin", str(tmp_path / "ckw"),
        output_mode="complete",
    )
    got = {(str(r["time"]), r["host"]): r["m"] for r in res.collect()}
    assert got[("2024-01-01 00:00:00", "h2")] == pytest.approx(
        (10 + 95 + 50 + 10) * 10 / 4
    )
    assert len(got) == 4  # 2 hosts x 2 windows


def test_shift_stream_equals_batch(spark, fixture_df, stream_src, tmp_path):
    """shift(d): stateless timestamp shift — the shifted times re-enter
    window assignment exactly like the batch replay."""
    script = """
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |shift(10s)
    |httpOut('sh')
"""
    s, b = _run_both(
        spark, script, "sh", fixture_df, stream_src, tmp_path,
        ["time", "host", "value"],
    )
    assert s == b and len(s) == 16
    assert all(r[0].endswith(":10") or int(r[0][-2:]) >= 10 for r in s)


def test_barrier_compiles_to_watermark(spark, stream_src, tmp_path):
    """barrier().period(d) → withWatermark: a windowed aggregation
    downstream emits in APPEND mode (finalized windows only) — the
    reference's barrier-driven emission. Pinned by running the window
    in append mode, which Spark REJECTS without a watermark."""
    from kapacitor_spark.streaming import run_available_now
    from kapacitor_spark.tick import run_tickscript_stream

    script = """
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |barrier()
        .period(5s)
    |window()
        .period(4s)
        .every(4s)
    |count('value')
        .as('n')
    |httpOut('w')
"""
    outs = run_tickscript_stream(
        script, sources={"cpu": _stream_df(spark, stream_src)},
        time_col="time",
    )
    # append mode requires the watermark barrier() installed — this is
    # the assertion: without it Spark raises AnalysisException here
    res = run_available_now(
        outs["w"], "ts_barrier", str(tmp_path / "ckb"),
        output_mode="append",
    )
    got = {(str(r["time"]), r["host"]): r["n"] for r in res.collect()}
    # watermark (max event 00:00:15 - 5s = 00:00:10) finalizes only the
    # windows ending at/before it: [0,4) and [4,8) emit (2 events per
    # host each — hosts alternate per second); [8,12) and [12,16) are
    # withheld as still-open — the reference's barrier-driven emission
    assert got == {
        ("2024-01-01 00:00:00", "h1"): 2,
        ("2024-01-01 00:00:00", "h2"): 2,
        ("2024-01-01 00:00:04", "h1"): 2,
        ("2024-01-01 00:00:04", "h2"): 2,
    }


def test_union_and_log_stream_equals_batch(spark, tmp_path):
    """union() merges streams (global event-time order is declarative);
    .rename() stamps the measurement; log() passes through — all pinned
    against the batch replay of the same script."""
    from kapacitor_spark.streaming import run_available_now
    from kapacitor_spark.tick import run_tickscript, run_tickscript_stream

    cpu = spark.createDataFrame(
        [(1, "2024-01-01 00:00:01", 10.0), (2, "2024-01-01 00:00:03", 20.0)],
        "id long, time string, value double",
    ).withColumn("time", F.to_timestamp("time"))
    mem = spark.createDataFrame(
        [(3, "2024-01-01 00:00:02", 30.0)],
        "id long, time string, value double",
    ).withColumn("time", F.to_timestamp("time"))
    srcs = {}
    for nm, df in (("cpu", cpu), ("mem", mem)):
        path = tmp_path / nm
        df.coalesce(1).write.parquet(str(path))
        srcs[nm] = spark.readStream.schema(
            "id long, time timestamp, value double"
        ).parquet(str(path))
    script = """
var m = stream
    |from()
        .measurement('mem')
stream
    |from()
        .measurement('cpu')
    |union(m)
        .rename('merged')
    |log()
    |httpOut('u')
"""
    outs = run_tickscript_stream(script, sources=srcs, time_col="time")
    res = run_available_now(outs["u"], "ts_union", str(tmp_path / "ck"))
    s = sorted((r["id"], r["value"], r["name"]) for r in res.collect())
    bouts = run_tickscript(
        script, sources={"cpu": cpu, "mem": mem}, time_col="time", dims=()
    )
    b = sorted((r["id"], r["value"], r["name"]) for r in bouts["u"].collect())
    assert s == b == [(1, 10.0, "merged"), (2, 20.0, "merged"),
                      (3, 30.0, "merged")]


def test_join_tolerance_stream_equals_batch(spark, tmp_path):
    """join().as().tolerance() compiles onto the stream-stream tolerance
    join (streaming.join_stream): identical bucket arithmetic to the
    batch join (floor(t + tol/2, tol)), pinned stream == batch replay on
    a one-row-per-bucket fixture (the documented divergence — cell cross
    products — only appears with >1 row per cell per side)."""
    from kapacitor_spark.streaming import run_available_now
    from kapacitor_spark.tick import TickError, run_tickscript, run_tickscript_stream

    cpu = spark.createDataFrame(
        [(1, "2024-01-01 00:00:01", 10.0), (2, "2024-01-01 00:00:05", 20.0),
         (3, "2024-01-01 00:00:09", 30.0)],
        "id long, time string, value double",
    ).withColumn("time", F.to_timestamp("time"))
    mem = spark.createDataFrame(
        [(11, "2024-01-01 00:00:02", 1.0), (12, "2024-01-01 00:00:06", 2.0),
         (13, "2024-01-01 00:00:30", 3.0)],
        "id long, time string, value double",
    ).withColumn("time", F.to_timestamp("time"))
    srcs = {}
    for nm, df in (("cpu", cpu), ("mem", mem)):
        path = tmp_path / nm
        df.coalesce(1).write.parquet(str(path))
        srcs[nm] = spark.readStream.schema(
            "id long, time timestamp, value double"
        ).parquet(str(path))
    script = """
var m = stream
    |from()
        .measurement('mem')
stream
    |from()
        .measurement('cpu')
    |join(m)
        .as('cpu', 'mem')
        .tolerance(2s)
    |httpOut('j')
"""
    outs = run_tickscript_stream(script, sources=srcs, time_col="time")
    res = run_available_now(outs["j"], "ts_join", str(tmp_path / "ck"))
    cols = ["time", "cpu.value", "mem.value"]
    s = sorted(tuple(str(r[c]) for c in cols) for r in res.collect())
    bouts = run_tickscript(
        script, sources={"cpu": cpu, "mem": mem}, time_col="time", dims=()
    )
    b = sorted(tuple(str(r[c]) for c in cols) for r in bouts["j"].collect())
    # Time.Round buckets (floor(t + 1s, 2s)): 00:00:01 and 00:00:02 both
    # round to :02; 00:00:05 and 00:00:06 both round to :06; 00:00:09
    # (:10) and 00:00:30 pair with nothing (inner join)
    assert s == b and len(s) == 2

    # tolerance is REQUIRED on the live path (the join keys on it)
    with pytest.raises(TickError, match="tolerance"):
        run_tickscript_stream(
            script.replace("        .tolerance(2s)\n", ""),
            sources=srcs, time_col="time",
        )


def test_join_fill_and_on_stream_equals_batch(spark, tmp_path):
    """join().fill() (FULL OUTER stream-stream join on the window key,
    r11 2nd wave) and join().on() (dim-subset one-to-many) — pinned
    stream == batch replay. join_watermark=0s so unmatched buckets emit
    during the availableNow replay's final no-data micro-batch."""
    from kapacitor_spark.streaming import run_available_now
    from kapacitor_spark.tick import run_tickscript, run_tickscript_stream

    # trailing 999-sentinels on BOTH sides: the outer join's unmatched
    # rows emit only once the GLOBAL watermark (min across inputs)
    # passes their bucket, so each side needs a later point — the
    # sentinels' own (still-open) buckets are excluded from the compare
    cpu = spark.createDataFrame(
        [("2024-01-01 00:00:01", "east", 10.0),
         ("2024-01-01 00:00:05", "east", 20.0),
         ("2024-01-01 00:00:09", "west", 30.0),
         ("2024-01-01 00:00:30", "east", 40.0),
         ("2024-01-01 00:01:40", "east", 999.0)],
        "time string, region string, value double",
    ).withColumn("time", F.to_timestamp("time"))
    mem = spark.createDataFrame(
        [("2024-01-01 00:00:02", "east", "h1", 1.0),
         ("2024-01-01 00:00:02", "east", "h2", 2.0),
         ("2024-01-01 00:00:06", "east", "h1", 3.0),
         ("2024-01-01 00:00:26", "west", "h3", 4.0),
         ("2024-01-01 00:00:40", "east", "h1", 5.0),
         # sentinel must SURVIVE the fill-script's host filter — the
         # watermark is computed post-filter
         ("2024-01-01 00:01:50", "west", "h1", 999.0)],
        "time string, region string, host string, value double",
    ).withColumn("time", F.to_timestamp("time"))
    srcs = {}
    for nm, df, sch in (
        ("cpu", cpu, "time timestamp, region string, value double"),
        ("mem", mem, "time timestamp, region string, host string, value double"),
    ):
        path = tmp_path / nm
        df.coalesce(1).write.parquet(str(path))
        srcs[nm] = spark.readStream.schema(sch).parquet(str(path))

    # --- fill('null'): outer join, region-keyed, one row per cell ---
    fill_script = """
var m = stream
    |from()
        .measurement('mem')
        .where(lambda: "host" == 'h1')
        .groupBy('region')
stream
    |from()
        .measurement('cpu')
        .groupBy('region')
    |join(m)
        .as('cpu', 'mem')
        .tolerance(2s)
        .fill('null')
    |httpOut('j')
"""
    outs = run_tickscript_stream(
        fill_script, sources=srcs, time_col="time",
        join_watermark="0 seconds",
    )
    res = run_available_now(outs["j"], "ts_joinf", str(tmp_path / "ck_f"))
    cols = ["time", "region", "cpu.value", "mem.value"]

    def rows_of(df):
        return sorted(
            t for t in (
                tuple(str(r[c]) for c in cols) for r in df.select(
                    *[F.col(f"`{c}`") for c in cols]
                ).collect()
            )
            if "999.0" not in t
        )

    bouts = run_tickscript(
        fill_script, sources={"cpu": cpu, "mem": mem}, time_col="time",
        dims=(),
    )
    got, exp = rows_of(res), rows_of(bouts["j"])
    assert got == exp
    # unmatched sides survived with NULLs on both paths
    assert any(t[2] == "None" for t in got)
    assert any(t[3] == "None" for t in got)

    # --- on('region'): coarse cpu (region) joins fine mem (region, host);
    # host stays an output tag (one-to-many) ---
    on_script = """
var m = stream
    |from()
        .measurement('mem')
        .groupBy('region', 'host')
stream
    |from()
        .measurement('cpu')
        .groupBy('region')
    |join(m)
        .as('cpu', 'mem')
        .tolerance(2s)
        .on('region')
    |httpOut('j')
"""
    outs2 = run_tickscript_stream(
        on_script, sources=srcs, time_col="time",
        join_watermark="0 seconds",
    )
    res2 = run_available_now(outs2["j"], "ts_joino", str(tmp_path / "ck_o"))
    cols2 = ["time", "region", "host", "cpu.value", "mem.value"]

    def rows2(df):
        return sorted(
            t for t in (
                tuple(str(r[c]) for c in cols2) for r in df.select(
                    *[F.col(f"`{c}`") for c in cols2]
                ).collect()
            )
            if "999.0" not in t
        )

    bouts2 = run_tickscript(
        on_script, sources={"cpu": cpu, "mem": mem}, time_col="time",
        dims=(),
    )
    got2, exp2 = rows2(res2), rows2(bouts2["j"])
    assert got2 == exp2
    # the one coarse point at :02-east matched BOTH h1 and h2
    hosts_at_2 = {t[2] for t in got2 if t[0].endswith("00:00:02")}
    assert {"h1", "h2"} <= hosts_at_2


def test_sideload_and_sample_stream_equals_batch(spark, tmp_path):
    """sideload() is a stream-static broadcast join (lookup levels load
    once, like the reference's cached file source) and sample(duration)
    is a stateless boundary filter — both over the reference's OWN
    testdata/sideload files, pinned stream == batch replay."""
    fixtures = "/root/reference/integrations/testdata"
    sideload = f"{fixtures}/sideload"
    if not os.path.isdir(sideload):
        pytest.skip(
            f"reference sideload files not found at {sideload}; "
            "test_sideload_and_sample_stream_equals_batch_hermetic is the "
            "in-repo twin"
        )
    byid = _sideload_sample_stream_vs_batch(spark, tmp_path, sideload)
    assert byid["1"] == ("0.0", "0.0", "one")      # defaults
    assert byid["3"] == ("2.0", "3.5", "why")      # t0/b + t1/n + t2/y
    assert byid["4"] == ("12.0", "13.5", "why")    # t0/c beats t1/o

    # sample(N) compiles live since the r11 2nd wave (keyed counter) —
    # covered by test_sample_n_stream_equals_batch; the duration form
    # above stays a stateless boundary filter


def _sideload_sample_stream_vs_batch(spark, tmp_path, sideload_dir):
    """Run one sample(2s)|sideload() script live and as the batch replay
    over four points tagged (t0, t1, t2); assert the two paths agree and
    return ``{id: (f1, f2, t3)}`` as strings."""
    from kapacitor_spark import streaming, tick

    rows = [
        (1, "2024-01-01 00:00:00", "a", "m", "x", 1.0),
        (2, "2024-01-01 00:00:01", "a", "m", "x", 9.0),  # off-boundary: sampled out
        (3, "2024-01-01 00:00:02", "b", "n", "y", 1.0),
        (4, "2024-01-01 00:00:04", "c", "o", "y", 1.0),
    ]
    df = spark.createDataFrame(
        rows,
        "id long, time string, t0 string, t1 string, t2 string, value double",
    ).withColumn("time", F.to_timestamp("time"))
    src = tmp_path / "in"
    df.coalesce(1).write.parquet(str(src))
    sdf = spark.readStream.schema(
        "id long, time timestamp, t0 string, t1 string, t2 string, value double"
    ).parquet(str(src))
    script = f"""
stream
    |from()
        .measurement('m')
        .groupBy('t0', 't1', 't2')
    |sample(2s)
    |sideload()
        .source('file://{sideload_dir}')
        .order('t0/{{{{.t0}}}}.yml', 't1/{{{{.t1}}}}.yml', 't2/{{{{.t2}}}}.yml')
        .field('f1', 0)
        .field('f2', 0.0)
        .tag('t3', 'one')
    |httpOut('s')
"""
    outs = tick.run_tickscript_stream(script, sources={"m": sdf}, time_col="time")
    res = streaming.run_available_now(outs["s"], "ts_sideload", str(tmp_path / "ck"))
    cols = ["id", "f1", "f2", "t3"]
    s = sorted(tuple(str(r[c]) for c in cols) for r in res.collect())
    bouts = tick.run_tickscript(script, sources={"m": df}, time_col="time", dims=())
    b = sorted(tuple(str(r[c]) for c in cols) for r in bouts["s"].collect())
    assert s == b and len(s) == 3          # id 2 sampled out on both paths
    return {r[0]: r[1:] for r in s}


def test_sideload_and_sample_stream_equals_batch_hermetic(spark, tmp_path):
    """The same stream == batch pin over level files written here: each
    field resolves at the first level (t0, then t1, then t2) whose file
    holds it, and falls back to its .field()/.tag() default."""
    levels = {
        "t0/c.yml": "f1: 12.0\nf2: 13.5\n",
        "t1/o.yml": "f1: 100.0\nt3: oh\n",
        "t1/n.yml": "f1: 2.0\n",
        "t2/y.yml": "f1: 50.0\nf2: 3.5\nt3: why\n",
    }
    root = tmp_path / "sideload"
    for rel, text in levels.items():
        (root / rel).parent.mkdir(parents=True, exist_ok=True)
        (root / rel).write_text(text)
    byid = _sideload_sample_stream_vs_batch(spark, tmp_path, root)
    assert byid["1"] == ("0.0", "0.0", "one")      # no file for a/m/x
    assert byid["3"] == ("2.0", "3.5", "why")      # t1/n, then t2/y
    assert byid["4"] == ("12.0", "13.5", "oh")     # t0/c beats t1/o; t3 from t1/o


def test_extended_window_aggs_stream_equals_batch(
    spark, fixture_df, stream_src, tmp_path
):
    """stddev/median/spread join the streaming aggregation set (median
    is a sort-based ObjectHashAggregate — supported in streaming
    aggregation state) — each pinned stream == batch replay."""
    from kapacitor_spark.streaming import run_available_now
    from kapacitor_spark.tick import run_tickscript, run_tickscript_stream

    for agg in ("stddev", "median", "spread", "first", "last"):
        script = f"""
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |window()
        .period(8s)
        .every(8s)
    |{agg}('value')
        .as('x')
    |httpOut('w')
"""
        outs = run_tickscript_stream(
            script, sources={"cpu": _stream_df(spark, stream_src)},
            time_col="time",
        )
        res = run_available_now(
            outs["w"], f"ts_agg_{agg}", str(tmp_path / f"ck_{agg}"),
            output_mode="complete",
        )
        s = sorted(
            (str(r["time"]), r["host"], round(r["x"], 9))
            for r in res.collect()
        )
        bouts = run_tickscript(
            script, sources={"cpu": fixture_df}, time_col="time", dims=()
        )
        b = sorted(
            (str(r["time"]), r["host"], round(r["x"], 9))
            for r in bouts["w"].collect()
        )
        assert s == b and len(s) == 4, agg


def test_deadman_live_fires_on_silent_stream(spark, tmp_path):
    """|deadman(threshold, interval) on the LIVE path compiles onto the
    wall-clock ProcessingTimeTimeout ticker (streaming.deadman_stream):
    a group that stops sending raises CRITICAL after one interval —
    wall-clock semantics the batch replay cannot express (reference
    stats.go: 'stats are REAL-TIME not data-time')."""
    import time

    from kapacitor_spark.tick import run_tickscript_stream

    src = tmp_path / "in"
    spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "h1", 1.0)],
        "id long, time string, host string, value double",
    ).withColumn("time", F.to_timestamp("time")).coalesce(1).write.parquet(
        str(src)
    )
    sdf = spark.readStream.schema(
        "id long, time timestamp, host string, value double"
    ).parquet(str(src))
    script = """
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |deadman(0.0, 1s)
    |httpOut('dm')
"""
    outs = run_tickscript_stream(script, sources={"cpu": sdf}, time_col="time")
    q = (
        outs["dm"].writeStream.format("memory").queryName("tick_dm")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 30
        crit = []
        while time.time() < deadline and not crit:
            crit = [
                r for r in spark.table("tick_dm").collect()
                if r["level"] == "CRITICAL"
            ]
            time.sleep(0.5)
    finally:
        q.stop()
    assert crit and all(r["host"] == "h1" and r["emitted"] == 0 for r in crit)


def test_deadman_live_ungrouped_fires_on_silent_stream(spark, tmp_path):
    """The reference's canonical, ungrouped
    ``stream|from().measurement('cpu')|deadman(0.0, 1s)`` compiles and
    runs live: one group over the whole stream, CRITICAL once it falls
    silent, and rows with no group columns."""
    import time

    from kapacitor_spark.tick import run_tickscript_stream

    src = tmp_path / "in"
    spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "h1", 1.0)],
        "id long, time string, host string, value double",
    ).withColumn("time", F.to_timestamp("time")).coalesce(1).write.parquet(
        str(src)
    )
    sdf = spark.readStream.schema(
        "id long, time timestamp, host string, value double"
    ).parquet(str(src))
    script = """
stream
    |from()
        .measurement('cpu')
    |deadman(0.0, 1s)
    |httpOut('dm')
"""
    outs = run_tickscript_stream(script, sources={"cpu": sdf}, time_col="time")
    q = (
        outs["dm"].writeStream.format("memory").queryName("tick_dm_ungrouped")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 30
        crit = []
        while time.time() < deadline and not crit:
            crit = [
                r for r in spark.table("tick_dm_ungrouped").collect()
                if r["level"] == "CRITICAL"
            ]
            time.sleep(0.5)
    finally:
        q.stop()
    assert crit and all(
        r.asDict() == {"emitted": 0, "level": "CRITICAL"} for r in crit
    )


def test_count_window_stream_equals_batch(
    spark, fixture_df, stream_src, tmp_path
):
    """window().periodCount(n).everyCount(m) compiles onto the keyed
    ring-buffer operator (window_count_stream) — pinned stream == batch
    replay (warm-up windows shorter than periodCount are exact on both
    paths)."""
    from kapacitor_spark.streaming import run_available_now
    from kapacitor_spark.tick import run_tickscript, run_tickscript_stream

    script = """
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |window()
        .periodCount(3)
        .everyCount(2)
    |mean('value')
        .as('m')
    |httpOut('w')
"""
    outs = run_tickscript_stream(
        script, sources={"cpu": _stream_df(spark, stream_src)},
        time_col="time",
    )
    res = run_available_now(outs["w"], "ts_cw", str(tmp_path / "ck"))
    s = sorted(
        (str(r["time"]), r["host"], round(float(r["m"]), 9))
        for r in res.collect()
    )
    bouts = run_tickscript(
        script, sources={"cpu": fixture_df}, time_col="time", dims=()
    )
    b = sorted(
        (str(r["time"]), r["host"], round(float(r["m"]), 9))
        for r in bouts["w"].collect()
    )
    assert s == b and len(s) == 8  # 8 points/host, emit every 2nd


def test_autoscale_live_stream_equals_batch(spark, tmp_path):
    """swarmAutoscale on the LIVE path: the per-resource decision
    machine (autoscale_stream) with the current replica count prefetched
    from the injected client at compile (static serviceName) — decisions
    pinned equal to the batch replay of the same script."""
    from kapacitor_spark.streaming import run_available_now
    from kapacitor_spark.tick import TickError, run_tickscript, run_tickscript_stream

    rows = [
        (1, "2024-01-01 00:00:01", 2.0),
        (2, "2024-01-01 00:00:02", 5.0),
        (3, "2024-01-01 00:00:03", 5.0),   # no change: no event
        (4, "2024-01-01 00:00:20", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "id long, time string, want double"
    ).withColumn("time", F.to_timestamp("time"))
    src = tmp_path / "in"
    df.coalesce(1).write.parquet(str(src))
    sdf = spark.readStream.schema(
        "id long, time timestamp, want double"
    ).parquet(str(src))

    class Client:
        def __init__(self):
            self.updates = []

        def service_replicas(self, name):
            return 3

        def update_service(self, name, n):
            self.updates.append((name, n))

    script = """
stream
    |from()
        .measurement('cpu')
    |swarmAutoscale()
        .serviceName('web')
        .replicas(lambda: int("want"))
        .min(1)
        .max(100)
    |httpOut('scale')
"""
    outs = run_tickscript_stream(
        script, sources={"cpu": sdf}, time_col="time",
        autoscale_clients={"swarm": Client()},
    )
    res = run_available_now(outs["scale"], "ts_scale", str(tmp_path / "ck"))
    srows = res.collect()
    assert all(r["resource"] == "web" for r in srows)
    s = sorted((str(r["time"]), r["old"], r["new"]) for r in srows)
    bouts = run_tickscript(
        script, sources={"cpu": df}, time_col="time", dims=(),
        autoscale_clients={"swarm": Client()},
    )
    b = sorted((str(r["time"]), r["old"], r["new"])
               for r in bouts["scale"].collect())
    # 3->2, 2->5 (steady 5 suppressed), 5->1
    assert s == b and [(r[1], r[2]) for r in s] == [(3, 2), (2, 5), (5, 1)]

    with pytest.raises(TickError, match="no swarm client"):
        run_tickscript_stream(script, sources={"cpu": sdf}, time_col="time")


def test_moving_average_stream_equals_batch(
    spark, fixture_df, stream_src, tmp_path
):
    """movingAverage(f, w): the count-window ring with the warm-up gate
    (emit only once w points have been seen) — pinned stream == batch
    replay including the first-w-1 drop."""
    script = """
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |movingAverage('value', 3)
        .as('ma')
    |httpOut('m')
"""
    s, b = _run_both(
        spark, script, "m", fixture_df, stream_src, tmp_path,
        ["time", "host", "ma"],
    )
    assert s == b and len(s) == 12  # 8 points/host, first 2 dropped


def test_change_detect_stream_equals_batch(spark, tmp_path):
    """changeDetect(f): drop points whose monitored fields all equal the
    previous point's — the previous values cross micro-batch boundaries
    in keyed state; pinned stream == batch replay (incl. NULLs and the
    keep-on-lag-NULL rules)."""
    from kapacitor_spark.tick import run_tickscript

    rows = [
        (1, "2024-01-01 00:00:01", "h1", 1.0),
        (2, "2024-01-01 00:00:02", "h1", 1.0),   # dup: dropped
        (3, "2024-01-01 00:00:03", "h1", 2.0),
        (4, "2024-01-01 00:00:04", "h1", None),  # ->NULL: kept
        (5, "2024-01-01 00:00:05", "h1", None),  # lag NULL: kept (batch rule)
        (6, "2024-01-01 00:00:06", "h1", 2.0),
        (7, "2024-01-01 00:00:07", "h2", 5.0),
        (8, "2024-01-01 00:00:08", "h2", 5.0),   # dup: dropped
    ]
    df = spark.createDataFrame(
        rows, "id long, time string, host string, value double"
    ).withColumn("time", F.to_timestamp("time"))
    src = tmp_path / "in"
    df.coalesce(1).write.parquet(str(src))
    sdf = spark.readStream.schema(
        "id long, time timestamp, host string, value double"
    ).parquet(str(src))
    script = """
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |changeDetect('value')
    |httpOut('cd')
"""
    from kapacitor_spark.streaming import run_available_now
    from kapacitor_spark.tick import run_tickscript_stream

    outs = run_tickscript_stream(script, sources={"cpu": sdf}, time_col="time")
    res = run_available_now(outs["cd"], "ts_cd", str(tmp_path / "ck"))
    s = sorted(r["id"] for r in res.collect())
    bouts = run_tickscript(script, sources={"cpu": df}, time_col="time", dims=())
    b = sorted(r["id"] for r in bouts["cd"].collect())
    assert s == b == [1, 3, 4, 5, 6, 7]

    # the same points split so each duplicate pair straddles a file
    # boundary: under maxFilesPerTrigger=1 the previous value must come
    # from keyed state carried into the second micro-batch
    split = tmp_path / "in_split"
    df.filter("id in (1, 7)").coalesce(1).write.parquet(str(split))
    df.filter("id not in (1, 7)").coalesce(1).write.mode("append").parquet(
        str(split)
    )
    outs2 = run_tickscript_stream(
        script, sources={"cpu": _stream_df(spark, str(split))}, time_col="time"
    )
    res2 = run_available_now(outs2["cd"], "ts_cd_split", str(tmp_path / "ck2"))
    assert sorted(r["id"] for r in res2.collect()) == b


def _run_windowed_alert_both(
    spark, script, fixture_df, stream_src, tmp_path, period_s, out="a",
    agg_col="mean", extra_cols=(),
):
    """Run a window|agg|alert(stateful) script on both paths. The stream
    path's per-group point-driven finalization emits a window only once a
    LATER point of that group seals it (the reference's stream window
    rule, window.go:149-182) — so compare against the batch replay
    restricted to sealed windows (start + period <= the group's max
    event time). Everything emitted must be IDENTICAL."""
    import pandas as pd

    from kapacitor_spark.streaming import run_available_now
    from kapacitor_spark.tick import run_tickscript, run_tickscript_stream

    souts = run_tickscript_stream(
        script, sources={"cpu": _stream_df(spark, stream_src)},
        time_col="time",
    )
    tag = f"ts_wa_{abs(hash(script)) % 10**8}"
    res = run_available_now(souts[out], tag, str(tmp_path / f"ck_{tag}"))
    cols = ["time", "host", agg_col, "level", *extra_cols]

    def rows(df):
        return sorted(
            (str(r["time"]), r["host"],
             None if r[agg_col] is None else round(r[agg_col], 9),
             r["level"], *[r[c] for c in extra_cols])
            for r in df.select(*cols).collect()
        )

    got = rows(res)
    bouts = run_tickscript(
        script, sources={"cpu": fixture_df}, time_col="time", dims=()
    )
    seal = {
        r["host"]: r["mx"]
        for r in fixture_df.groupBy("host").agg(
            F.max("time").alias("mx")
        ).collect()
    }
    exp = [
        t for t in rows(bouts[out])
        if pd.Timestamp(t[0]) + pd.Timedelta(seconds=period_s) <= seal[t[1]]
    ]
    return got, exp


def test_windowed_stateful_alert_stream_equals_batch(
    spark, fixture_df, stream_src, tmp_path
):
    """THE canonical live task (TestStream_Alert in
    /root/reference/integrations/streamer_test.go): window | mean |
    alert().stateChangesOnly(). Spark forbids a keyed-state operator
    after a streaming aggregation, so the compile fuses window+agg+alert
    into ONE applyInPandasWithState (streaming.window_alert_stream) —
    pinned here against the batch replay of the identical script."""
    script = """
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |window()
        .period(4s)
        .every(4s)
    |mean('value')
        .as('mean')
    |alert()
        .crit(lambda: "mean" > 90)
        .warn(lambda: "mean" > 50)
        .stateChangesOnly()
    |httpOut('a')
"""
    got, exp = _run_windowed_alert_both(
        spark, script, fixture_df, stream_src, tmp_path, period_s=4
    )
    assert got == exp
    assert len(got) >= 4  # transitions across both hosts, non-degenerate


def test_windowed_alert_hopping_and_flapping(
    spark, fixture_df, stream_src, tmp_path
):
    """Hopping windows (period > every: overlapping open windows held as
    partials in keyed state) + flapping suppression through the fused
    operator."""
    script = """
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |window()
        .period(8s)
        .every(4s)
    |mean('value')
        .as('mean')
    |alert()
        .crit(lambda: "mean" > 90)
        .warn(lambda: "mean" > 50)
        .flapping(0.25, 0.5)
        .history(10)
        .stateChangesOnly()
    |httpOut('a')
"""
    got, exp = _run_windowed_alert_both(
        spark, script, fixture_df, stream_src, tmp_path, period_s=8
    )
    assert got == exp


def test_windowed_alert_reset_hysteresis(
    spark, fixture_df, stream_src, tmp_path
):
    """Level resets (the held-level walk, alert.go:915-950) on windowed
    aggregates run through determine_levels inside the fused operator —
    identical to the batch replay's walk."""
    script = """
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |window()
        .period(4s)
        .every(4s)
    |max('value')
        .as('mx')
    |alert()
        .crit(lambda: "mx" > 90)
        .critReset(lambda: "mx" < 40)
        .stateChangesOnly()
    |httpOut('a')
"""
    got, exp = _run_windowed_alert_both(
        spark, script, fixture_df, stream_src, tmp_path, period_s=4,
        agg_col="mx",
    )
    assert got == exp
    assert any(t[3] == "CRITICAL" for t in got)


@pytest.mark.parametrize(
    "agg,expr",
    [
        ("count", 'lambda: "v" >= 2'),
        ("sum", 'lambda: "v" > 150'),
        ("min", 'lambda: "v" < 20'),
        ("stddev", 'lambda: "v" > 30'),
        ("median", 'lambda: "v" > 55'),
        ("spread", 'lambda: "v" > 60'),
        ("first", 'lambda: "v" > 90'),
        ("last", 'lambda: "v" > 90'),
    ],
)
def test_windowed_alert_agg_matrix(
    spark, fixture_df, stream_src, tmp_path, agg, expr
):
    """Every aggregation the fused operator's partial-merge algebra
    supports, pinned stream == batch replay (count partials, Welford
    stddev merge, median value buffering, first/last event-time
    selectors)."""
    script = f"""
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |window()
        .period(6s)
        .every(6s)
    |{agg}('value')
        .as('v')
    |alert()
        .crit({expr})
        .stateChangesOnly()
    |httpOut('a')
"""
    got, exp = _run_windowed_alert_both(
        spark, script, fixture_df, stream_src, tmp_path, period_s=6,
        agg_col="v",
    )
    assert got == exp


def test_windowed_alert_state_across_microbatches(spark, tmp_path):
    """The fused operator's keyed state (open-window partials + the
    alert ring) must carry across micro-batches: feed the same points in
    3 ordered files with maxFilesPerTrigger=1 and require the identical
    emission as the single-batch run — windows spanning a file boundary
    merge their partials instead of double-emitting."""
    from kapacitor_spark.streaming import run_available_now, window_alert_stream

    rows = [
        (i, f"2024-01-01 00:00:{i:02d}", "h1", float(v))
        for i, v in enumerate([10, 95, 20, 96, 30, 97, 40, 10, 11, 98, 99, 12])
    ]
    fx = spark.createDataFrame(
        rows, "id long, time string, host string, value double"
    ).withColumn("time", F.to_timestamp("time"))
    src = str(tmp_path / "mb_in")
    # 3 time-ordered files; a 4s window spans the 4/8 boundaries
    fx.filter("id < 5").coalesce(1).write.parquet(src)
    fx.filter("id >= 5 and id < 9").coalesce(1).write.mode("append").parquet(src)
    fx.filter("id >= 9").coalesce(1).write.mode("append").parquet(src)

    def run(reader, tag):
        out = window_alert_stream(
            reader, "time", ["host"], period="4s", every="4s",
            field="value", agg="mean", out_col="m",
            crit='lambda: "m" > 90', warn='lambda: "m" > 50',
            state_changes_only=True,
        )
        res = run_available_now(out, tag, str(tmp_path / f"ck_{tag}"))
        return sorted(
            (str(r["time"]), r["host"], round(r["m"], 9), r["level"])
            for r in res.collect()
        )

    schema = "id long, time timestamp, host string, value double"
    multi = run(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(src),
        "wa_multi",
    )
    single = run(
        spark.readStream.schema(schema).parquet(src), "wa_single"
    )
    assert multi == single
    assert len(multi) >= 2


def test_windowed_alert_is_single_stateful_operator(spark, stream_src):
    """Plan assertion: the fused compile plans EXACTLY ONE
    FlatMapGroupsInPandasWithState — no streaming Aggregate feeding it
    (that shape Spark rejects), no second keyed operator."""
    from kapacitor_spark.tick import run_tickscript_stream

    script = """
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |window()
        .period(4s)
        .every(4s)
    |mean('value')
        .as('mean')
    |alert()
        .crit(lambda: "mean" > 90)
        .stateChangesOnly()
    |httpOut('a')
"""
    souts = run_tickscript_stream(
        script, sources={"cpu": _stream_df(spark, stream_src)},
        time_col="time",
    )
    plan = souts["a"]._jdf.queryExecution().analyzed().toString()
    assert plan.count("FlatMapGroupsInPandasWithState") == 1
    assert "Aggregate" not in plan


def test_count_window_alert_is_single_stateful_operator(spark, stream_src):
    """Same plan shape for the count-window sibling: the ring + alert
    machine fuse into exactly one FlatMapGroupsInPandasWithState."""
    from kapacitor_spark.tick import run_tickscript_stream

    script = """
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |window()
        .periodCount(3)
        .everyCount(1)
    |mean('value')
        .as('mean')
    |alert()
        .crit(lambda: "mean" > 90)
        .durationField('dur')
        .stateChangesOnly()
    |httpOut('a')
"""
    souts = run_tickscript_stream(
        script, sources={"cpu": _stream_df(spark, stream_src)},
        time_col="time",
    )
    plan = souts["a"]._jdf.queryExecution().analyzed().toString()
    assert plan.count("FlatMapGroupsInPandasWithState") == 1
    assert "Aggregate" not in plan


def test_sample_n_stream_equals_batch(
    spark, fixture_df, stream_src, tmp_path
):
    """sample(N) — every Nth point per group via a keyed counter
    (/root/reference/sample.go:97-110), r11 2nd wave. The counter is
    state, so the cadence must hold across micro-batches; pinned against
    the batch replay's row_number formulation."""
    script = """
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |sample(3)
    |httpOut('s')
"""
    got, exp = _run_both(
        spark, script, "s", fixture_df, stream_src, tmp_path,
        ["time", "host", "value"],
    )
    assert got == exp
    assert len(got) == 6  # 8 points per host, every 3rd → 3 per host


def test_sample_n_counter_across_microbatches(spark, tmp_path):
    """The sample(N) counter carries across micro-batches: 2 ordered
    files with maxFilesPerTrigger=1 must keep the same global cadence as
    a single batch (no restart of the modulus at the file boundary)."""
    from kapacitor_spark.streaming import run_available_now, sample_count_stream

    rows = [
        (i, f"2024-01-01 00:00:{i:02d}", "h1", float(i)) for i in range(10)
    ]
    fx = spark.createDataFrame(
        rows, "id long, time string, host string, value double"
    ).withColumn("time", F.to_timestamp("time"))
    src = str(tmp_path / "sn_in")
    fx.filter("id < 4").coalesce(1).write.parquet(src)
    fx.filter("id >= 4").coalesce(1).write.mode("append").parquet(src)
    sdf = (
        spark.readStream
        .schema("id long, time timestamp, host string, value double")
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    out = sample_count_stream(sdf, "time", ["host"], 4)
    res = run_available_now(out, "sn", str(tmp_path / "ck_sn"))
    ids = sorted(r["id"] for r in res.collect())
    assert ids == [0, 4, 8]


def test_flatten_stream_equals_batch(spark, tmp_path):
    """Streaming flatten(): the per-bucket pivot compiles to a native
    streaming aggregation (conditional min_by per declared pivot value)
    — values must be declared via flatten_values because a streaming
    schema is static (the batch compile discovers them dynamically,
    flatten.go:219-254). Pinned against the batch replay on the same
    script."""
    from kapacitor_spark.streaming import run_available_now
    from kapacitor_spark.tick import run_tickscript, run_tickscript_stream

    rows = [
        # (time, host, region, value): two hosts per (region, second)
        ("2024-01-01 00:00:00.2", "a", "east", 1.0),
        ("2024-01-01 00:00:00.4", "b", "east", 2.0),
        ("2024-01-01 00:00:01.2", "a", "east", 3.0),
        ("2024-01-01 00:00:01.3", "b", "east", 4.0),
        ("2024-01-01 00:00:00.3", "a", "west", 5.0),
        ("2024-01-01 00:00:00.1", "b", "west", 6.0),
        # duplicate in-bucket point: earliest must win
        ("2024-01-01 00:00:00.45", "b", "west", 99.0),
    ]
    fx = spark.createDataFrame(
        rows, "time string, host string, region string, value double"
    ).withColumn("time", F.to_timestamp("time"))
    src = str(tmp_path / "fl_in")
    fx.coalesce(1).write.parquet(src)
    sdf = spark.readStream.schema(
        "time timestamp, host string, region string, value double"
    ).parquet(src)
    script = """
stream
    |from()
        .measurement('cpu')
        .groupBy('host', 'region')
    |flatten()
        .on('host')
        .tolerance(1s)
    |httpOut('f')
"""
    souts = run_tickscript_stream(
        script, sources={"cpu": sdf}, time_col="time",
        flatten_values=["a", "b"],
    )
    res = run_available_now(
        souts["f"], "ts_fl", str(tmp_path / "ck_fl"), output_mode="complete"
    )
    cols = ["time", "region", "a.value", "b.value"]

    def rows_of(df):
        return sorted(
            tuple(str(r[c]) if c == "time" else r[c] for c in cols)
            for r in df.select(*[F.col(f"`{c}`") for c in cols]).collect()
        )

    bouts = run_tickscript(
        script, sources={"cpu": fx}, time_col="time", dims=()
    )
    assert rows_of(res) == rows_of(bouts["f"])
    # earliest-point-wins inside the bucket (the 99.0 later arrival lost)
    west = [t for t in rows_of(res) if t[1] == "west"]
    assert west and west[0][3] == 6.0


def test_combine_stream_equals_batch(spark, tmp_path):
    """Streaming combine(): one streaming aggregation (the per-bucket
    collect_list buffer) + a declarative k-combination generator —
    pinned against the batch replay's iterated-equi-join formulation on
    the identical script, including the reference's identity rules
    (strict id ordering between same-predicate slots)."""
    from kapacitor_spark.streaming import run_available_now
    from kapacitor_spark.tick import run_tickscript, run_tickscript_stream

    rows = [
        ("2024-01-01 00:00:00.2", "east", "login", 1.0),
        ("2024-01-01 00:00:00.6", "east", "logout", 2.0),
        ("2024-01-01 00:00:01.1", "east", "login", 3.0),
        ("2024-01-01 00:00:02.2", "east", "login", 4.0),
        ("2024-01-01 00:00:02.4", "east", "logout", 5.0),
        ("2024-01-01 00:00:02.6", "east", "logout", 6.0),  # 2 pairs in bucket
        ("2024-01-01 00:00:00.3", "west", "login", 7.0),
        ("2024-01-01 00:00:00.4", "west", "login", 8.0),   # same-pred pair
    ]
    fx = spark.createDataFrame(
        rows, "time string, region string, kind string, value double"
    ).withColumn("time", F.to_timestamp("time"))
    src = str(tmp_path / "cb_in")
    fx.coalesce(1).write.parquet(src)
    sdf = spark.readStream.schema(
        "time timestamp, region string, kind string, value double"
    ).parquet(src)
    for script, cols, min_rows in [
        ("""
stream
    |from()
        .measurement('cpu')
        .groupBy('region')
    |combine(lambda: "kind" == 'login', lambda: "kind" == 'logout')
        .as('in', 'out')
        .tolerance(1s)
    |httpOut('c')
""", ["time", "region", "in_kind", "in_value", "out_kind", "out_value"], 2),
        ("""
stream
    |from()
        .measurement('cpu')
        .groupBy('region')
    |combine(lambda: "kind" == 'login', lambda: "kind" == 'login')
        .as('a', 'b')
        .tolerance(1s)
    |httpOut('c')
""", ["time", "region", "a_value", "b_value"], 1),
    ]:
        souts = run_tickscript_stream(
            script, sources={"cpu": sdf}, time_col="time",
        )
        tag = f"ts_cb_{abs(hash(script)) % 10**8}"
        res = run_available_now(
            souts["c"], tag, str(tmp_path / f"ck_{tag}"),
            output_mode="complete",
        )

        def rows_of(df):
            return sorted(
                tuple(str(r[c]) if c == "time" else r[c] for c in cols)
                for r in df.select(*cols).collect()
            )

        bouts = run_tickscript(
            script, sources={"cpu": fx}, time_col="time", dims=()
        )
        got, exp = rows_of(res), rows_of(bouts["c"])
        assert got == exp and len(got) >= min_rows, (script, got, exp)


def test_combine_stream_plans_no_python(spark, stream_src):
    """The streaming combine plan stays JVM-side: one streaming
    aggregate, no BatchEvalPython / FlatMapGroupsInPandas — the
    combination generator is pure Catalyst (transform/filter/explode)."""
    from kapacitor_spark.tick import run_tickscript_stream

    script = """
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |combine(lambda: "value" > 50, lambda: "value" <= 50)
        .as('hi', 'lo')
        .tolerance(4s)
    |httpOut('c')
"""
    souts = run_tickscript_stream(
        script, sources={"cpu": _stream_df(spark, stream_src)},
        time_col="time",
    )
    plan = souts["c"]._jdf.queryExecution().analyzed().toString()
    assert "Aggregate" in plan
    assert "Python" not in plan and "FlatMapGroups" not in plan


def test_flatten_stream_without_values_raises(spark, stream_src):
    from kapacitor_spark.tick import TickError, run_tickscript_stream

    script = """
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |flatten()
        .on('host')
        .tolerance(1s)
    |httpOut('f')
"""
    with pytest.raises(TickError, match="flatten_values"):
        run_tickscript_stream(
            script, sources={"cpu": _stream_df(spark, stream_src)},
            time_col="time",
        )


def test_alert_handler_chains_on_live_path(
    spark, fixture_df, stream_src, tmp_path
):
    """Service-handler chains + sink props on the LIVE alert path (r11
    2nd wave): .slack().channel() and .post()/.log() parse with the SAME
    spec parser as the batch compile, render through the SAME
    kapacitor_spark.handlers formatters, and deliver per micro-batch via
    the foreachBatch fn surfaced as outputs.alert_handlers[name].
    Deliveries must equal the batch replay's deliveries on the identical
    script + services config. A second script renames the message field
    and adds a duration field: the handler events carry both values."""
    import http.server
    import json as _json
    import socketserver
    import threading

    from kapacitor_spark.tick import run_tickscript, run_tickscript_stream

    received = []

    class H(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            n = int(self.headers["Content-Length"])
            received.append((self.path, _json.loads(self.rfile.read(n))))
            self.send_response(200)
            self.end_headers()

        def log_message(self, *a):
            pass

    def flat(rx):
        # http_post arrays are one-per-PARTITION (documented batching
        # divergence) — compare the multiset of delivered EVENTS
        out = []
        for p, b in rx:
            if isinstance(b, list):
                out.extend((p, _json.dumps(e, sort_keys=True)) for e in b)
            else:
                out.append((p, _json.dumps(b, sort_keys=True)))
        return sorted(out)

    with socketserver.TCPServer(("127.0.0.1", 0), H) as srv:
        port = srv.server_address[1]
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        log_path = tmp_path / "alerts.jsonl"
        head = """
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |alert()
        .crit(lambda: "value" > 90)
        .warn(lambda: "value" > 50)
        .stateChangesOnly()
"""
        scripts = [
            head + f"""        .slack()
        .channel('@oncall')
        .log('{log_path}')
        .post('http://127.0.0.1:{port}/generic')
    |httpOut('a')
""",
            # a renamed message field and a duration field must reach
            # the handler events: Slack text is the rendered message,
            # each kafka record carries the row's episode duration
            head + """        .message('{{ index .Tags "host" }} went {{ .Level }}')
        .messageField('msg')
        .durationField('dur')
        .slack()
        .kafka()
    |httpOut('a')
""",
        ]
        produced = []
        services = {
            "slack": {
                "url": f"http://127.0.0.1:{port}/slack",
                "channel": "#default",
            },
            "kafka": {
                "produce": lambda *rec: produced.append(rec),
                "topic": "alerts",
            },
        }
        for i, script in enumerate(scripts):
            received.clear()
            produced.clear()
            souts = run_tickscript_stream(
                script, sources={"cpu": _stream_df(spark, stream_src)},
                time_col="time", alert_services=services,
            )
            assert "a" in souts.alert_handlers
            q = (
                souts["a"].writeStream
                .foreachBatch(souts.alert_handlers["a"])
                .outputMode("append")
                .option("checkpointLocation", str(tmp_path / f"ck_h{i}"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            stream_rx, stream_kafka = flat(received), sorted(produced)
            assert stream_rx, "no deliveries on the live path"

            # batch replay of the identical script + services = the oracle
            received.clear()
            produced.clear()
            if i == 0:
                stream_log = sorted(log_path.read_text().splitlines())
                log_path.unlink()
            bouts = run_tickscript(
                script, sources={"cpu": fixture_df}, time_col="time",
                dims=(), alert_services=services,
            )
            assert stream_rx == flat(received)
            assert stream_kafka == sorted(produced)
            if i == 0:
                batch_log = sorted(log_path.read_text().splitlines())
                assert len(stream_log) == len(batch_log)
                assert {p for p, _ in stream_rx} == {"/slack", "/generic"}
                continue
            rows = bouts["a"].select("host", "level", "msg", "dur").collect()
            texts = sorted(
                _json.loads(b)["attachments"][0]["text"]
                for p, b in stream_rx if p == "/slack"
            )
            assert texts == sorted(r["msg"] for r in rows)
            assert texts == sorted(f"{r['host']} went {r['level']}" for r in rows)
            durs = sorted(_json.loads(v)["duration"] for _t, _p, _k, v in produced)
            assert durs == sorted(r["dur"] for r in rows)
            assert max(durs) > 0


def test_alert_templating_on_live_path(
    spark, fixture_df, stream_src, tmp_path
):
    """.id()/.message()/.idField() templating on the live alert path —
    pure column expressions (Pipeline._template) applied to the emitted
    rows, pinned equal to the batch replay of the identical script."""
    script = """
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |alert()
        .crit(lambda: "value" > 90)
        .warn(lambda: "value" > 50)
        .id('cpu:{{ index .Tags "host" }}')
        .idField('aid')
        .message('{{ .ID }} is {{ .Level }} ({{ index .Fields "value" }})')
        .stateChangesOnly()
    |httpOut('a')
"""
    got, exp = _run_both(
        spark, script, "a", fixture_df, stream_src, tmp_path,
        ["time", "host", "value", "level", "alert_id", "aid", "message"],
    )
    assert got == exp
    assert any("is CRITICAL" in t[6] for t in got)
    assert all(t[4].startswith("cpu:h") for t in got)


def test_alert_details_field_stream_equals_batch(
    spark, fixture_df, stream_src, tmp_path
):
    """.details(...).detailsField('d') renders the details template into
    column d on both compiles."""
    script = """
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |alert()
        .crit(lambda: "value" > 90)
        .message('{{ index .Tags "host" }} is {{ .Level }}')
        .details('{{ .Message }} at {{ index .Fields "value" }}')
        .detailsField('d')
        .stateChangesOnly()
    |httpOut('a')
"""
    s, b = _run_both(
        spark, script, "a", fixture_df, stream_src, tmp_path,
        ["time", "host", "value", "level", "d"],
    )
    assert s == b and len(s) >= 4
    assert all(r[4] == f"{r[1]} is {r[3]} at {r[2]}" for r in s)


def test_count_window_stateful_alert_stream_equals_batch(
    spark, fixture_df, stream_src, split_src, tmp_path
):
    """Stateful alert after a COUNT window — formerly out-of-subset —
    now fuses ring + alert machine into ONE keyed operator
    (streaming.window_count_alert_stream), pinned against the batch
    replay (rowsBetween trailing aggregate + the same level walk).
    Count windows emit at the triggering POINT's time, so no
    sealed-window restriction applies — every batch row must appear."""
    script = """
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |window()
        .periodCount(3)
        .everyCount(1)
    |mean('value')
        .as('mean')
    |alert()
        .crit(lambda: "mean" > 90)
        .warn(lambda: "mean" > 50)
        .durationField('dur')
        .stateChangesOnly()
    |httpOut('a')
"""
    s, b = _run_both(
        spark, script, "a", fixture_df, stream_src, tmp_path,
        ["time", "host", "mean", "level", "dur"],
    )
    assert s == b and len(s) >= 4
    assert {r[3] for r in s} >= {"WARNING", "OK"}
    # ring, alert walk and episode start all cross micro-batch boundaries
    s2, _ = _run_both(
        spark, script, "a", fixture_df, split_src, tmp_path,
        ["time", "host", "mean", "level", "dur"],
    )
    assert s2 == b


def test_count_window_alert_fill_period_and_every(
    spark, fixture_df, stream_src, tmp_path
):
    """fillPeriod (warm-up gate) + everyCount > 1 through the fused
    count-window alert."""
    script = """
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |window()
        .periodCount(4)
        .everyCount(2)
        .fillPeriod()
    |max('value')
        .as('mx')
    |alert()
        .crit(lambda: "mx" > 90)
        .stateChangesOnly()
    |httpOut('a')
"""
    s, b = _run_both(
        spark, script, "a", fixture_df, stream_src, tmp_path,
        ["time", "host", "mx", "level"],
    )
    assert s == b and len(s) >= 2


def test_alert_after_stats_still_raises(spark, stream_src):
    """Stateful alert after stats()/deadman() stays out-of-subset (the
    ticker is already a keyed-state operator) and raises toward batch."""
    from kapacitor_spark.tick import TickError, run_tickscript_stream

    script = """
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |stats(2s)
    |alert()
        .crit(lambda: "emitted" < 1)
        .stateChangesOnly()
    |httpOut('a')
"""
    with pytest.raises(TickError, match="stats|batch"):
        run_tickscript_stream(
            script, sources={"cpu": _stream_df(spark, stream_src)},
            time_col="time",
        )


def test_alert_handler_unconfigured_kind_raises_at_compile(
    spark, stream_src
):
    from kapacitor_spark.tick import TickError, run_tickscript_stream

    script = """
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |alert()
        .crit(lambda: "value" > 90)
        .slack()
        .channel('@x')
    |httpOut('a')
"""
    with pytest.raises(TickError, match="alert_services"):
        run_tickscript_stream(
            script, sources={"cpu": _stream_df(spark, stream_src)},
            time_col="time",
        )


def test_stateful_alert_after_count_window_compiles_fused(spark, stream_src):
    """Count windows + stateful alert fuse since the r11 3rd wave
    (window_count_alert_stream) — this shape used to raise; now it
    compiles as a single keyed operator. Parity is pinned by
    test_count_window_stateful_alert_stream_equals_batch."""
    from kapacitor_spark.tick import run_tickscript_stream

    script = """
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |window()
        .periodCount(4)
        .everyCount(4)
    |mean('value')
        .as('mv')
    |alert()
        .crit(lambda: "mv" > 90)
        .stateChangesOnly()
    |httpOut('a')
"""
    souts = run_tickscript_stream(
        script, sources={"cpu": _stream_df(spark, stream_src)},
        time_col="time",
    )
    assert souts["a"].isStreaming
    plan = souts["a"]._jdf.queryExecution().analyzed().toString()
    assert plan.count("FlatMapGroupsInPandasWithState") == 1


@pytest.mark.parametrize(
    "wheres",
    [
        # both predicates as from() props
        """.where(lambda: "value" > 50)
        .where(lambda: "host" == 'h1')""",
        # a from() prop, then a chain node
        """.where(lambda: "value" > 50)
    |where(lambda: "host" == 'h1')""",
        # two chain nodes
        """
    |where(lambda: "value" > 50)
    |where(lambda: "host" == 'h1')""",
    ],
    ids=["props", "prop_then_node", "nodes"],
)
def test_chained_where_stream_equals_batch(
    spark, fixture_df, stream_src, tmp_path, wheres
):
    """Every where() applies: chained predicates AND together on both
    compiles, however they are spelled."""
    script = f"""
stream
    |from()
        .measurement('cpu')
        {wheres}
    |httpOut('w')
"""
    s, b = _run_both(
        spark, script, "w", fixture_df, stream_src, tmp_path,
        ["id", "host", "value"],
    )
    assert s == b
    assert [r[0] for r in s] == [3, 5, 7, 11, 13, 15]


@pytest.mark.parametrize(
    "head,tail,cols",
    [
        (""".database('telegraf')
        .retentionPolicy('autogen')
        .groupBy('host')""",
         """|stateCount(lambda: "value" > 50)
        .as('n')""", ["time", "host", "n"]),
        (""".truncate(2s)
        .groupBy('host')""", "|log()", ["id", "time", "host", "value"]),
        (".groupBy(*)", """|stateCount(lambda: "value" > 50)
        .as('n')""", ["time", "host", "n"]),
        (".groupBy(['host'])", """|stateCount(lambda: "value" > 50)
        .as('n')""", ["time", "host", "n"]),
        ("", """|eval(lambda: "value" * 2.0)
        .as('v2')
        .keep()
    |groupBy('host')
    |stateCount(lambda: "v2" > 100)
        .as('n')""", ["time", "host", "n"]),
    ],
    ids=["database_rp", "truncate", "group_by_star", "group_by_list",
         "eval_then_group_by"],
)
def test_from_and_group_by_forms_stream_equals_batch(
    spark, fixture_df, stream_src, tmp_path, head, tail, cols
):
    """from() routing props, truncate, groupBy(*) / groupBy([list]) and a
    groupBy node after eval compile through the shared front end."""
    script = f"""
stream
    |from()
        .measurement('cpu')
        {head}
    {tail}
    |httpOut('o')
"""
    s, b = _run_both(spark, script, "o", fixture_df, stream_src, tmp_path, cols)
    assert s == b and len(s) == 16


def test_stateful_where_lambda_batch_and_live(spark, fixture_df, stream_src):
    """A stateful sigma() in a TICK where runs on the batch compile as
    Pipeline.where does (running window first, then the filter); the
    live compile refuses stateful lambdas in where and eval at compile,
    pointing at the batch replay."""
    from kapacitor_spark.pipeline import Pipeline
    from kapacitor_spark.tick import TickError, run_tickscript, run_tickscript_stream

    lam = 'lambda: sigma("value") > 1.0'
    exp = sorted(
        r["id"] for r in Pipeline.from_df(fixture_df, dims=("host",))
        .where(lam).df.collect()
    )
    assert 0 < len(exp) < 16
    head = """
    |from()
        .measurement('cpu')
        .groupBy('host')"""
    for form in (f"\n        .where({lam})", f"\n    |where({lam})"):
        outs = run_tickscript(
            f"batch{head}{form}\n    |httpOut('w')\n",
            sources={"cpu": fixture_df},
        )
        assert sorted(r["id"] for r in outs["w"].collect()) == exp
    for form in (f"|where({lam})", f"|eval({lam}).as('s')"):
        with pytest.raises(TickError, match="batch replay"):
            run_tickscript_stream(
                f"stream{head}\n    {form}\n    |httpOut('w')\n",
                sources={"cpu": _stream_df(spark, stream_src)},
                time_col="time",
            )


# minimal arguments for every chain method the front end dispatches
_SWEEP_CALLS = {
    "from": "from()",
    "window": "window().period(4s)",
    "eval": "eval(lambda: \"value\" * 2.0).as('v')",
    "default": "default().field('x', 1.0)",
    "delete": "delete().field('value')",
    "alert": "alert().crit(lambda: \"value\" > 90)",
    "join": "join(m).as('a', 'b').tolerance(1s)",
    "query": "query('SELECT mean(\"value\") FROM \"cpu\"').period(4s)",
    "queryFlux": "queryFlux('from(bucket: \"b\")').every(1s)",
    "groupBy": "groupBy('host')",
    "flatten": "flatten().on('host')",
    "combine": "combine(lambda: \"value\" > 50, lambda: \"value\" <= 50)"
               ".as('hi', 'lo').tolerance(1s)",
    "kapacitorLoopback": "kapacitorLoopback()",
    "sideload": "sideload()",
    "barrier": "barrier().period(1s)",
    "httpPost": "httpPost('http://127.0.0.1:1')",
    "influxDBOut": "influxDBOut()",
    "k8sAutoscale": "k8sAutoscale().replicas(lambda: 2)",
    "swarmAutoscale": "swarmAutoscale().replicas(lambda: 2)",
    "ec2Autoscale": "ec2Autoscale().replicas(lambda: 2)",
    "percentile": "percentile('value', 90.0)",
    "top": "top(2, 'value')",
    "bottom": "bottom(2, 'value')",
    "movingAverage": "movingAverage('value', 3)",
    "elapsed": "elapsed('value', 1s)",
    "stateCount": "stateCount(lambda: \"value\" > 50)",
    "stateDuration": "stateDuration(lambda: \"value\" > 50)",
    "holtWinters": "holtWinters('value', 2, 0, 1s)",
    "holtWintersWithFit": "holtWintersWithFit('value', 2, 0, 1s)",
    "where": "where(lambda: \"value\" > 50)",
    "shift": "shift(1s)",
    "sample": "sample(2)",
    "union": "union(m)",
    "httpOut": "httpOut('y')",
    "log": "log()",
    "trickle": "trickle()",
    "stats": "stats(1s)",
    "deadman": "deadman(0.0, 1s)",
}


def test_every_chain_method_compiles_live_or_raises_tick_error(
    spark, stream_src
):
    """The live compile either compiles each chain method the front end
    dispatches or raises a TickError — never a KeyError,
    AttributeError or Py4J error. Names outside _StreamEnv.SUPPORTED
    raise the subset error, which lists SUPPORTED."""
    from kapacitor_spark.tick import (
        TickError, _Env, _StreamEnv, run_tickscript_stream,
    )

    names = _Env.BUILDERS | _Env.AGGS | _Env.CHAIN
    assert names <= set(_SWEEP_CALLS) | {
        "count", "sum", "mean", "median", "mode", "spread", "stddev", "min",
        "max", "first", "last", "distinct", "derivative", "difference",
        "cumulativeSum", "changeDetect",
    }
    sdf = _stream_df(spark, stream_src)
    for name in sorted(names):
        call = _SWEEP_CALLS.get(name, f"{name}('value')")
        script = f"""
var m = stream
    |from()
        .measurement('cpu')
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |{call}
    |httpOut('x')
"""
        try:
            run_tickscript_stream(script, sources={"cpu": sdf}, time_col="time")
        except TickError as e:
            if name not in _StreamEnv.SUPPORTED:
                assert "streaming compile subset" in str(e), name
                assert "/".join(sorted(_StreamEnv.SUPPORTED)) in str(e), name
        except Exception as e:  # noqa: BLE001 — the assertion under test
            pytest.fail(f"|{name}() raised {type(e).__name__}: {e}")
        else:
            assert name in _StreamEnv.SUPPORTED, name


@pytest.mark.parametrize(
    "head, mode",
    [
        # a stateless alert behind a window aggregation
        ("""|window()
        .period(4s)
        .every(4s)
    |mean('value')
        .as('value')
    |alert()
        .crit(lambda: "value" > 90)""", "complete"),
        # a keyed alert on the raw stream
        ("""|alert()
        .crit(lambda: "value" > 90)
        .stateChangesOnly()""", "append"),
    ],
    ids=["window_mean_alert", "keyed_alert"],
)
def test_every_chain_method_after_stateful_live_stage(
    spark, stream_src, tmp_path, head, mode
):
    """Behind a streaming aggregation or a keyed alert only
    log/httpOut/alert compile, and those run; every other chain method
    raises TickError at compile instead of failing at query start."""
    from kapacitor_spark.streaming import run_available_now
    from kapacitor_spark.tick import (
        TickError, _Env, _StreamEnv, run_tickscript_stream,
    )

    sdf = _stream_df(spark, stream_src)
    for name in sorted(_Env.BUILDERS | _Env.AGGS | _Env.CHAIN):
        call = _SWEEP_CALLS.get(name, f"{name}('value')")
        script = f"""
var m = stream
    |from()
        .measurement('cpu')
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    {head}
    |{call}
    |httpOut('x')
"""
        try:
            outs = run_tickscript_stream(
                script, sources={"cpu": sdf}, time_col="time"
            )
        except TickError:
            assert name not in ("alert", "log", "httpOut"), name
            continue
        except Exception as e:  # noqa: BLE001 — the assertion under test
            pytest.fail(f"|{name}() raised {type(e).__name__}: {e}")
        assert name in ("alert", "log", "httpOut") and name in _StreamEnv.SUPPORTED
        tag = f"after_{mode}_{name}"
        res = run_available_now(
            outs["x"], tag, str(tmp_path / tag), output_mode=mode
        )
        assert res.count() > 0, name


@pytest.mark.parametrize("merge", ["join(w).as('a', 'b').tolerance(1s)", "union(w)"])
def test_join_union_of_windowed_stream_raises(spark, stream_src, merge):
    """A windowed stream as the join()/union() argument would chain a
    second stateful operator behind its aggregation: TickError at
    compile."""
    from kapacitor_spark.tick import TickError, run_tickscript_stream

    script = f"""
var w = stream
    |from()
        .measurement('cpu')
    |window()
        .period(4s)
        .every(4s)
    |mean('value')
        .as('value')
stream
    |from()
        .measurement('cpu')
    |{merge}
    |httpOut('x')
"""
    with pytest.raises(TickError, match="second stateful operator"):
        run_tickscript_stream(
            script, sources={"cpu": _stream_df(spark, stream_src)},
            time_col="time",
        )


@pytest.mark.parametrize(
    "tail, ok",
    [
        ("|log()\n    |httpOut('a')", True),
        ("|where(lambda: \"value\" > 1)\n    |httpOut('a')", False),
        ("|log()\n        .rename('z')\n    |httpOut('a')", False),
    ],
    ids=["log", "where", "rename"],
)
def test_live_alert_handlers_deliver_or_raise(
    spark, stream_src, tmp_path, tail, ok
):
    """A live alert's handlers run as the foreachBatch of the httpOut
    that carries its rows: with only log() in between they surface in
    outputs.alert_handlers; a node that rebuilds the rows raises
    TickError instead of silently dropping the handlers."""
    from kapacitor_spark.tick import TickError, run_tickscript_stream

    script = f"""
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |alert()
        .crit(lambda: "value" > 90)
        .slack()
        .log('{tmp_path / "alerts.log"}')
    {tail}
"""
    kw = dict(
        sources={"cpu": _stream_df(spark, stream_src)}, time_col="time",
        alert_services={"slack": {"url": "http://127.0.0.1:1/slack"}},
    )
    if ok:
        assert "a" in run_tickscript_stream(script, **kw).alert_handlers
    else:
        with pytest.raises(TickError, match="foreachBatch of its httpOut"):
            run_tickscript_stream(script, **kw)


@pytest.mark.parametrize(
    "prop", ["quiet()", "all()", "inhibit('cpu', 'host')", "madeUp(1)"]
)
def test_alert_props_one_rule_for_batch_and_live(
    spark, fixture_df, stream_src, tmp_path, prop
):
    """Both compiles read an alert node's props through one rule:
    .quiet() (it only silences the reference node's error log) is a
    no-op on both, and a prop neither compile reads — .all(), .inhibit()
    or an unknown name — raises TickError naming it on both, instead of
    the batch compile dropping it."""
    from kapacitor_spark.tick import TickError, run_tickscript, run_tickscript_stream

    head = """
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |alert()
        .crit(lambda: "value" > 90)
        .stateChangesOnly()"""
    script = f"{head}\n        .{prop}\n    |httpOut('a')\n"
    name = prop.split("(")[0]
    if name == "quiet":
        cols = ["time", "host", "value", "level"]
        s, b = _run_both(
            spark, script, "a", fixture_df, stream_src, tmp_path, cols
        )
        plain = run_tickscript(
            f"{head}\n    |httpOut('a')\n", sources={"cpu": fixture_df},
            time_col="time", dims=(),
        )["a"]
        exp = sorted(
            tuple(str(r[c]) if c == "time" else r[c] for c in cols)
            for r in plain.select(*cols).collect()
        )
        assert s == b == exp and len(exp) >= 4
        return
    with pytest.raises(TickError, match=rf"\.{name}\(\)"):
        run_tickscript(
            script, sources={"cpu": fixture_df}, time_col="time", dims=()
        )
    with pytest.raises(TickError, match=rf"\.{name}\(\)"):
        run_tickscript_stream(
            script, sources={"cpu": _stream_df(spark, stream_src)},
            time_col="time",
        )

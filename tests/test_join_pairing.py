"""Batch join of window aggregates, re-derived in pandas.

Two window aggregates hold one row per (time, dims), so join() pairs them
on (time, dims) with no sequence key; raw points can repeat a timestamp,
so their join keeps the per-cell sequence and pairs 1st-with-1st. Every
expected frame here is computed from the input points with pandas — the
window assignment, the per-window max and the join itself — never from
the engine's own output.
"""

import os
import sys

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kapacitor_spark import Pipeline
from kapacitor_spark.tick import run_tickscript

S = 1_000_000  # µs per second
PERIOD, EVERY = 60 * S, 20 * S


@pytest.fixture(scope="module")
def points():
    """Two measurements over five hosts in two dcs, ten minutes. cpu has
    hosts h1-h4 and mem h0-h3, and mem stops a minute before cpu, so
    some (window, host) cells exist on one side only."""
    rng = np.random.default_rng(12)
    frames = {}
    for m, hosts, span in (("cpu", [1, 2, 3, 4], 600), ("mem", [0, 1, 2, 3], 540)):
        n = 240
        host = rng.choice(hosts, n)
        frames[m] = pd.DataFrame({
            "t_us": rng.integers(0, span, n) * S + rng.integers(0, S, n),
            "host": [f"h{h}" for h in host],
            "dc": ["east" if h < 3 else "west" for h in host],
            "value": rng.integers(0, 1000, n).astype(float),
        })
    return frames


def _spark_side(spark, pdf):
    return spark.createDataFrame(
        [tuple(r) for r in pdf.itertuples(index=False)],
        "t_us long, host string, dc string, value double",
    ).select(F.timestamp_micros("t_us").alias("time"), "host", "dc", "value")


def _windowed_max(pdf, dims, period, every, emit="start"):
    """Per-window max with epoch-aligned [start, start + period) windows
    every ``every`` µs; the row time is the window's ``emit`` bound."""
    rows = []
    for t, v, *keys in pdf[["t_us", "value", *dims]].itertuples(index=False):
        k = t // every
        while k * every > t - period:
            start = k * every
            rows.append((start + (period if emit == "end" else 0), *keys, v))
            k -= 1
    w = pd.DataFrame(rows, columns=["time", *dims, "v"])
    return w.groupby(["time", *dims], as_index=False)["v"].max()


def _joined(left, right, on, how):
    return left.rename(columns={"v": "cpu.v"}).merge(
        right.rename(columns={"v": "mem.v"}), on=["time", *on], how=how
    )


def _collect(df):
    return df.withColumn("time", F.unix_micros("time")).toPandas()


def _same(got, want):
    cols = sorted(want.columns)
    assert sorted(got.columns) == cols
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(g, w, check_dtype=False)


_JOIN_SCRIPT = """
var c = stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |window()
        .period({period})
        .every({every})
    |max('value')
        .as('v')
var m = stream
    |from()
        .measurement('mem')
        .groupBy('host')
    |window()
        .period({period})
        .every({every})
    |max('value')
        .as('v')
c
    |join(m)
        .as('cpu', 'mem'){props}
    |httpOut('out')
"""


def _tick_join(spark, points, props="", period="60s", every="60s"):
    srcs = {m: _spark_side(spark, p).drop("dc") for m, p in points.items()}
    script = _JOIN_SCRIPT.format(period=period, every=every, props=props)
    return run_tickscript(script, sources=srcs, time_col="time")["out"]


def test_tick_join_of_window_aggregates_inner(spark, points):
    got = _tick_join(spark, points)
    assert got.columns == ["host", "cpu.v", "mem.v", "time"]
    want = _joined(
        _windowed_max(points["cpu"], ["host"], PERIOD, PERIOD),
        _windowed_max(points["mem"], ["host"], PERIOD, PERIOD),
        ["host"], "inner",
    )
    assert len(want) > 0
    _same(_collect(got), want)


def test_tick_join_fill_null_is_full_outer(spark, points):
    got = _collect(_tick_join(spark, points, "\n        .fill('null')"))
    want = _joined(
        _windowed_max(points["cpu"], ["host"], PERIOD, PERIOD),
        _windowed_max(points["mem"], ["host"], PERIOD, PERIOD),
        ["host"], "outer",
    )
    # both one-sided kinds of cell are present, so the fill is exercised
    assert want["cpu.v"].isna().any() and want["mem.v"].isna().any()
    _same(got, want)


def test_tick_join_fill_zero(spark, points):
    got = _collect(_tick_join(spark, points, "\n        .fill(0)"))
    want = _joined(
        _windowed_max(points["cpu"], ["host"], PERIOD, PERIOD),
        _windowed_max(points["mem"], ["host"], PERIOD, PERIOD),
        ["host"], "outer",
    ).fillna({"cpu.v": 0.0, "mem.v": 0.0})
    assert (want["cpu.v"] == 0).any() and (want["mem.v"] == 0).any()
    _same(got, want)


def test_tick_join_stream_name(spark, points):
    got = _collect(_tick_join(spark, points, "\n        .streamName('cpu_mem')"))
    want = _joined(
        _windowed_max(points["cpu"], ["host"], PERIOD, PERIOD),
        _windowed_max(points["mem"], ["host"], PERIOD, PERIOD),
        ["host"], "inner",
    ).assign(name="cpu_mem")
    _same(got, want)


def test_tick_join_sliding_windows(spark, points):
    """every < period: each point lands in three windows."""
    got = _collect(_tick_join(spark, points, period="60s", every="20s"))
    want = _joined(
        _windowed_max(points["cpu"], ["host"], PERIOD, EVERY),
        _windowed_max(points["mem"], ["host"], PERIOD, EVERY),
        ["host"], "inner",
    )
    assert len(want) > len(_joined(
        _windowed_max(points["cpu"], ["host"], PERIOD, PERIOD),
        _windowed_max(points["mem"], ["host"], PERIOD, PERIOD),
        ["host"], "inner",
    ))
    _same(got, want)


def test_join_of_window_aggregates_emit_end(spark, points):
    def side(m):
        return (
            Pipeline.from_df(_spark_side(spark, points[m]).drop("dc"), dims=["host"])
            .window_time("60s", emit="end")
            .max("value", as_="v")
        )

    got = _collect(side("cpu").join(side("mem"), prefixes=("cpu", "mem"), delimiter=".").df)
    want = _joined(
        _windowed_max(points["cpu"], ["host"], PERIOD, PERIOD, emit="end"),
        _windowed_max(points["mem"], ["host"], PERIOD, PERIOD, emit="end"),
        ["host"], "inner",
    )
    _same(got, want)


def test_join_on_subset_is_one_to_many(spark, points):
    """.on('dc'): the coarse per-dc mem max meets every host of its dc."""
    fine = (
        Pipeline.from_df(_spark_side(spark, points["cpu"]), dims=["dc", "host"])
        .window_time("60s").max("value", as_="v")
    )
    coarse = (
        Pipeline.from_df(_spark_side(spark, points["mem"]).drop("host"), dims=["dc"])
        .window_time("60s").max("value", as_="v")
    )
    out = fine.join(coarse, prefixes=("cpu", "mem"), on=["dc"], delimiter=".")
    assert out.dims == ("dc", "host")
    want = _joined(
        _windowed_max(points["cpu"], ["dc", "host"], PERIOD, PERIOD),
        _windowed_max(points["mem"], ["dc"], PERIOD, PERIOD),
        ["dc"], "inner",
    )
    # at least one coarse row pairs with more than one host
    assert want.groupby(["time", "dc"]).size().max() > 1
    _same(_collect(out.df), want)


def _raw(spark, rows):
    """(id, second, host, value) points; ``id`` orders repeats of a time."""
    return Pipeline.from_df(
        spark.createDataFrame(rows, "id long, s long, host string, value double")
        .select("id", F.timestamp_seconds("s").alias("time"), "host", "value"),
        dims=["host"], tiebreak=["id"],
    )


def test_raw_point_join_pairs_repeats_in_order(spark):
    """Two points at one (time, host) on each side pair 1st-with-1st and
    2nd-with-2nd (ordered by the tiebreak), never as a cross product; an
    unmatched third point is dropped by the inner join."""
    a = _raw(spark, [(1, 0, "h", 1.0), (2, 0, "h", 2.0), (3, 0, "h", 3.0),
                     (4, 5, "h", 4.0)])
    b = _raw(spark, [(2, 0, "h", 20.0), (1, 0, "h", 10.0), (3, 5, "h", 40.0)])
    got = _collect(a.join(b, delimiter=".").df)
    assert sorted(zip(got["time"], got["a.value"], got["b.value"])) == [
        (0, 1.0, 10.0), (0, 2.0, 20.0), (5 * S, 4.0, 40.0),
    ]


def test_aggregate_joined_to_raw_points_keeps_the_sequence(spark):
    """Only one side unique per time: its one row pairs with the raw
    side's first point at that time, not with every repeat."""
    agg = _raw(spark, [(1, 0, "h", 1.0), (2, 30, "h", 7.0)]).window_time("60s").max(
        "value", as_="v")
    raw = _raw(spark, [(1, 0, "h", 10.0), (2, 0, "h", 20.0)])
    got = _collect(agg.join(raw, delimiter=".").df)
    assert list(zip(got["time"], got["a.v"], got["b.value"])) == [(0, 7.0, 10.0)]

"""The processing-time timer rules of the keyed-state kernel, pinned
deterministically: each operator's per-group function is driven with a
fake ``GroupState`` and a fixed clock, the way Spark calls it, with no
Spark session and no wall-clock polling."""

import pandas as pd
import pytest
from pyspark.sql.types import (
    DoubleType, StringType, StructField, StructType, TimestampType,
)

from kapacitor_spark import streaming

SCHEMA = StructType([
    StructField("t", TimestampType()),
    StructField("host", StringType()),
    StructField("value", DoubleType()),
])


class FakeFrame:
    """Stands in for a streaming DataFrame: keeps the per-group function
    the kernel hands to ``applyInPandasWithState``."""

    schema = SCHEMA

    def groupBy(self, *cols):
        return self

    def applyInPandasWithState(self, func, **kw):
        self.func = func
        return self


class FakeGroup:
    """One group's state under Spark's processing-time timeout rules:
    every call clears the timer, ``setTimeoutDuration(d)`` arms it at
    the batch's processing time + d, and a batch at ``now`` times the
    key out (a call with no data) when its timer is < ``now`` and the
    key has no data in that batch."""

    def __init__(self, op_frame):
        self.func = op_frame.func
        self.blob = None
        self.timer = None

    # --- the GroupState surface the kernel uses ---
    @property
    def exists(self):
        return self.blob is not None

    @property
    def get(self):
        return (self.blob,)

    def update(self, row):
        (self.blob,) = row

    def remove(self):
        self.blob = None

    def setTimeoutDuration(self, ms):
        self.timer = self.now + ms

    def getCurrentProcessingTimeMs(self):
        return self.now

    # --- one trigger ---
    def batch(self, now, *chunks):
        """Run one trigger at wall-clock ``now`` ms, with this group's
        points handed over in ``chunks``, each a list of event times in
        seconds (Spark slices a large group's rows); return what it
        emits."""
        self.now = now
        if chunks:
            pdfs = [pd.DataFrame({
                "t": pd.to_datetime(list(secs), unit="s"),
                "host": "a", "value": 1.0,
            }) for secs in chunks]
            self.hasTimedOut = False
        elif self.exists and self.timer is not None and self.timer < now:
            pdfs, self.hasTimedOut = [], True
        else:
            return []
        self.timer = None
        outs = list(self.func(("a",), iter(pdfs), self))
        rows = pd.concat(outs).to_dict("records") if outs else []
        for r in rows:
            r.pop("host")
        return rows


def test_deadman_rearms_on_data_fires_through_silence_and_drops():
    g = FakeGroup(streaming.deadman_stream(
        FakeFrame(), "t", ["host"], interval="1s", max_silent_intervals=2,
    ))
    assert g.batch(0, [0, 1]) == []
    assert g.batch(500, [2]) == []
    assert g.batch(1200) == []          # the point at 500 re-armed it
    assert g.batch(1600) == [{"emitted": 3, "level": "OK"}]
    assert g.batch(2700) == [{"emitted": 0, "level": "CRITICAL"}]
    assert g.batch(3800) == [{"emitted": 0, "level": "CRITICAL"}]
    assert not g.exists                 # 2 silent ticks: group dropped
    assert g.batch(9000) == []
    assert g.batch(9500, [9]) == []     # its next point re-registers it
    assert g.batch(10600) == [{"emitted": 1, "level": "OK"}]


def test_stats_keeps_its_absolute_tick_under_traffic():
    g = FakeGroup(streaming.stats_stream(FakeFrame(), "t", ["host"], "1s"))
    got = [(now, g.batch(now, [now // 100])) for now in range(0, 3000, 300)]
    # a point every 300 ms: ticks at the first call at or after 1000 and
    # 2000 ms, each counting the points that came before it
    assert [(now, rows) for now, rows in got if rows] == [
        (1200, [{"emitted": 4}]), (2100, [{"emitted": 3}]),
    ]
    assert g.batch(3100) == [{"emitted": 3}]    # silence: the timer fires
    assert g.batch(4100) == [{"emitted": 0}]


def _barrier(mode, **kw):
    return FakeGroup(streaming.window_barrier_stream(
        FakeFrame(), "t", ["host"], period="10s", barrier_interval="1s",
        mode=mode, **kw,
    ))


@pytest.mark.parametrize("mode, first_flush_ms", [
    ("period", 1200),   # fires every interval while points keep arriving
    ("idle", 4200),     # fires only after an interval of silence
])
def test_idle_and_period_barriers_differ_under_traffic(mode, first_flush_ms):
    g = _barrier(mode)
    flushes = []
    for now in range(0, 3000, 300):     # one point per 300 ms, all in [0, 10)
        flushes += [(now, r) for r in g.batch(now, [now // 1000])]
    flushes += [(now, r) for now in (3500, 4200) for r in g.batch(now)]
    flushes += [(5000, r) for r in g.batch(5000, [12])]  # closes [0, 10)
    assert flushes[0][0] == first_flush_ms
    # a point landing in a window the barrier already emitted is counted
    # in a follow-up row: the window's rows add up to its 10 points
    assert {r["window_start"] for _, r in flushes} == {pd.Timestamp(0)}
    assert sum(r["count"] for _, r in flushes) == 10
    if mode == "period":
        assert len(flushes) > 1


def test_stream_resuming_inside_an_idle_flushed_window_is_counted():
    g = _barrier("idle")
    assert g.batch(0, [1, 2]) == []
    assert g.batch(1100) == [{"window_start": pd.Timestamp(0), "count": 2}]
    assert g.batch(1200, [3, 4]) == []
    assert g.batch(1300, [11]) == [
        {"window_start": pd.Timestamp(0), "count": 2},
    ]


def test_barrier_counts_a_group_sliced_out_of_time_order():
    """Spark sorts each slice of a large group on its own: a later slice
    can hold points older than an earlier slice's newest. The event-time
    flush runs once, after the last slice, so none is lost."""
    g = _barrier("idle")
    assert g.batch(0, [15, 16], [1, 2, 3]) == [
        {"window_start": pd.Timestamp(0), "count": 3},
    ]
    assert g.batch(1100) == [
        {"window_start": pd.Timestamp(10 * 10**9), "count": 2},
    ]


def test_timer_and_idle_timeout_exclude_each_other():
    with pytest.raises(ValueError, match="exclude each other"):
        streaming._keyed_scan(
            FakeFrame(), "t", ["host"], (), None, 0, SCHEMA,
            idle_timeout="1s", on_timer=lambda c, k: (c, None), timer_ms=1,
        )

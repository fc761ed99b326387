"""Independent re-derivations for the two operators with no SQL oracle.

holtWinters and alert .flapping() were pinned against reference-shaped
fixtures; these tests close the self-confirmation loop by recomputing the
expected values INSIDE the test from first principles — a straight-Python
textbook Holt fit chosen by exhaustive grid search, and the reference's
published flapping state machine (/root/reference/alert.go:1115-1159
Point rule + :1240-1286 addEvent/percentChange/updateFlapping) simulated
step by step — and asserting the engine matches them, not its own output.
"""

import datetime as dt
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kapacitor_spark import Pipeline
from kapacitor_spark.sources.line_protocol import promote, replay_srpl

FIXTURES = "/root/reference/integrations/testdata"


# --------------------------------------------------------------------- #
# Holt-Winters: textbook Holt linear trend + exhaustive grid search
# --------------------------------------------------------------------- #

def _holt_sse_forecast(y, alpha, beta, h):
    """Textbook Holt linear-trend recursion (the published equations the
    engine's docstring cites), written independently of
    operators/holt_winters.py: level/trend init from the first two points,
    one-step-ahead SSE, h-step forecast level + k*trend."""
    level, trend = y[0], y[1] - y[0]
    sse = 0.0
    for v in y:
        pred = level + trend
        sse += (v - pred) ** 2
        new_level = alpha * v + (1 - alpha) * (level + trend)
        trend = beta * (new_level - level) + (1 - beta) * trend
        level = new_level
    return sse, [level + k * trend for k in range(1, h + 1)]


def test_holt_winters_matches_grid_search_fit(spark):
    """The engine's Nelder-Mead fit must land on (within float noise of)
    the SSE-optimal parameters an exhaustive 101x101 grid finds, and its
    forecasts must equal the grid-optimal textbook forecast — an oracle
    the engine had no hand in producing."""
    raw = replay_srpl(spark, f"{FIXTURES}/TestStream_HoltWinters.srpl")
    pk = promote(raw, "packets", float_fields=["value"], tag_cols=["host"]).filter(
        "value IS NOT NULL"
    )
    rows = sorted(
        pk.filter("host='serverA' AND time < '1971-01-01 00:00:10'")
        .select("time", "value")
        .collect()
    )
    y = np.array([r["value"] for r in rows])
    assert len(y) == 10

    best_sse, best_fc = None, None
    for a in np.linspace(0.0, 1.0, 101):
        for b in np.linspace(0.0, 1.0, 101):
            sse, fc = _holt_sse_forecast(y, a, b, 3)
            if best_sse is None or sse < best_sse:
                best_sse, best_fc = sse, fc

    out = (
        Pipeline.from_df(pk, time_col="time", dims=("host",))
        .where("host = 'serverA' AND time < '1971-01-01 00:00:10'")
        .holt_winters("value", h=3, m=0, interval="1s", as_="hw")
        .result()
        .orderBy("time")
        .collect()
    )
    got = [r["hw"] for r in out]
    assert len(got) == 3
    for g, e in zip(got, best_fc):
        assert g == pytest.approx(e, rel=1e-6)


# --------------------------------------------------------------------- #
# flapping: the reference state machine simulated from alert.go
# --------------------------------------------------------------------- #

MAX_WEIGHT, WEIGHT_DIFF = 1.2, 1.5  # alert.go:55-59


def _percent_change(hist, idx):
    """alert.go:1251-1272 verbatim semantics: weighted fraction of
    adjacent level changes around the ring, newest weighted most."""
    l = len(hist)
    changes = 0.0
    w = MAX_WEIGHT / WEIGHT_DIFF
    step = (MAX_WEIGHT - w) / float(l - 1)
    for i in range(l - 1):
        c = (i + idx) % l
        p = c - 1 if c - 1 >= 0 else l - 1
        if hist[c] != hist[p]:
            changes += w
        w += step
    return changes / float(l - 1)


def _simulate_flapping(series, level_of, low, high, history=21):
    """The Point rule (alert.go:1115-1159): addEvent (ring append +
    updateFlapping hysteresis), suppress while flapping, then fire on
    non-OK or recovery. Returns [(time, level_int)] of emitted events."""
    hist = [0] * history
    idx = 0
    flapping = False
    events = []
    for t, v in series:
        lvl = level_of(v)
        changed = hist[idx] != lvl
        idx = (idx + 1) % history
        hist[idx] = lvl
        p = _percent_change(hist, idx)
        if flapping and p < low:
            flapping = False
        elif not flapping and p > high:
            flapping = True
        if flapping:
            continue
        if lvl != 0 or changed:
            events.append((t, lvl))
    return events


_LVL_NAME = {0: "OK", 1: "INFO", 2: "WARNING", 3: "CRITICAL"}


def _level_of(v):
    if v < 93:
        return 3
    if v < 94:
        return 2
    if v < 95:
        return 1
    return 0


def test_flapping_fixture_matches_simulation(spark):
    """TestStream_AlertFlapping: the engine's emitted (time, level)
    sequence equals the in-test simulation of the reference state machine
    — and both equal the reference's asserted 9 POSTs."""
    raw = replay_srpl(spark, f"{FIXTURES}/TestStream_AlertFlapping.srpl")
    cpu = promote(raw, "cpu", float_fields=["value"], tag_cols=["host"])
    series = [
        (r["time"], r["value"])
        for r in sorted(cpu.filter("host='serverA'").select("time", "value").collect())
    ]
    expected = _simulate_flapping(series, _level_of, 0.25, 0.50)
    assert len(expected) == 9  # streamer_test.go:11397 requestCount

    got = (
        Pipeline.from_df(cpu, time_col="time", dims=("host",))
        .where("host = 'serverA'")
        .alert(
            info="value < 95", warn="value < 94", crit="value < 93",
            flapping=(0.25, 0.50), history=21, events_only=True,
        )
        .result()
        .orderBy("time")
        .collect()
    )
    assert [(r["time"], r["level"]) for r in got] == [
        (t, _LVL_NAME[l]) for t, l in expected
    ]


def test_flapping_hysteresis_long_series_matches_simulation(spark):
    """A 120-point synthetic series that oscillates hard enough to TRIP
    flapping, then settles so the weighted change fraction decays below
    the low threshold and firing RESUMES — both hysteresis directions,
    engine vs simulation, event for event."""
    t0 = dt.datetime(2024, 1, 1)
    vals = []
    for i in range(60):  # violent oscillation: OK <-> CRITICAL
        vals.append(97.0 if i % 2 == 0 else 92.0)
    vals.extend([92.0] * 60)  # long steady CRITICAL: pct decays, resumes
    series = [(t0 + dt.timedelta(seconds=i), v) for i, v in enumerate(vals)]

    expected = _simulate_flapping(series, _level_of, 0.25, 0.50)
    # sanity on the scenario itself: suppression kicked in (fewer events
    # than points) and firing resumed inside the steady tail
    assert 0 < len(expected) < len(series)
    assert any(t >= t0 + dt.timedelta(seconds=60) for t, _ in expected)

    df = spark.createDataFrame(
        [(t, "serverA", v) for t, v in series], "time timestamp, host string, value double"
    )
    got = (
        Pipeline.from_df(df, time_col="time", dims=("host",))
        .alert(
            info="value < 95", warn="value < 94", crit="value < 93",
            flapping=(0.25, 0.50), history=21, events_only=True,
        )
        .result()
        .orderBy("time")
        .collect()
    )
    assert [(r["time"], r["level"]) for r in got] == [
        (t, _LVL_NAME[l]) for t, l in expected
    ]


# --------------------------------------------------------------------- #
# level resets: determineLevel simulated from alert.go
# --------------------------------------------------------------------- #


def _simulate_resets(series, levels, resets):
    """determineLevel + findFirstMatchLevel (alert.go:915-950), point by
    point from the previous point's level: a level at or above the
    current one that matches wins; else the current level HOLDS while its
    reset lambda is false; else the first lower level that matches, else
    OK. ``levels``/``resets`` map level int → predicate on the value.
    Returns [(time, level_int)] for every point."""
    def first_match(start, stop, v):
        for l in range(start, max(stop, 0), -1):
            if l in levels and levels[l](v):
                return l
        return None

    cur, out = 0, []
    for t, v in series:
        new = first_match(3, cur - 1, v)
        if new is None:
            if cur in resets and not resets[cur](v):
                new = cur
            else:
                new = first_match(cur, 0, v) or 0
        out.append((t, new))
        cur = new
    return out


def test_reset_hysteresis_matches_simulation(spark):
    """Batch Pipeline.alert with info/warn/crit resets equals the
    determineLevel simulation event for event — every point without a
    transition filter, and the transitions under stateChangesOnly — on a
    series where each level is held by its reset and then released."""
    t0 = dt.datetime(2024, 1, 1)
    vals = [45, 30, 5, 65, 50, 15, 85, 75, 65, 45, 50, 15, 45, 65, 90, 45, 8, 95]
    hosts = {"a": vals, "b": vals[::-1]}
    levels = {1: lambda v: v > 40, 2: lambda v: v > 60, 3: lambda v: v > 80}
    resets = {1: lambda v: v < 10, 2: lambda v: v < 20, 3: lambda v: v < 70}
    sims = {
        h: _simulate_resets(
            [(t0 + dt.timedelta(seconds=i), v) for i, v in enumerate(vs)],
            levels, resets,
        )
        for h, vs in hosts.items()
    }
    # the scenario holds every level past its own predicate, and releases
    # every level
    seq = [l for _, l in sims["a"]]
    held = {l for v, l in zip(vals, seq) if l and not levels[l](v)}
    released = {p for p, l in zip(seq, seq[1:]) if l < p}
    assert held == released == {1, 2, 3}

    df = spark.createDataFrame(
        [
            (t0 + dt.timedelta(seconds=i), h, float(v))
            for h, vs in hosts.items() for i, v in enumerate(vs)
        ],
        "time timestamp, host string, value double",
    )
    p = Pipeline.from_df(df, time_col="time", dims=("host",))
    for sco in (False, True):
        got = p.alert(
            info="value > 40", warn="value > 60", crit="value > 80",
            info_reset="value < 10", warn_reset="value < 20",
            crit_reset="value < 70", state_changes_only=sco,
        ).result().collect()
        expected = []
        for h, sim in sims.items():
            prev = 0
            for t, l in sim:
                if not sco or l != prev:
                    expected.append((h, t, _LVL_NAME[l]))
                prev = l
        assert sorted((r["host"], r["time"], r["level"]) for r in got) == sorted(expected)

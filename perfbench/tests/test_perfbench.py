"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

Input determinism, metric-name validity, the re-derivations on inputs
small enough to check by hand, and a smoke run of each workload at a
tiny size (starts Spark, under a minute).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import inputs  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
SMALL_BACKFILL = inputs.BackfillSpec(points=20_000, hosts=12, span_s=86_400)


def _inputs(seed: int) -> dict:
    sched = inputs.live_schedule(seed, 3.0)
    return {
        "live": sched,
        "lines": inputs.live_lines(sched.iloc[:500], 1_700_000_000_000_000_000),
        "fanout": inputs.fanout_inputs(seed),
        "tasks": inputs.fanout_tasks(seed, 40),
        "backfill": inputs.backfill_history(seed, SMALL_BACKFILL),
    }


def test_same_seed_gives_identical_inputs():
    a, b = _inputs(7), _inputs(7)
    assert a["lines"] == b["lines"]
    assert a["tasks"] == b["tasks"]
    for k in ("live", "backfill"):
        assert a[k].to_csv(index=False) == b[k].to_csv(index=False)
    for x, y in zip(a["fanout"], b["fanout"]):
        assert x.to_csv(index=False) == y.to_csv(index=False)


def test_other_seed_gives_other_inputs_of_same_shape():
    a, b = _inputs(7), _inputs(8)
    for k in ("live", "backfill"):
        assert inputs.fingerprint(a[k]) != inputs.fingerprint(b[k])
        assert a[k].shape == b[k].shape
    assert inputs.fingerprint(a["fanout"]) != inputs.fingerprint(b["fanout"])
    assert a["tasks"] != b["tasks"]


def test_inputs_have_distinct_times_per_series_and_cross_thresholds():
    live = inputs.live_schedule(3, 5.0)
    assert live["offset_ns"].is_unique
    assert live["value"].between(inputs.BAND_LO, inputs.BAND_HI).all()
    lv = oracle.levels(live["value"].to_numpy())
    assert {"OK", "WARNING", "CRITICAL"} <= set(lv)
    hist = inputs.backfill_history(3, SMALL_BACKFILL)
    assert not hist.duplicated(["host", "measurement", "time"]).any()


def test_metric_names_and_units_are_valid_and_match_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.PER_LAYER
    names = [w["name"] for w in spec["workloads"]] + list(e2e) + list(layer)
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    for u in [*e2e.values(), *layer.values()]:
        assert UNIT.match(u), u
    assert "setup_s" in e2e
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    assert all(w["name"] in __import__("workloads").WORKLOADS for w in spec["workloads"])


def test_state_changes_replay_by_hand():
    sched = pd.DataFrame({
        "offset_ns": [1000, 2000, 3000, 4000, 5000, 6000],
        "host": [0, 1, 0, 0, 1, 0],
        "value": [85.0, 70.0, 95.0, 96.0, 81.0, 50.0],
    })
    got = oracle.state_changes(sched, 0)
    assert got == [
        ("h00000", 1, "WARNING"), ("h00000", 3, "CRITICAL"), ("h00000", 6, "OK"),
        ("h00001", 5, "WARNING"),
    ]


def test_count_mismatches_is_a_multiset_difference():
    assert oracle.count_mismatches([1, 2, 2], [2, 2, 3]) == 2
    assert oracle.compare_rows([("a", 1.0000001)], [("a", 1.0000002)]) == 0


def test_percentile_is_nearest_rank():
    xs = list(range(1, 11))
    assert run.percentile(xs, 50) == 5
    assert run.percentile(xs, 90) == 9
    assert run.percentile([4.0], 99) == 4.0


@pytest.fixture()
def ctx_factory(tmp_path):
    made = []

    def make(trace: int, seconds: float):
        args = argparse.Namespace(seed=5, seconds=seconds, cores=2, trace=trace)
        work = str(tmp_path / f"w{len(made)}")
        os.makedirs(work)
        run._isolate(work, args.cores)
        ctx = run.Context(args, work)
        made.append(ctx)
        return ctx

    yield make
    for c in made:
        c.close()


def _smoke(wl) -> dict:
    wl.prepare()
    wl.setup()
    try:
        res = wl.measure()
        wl.teardown()
        assert wl.verify(res) == 0
        assert res["attempted"] >= 1 and res["latencies_ms"]
        return wl.layers(res)
    finally:
        wl.teardown()
        wl.cleanup()
        wl.ctx.close()


def test_tiny_runs_of_every_workload_are_correct_and_traced(ctx_factory):
    import workloads

    fan = workloads.TaskFanout(ctx_factory(trace=1, seconds=1.0))
    fan.spec = inputs.FanoutSpec(input_sets=2, points=200, hosts=4)
    layers = _smoke(fan)
    assert layers["server.define_ms"] > 0 and layers["spark.plan_ms"] > 0

    bf = workloads.Backfill(ctx_factory(trace=1, seconds=0.1))
    bf.spec = SMALL_BACKFILL
    layers = _smoke(bf)
    assert layers["spark.jobs"] > 0 and layers["tick.build_ms"] > 0

    live = workloads.LiveAlert(ctx_factory(trace=1, seconds=2.0))
    live.spec = inputs.LiveSpec(hosts=20, rate=100, warmup_s=1.0)
    layers = _smoke(live)
    assert layers["stream.trigger_ms"] > 0
    assert layers["sources.scan_passes"] >= 1.0
    assert set(layers) <= set(run.PER_LAYER)

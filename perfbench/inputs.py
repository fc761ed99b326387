"""Seeded input generation for every workload.

Everything the program under test sees is made here from the workload
seed: the same seed gives byte-identical inputs, another seed gives
different values with the same sizes and shape. Nothing here imports
Spark, so the open-loop generator process and the tests stay light.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

import numpy as np
import pandas as pd

# Alert thresholds shared by the live task, the backfill alert task and
# their re-derivations: strict ``>`` as in the TICKscript lambdas.
CRIT = 90.0
WARN = 80.0
# Random-walk values are folded into this band so every host keeps
# crossing the thresholds for the whole run.
BAND_LO, BAND_HI = 60.0, 100.0


@dataclass(frozen=True)
class LiveSpec:
    """Open-loop ingest: ``rate`` points/s over ``hosts`` Zipf-skewed
    series, written in one spool file per ``tick_s``; the first
    ``warmup_s`` seconds are excluded from latency samples."""

    hosts: int = 1000
    rate: int = 500
    tick_s: float = 0.25
    warmup_s: float = 2.0
    zipf_s: float = 1.5
    step_sigma: float = 2.5


@dataclass(frozen=True)
class FanoutSpec:
    """Closed loop: tasks instantiated from four templates over
    ``input_sets`` small tables of ``points`` rows each."""

    input_sets: int = 6
    points: int = 2000
    hosts: int = 20
    span_s: int = 600


@dataclass(frozen=True)
class BackfillSpec:
    """Stored history: ``points`` rows of two measurements over
    ``hosts`` series whose sizes follow a Zipf law."""

    points: int = 1_500_000
    hosts: int = 400
    span_s: int = 7 * 24 * 3600
    zipf_s: float = 1.2
    window_s: int = 600
    moving_avg: int = 5


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def _folded_walk(rng: np.random.Generator, host: np.ndarray, n_hosts: int,
                 sigma: float) -> np.ndarray:
    """Per-host Gaussian random walk (in point order within each host),
    folded into [BAND_LO, BAND_HI] and rounded to 4 decimals so the
    line-protocol text and the re-derivations read the same doubles."""
    steps = rng.normal(0.0, sigma, host.size)
    start = rng.uniform(0.0, 2 * (BAND_HI - BAND_LO), n_hosts)
    order = np.argsort(host, kind="stable")
    hs = host[order]
    cs = np.cumsum(steps[order])
    first = np.r_[0, np.flatnonzero(np.diff(hs)) + 1]
    base = np.repeat(cs[first] - steps[order][first], np.diff(np.r_[first, hs.size]))
    walk = np.empty(host.size)
    walk[order] = cs - base + start[hs]
    width = BAND_HI - BAND_LO
    folded = np.abs(np.mod(walk, 2 * width) - width)
    return np.round(BAND_LO + width - folded, 4)


def host_name(i) -> str:
    return f"h{int(i):05d}"


def live_schedule(seed: int, seconds: float, spec: LiveSpec = LiveSpec()) -> pd.DataFrame:
    """Every point the generator will write: ``offset_ns`` (due time
    relative to the generator's start), ``host`` and ``value``. Due
    times are distinct, so each host's points are totally ordered."""
    rng = np.random.default_rng([seed, 1])
    n = int(round(spec.rate * (spec.warmup_s + seconds)))
    host = rng.choice(spec.hosts, size=n, p=_zipf_weights(spec.hosts, spec.zipf_s))
    value = _folded_walk(rng, host, spec.hosts, spec.step_sigma)
    offset_ns = (np.arange(1, n + 1, dtype=np.int64) * 1_000_000_000) // spec.rate
    return pd.DataFrame({"offset_ns": offset_ns, "host": host.astype(np.int32),
                         "value": value})


def live_lines(sched: pd.DataFrame, t0_ns: int) -> list[str]:
    """Line-protocol text for a slice of the schedule, stamped with each
    point's due time as its creation time."""
    ts = sched["offset_ns"].to_numpy() + t0_ns
    return [
        f"cpu,host={host_name(h)} value={v:.4f} {t}"
        for h, v, t in zip(sched["host"].to_numpy(), sched["value"].to_numpy(), ts)
    ]


def fanout_inputs(seed: int, spec: FanoutSpec = FanoutSpec()) -> list[pd.DataFrame]:
    """``input_sets`` tables with columns time (µs epoch), host,
    measurement ('cpu' or 'mem'), value — small, like the reference
    harness's P-point writes."""
    out = []
    for k in range(spec.input_sets):
        rng = np.random.default_rng([seed, 2, k])
        n = spec.points
        host = rng.integers(0, spec.hosts, n)
        value = _folded_walk(rng, host, spec.hosts, 3.0)
        # distinct µs times within each host (dedup by sorting a sample
        # drawn without replacement from the span)
        t = np.sort(rng.choice(spec.span_s * 1000, n, replace=False)) * 1000
        meas = np.where(rng.random(n) < 0.5, "cpu", "mem")
        out.append(pd.DataFrame({
            "time": t.astype(np.int64) + 1_700_000_000_000_000,
            "host": [host_name(h) for h in host],
            "measurement": meas,
            "value": value,
        }))
    return out


TEMPLATES = {
    "filter": """
var thr = 85.0
stream
    |from()
        .measurement('cpu')
        .where(lambda: "value" > thr)
    |httpOut('out')
""",
    "window_count": """
var period = 60s
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |window()
        .period(period)
        .every(period)
    |count('value')
        .as('n')
    |httpOut('out')
""",
    "alert": """
var crit = 90.0
var warn = 80.0
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |alert()
        .crit(lambda: "value" > crit)
        .warn(lambda: "value" > warn)
        .stateChangesOnly()
    |httpOut('out')
""",
    "join": """
var period = 60s
var c = stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |window()
        .period(period)
        .every(period)
    |max('value')
        .as('v')
var m = stream
    |from()
        .measurement('mem')
        .groupBy('host')
    |window()
        .period(period)
        .every(period)
    |max('value')
        .as('v')
c
    |join(m)
        .as('cpu', 'mem')
    |httpOut('out')
""",
}


def fanout_tasks(seed: int, n: int, spec: FanoutSpec = FanoutSpec()) -> list[dict]:
    """The closed loop's task sequence: template, seeded vars and the
    input set each task runs over."""
    rng = np.random.default_rng([seed, 3])
    kinds = list(TEMPLATES)
    tasks = []
    for i in range(n):
        kind = kinds[i % len(kinds)]
        if kind == "filter":
            tv = {"thr": round(float(rng.uniform(70, 95)), 2)}
        elif kind == "alert":
            warn = round(float(rng.uniform(70, 85)), 2)
            tv = {"warn": warn, "crit": round(warn + float(rng.uniform(3, 10)), 2)}
        else:
            tv = {"period": f"{int(rng.choice([30, 60, 120, 300]))}s"}
        tasks.append({"id": f"t{i:05d}", "kind": kind, "vars": tv,
                      "input": int(rng.integers(0, spec.input_sets))})
    return tasks


def backfill_history(seed: int, spec: BackfillSpec = BackfillSpec()) -> pd.DataFrame:
    """Columns time (µs epoch), host, measurement, value; host sizes are
    Zipf-skewed; times are distinct within each (host, measurement)."""
    rng = np.random.default_rng([seed, 4])
    n = spec.points
    host = rng.choice(spec.hosts, size=n, p=_zipf_weights(spec.hosts, spec.zipf_s))
    value = _folded_walk(rng, host, spec.hosts, 1.5)
    t = np.sort(rng.choice(spec.span_s * 1000, n, replace=False)) * 1000
    meas = np.where(rng.random(n) < 0.5, "cpu", "mem")
    names = np.array([host_name(h) for h in range(spec.hosts)])
    return pd.DataFrame({
        "time": t.astype(np.int64) + 1_700_000_000_000_000,
        "host": names[host],
        "measurement": meas,
        "value": value,
    })


def fingerprint(obj) -> str:
    """Stable digest of generated inputs, for the run record."""
    import hashlib

    h = hashlib.sha256()
    if isinstance(obj, pd.DataFrame):
        h.update(pd.util.hash_pandas_object(obj, index=False).to_numpy().tobytes())
        h.update(json.dumps(list(obj.columns)).encode())
    elif isinstance(obj, list) and obj and isinstance(obj[0], pd.DataFrame):
        for df in obj:
            h.update(fingerprint(df).encode())
    else:
        h.update(json.dumps(obj, sort_keys=True).encode())
    return h.hexdigest()[:16]

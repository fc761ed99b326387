"""Independent re-derivations of every workload's expected output.

They read only the generated inputs — never the program's plans or
helpers: pandas replays the live alert state machine, DuckDB SQL
re-derives the batch tasks.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd

from inputs import CRIT, WARN, host_name


def levels(values: np.ndarray, crit: float = CRIT, warn: float = WARN) -> np.ndarray:
    return np.where(values > crit, "CRITICAL", np.where(values > warn, "WARNING", "OK"))


def state_changes(sched: pd.DataFrame, t0_ns: int) -> list[tuple]:
    """stateChangesOnly per host: a point alerts when its level differs
    from the host's previous level (the first point compares with OK).
    Returns (host, time_us, level) for every alert."""
    df = sched.assign(level=levels(sched["value"].to_numpy()))
    df = df.sort_values(["host", "offset_ns"], kind="stable")
    prev = df.groupby("host")["level"].shift(1).fillna("OK")
    hit = df[df["level"] != prev]
    t_us = (hit["offset_ns"].to_numpy() + t0_ns) // 1000
    return [(host_name(h), int(t), lv)
            for h, t, lv in zip(hit["host"].to_numpy(), t_us, hit["level"].to_numpy())]


def count_mismatches(expected, got) -> int:
    """Rows missing from ``got`` plus rows it has in excess (multiset)."""
    e, g = Counter(expected), Counter(got)
    return sum(((e - g) + (g - e)).values())


def _rounded(rows, ndigits: int = 6) -> list[tuple]:
    return [tuple(round(v, ndigits) if isinstance(v, float) else v for v in r)
            for r in rows]


def compare_rows(expected, got, ndigits: int = 6) -> int:
    """Mismatch count between two row lists, floats compared after
    rounding to ``ndigits`` (sums may differ in the last bits)."""
    return count_mismatches(_rounded(expected, ndigits), _rounded(got, ndigits))


def _dur_us(d: str) -> int:
    units = {"s": 1, "m": 60, "h": 3600}
    return int(d[:-1]) * units[d[-1]] * 1_000_000


def fanout_sql(task: dict, table: str) -> str:
    """DuckDB re-derivation of one fan-out task over its input table
    (time in epoch µs). Column order follows the task's output."""
    v = task["vars"]
    cpu = f"(SELECT * FROM {table} WHERE measurement = 'cpu')"
    if task["kind"] == "filter":
        return f"SELECT time, host, value FROM {cpu} WHERE value > {v['thr']}"
    if task["kind"] == "window_count":
        p = _dur_us(v["period"])
        return (f"SELECT host, count(value) AS n, time // {p} * {p} AS time "
                f"FROM {cpu} GROUP BY host, time // {p}")
    if task["kind"] == "alert":
        return f"""
            SELECT time, host, value, level FROM (
              SELECT time, host, value, level,
                     coalesce(lag(level) OVER (PARTITION BY host ORDER BY time), 'OK') AS prev
              FROM (SELECT *, CASE WHEN value > {v['crit']} THEN 'CRITICAL'
                                   WHEN value > {v['warn']} THEN 'WARNING'
                                   ELSE 'OK' END AS level FROM {cpu}))
            WHERE level <> prev"""
    if task["kind"] == "join":
        p = _dur_us(v["period"])
        win = ("(SELECT host, time // {p} * {p} AS time, max(value) AS v FROM {t} "
               "WHERE measurement = '{m}' GROUP BY 1, 2)")
        c = win.format(p=p, t=table, m="cpu")
        m = win.format(p=p, t=table, m="mem")
        return (f"SELECT c.host, c.v, m.v, c.time FROM {c} c "
                f"JOIN {m} m ON c.host = m.host AND c.time = m.time")
    raise ValueError(task["kind"])


def backfill_sql(name: str, table: str, spec) -> tuple[str, list[str]]:
    """DuckDB re-derivation of one backfill task and the key columns
    its rows are matched on."""
    w = spec.window_s * 1_000_000
    if name == "window_alert":
        return f"""
            SELECT time, host, value, level FROM (
              SELECT *, coalesce(lag(level) OVER (PARTITION BY host ORDER BY time), 'OK') AS prev
              FROM (SELECT *, CASE WHEN value > {CRIT} THEN 'CRITICAL'
                                   WHEN value > {WARN} THEN 'WARNING'
                                   ELSE 'OK' END AS level
                    FROM (SELECT host, time // {w} * {w} AS time, avg(value) AS value
                          FROM {table} WHERE measurement = 'cpu' GROUP BY 1, 2)))
            WHERE level <> prev""", ["host", "time"]
    if name == "join":
        win = ("(SELECT host, time // {w} * {w} AS time, max(value) AS v FROM {t} "
               "WHERE measurement = '{m}' GROUP BY 1, 2)")
        c = win.format(w=w, t=table, m="cpu")
        m = win.format(w=w, t=table, m="mem")
        return (f'SELECT c.host, c.v AS "cpu.v", m.v AS "mem.v", c.time FROM {c} c '
                f"JOIN {m} m ON c.host = m.host AND c.time = m.time"), ["host", "time"]
    if name == "derivative_ma":
        k = spec.moving_avg
        return f"""
            SELECT time, host, ma FROM (
              SELECT time, host,
                     avg(d) OVER (PARTITION BY host ORDER BY time
                                  ROWS BETWEEN {k - 1} PRECEDING AND CURRENT ROW) AS ma,
                     row_number() OVER (PARTITION BY host ORDER BY time) AS rn
              FROM (SELECT time, host,
                           (value - lag(value) OVER w) /
                           ((time - lag(time) OVER w) / 1e6) AS d
                    FROM {table} WHERE measurement = 'mem'
                    WINDOW w AS (PARTITION BY host ORDER BY time))
              WHERE d IS NOT NULL)
            WHERE rn >= {k}""", ["host", "time"]
    raise ValueError(name)


def compare_frames(expected: pd.DataFrame, got: pd.DataFrame, key: list[str],
                   rtol: float = 1e-9) -> int:
    """Rows of ``expected`` without an equal row in ``got`` (matched on
    ``key``; floats within ``rtol``), plus rows in excess."""
    cols = list(expected.columns)
    missing_cols = [c for c in cols if c not in got.columns]
    if missing_cols:
        return len(expected) + len(got)
    m = expected.merge(got[cols], on=key, how="outer", suffixes=("_e", "_g"),
                       indicator=True)
    bad = int((m["_merge"] != "both").sum())
    both = m[m["_merge"] == "both"]
    for c in cols:
        if c in key:
            continue
        e, g = both[f"{c}_e"], both[f"{c}_g"]
        if e.dtype.kind == "f" or g.dtype.kind == "f":
            ok = np.isclose(e.astype(float), g.astype(float), rtol=rtol, atol=0.0)
        else:
            ok = (e == g).to_numpy()
        bad += int((~ok).sum())
    return bad

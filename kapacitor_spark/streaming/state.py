"""Per-group alert state machine (SURVEY §2.10) — the sequential core shared
by batch mode (applyInPandas over complete groups) and streaming mode
(applyInPandasWithState across micro-batches). ``AlertStage`` is the one
alert stage both run.

Reference semantics (/root/reference/alert.go):
* level per point = first matching of CRITICAL > WARNING > INFO else OK
  (determineLevel, alert.go:915-950), or the reset-hysteresis walk
  (determine_levels) when any level has a reset lambda.
* stateChangesOnly: emit only transitions; initial state OK
  (alert.go:989-1290; pipeline/alert.go:549).
* flapping detection (alert.go:1252-1286): ring of the last ``history``
  levels (default 21, pipeline/alert.go DefaultFlapHistory); weighted
  fraction of adjacent changes, newest weighted 1.5x the oldest
  (weightDiff=1.5, maxWeight=1.2, alert.go:55-59); hysteresis: start
  suppressing when pct > high, stop when pct < low. Alerts are suppressed
  while flapping.
* noRecoveries (pipeline/alert.go:500): drop transitions INTO OK.

The walk is O(n) per group in plain Python over numpy arrays — it runs once
per group per (micro)batch on Arrow-transferred data, not per point through
an interpreter.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField

from kapacitor_spark.durations import parse_duration

LEVELS = ("OK", "INFO", "WARNING", "CRITICAL")
LEVEL_IDX = {n: i for i, n in enumerate(LEVELS)}

MAX_WEIGHT = 1.2   # alert.go:59
WEIGHT_DIFF = 1.5  # alert.go:56


def percent_change(history: list[int], idx: int) -> float:
    """Weighted fraction of adjacent level changes in the ring buffer
    (alert.go:1251-1272), walked oldest→newest from idx."""
    l = len(history)
    if l < 2:
        return 0.0
    changes = 0.0
    weight = MAX_WEIGHT / WEIGHT_DIFF
    step = (MAX_WEIGHT - weight) / float(l - 1)
    for i in range(l - 1):
        c = (i + idx) % l
        p = c - 1 if c - 1 >= 0 else l - 1
        if history[c] != history[p]:
            changes += weight
        weight += step
    return changes / float(l - 1)


def determine_levels(
    m: dict[int, np.ndarray],
    r: dict[int, np.ndarray],
    defined: set[int],
    has_reset: dict[int, bool],
    cur: int,
) -> tuple[np.ndarray, int]:
    """Reset-hysteresis level determination (alert.go:915-950
    determineLevel + findFirstMatchLevel) over PRE-EVALUATED predicate
    arrays: ``m[l]`` = level-l lambda matched, ``r[l]`` = level-l reset
    lambda result (object array, None where no reset applies). A level
    with a reset lambda HOLDS until the reset passes. ``cur`` seeds the
    walk — 0 for a complete batch group, the carried state level across
    streaming micro-batches. Returns (level indices, final cur)."""
    n = len(next(iter(m.values()))) if m else 0
    out = np.zeros(n, dtype=np.int64)

    def first_match(i, start, stop):
        # findFirstMatchLevel (alert.go:932-948): l in (stop, start]
        for l in range(start, max(stop, 0), -1):
            if l in defined and m[l][i]:
                return l, True
        return 0, False

    for i in range(n):
        new, found = first_match(i, 3, cur - 1)
        if not found:
            rv = r[cur][i] if cur else None
            if cur and has_reset[cur] and rv is not None and not bool(rv):
                new = cur  # reset not passed: hold the level
            else:
                new, _ = first_match(i, cur, 0)
        cur = new
        out[i] = new
    return out, cur


def new_state(history_len: int = 21) -> dict:
    return {
        "last_level": 0,
        "history": [0] * history_len,
        "idx": 0,
        "flapping": False,
    }


def walk_levels(
    levels: np.ndarray,
    state: dict,
    state_changes_only: bool = True,
    no_recoveries: bool = False,
    flap_low: float | None = None,
    flap_high: float | None = None,
    events_only: bool = False,
    times: np.ndarray | None = None,
    max_interval_us: int | None = None,
) -> tuple[np.ndarray, dict]:
    """Run the state machine over an event-time-ordered level sequence
    (ints per LEVEL_IDX). Returns (emit_mask, new_state).

    ``events_only`` applies the reference's exact STREAM trigger rule
    (alert.go:1115-1159 Point): an OK point fires only as a RECOVERY
    (level changed), steady OK fires nothing; while flapping, EVERY event
    including recoveries is suppressed (alert.go:1124 returns before the
    level check — the batch path differs and lets recoveries through).

    ``max_interval_us`` + ``times`` (int64 event-time µs): the
    stateChangesOnly(maxInterval) expiry (alert.go:1288-1290
    updateExpired + pipeline/alert.go:549) — a steady non-OK level
    re-fires once ``maxInterval`` has passed since the last triggered
    event (lastTriggered updates per alert.go:1213-1214 whenever the
    fire rule passes, including recoveries suppressed by noRecoveries)."""
    use_flapping = flap_low is not None and flap_high is not None
    last = state["last_level"]
    history = list(state["history"])
    idx = state["idx"]
    flapping = state["flapping"]
    last_trig = state.get("last_triggered")
    l = len(history)
    emit = np.zeros(len(levels), dtype=bool)
    for i, lv in enumerate(levels):
        lv = int(lv)
        changed = lv != last
        if use_flapping:
            idx = (idx + 1) % l
            history[idx] = lv
            p = percent_change(history, idx)
            if flapping and p < flap_low:
                flapping = False
            elif not flapping and p > flap_high:
                flapping = True
        expired = (
            not changed
            and max_interval_us is not None
            and times is not None
            and last_trig is not None
            and int(times[i]) - last_trig >= max_interval_us
        )
        if state_changes_only:
            # Expiry re-fires only non-OK levels: the reference's trigger
            # gate (alert.go:1128) is `level != OK || changed`, so a steady
            # OK past maxInterval never re-emits.
            keep = changed or (expired and lv != 0)
        elif events_only:
            keep = lv != 0 or changed
        else:
            keep = True
        if no_recoveries and lv == 0 and changed:
            keep = False
        if use_flapping and flapping:
            keep = False
        emit[i] = keep
        suppressed = (use_flapping and flapping) or (
            state_changes_only and not changed and not expired
        )
        if times is not None and not suppressed and (lv != 0 or changed):
            last_trig = int(times[i])
        last = lv
    return emit, {
        "last_level": last,
        "history": history,
        "idx": idx,
        "flapping": flapping,
        "last_triggered": last_trig,
    }


def episode_durations(lvs, tms_us, last_level: int, ep_start: int):
    """The .durationField derivation (alert.go event Duration): ns
    since the OK→non-OK transition; a recovery row carries the ended
    episode's length; steady OK is 0. ``last_level`` is the PRE-walk
    carry, ``ep_start`` the carried episode-start µs (-1 = none).
    Returns (durations int64 ndarray, new ep_start). The batch pure-column
    route derives the identical value from window expressions."""
    lv_arr = np.asarray(lvs, dtype=np.int64)
    tms_us = np.asarray(tms_us, dtype=np.int64)
    prev = np.concatenate(([last_level], lv_arr[:-1]))
    starts = (lv_arr != 0) & (prev == 0)
    sidx = np.where(starts, np.arange(len(lv_arr)), -1)
    np.maximum.accumulate(sidx, out=sidx)
    ep = np.where(sidx >= 0, tms_us[np.clip(sidx, 0, None)], ep_start)
    in_ep = (lv_arr != 0) | (prev != 0)
    durs = np.where(
        in_ep & (ep >= 0), (tms_us - ep) * 1000, 0
    ).astype("int64")
    if len(ep):
        ep_start = int(ep[-1])
    return durs, ep_start


def alert_masks(df, preds: dict, resets: dict):
    """Evaluate level predicates (level 1..3 → SQL string, Column or None)
    declaratively into ``__m{l}`` columns and reset lambdas into nullable
    ``__r{l}`` columns. Returns (df, preds, resets) with each defined
    entry replaced by the reader ``f(rows) -> ndarray`` AlertStage takes."""
    def col(x):
        return F.expr(x) if isinstance(x, str) else x

    preds, resets = dict(preds), dict(resets)
    for l in (1, 2, 3):
        if preds[l] is not None:
            df = df.withColumn(f"__m{l}", F.coalesce(col(preds[l]), F.lit(False)))
            preds[l] = lambda rows, c=f"__m{l}": rows[c].to_numpy(dtype=bool)
        if resets[l] is not None:
            df = df.withColumn(f"__r{l}", col(resets[l]).cast("boolean"))
            resets[l] = lambda rows, c=f"__r{l}": rows[c].to_numpy(dtype=object)
    return df, preds, resets


_LEVEL_NAMES = np.array(LEVELS, dtype=object)


class AlertStage:
    """The alert machine (the reference's alert.go:989-1290) that batch
    ``Pipeline.alert`` and every alerting stream operator run: levels
    from predicate masks — first match of CRITICAL > WARNING > INFO, or
    the reset-hysteresis walk (determine_levels) when any reset is set —
    then the .durationField episode clock and walk_levels. Called as
    ``stage(carry, rows) -> (carry, emitted rows + level [+ duration])``
    on event-time-ordered rows; the carry is (walk state, episode-start
    µs), seeded by ``init``.

    ``preds``/``resets`` map level (1=INFO, 2=WARNING, 3=CRITICAL) to a
    TICK lambda source string (compiled to pandas), a callable
    ``f(rows) -> ndarray``, or None."""

    def __init__(
        self, time_col, preds, resets, *, state_changes_only, events_only,
        max_interval, no_recoveries, flapping, history, duration_field,
    ):
        from kapacitor_spark.functions.lambdas import compile_lambda_pandas

        def lv(x):
            if isinstance(x, str):
                return compile_lambda_pandas(x, time_col)
            return x

        self.time_col = time_col
        self.preds = {l: lv(preds[l]) for l in (1, 2, 3)}
        self.resets = {l: lv(resets[l]) for l in (1, 2, 3)}
        self.defined = {l for l, f in self.preds.items() if f is not None}
        self.has_reset = {l: f is not None for l, f in self.resets.items()}
        self.use_resets = any(self.has_reset.values())
        self.mi_us = (
            round(parse_duration(max_interval) * 1_000_000)
            if max_interval is not None else None
        )
        flap_low, flap_high = flapping if flapping else (None, None)
        self.walk_kw = dict(
            state_changes_only=state_changes_only, no_recoveries=no_recoveries,
            events_only=events_only, flap_low=flap_low, flap_high=flap_high,
            max_interval_us=self.mi_us,
        )
        self.duration_field = duration_field
        self.fields = [StructField("level", StringType())] + (
            [StructField(duration_field, LongType())] if duration_field else []
        )
        self.init = (new_state(history), -1)

    def __call__(self, carry, rows: pd.DataFrame):
        if not len(rows):
            return carry, rows
        st, ep_start = carry
        n = len(rows)
        m = {
            l: f(rows) if f is not None else np.zeros(n, dtype=bool)
            for l, f in self.preds.items()
        }
        if self.use_resets:
            r = {
                l: np.asarray(f(rows), dtype=object) if f is not None
                else np.full(n, None, dtype=object)
                for l, f in self.resets.items()
            }
            lvs, _ = determine_levels(
                m, r, self.defined, self.has_reset, st["last_level"]
            )
        else:
            # first match of CRITICAL > WARNING > INFO (alert.go:915-950):
            # ascending, a higher level overrides
            lvs = np.zeros(n, dtype=np.int64)
            for l in sorted(self.defined):
                lvs = np.where(m[l], l, lvs)
        tms = rows[self.time_col].to_numpy(dtype="datetime64[us]").astype("int64")
        if self.duration_field is not None:
            # st["last_level"] is still the PRE-walk carry here
            durs, ep_start = episode_durations(
                lvs, tms, st["last_level"], ep_start
            )
            rows = rows.assign(**{self.duration_field: durs})
        emit, st = walk_levels(
            lvs, st, times=tms if self.mi_us is not None else None,
            **self.walk_kw,
        )
        rows = rows.assign(level=_LEVEL_NAMES[lvs])
        return (st, ep_start), rows.loc[emit]

"""Structured Streaming compile targets (SURVEY §2.8, build-plan step 8).

The reference runs every pipeline as a stream of per-point messages with
watermark barriers (/root/reference/edge/messages.go:880, barrier.go). The
Spark mapping:

* stream edge       = streaming DataFrame (``spark.readStream``)
* barrier().idle/period = ``withWatermark(time, delay)`` — late points are
  dropped natively (the reference drops points older than the last barrier,
  /root/reference/pipeline/barrier.go:13-18)
* window().period/every = ``F.window`` groupBy in append mode (emission on
  watermark passing window end ≈ emission on barrier,
  /root/reference/window.go:149-182)
* stateful per-group operators (alert stateChangesOnly/flapping,
  stateCount/stateDuration, count windows, and the wall-clock
  stats/deadman/barrier tickers) = one keyed-state kernel — the analog
  of the reference's per-group receivers + snapshots (edge/grouped.go,
  task.go:532-586); checkpointing replaces snapshot/restore.

Every keyed operator runs on ONE kernel, ``_keyed_scan``: per group it
sorts each micro-batch slice by event time and folds it through the
operator's ``step(carry, pdf)``. The carry is any picklable value, stored
pickled in a single ``BinaryType`` state column — operators never
declare their own state schema or encoding. The kernel also owns the
two timers: the event-time idle timeout (DeleteGroup) and the
processing-time timer the wall-clock operators (deadman_stream,
stats_stream, window_barrier_stream) fire through ``on_timer(carry,
key)``. Checkpoints written before this state layout (per-operator state
columns) cannot be resumed: Spark's state-schema check rejects them when
the query starts (``STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE``); start
from a fresh checkpoint.

The DECLARATIVE subset of Pipeline (where/eval/default/shift/union/
window_time+agg) works unchanged on streaming DataFrames — Spark plans it
incrementally. Only the ordered-window operators need the stateful forms
below, because event order across micro-batches requires keyed state.
"""

from __future__ import annotations

import pickle
import threading
from typing import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType, DoubleType, LongType, StringType, StructField, StructType,
    TimestampType,
)

from kapacitor_spark.durations import parse_duration, to_interval
from kapacitor_spark.streaming.state import AlertStage, alert_masks

__all__ = [
    "barrier",
    "join_stream",
    "window_count_stream",
    "alert_stream",
    "window_alert_stream",
    "window_count_alert_stream",
    "combine_stream",
    "sample_count_stream",
    "state_count_stream",
    "state_duration_stream",
    "change_detect_stream",
    "sigma_stream",
    "ordered_transform_stream",
    "autoscale_stream",
    "run_available_now",
    "http_out_stream",
    "deadman_stream",
    "stats_stream",
    "window_barrier_stream",
    "simhash_match_stream",
    "simhash_ingest_foreachbatch",
]


def barrier(df: DataFrame, time_col: str, delay: str | float) -> DataFrame:
    """barrier().idle(d)/.period(d) → event-time watermark
    (/root/reference/barrier.go:86-335). ``delay`` bounds state retention
    and drops late data, exactly the reference's barrier contract."""
    return df.withWatermark(time_col, to_interval(delay))


def _col(x) -> "F.Column":
    """SQL string or Column → Column."""
    return F.expr(x) if isinstance(x, str) else x


def _t_us(s: pd.Series) -> np.ndarray:
    """Event-time column → int64 epoch µs."""
    return s.to_numpy(dtype="datetime64[us]").astype("int64")


_CARRY_SCHEMA = StructType([StructField("carry", BinaryType())])

#: A step's or timer's output when it emits nothing (the kernel yields
#: only non-empty output).
_NO_ROWS = pd.DataFrame()


def _keyed_scan(
    df: DataFrame,
    time_col: str,
    dims: Sequence[str],
    tiebreak: Sequence[str],
    step: Callable,
    init,
    out_schema: StructType,
    idle_timeout: str | float | None = None,
    on_timer: Callable | None = None,
    timer_ms: int | None = None,
    ticker: bool = False,
    finish: Callable | None = None,
) -> DataFrame:
    """The keyed-state kernel every stateful stream operator runs on —
    the per-group receiver of the reference's edge/grouped.go, with the
    checkpoint as its snapshot/restore (task.go:532-586).

    Per group and micro-batch, each non-empty slice is stably sorted on
    ``(time_col, *tiebreak)`` and folded through ``step(carry, pdf) ->
    (carry, out_pdf)``; ``out_pdf``'s ``out_schema`` columns are emitted.
    A ``time_col`` of ``None`` folds the slices unsorted, for a step that
    ignores row order. Spark hands a large group's rows over in slices of
    at most ``maxRecordsPerBatch``, each sorted on its own; ``finish(carry,
    key) -> (carry, out_pdf)`` runs once after a call's last slice, for
    output that depends on all of the call's points. The carry starts as
    (a copy of) ``init`` and persists pickled in one BinaryType state
    column. Empty ``dims`` key every row on one synthetic constant — a
    single group, serial at this stage like the reference's ungrouped
    stream task.

    ``idle_timeout``: event-time DeleteGroup (see alert_stream) — the
    group's state is dropped once the watermark passes its last event
    time + ``idle_timeout``; requires an upstream watermark.

    ``on_timer``: a processing-time (wall-clock) timer instead — the
    reference's stats ticker and barriers (stats.go, barrier.go:86-335).
    It falls due ``timer_ms`` after the group's last call (idle rule:
    every call postpones it) or, with ``ticker``, every ``timer_ms``
    from the group's first point whatever the traffic (the absolute
    tick is pickled with the carry). When due, ``on_timer(carry, key) ->
    (carry, out_pdf)`` runs before the call's data, on a data call too:
    Spark never times out a key that has data in the batch. ``key``
    holds the real dims only; a ``None`` carry drops the group until its
    next point. The clock is ``GroupState.getCurrentProcessingTimeMs()``
    (one value per trigger); Spark clears a key's timer on every call,
    so the kernel re-arms it on every call."""
    if on_timer is not None and idle_timeout is not None:
        raise ValueError(
            "_keyed_scan: an event-time idle_timeout and a processing-time "
            "timer exclude each other"
        )
    timeout_ms = (
        round(parse_duration(idle_timeout) * 1000)
        if idle_timeout is not None else None
    )
    out_cols = [f.name for f in out_schema]
    sort_cols = [time_col, *tiebreak] if time_col is not None else None
    init_blob = pickle.dumps(init)

    def machine(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if on_timer is None:
            if state.hasTimedOut:
                state.remove()
                return
            carry = pickle.loads(state.get[0] if state.exists else init_blob)
        else:
            now = state.getCurrentProcessingTimeMs()
            carry, due = (
                pickle.loads(state.get[0]) if state.exists
                else (pickle.loads(init_blob), None)
            )
            if due is not None and due <= now:
                carry, out = on_timer(carry, key[:len(dims)])
                if len(out):
                    yield out[out_cols]
                if carry is None:
                    if state.hasTimedOut:  # a timed-out call has no data
                        state.remove()
                        return
                    carry, due = pickle.loads(init_blob), None
        last_ms = None
        for pdf in pdfs:
            if not len(pdf):
                continue
            if sort_cols:
                pdf = pdf.sort_values(sort_cols, kind="stable")
            carry, out = step(carry, pdf)
            if len(out):
                yield out[out_cols]
            if timeout_ms is not None:
                ms = int(_t_us(pdf[time_col])[-1]) // 1000
                last_ms = ms if last_ms is None else max(last_ms, ms)
        if finish is not None and not state.hasTimedOut:
            carry, out = finish(carry, key[:len(dims)])
            if len(out):
                yield out[out_cols]
        if on_timer is None:
            state.update((pickle.dumps(carry),))
        else:
            if due is None or not ticker:
                due = now + timer_ms
            elif due <= now:  # the tick just fired
                due += timer_ms
            state.update((pickle.dumps((carry, due)),))
            state.setTimeoutDuration(max(due - now, 1))
        if last_ms is not None:
            state.setTimeoutTimestamp(last_ms + timeout_ms)

    if not dims:
        df = df.withColumn("__g", F.lit(0))
    return df.groupBy(*(dims or ["__g"])).applyInPandasWithState(
        machine,
        outputStructType=out_schema,
        stateStructType=_CARRY_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if on_timer is not None
            else GroupStateTimeout.EventTimeTimeout
            if timeout_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def _count_window_step(carry, since, vals, period_count, every_count,
                       agg, full_only):
    """One micro-batch slice of the keyed count-window ring
    (/root/reference/window.go:360-470), vectorized: trailing-window
    aggregates via cumsum prefix sums (sum/mean/count) or a
    sliding_window_view front-padded with identity values (min/max), and
    the every_count emission gate. Shared by window_count_stream and the
    fused window_count_alert_stream. Returns
    (out values, emit gate, new carry, new since)."""
    arr = np.concatenate([carry, vals])
    n0, n = len(carry), len(arr)
    g = np.arange(n0, n)
    lo = np.maximum(g + 1 - period_count, 0)
    if agg in ("sum", "mean", "count"):
        cs = np.concatenate([[0.0], np.cumsum(arr)])
        wsum = cs[g + 1] - cs[lo]
        wcnt = (g + 1 - lo).astype(float)
        out = {"sum": wsum, "mean": wsum / wcnt, "count": wcnt}[agg]
    else:
        pad_v = np.inf if agg == "min" else -np.inf
        padded = np.concatenate([np.full(period_count - 1, pad_v), arr])
        win = np.lib.stride_tricks.sliding_window_view(padded, period_count)
        full = win.min(axis=1) if agg == "min" else win.max(axis=1)
        out = full[g]
    # emission gate: counter hits every_count then resets → the i-th new
    # point emits iff (since + i + 1) % every_count == 0
    gate = (since + np.arange(1, len(vals) + 1)) % every_count == 0
    if full_only:
        # the carry holds min(total_seen, period_count) values, so
        # (carry + position) >= period_count detects window-full
        # correctly across micro-batch boundaries
        gate &= (g + 1) >= period_count
    return out, gate, arr[-period_count:], int((since + len(vals)) % every_count)


def alert_stream(
    df: DataFrame,
    time_col: str,
    dims: Sequence[str],
    crit: str | None = None,
    warn: str | None = None,
    info: str | None = None,
    crit_reset=None,
    warn_reset=None,
    info_reset=None,
    state_changes_only: bool = True,
    events_only: bool = False,
    max_interval: str | float | None = None,
    no_recoveries: bool = False,
    flapping: tuple[float, float] | None = None,
    history: int = 21,
    idle_timeout: str | float | None = None,
    tiebreak: Sequence[str] = (),
    duration_field: str | None = None,
) -> DataFrame:
    """Streaming alert state machine (/root/reference/alert.go:989-1290):
    level predicates are evaluated declaratively; transitions / flapping
    suppression live in keyed state that persists across micro-batches
    (checkpoint = the reference's snapshot/restore, task.go:532).

    ``idle_timeout``: drop a group's state after this much EVENT-TIME
    idleness — the ``barrier().delete()`` / DeleteGroup analog
    (/root/reference/pipeline/barrier.go:13-56, edge/messages.go:932);
    essential at high group cardinality (ephemeral hosts/containers).
    Event-time (not processing-time) timeouts keep the engine's "time is
    data time" contract (reference DESIGN.md: if data stops flowing, so
    does time), make replays deterministic, and terminate under the
    availableNow trigger (a processing-time timer would force the
    micro-batch loop to spin until the wall clock caught up). Requires a
    watermark upstream — apply ``barrier()`` first.

    ``crit_reset``/``warn_reset``/``info_reset`` (str SQL or Column):
    reset hysteresis (alert.go:915-950) — once a level with a reset
    lambda is active, the level only falls when its reset passes. Level
    determination then moves into the keyed walk (the held level is
    state), sharing determine_levels with the batch path bit-for-bit.

    ``events_only``: the reference's STREAM trigger rule when
    stateChangesOnly is off (alert.go:1115-1159) — every non-OK point
    fires, OK only as a recovery; run_tickscript's batch replay uses the
    same flag, so stream == batch on identical input.

    ``duration_field``: the alert event Duration (alert.go event state,
    pipeline/alert.go DurationField) — nanoseconds since the current
    alert episode began (the OK→non-OK transition); an OK recovery
    event carries the ended episode's length; steady OK is 0. The
    episode start lives in keyed state (one int64), so durations span
    micro-batches — identical semantics to the batch compile's window
    expressions (pipeline.py Pipeline.alert duration_field).

    Output: input columns + ``level``. State per group: last level +
    level-history ring + flapping flag — a few hundred bytes, safe at
    millions of groups.
    """
    # predicates run declaratively (codegen'd) into mask columns; the
    # level walk reads them inside the keyed machine
    lv_df, preds, resets = alert_masks(
        df,
        {1: info, 2: warn, 3: crit},
        {1: info_reset, 2: warn_reset, 3: crit_reset},
    )
    stage = AlertStage(
        time_col, preds, resets, state_changes_only=state_changes_only,
        events_only=events_only, max_interval=max_interval,
        no_recoveries=no_recoveries, flapping=flapping, history=history,
        duration_field=duration_field,
    )
    return _keyed_scan(
        lv_df, time_col, dims, tiebreak, stage, stage.init,
        StructType(df.schema.fields + stage.fields),
        idle_timeout=idle_timeout,
    )


#: Aggregations window_alert_stream supports — the names its partial
#: algebra (_chunk_stats / _merge / _final) implements.
_WA_AGGS = {
    "count", "sum", "mean", "min", "max", "stddev", "median", "spread",
    "first", "last",
}


def window_alert_stream(
    df: DataFrame,
    time_col: str,
    dims: Sequence[str],
    period: str | float,
    every: str | float,
    field: str,
    agg: str,
    out_col: str | None = None,
    crit=None,
    warn=None,
    info=None,
    crit_reset=None,
    warn_reset=None,
    info_reset=None,
    state_changes_only: bool = False,
    events_only: bool = False,
    max_interval: str | float | None = None,
    no_recoveries: bool = False,
    flapping: tuple[float, float] | None = None,
    history: int = 21,
    tiebreak: Sequence[str] = (),
    duration_field: str | None = None,
) -> DataFrame:
    """FUSED streaming ``window().period(p).every(e) |agg(field) |alert()``
    with stateful alert knobs — ONE keyed state operator.

    Why fused: Spark forbids ``applyInPandasWithState`` downstream of a
    streaming aggregation (and multiple applyInPandasWithStates), and the
    transformWithState API needs the protobuf package this environment
    lacks — so the reference's single most canonical live task shape
    (window | mean | alert().stateChangesOnly(),
    /root/reference/integrations/streamer_test.go TestStream_Alert*)
    cannot be expressed as two chained operators. This operator is instead
    the reference's OWN execution shape: the stream window node buffers
    per-group state and emits on group time passing the boundary
    (/root/reference/window.go:149-260), feeding the in-process alert
    state machine (alert.go:989-1290).

    Semantics:
    * hopping windows aligned to the epoch like ``F.window(t, p, e)`` —
      identical window starts to the batch replay's windowed aggregation;
    * PER-GROUP point-driven finalization: window [s, s+p) for group g
      emits once a point of g arrives with ts >= s+p (the reference's
      per-group emission rule — stream windows advance on each group's
      own event time, window.go:149-182). Trailing windows that no later
      point seals are not emitted (batch replay emits them; compare
      prefixes when validating stream against batch);
    * aggregate state per open window is a constant-size partial
      (count/sum/mean/min/max/stddev via Welford merge/spread/first/last)
      except ``median``, which buffers the window's values — exactly what
      the reference's window node buffers for EVERY aggregate;
    * level lambdas are pandas-compiled (compile_lambda_pandas) and run
      in-process on the emitted window rows, then the SAME
      determine_levels/walk_levels machine as batch + alert_stream.

    ``crit``/``warn``/``info`` + resets: TICK lambda SOURCE strings (or
    pandas callables f(pdf)->bool ndarray). At 100 TB: state per group =
    ceil(p/e) open-window partials + the alert ring — bytes, safe at
    millions of groups; parallel across groups, sequential only within a
    group's own micro-batch slice like every keyed operator here.
    """
    if agg not in _WA_AGGS:
        raise ValueError(
            f"window_alert_stream: unsupported aggregation {agg!r} "
            f"(supported: {sorted(_WA_AGGS)})"
        )
    period_us = round(parse_duration(period) * 1_000_000)
    every_us = round(parse_duration(every) * 1_000_000)
    if period_us <= 0 or every_us <= 0:
        raise ValueError("window_alert_stream: period/every must be > 0")
    out_col = out_col or f"__{agg}"
    stage = AlertStage(
        time_col, {1: info, 2: warn, 3: crit},
        {1: info_reset, 2: warn_reset, 3: crit_reset},
        state_changes_only=state_changes_only, events_only=events_only,
        max_interval=max_interval, no_recoveries=no_recoveries,
        flapping=flapping, history=history, duration_field=duration_field,
    )
    out_schema = StructType(
        [StructField(time_col, TimestampType())]
        + [StructField(d, df.schema[d].dataType) for d in dims]
        + [StructField(out_col, LongType() if agg == "count" else DoubleType())]
        + stage.fields
    )
    n_off = max(1, -(-period_us // every_us))
    tcol, fld = time_col, field

    def _chunk_stats(pdf: pd.DataFrame) -> dict:
        """Per-window partials for this batch slice: {start_us: partial}."""
        ts = _t_us(pdf[tcol])
        v = pd.to_numeric(pdf[fld], errors="coerce").to_numpy(dtype=float)
        frames = []
        for j in range(n_off):
            s = (ts // every_us - j) * every_us
            m = (ts - s) < period_us
            if m.any():
                frames.append(pd.DataFrame({
                    "s": s[m], "ts": ts[m], "v": v[m],
                }))
        if not frames:
            return {}
        ex = pd.concat(frames, ignore_index=True).sort_values(
            ["s", "ts"], kind="stable"
        )
        out: dict = {}
        g = ex.groupby("s", sort=True)
        if agg == "median":
            for s, grp in g:
                out[int(s)] = grp["v"].dropna().tolist()
            return out
        nn = g["v"].count()          # non-null count (F.count semantics)
        if agg == "count":
            for s, n in nn.items():
                out[int(s)] = [int(n)]
        elif agg == "sum":
            for s, x in g["v"].sum().items():
                out[int(s)] = [float(x)]
        elif agg == "mean":
            sm = g["v"].sum()
            for s in nn.index:
                out[int(s)] = [int(nn[s]), float(sm[s])]
        elif agg in ("min", "max"):
            r = g["v"].min() if agg == "min" else g["v"].max()
            for s, x in r.items():
                out[int(s)] = [float(x)]
        elif agg == "spread":
            mn, mx = g["v"].min(), g["v"].max()
            for s in nn.index:
                out[int(s)] = [float(mn[s]), float(mx[s])]
        elif agg == "stddev":
            mean = g["v"].mean()
            m2 = g["v"].var(ddof=0) * nn
            for s in nn.index:
                out[int(s)] = [
                    int(nn[s]), float(mean[s]),
                    float(0.0 if pd.isna(m2[s]) else m2[s]),
                ]
        elif agg in ("first", "last"):
            # ex is time-sorted within each window (stable), so the
            # first/last non-null row is the min_by/max_by(time) value
            nz = ex.dropna(subset=["v"])
            gz = nz.groupby("s", sort=True)
            pick = gz.head(1) if agg == "first" else gz.tail(1)
            for _, r in pick.iterrows():
                out[int(r["s"])] = [int(r["ts"]), float(r["v"])]
        return out

    def _merge(a, b):
        if agg == "median":
            return a + b
        if agg == "count":
            return [a[0] + b[0]]
        if agg == "sum":
            return [a[0] + b[0]]
        if agg == "mean":
            return [a[0] + b[0], a[1] + b[1]]
        if agg == "min":
            return [min(a[0], b[0])]
        if agg == "max":
            return [max(a[0], b[0])]
        if agg == "spread":
            return [min(a[0], b[0]), max(a[1], b[1])]
        if agg == "stddev":
            na, ma, m2a = a
            nb, mb, m2b = b
            n = na + nb
            if n == 0:
                return [0, 0.0, 0.0]
            d = mb - ma
            m = ma + d * nb / n
            return [n, m, m2a + m2b + d * d * na * nb / n]
        if agg == "first":
            return a if a[0] <= b[0] else b
        return a if a[0] >= b[0] else b  # last

    def _final(p):
        if agg == "median":
            return float(np.median(p)) if p else None
        if agg == "count":
            return int(p[0])
        if agg in ("sum", "min", "max"):
            return float(p[0])
        if agg == "mean":
            return float(p[1] / p[0]) if p[0] else None
        if agg == "spread":
            return float(p[1] - p[0])
        if agg == "stddev":
            n, _, m2 = p
            return float(np.sqrt(m2 / (n - 1))) if n > 1 else None
        return float(p[1])  # first/last

    def step(carry, pdf):
        wins, max_ts, alert = carry
        for s, part in _chunk_stats(pdf).items():
            wins[s] = _merge(wins[s], part) if s in wins else part
        max_ts = max(max_ts, int(_t_us(pdf[tcol])[-1]))
        # finalize sealed windows in start order
        done = sorted(s for s in wins if s + period_us <= max_ts)
        vals = [_final(wins.pop(s)) for s in done]
        # None (empty mean / n<=1 stddev) → NaN so level predicates
        # compare False, matching NULL semantics
        rows = pd.DataFrame({
            tcol: pd.to_datetime(np.array(done, dtype="int64"), unit="us"),
            **{d: pdf[d].iat[0] for d in dims},
            out_col: np.array(vals, dtype=np.int64) if agg == "count"
            else np.array([np.nan if v is None else v for v in vals], dtype=float),
        })
        alert, rows = stage(alert, rows)
        return (wins, max_ts, alert), rows

    return _keyed_scan(
        df, time_col, dims, tiebreak, step, ({}, -(1 << 62), stage.init),
        out_schema,
    )


def state_count_stream(
    df: DataFrame,
    time_col: str,
    dims: Sequence[str],
    cond: str,
    as_: str = "state_count",
    tiebreak: Sequence[str] = (),
    idle_timeout: str | float | None = None,
) -> DataFrame:
    """Streaming stateCount (/root/reference/state_tracking.go:153-189):
    consecutive-true counter surviving micro-batch boundaries; -1 when
    false. State per group: one int64. ``idle_timeout``: event-time
    DeleteGroup (see alert_stream) — requires an upstream watermark."""
    c_df = df.withColumn("__ok", F.coalesce(_col(cond), F.lit(False)))

    def step(streak, pdf):
        ok = pdf["__ok"].to_numpy(dtype=bool)
        # vectorized streak: reset indices mark False rows; streak =
        # running count since last False, seeded by the carried streak
        idx = np.arange(len(ok))
        last_reset = np.maximum.accumulate(np.where(~ok, idx, -1))
        # before any reset, out = i+1 already (idx - (-1)); add carry
        out = np.where(last_reset >= 0, idx - last_reset, idx + 1 + streak)
        out = np.where(ok, out, -1)
        return max(int(out[-1]), 0), pdf.assign(**{as_: out})

    return _keyed_scan(
        c_df, time_col, dims, tiebreak, step, 0,
        StructType(df.schema.fields + [StructField(as_, LongType())]),
        idle_timeout=idle_timeout,
    )


def state_duration_stream(
    df: DataFrame,
    time_col: str,
    dims: Sequence[str],
    cond: str,
    unit: str | float = "1s",
    as_: str = "state_duration",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Streaming stateDuration (/root/reference/state_tracking.go:111-152):
    event time since the current true-state began, in ``unit``s (0 at the
    state's first point); -1 while false. State per group: the episode's
    start time (one int64) — it survives micro-batch boundaries, so a
    state entered in one batch keeps accruing duration in the next."""
    c_df = df.withColumn("__ok", F.coalesce(_col(cond), F.lit(False)))
    unit_us = float(round(parse_duration(unit) * 1_000_000))

    def step(start, pdf):
        ok = pdf["__ok"].to_numpy(dtype=bool)
        t = _t_us(pdf[time_col])
        idx = np.arange(len(ok))
        # first index of each true-run; rows before any in-batch reset
        # belong to the carried episode (if one is open)
        last_reset = np.maximum.accumulate(np.where(~ok, idx, -1))
        starts = t[np.clip(last_reset + 1, 0, len(ok) - 1)]
        if start >= 0:
            starts = np.where(last_reset < 0, start, starts)
        dur = np.where(ok, (t - starts) / unit_us, -1.0)
        return (int(starts[-1]) if ok[-1] else -1), pdf.assign(**{as_: dur})

    return _keyed_scan(
        c_df, time_col, dims, tiebreak, step, -1,
        StructType(df.schema.fields + [StructField(as_, DoubleType())]),
    )


def sigma_stream(
    df: DataFrame,
    time_col: str,
    dims: Sequence[str],
    fld: str,
    as_: str = "sigma",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Streaming stateful ``sigma()`` lambda fn (/root/reference/tick/
    stateful/functions.go sigma: running #stddevs of the current value
    from the running mean; 0 while n<2). Batch mode compiles to running
    window aggregates (Pipeline.sigma); here the running (n, mean, M2)
    Welford state persists across micro-batches — numerically stable,
    12 bytes of state per group, vectorized per batch."""

    def step(carry, pdf):
        n, mean, m2 = carry
        x = pdf[fld].to_numpy(dtype=float)
        # vectorized Welford: running means/M2 over (carry + batch)
        # reconstructed from cumulative sums seeded with carry stats
        cnt = n + np.arange(1, len(x) + 1, dtype=float)
        means = (n * mean + np.cumsum(x)) / cnt
        prev_means = np.concatenate(([mean], means[:-1]))
        m2s = m2 + np.cumsum((x - prev_means) * (x - means))
        with np.errstate(divide="ignore", invalid="ignore"):
            sd = np.sqrt(m2s / np.maximum(cnt - 1, 1))
            sig = np.abs(x - means) / sd
        sig = np.where((cnt < 2) | (sd == 0) | ~np.isfinite(sig), 0.0, sig)
        carry = (int(cnt[-1]), float(means[-1]), float(m2s[-1]))
        return carry, pdf.assign(**{as_: sig})

    return _keyed_scan(
        df, time_col, dims, tiebreak, step, (0, 0.0, 0.0),
        StructType(df.schema.fields + [StructField(as_, DoubleType())]),
    )


def autoscale_stream(
    df: DataFrame,
    time_col: str,
    autoscaler,
    replicas: str,
    min: int = 1,
    max: int = 0,
    increase_cooldown: str | float = 0.0,
    decrease_cooldown: str | float = 0.0,
    initial: dict | None = None,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Streaming autoscale decision machine — the reference's live mode
    (/root/reference/autoscale.go:181-283): per-RESOURCE keyed state
    (current replicas + per-direction cooldown clocks) surviving
    micro-batch boundaries; emits (time, resource, old, new) event rows.

    This returns the DECISION stream only. Route it to your sink to make
    the orchestrator calls — e.g. ``sinks.stream_sink(events, handler,
    checkpoint)`` or a foreachBatch that collects the (tiny) batch and
    calls ``autoscaler.set_replicas(row.resource, row.new)`` per event —
    the same driver-side seam as the batch operator; executors never
    hold a client, and ``autoscaler.stats`` only advances in the sink
    you wire.

    ``initial``: resource → current replicas, prefetched on the DRIVER at
    stream compile (the reference calls ``Replicas(id)`` lazily mid-stream
    — impossible from an executor, the one documented divergence). A
    resource absent from ``initial`` initializes from its first clamped
    desired value WITHOUT emitting an event.
    """
    if min < 1:
        raise ValueError(f"minimum count must be >= 1, got {min}")
    init = {rid: int(n) for rid, n in (initial or {}).items()}
    lo, hi = int(min), int(max)
    inc_us = round(parse_duration(increase_cooldown) * 1_000_000)
    dec_us = round(parse_duration(decrease_cooldown) * 1_000_000)
    work = df.withColumn("__rid", autoscaler.resource_id_column()).filter(
        F.col("__rid").isNotNull() & (F.col("__rid") != "")
    )
    work = work.withColumn("__want", _col(replicas).cast("long"))
    out_schema = StructType(
        [
            StructField(time_col, work.schema[time_col].dataType),
            StructField("resource", StringType()),
            StructField("old", LongType()),
            StructField("new", LongType()),
        ]
    )

    from kapacitor_spark.operators.autoscale import NEVER, decision_step

    def step(carry, pdf):
        rid = pdf["__rid"].iat[0]
        # carry: (current replicas or None while unknown, last_inc,
        # last_dec); None until the group's first slice looks up initial
        current, last_inc, last_dec = carry or (init.get(rid), NEVER, NEVER)
        want = pdf["__want"].to_numpy(dtype=object)
        times = _t_us(pdf[time_col])
        rows = []
        for i, w in enumerate(want):
            if w is None or pd.isna(w):
                continue
            if current is None:
                # unknown resource: first CLAMPED value seeds state
                # (reuse the step with current == the clamped value)
                current = decision_step(-1, w, lo, hi, 0, NEVER, NEVER, 0, 0)[4]
                continue
            old = current
            action, current, last_inc, last_dec, new = decision_step(
                current, w, lo, hi, int(times[i]),
                last_inc, last_dec, inc_us, dec_us,
            )
            if action in ("inc", "dec"):
                rows.append((pdf[time_col].iat[i], rid, old, new))
        return (
            (current, last_inc, last_dec),
            pd.DataFrame(rows, columns=out_schema.fieldNames()),
        )

    return _keyed_scan(work, time_col, ["__rid"], tiebreak, step, None, out_schema)


def ordered_transform_stream(
    df: DataFrame,
    time_col: str,
    dims: Sequence[str],
    fld: str,
    op: str = "derivative",
    unit: str | float = "1s",
    as_: str | None = None,
    non_negative: bool = False,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Streaming derivative/difference/elapsed/cumulativeSum — the
    readStream compile targets of the per-point ordered transforms
    (/root/reference/derivative.go:127-170, pipeline/influxql.go:493-584).

    Keyed state carries exactly (last event time, last value, running
    sum) per group — the previous-point memory the reference's per-group
    receiver holds — so the transform spans micro-batch boundaries.
    Batch-mode parity: the first point per group is dropped (except
    cumulativeSum), zero-elapsed derivative points emit nothing but still
    advance prev, nonNegative drops negative rates. All arithmetic is
    numpy over the Arrow batch; state is 3 scalars per group.
    """
    if op not in ("derivative", "difference", "elapsed", "cumulative_sum"):
        raise ValueError(f"unknown ordered op {op!r}")
    unit_us = round(parse_duration(unit) * 1_000_000)
    out = as_ or ("elapsed" if op == "elapsed" else fld)
    out_type = LongType() if op == "elapsed" else DoubleType()
    base = [df.schema[c] for c in df.columns if c != out]
    out_schema = StructType(base + [StructField(out, out_type)])

    def step(carry, pdf):
        has_prev, last_t, last_v, run_sum = carry
        x = pdf[fld].to_numpy(dtype=float)
        if op == "cumulative_sum":
            vals = run_sum + np.cumsum(x)
            return (has_prev, last_t, last_v, float(vals[-1])), pdf.assign(**{out: vals})
        t = _t_us(pdf[time_col])
        dv = np.diff(np.concatenate(([last_v], x)))
        dt = np.diff(np.concatenate(([last_t], t)))
        keep = np.ones(len(x), dtype=bool)
        keep[0] = bool(has_prev)
        if op == "derivative":
            with np.errstate(divide="ignore", invalid="ignore"):
                vals = dv / (dt / float(unit_us))
            keep &= dt != 0  # zero elapsed: emit nothing, advance prev
            if non_negative:
                keep &= ~(vals < 0)
        elif op == "difference":
            vals = dv
        else:  # elapsed
            vals = dt // unit_us
        carry = (1, int(t[-1]), float(x[-1]), run_sum)
        return carry, pdf.assign(**{out: vals}).loc[keep]

    return _keyed_scan(
        df, time_col, dims, tiebreak, step, (0, 0, 0.0, 0.0), out_schema
    )


def combine_stream(
    df: DataFrame,
    time_col: str,
    dims: Sequence[str],
    predicates: Sequence,
    pred_keys: Sequence[str],
    as_: Sequence[str],
    tolerance: str | float | None = None,
    delimiter: str = "_",
) -> DataFrame:
    """Streaming ``combine()`` — k-combinations of points sharing a
    (group, rounded-time) bucket (/root/reference/combine.go:142-286).

    The batch compile expresses this as iterated equi-joins; chained
    stream-stream self-joins would multiply join state, so the streaming
    form buckets ONCE (a single streaming aggregation:
    ``collect_list`` per (bucket, group) — the reference's own per-bucket
    buffer) and generates the combinations DECLARATIVELY: per-slot
    ``filter`` arrays, a nested-``transform`` cross product, the
    reference's identity rules (strict ``id <`` between same-predicate
    slots, ``!=`` between distinct ones — combine.go:201-246), then one
    explode. All JVM-side; no Python in the plan.

    ``predicates``: slot Columns evaluated on the RAW points (before the
    aggregation, so Catalyst codegens them on the scan). ``pred_keys``:
    stable per-slot strings — equal keys mean same-predicate slots.
    Blowup is bounded by the product of per-bucket slot-match counts,
    exactly the reference's exposure. Drive with a watermark upstream
    (append) or a complete-mode replay sink."""
    n = len(predicates)
    if n < 2 or len(as_) != n:
        raise ValueError("combine_stream needs >=2 slots and matching as_")
    us = round(parse_duration(tolerance) * 1_000_000) if tolerance else None
    t_us = F.unix_micros(F.col(time_col))
    if us:
        # Go Time.Round to the nearest multiple (combine.go:118)
        um = t_us + F.lit(us // 2)
        bucket = um - um % F.lit(us)
    else:
        bucket = t_us
    ident = F.struct(
        t_us.alias("t"),
        F.xxhash64(*[F.col(c) for c in df.columns]).alias("h"),
    )
    fields = [c for c in df.columns if c != time_col and c not in dims]
    base = df.withColumn("__ct", bucket).withColumn("__id", ident)
    for i, p in enumerate(predicates):
        base = base.withColumn(f"__m{i}", p)
    pt = F.struct(
        F.col("__id"),
        *[F.col(f"__m{i}") for i in range(n)],
        *[F.col(c) for c in fields],
    )
    agg = base.groupBy(F.col("__ct"), *[F.col(d) for d in dims]).agg(
        F.collect_list(pt).alias("__pts")
    )
    # per-slot arrays, then a nested-transform cross product
    slots = ", ".join(
        f"filter(__pts, x -> x.__m{i})" for i in range(n)
    )
    inner = "struct(" + ", ".join(f"x{i} AS s{i}" for i in range(n)) + ")"
    e = inner
    for i in reversed(range(n)):
        e = f"transform(__slots[{i}], x{i} -> {e})"
        if i != n - 1:
            e = f"flatten({e})"
    conds = []
    for i in range(n):
        for j in range(i + 1, n):
            op = "<" if pred_keys[i] == pred_keys[j] else "!="
            conds.append(f"c.s{i}.__id {op} c.s{j}.__id")
    combos = f"filter({e}, c -> {' AND '.join(conds)})"
    out = (
        agg.withColumn("__slots", F.expr(f"array({slots})"))
        .withColumn("__c", F.explode(F.expr(combos)))
    )
    sel = [F.timestamp_micros(F.col("__ct")).alias(time_col)]
    sel += [F.col(d) for d in dims]
    for i, name in enumerate(as_):
        for c in fields:
            sel.append(
                F.col(f"__c.s{i}.{c}").alias(f"{name}{delimiter}{c}")
            )
    return out.select(*sel)


def sample_count_stream(
    df: DataFrame,
    time_col: str,
    dims: Sequence[str],
    n: int,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Streaming ``sample(N)`` — keep every Nth point per group
    (/root/reference/sample.go:97-110: counter % N == 0). The counter is
    keyed state (one int64 per group) so the cadence spans micro-batch
    boundaries, exactly the per-group counter the reference's sample
    node holds. Batch parity: Pipeline.sample(n=) keeps row_number-1 %
    n == 0 over the event order — the streaming counter starts at 0 and
    keeps positions 0, N, 2N, … per group, identical on identical
    input. State: one scalar; parallel across groups."""
    if n <= 0:
        raise ValueError("sample_count_stream: n must be >= 1")

    def step(cnt, pdf):
        keep = (cnt + np.arange(len(pdf))) % n == 0
        return cnt + len(pdf), pdf.loc[keep]

    return _keyed_scan(df, time_col, dims, tiebreak, step, 0, df.schema)


def change_detect_stream(
    df: DataFrame,
    time_col: str,
    dims: Sequence[str],
    fields: Sequence[str],
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Streaming changeDetect (/root/reference/change_detect.go:110-140):
    drop points whose monitored fields ALL equal the previous point's —
    the previous point's values persist across micro-batches in keyed
    state. Matches the batch form (Pipeline.change_detect) row for row:
    a NULL previous value keeps the point; value→NULL keeps; NULL→NULL
    under a non-NULL lag chain follows the same lag rules. Values
    compare via their canonical reprs (exact for the point model's
    float/int/string/bool types, and a mid-stream TYPE change — the
    reference's Changing_Type golden — always differs)."""
    flds = list(fields)

    def key(v):
        return None if pd.isna(v) else repr(v)

    def step(prev, pdf):
        n = len(pdf)
        keep = np.zeros(n, dtype=bool)
        for f_ in flds:
            ks = [key(v) for v in pdf[f_]]
            pk = [prev[f_] if prev is not None else "\x00missing"] + ks[:-1]
            # batch rule per field: lag NULL -> keep; changed -> keep;
            # went NULL while lag wasn't -> keep. "\x00missing" marks
            # NO previous point at all (first ever row: keep).
            for i in range(n):
                p = pk[i]
                if p == "\x00missing" or p is None:
                    keep[i] = True
                elif ks[i] is None or ks[i] != p:
                    keep[i] = True
        prev = {f_: key(pdf[f_].iloc[-1]) for f_ in flds}
        return prev, pdf.loc[keep]

    return _keyed_scan(df, time_col, dims, tiebreak, step, None, df.schema)


def join_stream(
    left: DataFrame,
    right: DataFrame,
    time_col: str,
    dims: Sequence[str],
    tolerance: str | float,
    watermark: str | float = "1h",
    prefixes: tuple[str, str] = ("a", "b"),
    delimiter: str = "_",
    on: Sequence[str] | None = None,
    fill=None,
    left_dims: Sequence[str] | None = None,
    right_dims: Sequence[str] | None = None,
) -> DataFrame:
    """Streaming tolerance join — the readStream compile target of
    join().tolerance() (/root/reference/join.go; SURVEY §2.3 "Streaming:
    stream-stream join with watermark").

    Both sides are watermarked and keyed on the tolerance bucket computed
    as a tumbling window over (time + tolerance/2) — i.e. Go Time.Round
    buckets, same as the batch join — plus the shared dims. Joining on
    the window STRUCT lets Spark's state store GC matched buckets once
    both watermarks pass (no unbounded join state, the reference's
    low-watermark eviction, join.go:137-310).

    ``on=[dims]`` joins on a dim SUBSET (the coarse-parent/fine-child
    one-to-many shape, /root/reference/pipeline/join.go:204-236): join
    keys become (bucket, on-dims); each side's remaining dims pass
    through unprefixed — overlapping non-key dims raise, like the batch
    join. ``fill`` (r11 2nd wave, pipeline/join.go Fill): None/'none' →
    inner; 'null' → FULL OUTER (Spark supports outer stream-stream joins
    on a time-window equality key — unmatched rows emit once both
    watermarks pass the bucket, so pick ``watermark`` accordingly);
    scalar → outer + constant fill; dict → outer + per-column fill,
    keyed by prefixed output names.

    Divergence (documented): within one (bucket, dims) cell a
    stream-stream join emits the cross product of that cell; the batch
    join pairs sequentially. Pre-aggregate per bucket or include a
    sequence column in ``dims`` when cells can hold >1 row per side.
    """
    half_us = round(parse_duration(tolerance) * 1_000_000) // 2
    iv = to_interval(tolerance)
    ld = list(left_dims) if left_dims is not None else list(dims)
    rd = list(right_dims) if right_dims is not None else list(dims)
    keys = list(on) if on is not None else [d for d in ld if d in rd]
    overlap = (set(ld) & set(rd)) - set(keys)
    if overlap:
        raise ValueError(
            f"join_stream: dims {sorted(overlap)} exist on both sides but "
            "are not join keys; add them to on=[...] or drop them from "
            "one side"
        )

    def keyed(df: DataFrame, p: str, side_dims: list) -> DataFrame:
        shifted = F.timestamp_micros(F.unix_micros(F.col(time_col)) + F.lit(half_us))
        # watermark the SHIFTED column and window over it: the window
        # struct then carries the watermark, which outer stream-stream
        # joins require ON the join key (and which lets inner-join state
        # GC buckets the watermark has passed)
        out = (
            df.withColumn("__st", shifted)
            .withWatermark("__st", to_interval(watermark))
            .withColumn("__jw", F.window(F.col("__st"), iv))
        )
        cols = [F.col("__jw"), *[F.col(d) for d in keys]]
        # non-key dims pass through unprefixed (batch join parity)
        cols += [F.col(d) for d in side_dims if d not in keys]
        for c in df.columns:
            if c in side_dims or c in keys:
                continue
            cols.append(F.col(c).alias(f"{p}{delimiter}{c}"))
        return out.select(*cols)

    lp, rp = prefixes
    outer = fill is not None and fill != "none"
    joined = keyed(left, lp, ld).join(
        keyed(right, rp, rd), ["__jw", *keys],
        "full_outer" if outer else "inner",
    )
    if outer and fill != "null":
        if isinstance(fill, dict):
            fills = [(c, v) for c, v in fill.items() if c in joined.columns]
        else:
            fills = [
                (c, fill) for c in joined.columns
                if c != "__jw" and c not in keys
            ]
        # batch-join parity (pipeline.py join): fill only columns whose
        # type matches the fill value's kind — timestamps and mismatched
        # types stay NULL
        dtypes = dict(joined.dtypes)
        numeric = ("tinyint", "smallint", "int", "bigint",
                   "float", "double", "decimal")
        for c, v in fills:
            t = dtypes.get(c, "")
            if isinstance(v, bool):
                ok = t == "boolean"
            elif isinstance(v, (int, float)):
                ok = t.startswith(numeric)
            else:
                ok = isinstance(v, str) and t == "string"
            if ok:
                joined = joined.withColumn(
                    c, F.coalesce(F.col(f"`{c}`"), F.lit(v))
                )
    # the tumbling window over (t + tol/2) starts exactly at the Round
    # multiple, so the window start IS the bucket label
    return joined.withColumn(time_col, F.col("__jw.start")).drop("__jw")


def window_count_stream(
    df: DataFrame,
    time_col: str,
    dims: Sequence[str],
    fld: str,
    period_count: int,
    every_count: int = 1,
    agg: str = "mean",
    as_: str = "value",
    tiebreak: Sequence[str] = (),
    full_only: bool = False,
) -> DataFrame:
    """Streaming count window (/root/reference/window.go:360-470): per
    group, a ring of the last ``period_count`` values persists across
    micro-batches; every ``every_count``-th point emits the aggregate of
    the ring. every_count=1 is the reference's every-point emission mode
    (window.go every=0 analog). State per group: ≤ period_count doubles.

    ``full_only``: suppress emission until the group has seen
    ``period_count`` points — the movingAverage warm-up drop
    (/root/reference/pipeline/influxql.go:536: emit after window full);
    window().fillPeriod() for count windows is the same gate."""
    if agg not in ("mean", "sum", "count", "min", "max"):
        raise ValueError(f"unsupported count-window agg {agg!r}")
    out_schema = StructType(
        [df.schema[time_col]]
        + [df.schema[d] for d in dims]
        + [StructField(as_, DoubleType())]
    )

    def step(carry, pdf):
        out, emit, ring, since = _count_window_step(
            *carry, pdf[fld].to_numpy(dtype=float), period_count,
            every_count, agg, full_only,
        )
        return (ring, since), pdf.loc[emit].assign(**{as_: out[emit]})

    return _keyed_scan(
        df, time_col, dims, tiebreak, step, (np.empty(0), 0), out_schema
    )


def window_count_alert_stream(
    df: DataFrame,
    time_col: str,
    dims: Sequence[str],
    fld: str,
    period_count: int,
    every_count: int = 1,
    agg: str = "mean",
    as_: str = "value",
    crit=None,
    warn=None,
    info=None,
    crit_reset=None,
    warn_reset=None,
    info_reset=None,
    state_changes_only: bool = False,
    events_only: bool = False,
    max_interval: str | float | None = None,
    no_recoveries: bool = False,
    flapping: tuple[float, float] | None = None,
    history: int = 21,
    tiebreak: Sequence[str] = (),
    duration_field: str | None = None,
    full_only: bool = False,
) -> DataFrame:
    """FUSED ``window().periodCount(n).everyCount(m) |agg |alert()`` with
    stateful alert knobs — ONE keyed state operator, the count-window
    sibling of window_alert_stream (same reason: Spark forbids chaining
    two keyed-state operators, and the reference's own execution shape IS
    a per-group window buffer feeding the in-process alert machine,
    /root/reference/window.go:360-470 + alert.go:989-1290).

    The ring stage is window_count_stream's vectorized trailing-window
    computation (cumsum prefix sums / sliding_window_view — no per-row
    Python); the rows passing the every_count emission gate (the batch
    compile's ``row_number % every == 0`` rows, pipeline.py agg_over)
    feed determine_levels/walk_levels with level state carried across
    micro-batches. Emitted rows keep the triggering point's event time,
    exactly like the batch replay. State per group: ≤ period_count
    doubles + the alert ring — bytes, safe at millions of groups."""
    if agg not in ("mean", "sum", "count", "min", "max"):
        raise ValueError(f"unsupported count-window agg {agg!r}")
    stage = AlertStage(
        time_col, {1: info, 2: warn, 3: crit},
        {1: info_reset, 2: warn_reset, 3: crit_reset},
        state_changes_only=state_changes_only, events_only=events_only,
        max_interval=max_interval, no_recoveries=no_recoveries,
        flapping=flapping, history=history, duration_field=duration_field,
    )
    out_schema = StructType(
        [df.schema[time_col]]
        + [df.schema[d] for d in dims]
        + [StructField(as_, DoubleType())]
        + stage.fields
    )

    def step(carry, pdf):
        ring, since, alert = carry
        out, gate, ring, since = _count_window_step(
            ring, since, pdf[fld].to_numpy(dtype=float), period_count,
            every_count, agg, full_only,
        )
        rows = pdf.loc[gate, [time_col, *dims]].assign(**{as_: out[gate]})
        alert, rows = stage(alert, rows)
        return (ring, since, alert), rows

    return _keyed_scan(
        df, time_col, dims, tiebreak, step, (np.empty(0), 0, stage.init),
        out_schema,
    )


_RUN_AVAILABLE_NOW_LOCK = threading.Lock()


def run_available_now(
    stream_df: DataFrame,
    name: str,
    checkpoint: str,
    output_mode: str = "append",
    state_partitions: int | None = None,
) -> DataFrame:
    """Execute a streaming query over all currently-available input and
    return the result as a (batch) DataFrame from the memory sink — the
    test-harness analog of the reference replay runner
    (/root/reference/replay.go:17-110): deterministic, event-time driven,
    no wall clock.

    ``output_mode='complete'`` for windowed aggregations without a
    watermark (the replay equivalent of "emit everything at end of
    stream"); 'append' for stateful applyInPandasWithState operators,
    which emit per micro-batch.

    ``state_partitions``: partition count for the query's STATEFUL
    operators (fixed for the checkpoint's lifetime by the first batch
    from ``spark.sql.shuffle.partitions``). Size it to STATE CARDINALITY,
    not cluster width: every state partition pays a per-batch commit
    (delta-file create + fsync + rename in the HDFS-backed provider) and,
    for applyInPandasWithState, a Python worker round-trip — measured on
    this engine's replay shape: addBatch 868 ms at 32 partitions vs
    320 ms at 4 for an identical 3600-key aggregation (~17 ms per
    partition per batch of pure commit overhead). Keys-per-partition
    around ~1000+ keeps that overhead marginal; a high-cardinality
    deployment raises it accordingly (more keys → more partitions, up to
    cluster parallelism — never fewer than the cluster can usefully run
    when per-partition state or throughput is the constraint). ``None``
    (default) leaves the session setting untouched. Results are
    partition-count independent: state is keyed, aggregation merge is
    associative/commutative, and per-key ordering is event-time driven.
    The session conf is pinned only for this (blocking) run and restored
    after."""
    spark = stream_df.sparkSession
    prev_parts: str | None = None
    # Serialize replays (ADVICE r11): the pinned shuffle-partitions value
    # is session-wide while this blocking run plans its first batch, so a
    # concurrently started query would silently inherit it (and two
    # interleaved pinned runs could restore a stale value). The lock makes
    # the pin run-scoped; unpinned runs take it too so they can never
    # start inside another run's pin window.
    with _RUN_AVAILABLE_NOW_LOCK:
        if state_partitions is not None:
            prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
            spark.conf.set(
                "spark.sql.shuffle.partitions", str(int(state_partitions))
            )
        try:
            q = (
                stream_df.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .option("checkpointLocation", checkpoint)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            if prev_parts is not None:
                spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return stream_df.sparkSession.table(name)


def deadman_stream(
    df: DataFrame,
    time_col: str,
    dims: Sequence[str],
    interval: str | float,
    threshold: float = 0.0,
    max_silent_intervals: int | None = None,
) -> DataFrame:
    """WALL-CLOCK deadman (/root/reference/stats.go: "Emit stats every
    interval. Stats are REAL-TIME not data-time" + the deadman macro,
    pipeline/node.go Deadman): per group, once ``interval`` of
    PROCESSING time passes without data, emit (dims..., emitted, level)
    — CRITICAL when the count since the last tick is <= threshold — and
    keep ticking every interval while the silence lasts. Unlike the
    event-time deadman (Pipeline.deadman / stats.py), a FULLY SILENT
    group still fires: the kernel's processing-time timer triggers on an
    empty micro-batch (spark.sql.streaming.noDataMicroBatches keeps
    batches running), so a stopped stream raises CRITICAL after one
    interval — the reference's wall-clock semantics, which event-time
    watermarks cannot express (documented divergence in MIGRATION.md;
    availableNow replays should keep using Pipeline.deadman).

    ``max_silent_intervals``: after this many consecutive silent ticks
    the group's state is REMOVED (the reference's barrier().delete() /
    DeleteGroup analog) — without it, every host that ever reported and
    then vanished forever would alert forever and hold state forever;
    with it, a departed group alerts for the grace window and is then
    garbage-collected (it re-registers on its next point).

    Carry per group: a running count + silent-tick counter — safe at
    millions of groups; emission volume is groups/interval, independent
    of data rate."""

    def step(carry, pdf):
        return (carry[0] + len(pdf), 0), _NO_ROWS

    def fire(carry, key):
        n, silent = carry
        crit = n <= threshold
        silent = silent + 1 if crit else 0
        row = pd.DataFrame(
            [[*key, n, "CRITICAL" if crit else "OK"]],
            columns=[*dims, "emitted", "level"],
        )
        if max_silent_intervals is not None and silent >= max_silent_intervals:
            return None, row  # departed group: grace window exhausted
        return (0, silent), row

    out_schema = StructType(
        [df.schema[d] for d in dims]
        + [StructField("emitted", LongType()), StructField("level", StringType())]
    )
    return _keyed_scan(
        df, None, dims, (), step, (0, 0), out_schema,
        on_timer=fire, timer_ms=round(parse_duration(interval) * 1000),
    )


def stats_stream(
    df: DataFrame,
    time_col: str,
    dims: Sequence[str],
    interval: str | float,
) -> DataFrame:
    """WALL-CLOCK stats() (/root/reference/stats.go: "Emit stats every
    interval. Stats are REAL-TIME not data-time"): per group, one
    (dims..., emitted) row every ``interval`` of processing time — under
    steady traffic AND through silence (emitted=0), exactly the
    reference's ticker: the kernel's absolute-tick timer, which data
    never postpones. deadman_stream is the silence-only variant (its
    timer resets on data)."""

    def step(n, pdf):
        return n + len(pdf), _NO_ROWS

    def fire(n, key):
        return 0, pd.DataFrame([[*key, n]], columns=[*dims, "emitted"])

    out_schema = StructType(
        [df.schema[d] for d in dims] + [StructField("emitted", LongType())]
    )
    return _keyed_scan(
        df, None, dims, (), step, 0, out_schema,
        on_timer=fire, timer_ms=round(parse_duration(interval) * 1000),
        ticker=True,
    )


def window_barrier_stream(
    df: DataFrame,
    time_col: str,
    dims: Sequence[str],
    period: str | float,
    every: str | float | None = None,
    barrier_interval: str | float = "10s",
    mode: str = "idle",
    value_col: str = "value",
) -> DataFrame:
    """Windowed counts whose pending windows are FORCE-EMITTED by a
    processing-time barrier — barrier().idle(d) / barrier().period(d)
    (/root/reference/barrier.go:86-335; goldens TestStream_Barrier_Idle,
    TestStream_Barrier_Idle_No_Data, TestStream_Barrier_Idle_No_Idle,
    TestStream_Barrier_Idle_Replay_After_Idle, TestStream_Barrier_Period,
    TestStream_Barrier_Period_No_Data, TestStream_Barrier_Period_No_Idle,
    TestStream_Barrier_Period_Replay_After_Idle).

    The problem barriers solve: an event-time watermark only advances
    when NEW data arrives, so the last (partial) window of a stalled
    stream never emits. The reference forces emission with wall-clock
    barriers; here the same contract compiles to the kernel's
    processing-time timer:

    * new data closes every window whose end <= the group's max event
      time (the event-time barrier — same as watermark emission);
    * ``mode='idle'``: ``barrier_interval`` of wall-clock SILENCE emits
      ALL pending windows, partial ones included (idle barrier; the
      timer re-arms on data, so a busy group never force-flushes);
    * ``mode='period'``: the timer fires every ``barrier_interval``
      regardless of data (period barrier) and emits all pending
      windows.

    Emits (dims..., window_start, count) rows, one per closed window. A
    barrier can emit a window before event time closes it; points that
    land in it later are emitted in a follow-up row for the same
    window_start, so a window's rows add up to its points. Windows are
    epoch-aligned [k*every, k*every + period) — the engine's documented
    divergence from the reference's arrival-relative grid. Carry per
    group: the points of windows event time has not closed (bounded by
    period × rate), the closed-window frontier and the counts already
    emitted for open windows."""
    p_us = round(parse_duration(period) * 1_000_000)
    e_us = round(parse_duration(every if every is not None else period) * 1_000_000)
    if mode not in ("idle", "period"):
        raise ValueError("mode must be 'idle' or 'period'")

    def step(carry, pdf):
        times, closed, counted = carry
        return (np.concatenate([times, _t_us(pdf[time_col])]), closed,
                counted), _NO_ROWS

    def flush(carry, key, force):
        """Emit the not-yet-emitted points of every window [ws, ws+p) that
        ends at or before the newest point, which closes it — with
        ``force`` (the barrier), of every window holding a point, partial
        ones included."""
        times, closed, counted = carry
        if not len(times):
            return carry, _NO_ROWS
        times = np.sort(times)
        hi = int(times[-1])
        ws = max((int(times[0]) // e_us) * e_us, closed)
        ws = ((ws + e_us - 1) // e_us) * e_us  # align up to the every-grid
        starts = np.arange(ws, (hi if force else hi + 1 - p_us) + 1, e_us)
        ns = np.searchsorted(times, starts + p_us) - np.searchsorted(times, starts)
        rows = []
        for w, n in zip(starts.tolist(), ns.tolist()):
            if n > counted.get(w, 0):
                rows.append([*key, pd.Timestamp(w, unit="us"), n - counted.get(w, 0)])
                counted[w] = n
        # a point can still matter while some window containing it is open
        closed = max(closed, (hi + 1 - p_us) // e_us * e_us + e_us)
        return (
            times[times + p_us > closed], closed,
            {w: n for w, n in counted.items() if w >= closed},
        ), pd.DataFrame(rows, columns=[*dims, "window_start", "count"])

    out_schema = StructType(
        [df.schema[d] for d in dims]
        + [
            StructField("window_start", df.schema[time_col].dataType),
            StructField("count", LongType()),
        ]
    )
    return _keyed_scan(
        df, None, dims, (), step,
        (np.empty(0, dtype="int64"), -(2**62), {}), out_schema,
        on_timer=lambda carry, key: flush(carry, key, force=True),
        timer_ms=round(parse_duration(barrier_interval) * 1000),
        ticker=mode == "period",
        finish=lambda carry, key: flush(carry, key, force=False),
    )


def http_out_stream(stream_df: DataFrame, name: str, checkpoint: str):
    """httpOut analog for streams (/root/reference/http_out.go): latest
    results queryable under a name via the memory sink; returns the
    StreamingQuery handle."""
    return (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .start()
    )


def simhash_match_stream(
    stream_df: DataFrame,
    history_sig: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    history_id: str = "history_id",
    persist_static: bool = True,
    sig_df: DataFrame | None = None,
) -> DataFrame:
    """CONTINUOUS near-dup detection: match a document stream against a
    corpus signature table — the ingestion-pipeline shape ("is this new
    document a near-duplicate of anything we already hold?") that batch
    near-dup cannot serve without re-scanning the corpus per arrival.

    The SimHash fold (dedup.simhash) is a pure projection, so it runs on
    the unbounded stream as-is; blocking reuses the exact pigeonhole
    banding (dedup.simhash_band_expr) as a STREAM-STATIC equi-join on
    (band, band_val) — supported without watermarks because the static
    side is bounded, and COMPLETE for the Hamming bound, so no
    qualifying match is ever missed. Emits input columns + (history_id,
    hamming), exactly one row per (doc, history doc) pair.

    Exactly-once per pair WITHOUT state: a pair within the bound can
    agree on several bands, which would emit duplicate rows — and
    dropDuplicates on a stream keeps key state forever. Instead each
    row carries both full hashes, so "is this the FIRST agreeing band?"
    is a pure expression (zip_with equality + array_position), and the
    filter keeps exactly that one row per pair. Stateless, no
    watermark, no growing store.

    ``history_sig``: (id, simhash) from dedup.simhash over the corpus —
    persist it; Spark re-reads the static side every micro-batch, and a
    cached 16-bytes-per-doc table turns that into a memory scan. To ALSO
    catch duplicates between in-flight documents, run the batch
    self-join inside foreachBatch (exact within the batch); updating the
    history with accepted arrivals is the caller's foreachBatch append.

    100 TB shape: the stream side moves (id, 8B hash) per band; the
    static side is the corpus's 16B/doc signature table, equi-joined on
    band keys (broadcast when small) once per micro-batch.
    """
    from kapacitor_spark.dataprep.cache import track
    from kapacitor_spark.dataprep.dedup import simhash, simhash_band_expr

    # ``sig_df``: optionally pass the stream side's already-computed
    # (id, simhash, keep...) table to share the fold with another
    # consumer (same seam as dedup.simhash_near_dup's sig_df — a BATCH
    # completeness check that also brute-scans the arrivals otherwise
    # tokenizes + hashes the arriving half twice in one action). The
    # caller guarantees provenance: it must be dedup.simhash over the
    # same rows with the same normalization, carrying every non-id
    # column of ``stream_df``.
    keep = [c for c in stream_df.columns if c != id_col]
    if sig_df is not None:
        # fail fast on a mismatched sig_df (ADVICE r11): a signature table
        # missing stream columns yields wrong matches with no error until
        # (or without) an AnalysisException far from the call site
        missing = [c for c in ("simhash", id_col, *keep) if c not in sig_df.columns]
        if missing:
            raise ValueError(
                f"sig_df must carry 'simhash' plus every stream_df column; "
                f"missing {missing}"
            )
        sig = sig_df
    else:
        sig = simhash(stream_df, text_col, id_col, keep=keep)
    stream_banded = sig.select(
        "*",
        F.posexplode(simhash_band_expr("simhash", max_hamming)).alias(
            "band", "band_val"
        ),
    )
    # identical-signature collapse (r9, same scheme as the batch side):
    # the band join runs against DISTINCT history signatures — an
    # m-duplicate history class previously multiplied every agreeing
    # stream row by m INSIDE the join and re-applied the Hamming +
    # first-band filters per member; now those run once per (arrival,
    # distinct signature) and members re-attach through one output-sized
    # equi-join. Persisted (8 B per distinct signature): the distinct is
    # a shuffle the static side must not re-pay every micro-batch —
    # callers that swap the history table between batches build a fresh
    # plan anyway (the foreachBatch composition below).
    # ``persist_static=False`` for callers that REBUILD the static side
    # every micro-batch (the foreachBatch corpus-update composition): a
    # persisted plan over the same parquet path would be substituted by
    # Spark's CacheManager on canonical-plan match and serve the STALE
    # pre-append file list.
    hist_sigs = history_sig.select(F.col("simhash").alias("__hhash")).distinct()
    if persist_static:
        hist_sigs = track(hist_sigs.persist())
    hist_banded = hist_sigs.select(
        "__hhash",
        F.posexplode(simhash_band_expr("__hhash", max_hamming)).alias(
            "band", "band_val"
        ),
    )
    agree = F.zip_with(
        simhash_band_expr("simhash", max_hamming),
        simhash_band_expr("__hhash", max_hamming),
        lambda a, b: a == b,
    )
    first_agreeing = F.array_position(agree, True) - 1
    matched_sigs = (
        stream_banded.join(hist_banded, ["band", "band_val"])
        .withColumn(
            "hamming", F.bit_count(F.col("simhash").bitwiseXOR(F.col("__hhash")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .filter(F.col("band") == first_agreeing)
    )
    members = history_sig.select(
        F.col(id_col).alias(history_id), F.col("simhash").alias("__hhash")
    )
    matched = matched_sigs.join(members, "__hhash")
    return matched.select(*stream_df.columns, history_id, "hamming")


def simhash_ingest_foreachbatch(
    history_path: str,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    history_id: str = "history_id",
    matches_path: str | None = None,
):
    """The corpus-UPDATE composition simhash_match_stream's docstring
    assigns to the caller, packaged: a ``foreachBatch`` function that,
    per micro-batch, (1) matches arrivals against the CURRENT history
    signature table — parquet at ``history_path``, re-read every batch
    so earlier batches' appends are visible — (2) appends match rows to
    ``matches_path`` (when given), and (3) appends the signatures of
    ACCEPTED (non-matching) arrivals to the history, so later arrivals
    match against earlier ones. Duplicates are matched but NOT appended
    — the history stays one signature per retained document.

    Seed ``history_path`` with ``dedup.simhash(corpus)`` before starting
    the stream. Matching uses ``persist_static=False``: a persisted plan
    over the history path would be CacheManager-substituted on the next
    batch and serve the stale pre-append file list.

    100 TB shape: the history is an append-only 16 B/doc parquet table;
    each micro-batch pays one scan of it (partition-pruned by nothing —
    at corpus scale, store it bucketed by a signature prefix and this
    composition's equi-join prunes to matching buckets) plus the
    arrivals' signature fold. Exactly-once: Structured Streaming replays
    a failed batch; the append of that batch's accepted signatures may
    then double — idempotent dedup on (id) at read, or transactional
    table formats, close that gap in production."""

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        from kapacitor_spark.dataprep.dedup import simhash

        spark = batch_df.sparkSession
        batch_df.persist()
        try:
            hist = spark.read.parquet(history_path)
            matched = simhash_match_stream(
                batch_df,
                hist,
                max_hamming,
                text_col,
                id_col,
                history_id,
                persist_static=False,
            ).persist()
            try:
                if matches_path is not None:
                    matched.write.mode("append").parquet(matches_path)
                accepted = batch_df.join(
                    matched.select(id_col).distinct(), id_col, "left_anti"
                )
                simhash(accepted, text_col, id_col).write.mode("append").parquet(
                    history_path
                )
            finally:
                matched.unpersist()
        finally:
            batch_df.unpersist()

    return fn

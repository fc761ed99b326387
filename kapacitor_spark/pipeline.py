"""The fluent Pipeline DSL — kapacitor's node-chain surface re-expressed as
composition of Spark DataFrame transformations.

Design (SURVEY.md §7): each DSL method immediately composes a *lazy* Spark
DataFrame transformation and returns a new immutable ``Pipeline``. There is
no separate interpreter/physical planner — the DataFrame *is* the logical
plan and Catalyst is the optimizer. This is deliberately NOT the reference
architecture (one goroutine per node, channel edges, per-group receivers —
/root/reference/edge/consumer.go, /root/reference/node.go): in Spark,
group-parallelism is partitioning, per-node pipelining is whole-stage
codegen, and ordering state machines become window functions.

Carried metadata:
    time_col   name of the event-time column ("time" in the reference's
               point model, /root/reference/models/point.go)
    dims       current group-by dimension columns (the reference's GroupID,
               /root/reference/models/point.go:82 — composite keys are
               native in Spark so no string serialization is needed)
    window     pending WindowSpec set by .window(); consumed by aggregates

Scale notes: every per-group ordered transform (derivative, difference,
stateCount, …) compiles to a window function over
``partitionBy(dims).orderBy(time)`` — one shuffle on the group key, then
sorted within partitions; at 100 TB the dims should be reasonably
high-cardinality (hosts, services) which matches the reference's data
model. A big NO-DIMS pipeline — the one case where that window would
funnel everything through a single sorting task — routes
derivative/difference/elapsed/movingAverage/cumulativeSum/changeDetect
through the salted two-phase plan in ``operators/ordered.py`` (chunk-local
windows + broadcast recombination; see ``_lag_frame``). Aggregations are
plain hash aggregates with map-side partial aggregation. Joins are
equi-joins on (bucketed time, dims) which AQE can convert to broadcast
when one side is small.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass, field, replace
from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kapacitor_spark.durations import parse_duration, to_interval
from kapacitor_spark.functions.lambdas import compile_lambda, is_lambda, is_stateful

__all__ = ["Pipeline", "WindowSpec"]


def _col(c: str | Column) -> Column:
    if isinstance(c, str):
        return compile_lambda(c) if is_lambda(c) else F.expr(c)
    return c


def _level_label(idx: Column) -> Column:
    """Level index (Pipeline._level_index) → its name."""
    from kapacitor_spark.streaming.state import LEVELS

    return F.get(F.array(*[F.lit(n) for n in LEVELS]), idx)


def _flat(name: str) -> Column:
    """Column ref for a FLAT name that may contain dots (join-prefixed
    fields like 'errors.value') — backtick-quoted so it never reads as
    struct-field access. df[name] does not quote either."""
    return F.col(f"`{name}`")


@dataclass(frozen=True)
class WindowSpec:
    """Pending .window() — consumed by the next aggregation.

    Mirrors /root/reference/pipeline/window.go:12-54 (period/every/align/
    fillPeriod). Count windows (periodCount/everyCount,
    /root/reference/window.go:360) are handled by
    operators.count_window (batch) / streaming state (stream).
    """

    period: float  # seconds
    every: float   # seconds; == period → tumbling
    align: bool = True
    fill_period: bool = False
    emit: str = "start"  # which boundary becomes the output time col
    closed: str = "left"  # 'left' = [s, e); 'right' = (s, e] (reference)
    offset: float = 0.0  # bucket-boundary shift (InfluxQL time(d, offset))


@dataclass(frozen=True)
class TrailingWindowSpec:
    """window().period(p).every(0) — emit on EVERY point, each row
    aggregating the trailing (t-p, t] right-aligned window
    (/root/reference/window.go:150-165 "Since we are emitting every point
    we can use a right aligned window (oldest, now]"). Compiles to a
    range-frame window function over event-time µs — one shuffle on the
    group key, no per-point Python. ``fill_period`` suppresses rows until
    a full period has elapsed since the group's first point."""

    period: float  # seconds
    fill_period: bool = False


@dataclass(frozen=True)
class CountWindowSpec:
    """Count-based window (/root/reference/window.go:360-470):
    last ``period`` points per group, emitting every ``every`` points.
    Compiles to rowsBetween(-(period-1), 0) + row_number emit filter —
    no groupBy, one shuffle on the group key."""

    period: int
    every: int = 1
    fill_period: bool = False


@dataclass(frozen=True)
class Pipeline:
    """One edge of the dataflow DAG = one DataFrame + point-model metadata."""

    df: DataFrame
    time_col: str = "time"
    dims: tuple[str, ...] = ()
    window: WindowSpec | None = None
    tiebreak: tuple[str, ...] = ()
    results: dict = field(default_factory=dict, compare=False)
    # one row per (time, dims): set only by a batch time-window agg();
    # every rebuild (_with, replace) drops it
    _unique: bool = field(default=False, init=False, repr=False, compare=False)

    # ------------------------------------------------------------------ #
    # sources (reference: stream|from() /root/reference/stream.go:41,
    #          batch|query() /root/reference/batch.go:168)
    # ------------------------------------------------------------------ #

    @classmethod
    def from_df(
        cls,
        df: DataFrame,
        time_col: str = "time",
        dims: Sequence[str] = (),
        tiebreak: Sequence[str] = (),
    ) -> "Pipeline":
        """``tiebreak``: extra columns appended to every event-time ordering
        so per-group sequences are total orders even when timestamps collide
        (the reference relies on arrival order, which has no distributed
        analog — a unique key column is the deterministic substitute)."""
        return cls(df=df, time_col=time_col, dims=tuple(dims), tiebreak=tuple(tiebreak))

    @classmethod
    def from_parquet(
        cls,
        spark: SparkSession,
        path: str,
        time_col: str = "time",
        dims: Sequence[str] = (),
        where: str | Column | None = None,
        tiebreak: Sequence[str] = (),
    ) -> "Pipeline":
        """``from()`` analog: scan + optional predicate.

        The predicate is applied immediately so Catalyst pushes it into the
        parquet scan (the reference ships its WHERE to InfluxDB the same
        way, /root/reference/query.go:37-70).
        """
        from kapacitor_spark.session import read_table

        df = read_table(spark, path)
        if where is not None:
            df = df.filter(_col(where))
        return cls(df=df, time_col=time_col, dims=tuple(dims), tiebreak=tuple(tiebreak))

    # ------------------------------------------------------------------ #
    # plumbing
    # ------------------------------------------------------------------ #

    def _with(self, df: DataFrame, **kw) -> "Pipeline":
        kw.setdefault("window", None)
        return replace(self, df=df, **kw)

    def _ordered(self) -> Window:
        """Per-group event-time window frame — the Spark analog of the
        reference's per-group receiver ordering (/root/reference/edge/grouped.go)."""
        w = Window.partitionBy(*[F.col(d) for d in self.dims]) if self.dims else Window.partitionBy()
        return w.orderBy(self.time_col, *self.tiebreak)

    def _lag_frame(self, tail_rows: int = 1):
        """(df, window, finish) — the giant-single-group-safe ordered frame
        for lag/trailing-rows transforms. Grouped or small pipelines get
        the plain per-group window (finish = identity). A big NO-DIMS
        pipeline would funnel the whole input through one sorting task
        (the one scale wall the reference's per-group goroutines never
        hit), so it routes through operators.ordered.chunked_frame: a
        salted two-phase plan whose ghost rows carry each chunk's trailing
        ``tail_rows`` across the cut; ``finish`` strips the ghosts."""
        from kapacitor_spark.operators.ordered import (
            chunked_frame,
            chunks_support_tail,
            should_chunk,
        )

        if self.dims or not should_chunk(self.df, self.dims):
            return self.df, self._ordered(), lambda d: d
        if tail_rows > 1 and not chunks_support_tail(
            self.df, self.time_col, tail_rows
        ):
            # a chunk thinner than the trailing window can't feed full
            # ghosts — fall back to the exact single-window plan
            return self.df, self._ordered(), lambda d: d
        aug, w = chunked_frame(
            self.df, self.time_col, list(self.tiebreak), tail_rows=tail_rows
        )
        return (
            aug,
            w,
            lambda d: d.filter(F.col("__real")).drop("__chunk", "__real"),
        )

    @property
    def time(self) -> Column:
        return F.col(self.time_col)

    def result(self) -> DataFrame:
        return self.df

    def explain(self, mode: str = "formatted") -> "Pipeline":
        self.df.explain(mode)
        return self

    # ------------------------------------------------------------------ #
    # §2.2 projections / per-row transforms
    # ------------------------------------------------------------------ #

    def _expr(self, c: str | Column) -> Column:
        """SQL/Column/TICK-lambda → Column; lambdas get this pipeline's
        event ordering so stateful sigma/count/spread compile to running
        windows (/root/reference/tick/stateful/functions.go:1131)."""
        if isinstance(c, str) and is_lambda(c):
            return compile_lambda(
                c, ordered_window=self._ordered(), time_col=self.time_col,
                schema=dict(self.df.dtypes),
            )
        return _col(c)

    def where(self, cond: str | Column) -> "Pipeline":
        """Filter points (/root/reference/where.go:89-99). Accepts SQL,
        Column, or a TICK lambda string (``lambda: "value" > 10``).

        Stateful lambda fns (sigma/count/spread, golden
        TestStream_AlertComplexWhere) compile to running-window
        aggregates, which Spark forbids directly inside a filter — those
        predicates are materialized as a column first (same plan shape:
        one window pass, then the filter)."""
        return self._filter(
            self._expr(cond), is_lambda(cond) and is_stateful(cond)
        )

    def _filter(self, c: Column, stateful: bool) -> "Pipeline":
        """Filter on a compiled predicate; ``stateful`` materializes it
        first (see where). The TICK where path calls this directly."""
        if stateful:
            df = self.df.withColumn("__wf", c).filter(F.col("__wf")).drop("__wf")
            return self._with(df)
        return self._with(self.df.filter(c))

    def eval(
        self,
        keep: bool | Sequence[str] = True,
        tags: Sequence[str] = (),
        drop_errors: bool = False,
        **named_exprs: str | Column,
    ) -> "Pipeline":
        """Ordered expression evaluation (/root/reference/eval.go:91-172).

        Each named expression is evaluated in order and is visible to later
        ones (a chain of withColumn, exactly the reference's sequential
        scope updates). ``keep=False`` keeps only time+dims+outputs
        (the reference's default of dropping input fields,
        /root/reference/pipeline/eval.go:130); ``keep=[...]`` keeps a subset.
        ``tags=[names]`` converts those outputs to tags — string-typed
        dimension columns (pipeline/eval.go:191 Tags property; tags are
        strings in the point model, /root/reference/models/point.go:63).
        """
        df = self.df
        for name, expr in named_exprs.items():
            c = self._expr(expr)
            df = df.withColumn(name, c.cast("string") if name in tags else c)
        if drop_errors:
            # reference semantics: an expression error (missing field,
            # int division by zero → NULL via try_divide) drops the whole
            # point (eval.go errors are logged and the point is skipped;
            # TestStream_EvalDivisionByZero expects zero output rows)
            for name in named_exprs:
                df = df.filter(F.col(name).isNotNull())
        new_dims = self.dims + tuple(t for t in tags if t not in self.dims)
        if keep is True:
            return self._with(df, dims=new_dims if tags else self.dims)
        if isinstance(keep, bool):
            # keep=False: only time+dims+outputs survive
            out = [self.time_col, *self.dims, *named_exprs.keys()]
        else:
            # keep=[...] prunes EVAL OUTPUTS too: an intermediate output
            # absent from the list is hidden (eval.go .keep(...);
            # golden TestStream_Eval_KeepSomeWithHidden hides 'pos')
            out = [self.time_col, *self.dims, *keep,
                   *[t for t in tags if t in named_exprs]]
        seen, cols = set(), []
        for c in out:
            if c not in seen and c in df.columns:
                seen.add(c)
                cols.append(c)
        return self._with(df.select(*cols), dims=new_dims if tags else self.dims)

    def default(self, tags: dict | None = None, **values) -> "Pipeline":
        """Fill missing fields/tags with constants (/root/reference/default.go:84-110).

        ``tags``: tag defaults with the reference's TAG rule — a tag whose
        value is the EMPTY STRING counts as missing (default.go:100
        ``if v := tags[tag]; v == ""``; golden TestStream_DefaultEmptyTags
        chains default('')→default('serverA')→default('serverB') and ends
        at serverA). Field defaults (**values) fill NULL only."""
        df = self.df
        for name, v in values.items():
            if name in df.columns:
                # backtick-quoted ref: join-prefixed fields contain dots
                # ('errors.value') which a bare ref would read as nesting
                df = df.withColumn(name, F.coalesce(_flat(name), F.lit(v)))
            else:
                df = df.withColumn(name, F.lit(v))
        for name, v in (tags or {}).items():
            if name in df.columns:
                missing = _flat(name).isNull() | (_flat(name) == "")
                df = df.withColumn(
                    name, F.when(missing, F.lit(v)).otherwise(_flat(name))
                )
            else:
                df = df.withColumn(name, F.lit(v))
        return self._with(df)

    def delete(self, *cols: str) -> "Pipeline":
        """Drop fields/tags; dropping a grouped dim regroups
        (/root/reference/delete.go:96-130)."""
        df = self.df.drop(*cols)
        dims = tuple(d for d in self.dims if d not in cols)
        return self._with(df, dims=dims)

    def shift(self, duration: str | float) -> "Pipeline":
        """Shift timestamps by ±duration (/root/reference/shift.go:43-65).

        A pending window survives (golden TestStream_ShiftBatch:
        window|shift|count shifts the batch onto the next window) — the
        shifted times re-enter window assignment, equivalent to the
        reference's batch-time shift for shifts that are multiples of
        ``every`` (epoch-grid divergence documented at window_time)."""
        shifted = F.col(self.time_col) + F.expr(f"INTERVAL {to_interval(duration)}")
        return self._with(
            self.df.withColumn(self.time_col, shifted), window=self.window
        )

    def group_by(
        self,
        *dims: str,
        exclude: Sequence[str] = (),
        by_measurement: bool = False,
    ) -> "Pipeline":
        """Re-key the stream on a dim subset (/root/reference/group_by.go:62-74).

        ``group_by('*')`` = group by every tag (pipeline/group_by.go:139):
        in the wide/typed model (SURVEY §1.3) tags are the string-typed
        columns, so '*' selects all string columns except the time column,
        tiebreaks, and the measurement ``name``. ``by_measurement=True``
        adds ``name`` to the group key (pipeline/group_by.go:133
        .byMeasurement()).

        In Spark this is pure metadata — the shuffle happens at the next
        aggregation/window-function, and Catalyst reuses partitioning
        across stages where possible.
        """
        if dims == ("*",):
            skip = {self.time_col, "name", *self.tiebreak, *exclude}
            dims = tuple(
                c for c, t in self.df.dtypes if t == "string" and c not in skip
            )
        new = tuple(d for d in dims if d not in exclude)
        if by_measurement and "name" in self.df.columns and "name" not in new:
            new = (*new, "name")
        # a pending window survives regrouping: the reference's batch
        # groupBy re-keys buffered batches (group_by.go:76-170), so
        # window(...)|groupBy(...)|agg is a supported chain
        return self._with(self.df, dims=new, window=self.window)

    def sample(self, n: int | None = None, every: str | None = None) -> "Pipeline":
        """Keep every Nth point per group, or points on duration boundaries
        (/root/reference/sample.go:97-110: counter%N==0, or
        t.Truncate(d)==t)."""
        if n is not None:
            from kapacitor_spark.operators.ordered import (
                chunked_row_number,
                should_chunk,
            )

            if not self.dims and should_chunk(self.df, self.dims):
                df = chunked_row_number(
                    self.df, "__rn", self.time_col, list(self.tiebreak)
                )
            else:
                df = self.df.withColumn(
                    "__rn", F.row_number().over(self._ordered())
                )
            df = df.filter((F.col("__rn") - 1) % n == 0).drop("__rn")
            return self._with(df)
        if every is not None:
            us = round(parse_duration(every) * 1_000_000)
            keep = (F.unix_micros(self.time) % F.lit(us)) == 0
            return self._with(self.df.filter(keep))
        raise ValueError("sample() needs n or every")

    def log(self, n: int = 20) -> "Pipeline":
        """Debug passthrough (/root/reference/log.go)."""
        self.df.show(n, truncate=False)
        return self

    # ------------------------------------------------------------------ #
    # §2.5 per-point stream transforms (window functions)
    # ------------------------------------------------------------------ #

    def derivative(
        self,
        fld: str,
        unit: str | float = "1s",
        non_negative: bool = False,
        as_: str | None = None,
    ) -> "Pipeline":
        """Rate of change per unit time (/root/reference/derivative.go:127-170):
        (cur-prev)/(Δt/unit); the first point per group is dropped; with
        nonNegative(), negative results are dropped too."""
        out = as_ or fld
        df0, w, finish = self._lag_frame()
        unit_s = parse_duration(unit)
        dv = F.col(fld) - F.lag(fld).over(w)
        dt = (
            F.unix_micros(self.time) - F.unix_micros(F.lag(self.time_col).over(w))
        ) / 1_000_000.0
        # zero elapsed ⇒ emit nothing but still advance prev
        # (derivative.go:146-150) — NULL here, dropped by the filter below,
        # and ANSI-safe (Spark 4 raises on /0 otherwise)
        deriv = F.when(dt != 0, dv / (dt / F.lit(unit_s)))
        df = finish(df0.withColumn("__d", deriv)).filter(F.col("__d").isNotNull())
        if non_negative:
            df = df.filter(F.col("__d") >= 0)
        # with .as(alias) the reference KEEPS the source field and adds the
        # alias alongside it (derivative.go:110-112 copies cur fields, then
        # fields[As]=value; golden TestStream_DerivativeAs has columns
        # time, derivative, value) — so never drop ``fld``.
        df = df.withColumn(out, F.col("__d")).drop("__d")
        return self._with(df)

    def difference(self, fld: str, as_: str | None = None) -> "Pipeline":
        """cur - prev per group (/root/reference/pipeline/influxql.go:519);
        first point dropped."""
        out = as_ or fld
        df0, w, finish = self._lag_frame()
        d = F.col(fld) - F.lag(fld).over(w)
        return self._with(
            finish(df0.withColumn("__d", d))
            .filter(F.col("__d").isNotNull())
            .withColumn(out, F.col("__d"))
            .drop("__d")
        )

    def elapsed(self, unit: str | float = "1s", as_: str = "elapsed") -> "Pipeline":
        """Δt from previous point in units (/root/reference/pipeline/influxql.go:493);
        first point dropped. Output is an integer count of units, matching
        influxdb's elapsed()."""
        df0, w, finish = self._lag_frame()
        unit_us = round(parse_duration(unit) * 1_000_000)
        e = (
            (F.unix_micros(self.time) - F.unix_micros(F.lag(self.time_col).over(w)))
            / F.lit(unit_us)
        ).cast("long")
        return self._with(
            finish(df0.withColumn(as_, e)).filter(F.col(as_).isNotNull())
        )

    def moving_average(self, fld: str, window: int, as_: str | None = None) -> "Pipeline":
        """Trailing moving average over the last ``window`` points per group
        (/root/reference/pipeline/influxql.go:536); emits only once the
        window is full (influxdb semantics)."""
        out = as_ or fld
        # ghost rows make chunk-local row_number equal the TRUE trailing
        # count for every real row (chunk 0 has none, later chunks carry
        # exactly window-1 ghosts), so the warmup filter stays correct
        df0, w, finish = self._lag_frame(tail_rows=window - 1)
        avg = F.avg(fld).over(w.rowsBetween(-(window - 1), 0))
        rn = F.row_number().over(w)
        df = (
            finish(df0.withColumn("__ma", avg).withColumn("__rn", rn))
            .filter(F.col("__rn") >= window)
            .withColumn(out, F.col("__ma"))
            .drop("__ma", "__rn")
        )
        return self._with(df)

    def cumulative_sum(self, fld: str, as_: str | None = None) -> "Pipeline":
        """Running sum per group (/root/reference/pipeline/influxql.go:584)."""
        out = as_ or fld
        from kapacitor_spark.operators.ordered import (
            chunked_cumulative_sum,
            should_chunk,
        )

        if not self.dims and should_chunk(self.df, self.dims):
            # one giant group: chunk-local prefix + broadcast offsets
            # instead of a single-task global sort
            return self._with(
                chunked_cumulative_sum(
                    self.df, fld, out, self.time_col, list(self.tiebreak)
                )
            )
        w = self._ordered().rowsBetween(Window.unboundedPreceding, 0)
        return self._with(self.df.withColumn(out, F.sum(fld).over(w)))

    def change_detect(self, *flds: str) -> "Pipeline":
        """Drop points whose monitored fields all equal the previous point's
        (/root/reference/change_detect.go:110-140)."""
        df0, w, finish = self._lag_frame()
        conds = []
        for f_ in flds:
            lagged = F.lag(f_).over(w)
            conds.append(
                lagged.isNull() | (F.col(f_) != lagged) | (F.col(f_).isNull() & lagged.isNotNull())
            )
        keep = conds[0]
        for c in conds[1:]:
            keep = keep | c
        return self._with(
            finish(df0.withColumn("__keep", keep))
            .filter(F.col("__keep"))
            .drop("__keep")
        )

    def _streak_id(self, cond: Column) -> tuple[DataFrame, Column]:
        """Shared streak machinery for stateDuration/stateCount
        (/root/reference/state_tracking.go:111-189): a new streak starts
        whenever the predicate flips false→true; implemented as a running
        count of predicate-boundaries — one shuffle, no Python.

        A big NO-DIMS pipeline composes the two chunked primitives instead
        of funneling one task: boundary detection through the ghost-row
        lag frame, then the running boundary count through the chunked
        prefix-sum (integers — exact under reassociation). The per-streak
        windows downstream partition by streak id, which distributes
        across streaks like the reference's per-group goroutines."""
        from kapacitor_spark.operators.ordered import (
            chunked_cumulative_sum,
            chunked_frame,
            should_chunk,
        )

        df0 = self.df.withColumn("__ok", cond)
        if not self.dims and should_chunk(self.df, self.dims):
            aug, w = chunked_frame(
                df0, self.time_col, list(self.tiebreak), tail_rows=1
            )
            boundary = F.when(
                F.col("__ok")
                & ~F.coalesce(F.lag("__ok").over(w), F.lit(False)),
                1,
            ).otherwise(0)
            bdf = (
                aug.withColumn("__bnd", boundary)
                .filter(F.col("__real"))
                .drop("__chunk", "__real")
            )
            sdf = chunked_cumulative_sum(
                bdf, "__bnd", "__streak", self.time_col, list(self.tiebreak)
            ).drop("__bnd")
            return sdf, F.col("__ok")
        w = self._ordered()
        boundary = (
            F.when(
                F.col("__ok")
                & ~F.coalesce(F.lag("__ok").over(w), F.lit(False)),
                1,
            ).otherwise(0)
        )
        df = df0.withColumn(
            "__streak",
            F.sum(boundary).over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        return df, F.col("__ok")

    def state_count(self, cond: str | Column, as_: str = "state_count") -> "Pipeline":
        """Consecutive-true counter, -1 when false
        (/root/reference/state_tracking.go:153-189)."""
        df, ok = self._streak_id(self._expr(cond))
        w = (
            Window.partitionBy(*[F.col(d) for d in self.dims], F.col("__streak"))
            .orderBy(self.time_col, *self.tiebreak)
        )
        cnt = F.when(ok, F.row_number().over(w)).otherwise(F.lit(-1)).cast("long")
        return self._with(df.withColumn(as_, cnt).drop("__ok", "__streak"))

    def state_duration(
        self, cond: str | Column, unit: str | float = "1s", as_: str = "state_duration"
    ) -> "Pipeline":
        """Time spent with predicate continuously true, in units; -1 when
        false; 0 at streak start (/root/reference/state_tracking.go:111-151)."""
        df, ok = self._streak_id(self._expr(cond))
        w = Window.partitionBy(*[F.col(d) for d in self.dims], F.col("__streak")).orderBy(
            self.time_col, *self.tiebreak
        )
        unit_us = round(parse_duration(unit) * 1_000_000)
        dur = (
            (F.unix_micros(self.time) - F.unix_micros(F.min(self.time_col).over(w)))
            / F.lit(float(unit_us))
        )
        out = F.when(ok, dur).otherwise(F.lit(-1.0))
        return self._with(df.withColumn(as_, out).drop("__ok", "__streak"))

    def _state_track(
        self,
        cond: str | Column,
        unit: str | float,
        count_as: str,
        dur_as: str,
    ) -> "Pipeline":
        """Fused state_count + state_duration over ONE streak computation.
        The chained calls each rebuild the lag+boundary-cumsum machinery
        and re-sort for their per-streak window (plan: 6 Window / 4 Sort
        operators); both outputs are pure functions of the same streak id
        and the same per-streak ordering, so the fusion computes them in
        one per-streak window (at most 3 Window / 2 Sort, pinned by
        test_plans.py) — identical values."""
        df, ok = self._streak_id(self._expr(cond))
        w = Window.partitionBy(
            *[F.col(d) for d in self.dims], F.col("__streak")
        ).orderBy(self.time_col, *self.tiebreak)
        cnt = F.when(ok, F.row_number().over(w)).otherwise(F.lit(-1)).cast("long")
        unit_us = round(parse_duration(unit) * 1_000_000)
        dur = (
            F.unix_micros(self.time) - F.unix_micros(F.min(self.time_col).over(w))
        ) / F.lit(float(unit_us))
        out = F.when(ok, dur).otherwise(F.lit(-1.0))
        return self._with(
            df.withColumn(count_as, cnt)
            .withColumn(dur_as, out)
            .drop("__ok", "__streak")
        )

    def sigma(self, fld: str, as_: str = "sigma") -> "Pipeline":
        """Number of standard deviations from the running mean
        (/root/reference/tick/stateful/functions.go:1131-1163, Welford):
        |x-mean|/stddev over all points so far (inclusive); 0 while n<2 or
        variance==0. One window shuffle; also available inside lambdas as
        ``sigma("field")``."""
        c = self._expr(f'lambda: sigma("{fld}")')
        return self._with(self.df.withColumn(as_, c))

    def trickle(self) -> "Pipeline":
        """Batch edge → stream edge (/root/reference/trickle.go). DataFrames
        are already row streams; this just clears any pending window spec."""
        return replace(self, window=None)

    def holt_winters(
        self,
        fld: str,
        h: int,
        m: int,
        interval: str | float,
        include_fit: bool = False,
        as_: str | None = None,
    ) -> "Pipeline":
        """Holt-Winters forecast per group (/root/reference/pipeline/
        influxql.go:555-599) — see operators.holt_winters."""
        from kapacitor_spark.operators.holt_winters import holt_winters as hw

        out = hw(
            self.df, fld, h, m, interval,
            time_col=self.time_col, dims=self.dims,
            include_fit=include_fit, as_=as_,
        )
        return Pipeline(df=out, time_col=self.time_col, dims=self.dims, results=self.results)

    # ------------------------------------------------------------------ #
    # §2.4 windowing
    # ------------------------------------------------------------------ #

    def window_time(
        self,
        period: str | float,
        every: str | float | None = None,
        align: bool = True,
        fill_period: bool = False,
        emit: str = "start",
        closed: str = "left",
        offset: str | float = 0.0,
    ) -> "Pipeline":
        """Declare a time window (/root/reference/window.go:80-358); consumed
        by the next aggregation, which compiles to
        ``groupBy(F.window(time, period, every), *dims)`` — Spark's native
        sliding/tumbling windows. A batch aggregate keys on the emitted
        bound instead of the struct, and a live one keeps the watermarked
        struct (see ``agg``).

        ``closed='left'`` (default) = [start, stop) half-open windows —
        this matches the reference (verified against its own fixtures:
        TestStream_Join's expected sums cover exactly [0s,10s),
        tests/test_reference_fixtures.py). ``closed='right'`` = (start,
        stop] for engines/pipelines that follow the
        boundary-point-belongs-to-ending-window convention; implemented
        as a 1µs shift on the assignment key only — emitted window
        bounds stay on the grid.

        Divergences from the reference (documented per SURVEY §7): windows
        are epoch-aligned (reference default is first-point-relative);
        emitted time = window start by default (reference emits at stop —
        pass emit='end' for exact parity).
        """
        p = parse_duration(period)
        e = p if every is None else parse_duration(every)
        if p <= 0:
            raise ValueError("window period must be > 0 (count windows: window_count())")
        if e == 0:
            # every=0: emit the trailing window on every point
            # (window.go:150-165)
            return replace(
                self, window=TrailingWindowSpec(period=p, fill_period=fill_period)
            )
        if e < 0:
            raise ValueError("window every must be >= 0")
        if closed not in ("left", "right"):
            raise ValueError("closed must be 'left' or 'right'")
        spec = WindowSpec(
            period=p, every=e, align=align, fill_period=fill_period,
            emit=emit, closed=closed, offset=parse_duration(offset),
        )
        return replace(self, window=spec)

    def session_window(self, gap: str | float, *aggs: Column) -> "Pipeline":
        """Session windows — no reference equivalent (SURVEY §2.8 lists it
        as a Spark-native bonus): per group, points closer than ``gap``
        merge into one session; returns one row per session with
        session_start/session_end + the aggregates. Uses F.session_window
        (native, AQE-aware merge)."""
        sw = F.session_window(self.time, to_interval(gap))
        out = (
            self.df.groupBy(sw.alias("__sw"), *[F.col(d) for d in self.dims])
            .agg(*aggs)
            .withColumn("session_start", F.col("__sw.start"))
            .withColumn("session_end", F.col("__sw.end"))
            .drop("__sw")
        )
        return Pipeline(
            df=out, time_col="session_start", dims=self.dims, results=self.results
        )

    def window_count(
        self, period_count: int, every_count: int = 1, fill_period: bool = False
    ) -> "Pipeline":
        """Count-based window: last ``period_count`` points per group, emit
        every ``every_count`` points (/root/reference/window.go:360-470;
        pipeline/window.go:49-53). Consumed by the next single aggregation,
        which compiles to an aggregate window function over
        rowsBetween(-(period_count-1), 0) — point times are preserved
        (the reference emits at the triggering point's time)."""
        if period_count < 1 or every_count < 1:
            raise ValueError("window_count period/every must be >= 1")
        spec = CountWindowSpec(period=period_count, every=every_count, fill_period=fill_period)
        return replace(self, window=spec)

    def _window_grouping(self) -> tuple[DataFrame, list[Column], list[str]]:
        """Resolve (df, groupBy columns, output key columns) for the pending
        window + dims."""
        dims_cols = [F.col(d) for d in self.dims]
        if self.window is None:
            return self.df, dims_cols, list(self.dims)
        if isinstance(self.window, (CountWindowSpec, TrailingWindowSpec)):
            raise ValueError(
                "count/trailing windows support single aggregates only"
            )
        spec = self.window
        assign_t = self.time
        if spec.closed == "right":
            # (start, stop] assignment: shift the KEY by 1µs so boundary
            # points land in the ending window; emitted bounds stay exact
            assign_t = F.timestamp_micros(F.unix_micros(self.time) - 1)
        win = F.window(
            assign_t,
            f"{round(spec.period * 1_000_000)} microseconds",
            f"{round(spec.every * 1_000_000)} microseconds",
            # InfluxQL time(d, offset): shift bucket boundaries off the
            # epoch grid (Spark's startTime)
            f"{round(getattr(spec, 'offset', 0.0) * 1_000_000)} microseconds",
        )
        df = self.df.withColumn("__w", win)
        if spec.fill_period:
            # only emit windows fully covered by data: window_start >= per-group
            # first event time. Broadcast the tiny per-group min back in.
            g = (
                df.groupBy(*dims_cols)
                .agg(F.min(self.time_col).alias("__t0"))
            )
            df = df.join(F.broadcast(g), list(self.dims) or None, "inner") if self.dims else (
                df.crossJoin(F.broadcast(g))
            )
            df = df.filter(F.col("__w.start") >= F.col("__t0")).drop("__t0")
        return df, [F.col("__w"), *dims_cols], list(self.dims)

    def _emit_window_time(self, out: DataFrame) -> DataFrame:
        spec = self.window
        if "__w" not in out.columns:
            return out
        if spec.emit == "both":
            out = out.withColumn("window_start", F.col("__w.start")).withColumn(
                "window_end", F.col("__w.end")
            )
        else:
            out = out.withColumn(self.time_col, F.col(f"__w.{spec.emit}"))
        return out.drop("__w")

    # ------------------------------------------------------------------ #
    # §2.5 aggregations
    # ------------------------------------------------------------------ #

    def agg(self, *aggs: Column, emit_time: str | None = None) -> "Pipeline":
        """Generic multi-aggregate over (window ×) dims.

        The reference runs one InfluxQL function per node and users join the
        results (/root/reference/influxql.go:118); in Spark, computing many
        aggregates in ONE hash-aggregate pass is strictly better (single
        shuffle, map-side partial agg) so this is the primitive and the
        named methods below are sugar.

        A batch time window (emit 'start' or 'end') groups on the emitted
        bound itself, ``__w.<emit> AS time``, not on the window struct: the
        output is then hash-partitioned on (time, dims), the key a
        following join() pairs on, so the join reuses this exchange. The
        result holds one row per (time, dims), which join() reads to skip
        its pairing sequence. A live aggregate keeps the struct key:
        append mode needs the watermarked window column as the key.
        """
        if isinstance(self.window, (CountWindowSpec, TrailingWindowSpec)):
            raise ValueError(
                "count/trailing windows aggregate via named single-agg "
                "methods (.mean/.sum/...) or .agg_over(name=expr)"
            )
        df, keys, dim_names = self._window_grouping()
        by_time = (
            self.window is not None and self.window.emit != "both"
            and not df.isStreaming
        )
        if by_time:
            keys[0] = F.col(f"__w.{self.window.emit}").alias(self.time_col)
        # the measurement name is part of the reference's group identity
        # (models.ToGroupID(name, tags)) and rides through every
        # aggregation (golden alert IDs template {{ .Name }} off windowed
        # counts) — carry it when the source has one and it isn't already
        # a group key
        if "name" in df.columns and "name" not in dim_names:
            aggs = (*aggs, F.any_value("name").alias("name"))
        out = df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)
        if by_time:
            # time stays the last column, as _emit_window_time puts it
            out = out.select(
                *[_flat(c) for c in out.columns if c != self.time_col],
                _flat(self.time_col),
            )
        out = self._emit_window_time(out)
        if emit_time and self.window is None:
            # unwindowed batch reduce: reference emits at batch time (max)
            raise ValueError("emit_time applies to windowed aggregation only")
        res = Pipeline(
            df=out, time_col=self.time_col, dims=tuple(dim_names),
            results=self.results,
        )
        object.__setattr__(res, "_unique", by_time)  # frozen dataclass
        return res

    def agg_over(self, **named_aggs: Column) -> "Pipeline":
        """Aggregates over a pending count window: each expression is
        applied .over(rowsBetween(-(n-1), 0)); emit rows are every
        ``every``-th point per group (and, with fillPeriod, only once
        ``period`` points have accumulated) — reference emit logic
        /root/reference/window.go:404-470."""
        spec = self.window
        if not isinstance(spec, CountWindowSpec):
            raise ValueError("agg_over() requires a pending window_count()")
        w = self._ordered()
        frame = w.rowsBetween(-(spec.period - 1), 0)
        df = self.df
        for name, expr in named_aggs.items():
            df = df.withColumn(name, expr.over(frame))
        rn = F.row_number().over(w)
        df = df.withColumn("__rn", rn)
        conds = [(F.col("__rn") % spec.every) == 0] if spec.every > 1 else []
        if spec.fill_period:
            conds.append(F.col("__rn") >= spec.period)
        for c in conds:
            df = df.filter(c)
        df = df.drop("__rn")
        keep = [self.time_col, *self.dims, *named_aggs.keys()]
        if "name" in df.columns and "name" not in self.dims:
            keep.append("name")
        return Pipeline(
            df=df.select(*dict.fromkeys(keep)),
            time_col=self.time_col,
            dims=self.dims,
            tiebreak=self.tiebreak,
            results=self.results,
        )

    def _single_agg(self, expr: Column, alias: str) -> "Pipeline":
        if isinstance(self.window, CountWindowSpec):
            return self.agg_over(**{alias: expr})
        if isinstance(self.window, TrailingWindowSpec):
            return self._agg_trailing(expr, alias)
        return self.agg(expr.alias(alias))

    def _agg_trailing(self, expr: Column, alias: str) -> "Pipeline":
        """Per-point trailing aggregate for every=0 windows: a range-frame
        window over event-time µs covering (t-period, t], emitted on every
        row (golden TestStream_Window_Every_0: counts 1..10 as points
        arrive)."""
        spec = self.window
        p_us = round(spec.period * 1_000_000)
        w = (
            Window.partitionBy(*[F.col(d) for d in self.dims])
            if self.dims
            else Window.partitionBy()
        )
        frame = w.orderBy(F.unix_micros(self.time)).rangeBetween(-(p_us - 1), 0)
        df = self.df.withColumn(alias, expr.over(frame))
        if spec.fill_period:
            g = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            df = (
                df.withColumn("__t0", F.min(self.time_col).over(g))
                .filter(
                    F.unix_micros(self.time) - F.unix_micros(F.col("__t0")) >= p_us
                )
                .drop("__t0")
            )
        keep = [self.time_col, *self.dims, alias]
        if "name" in df.columns and "name" not in self.dims:
            keep.append("name")
        return Pipeline(
            df=df.select(*dict.fromkeys(keep)),
            time_col=self.time_col,
            dims=self.dims,
            tiebreak=self.tiebreak,
            results=self.results,
        )

    def cardinality(self) -> int:
        """Working cardinality — the number of live group keys a stateful
        node tracks, the reference's per-node ``working_cardinality``
        stat (node.go statsKey; asserted by every
        testStreamerCardinality golden: TestStream_WhereCardinality,
        TestStream_GroupByCardinality, TestStream_WindowCardinality,
        TestStream_EvalCardinality, TestStream_SampleCardinality,
        TestStream_AlertCardinality, TestStream_CombineCardinality,
        TestStream_FlattenCardinality, TestStream_HTTPOutCardinality,
        TestStream_InfluxQLCardinalityStream,
        TestStream_InfluxQLCardinalityBatch, TestStream_JoinCardinality,
        TestStream_MixedCardinality). Here group state is keyed by dims,
        so the live-key count is ONE distinct aggregate over the group
        columns (map-side partial, no data movement beyond the tiny
        distinct set); an ungrouped pipeline is a single implicit group.
        The reference's per-node-TYPE zeros (source/from nodes hold no
        state) don't apply — there is no node graph to introspect, only
        the current grouping."""
        if not self.dims:
            return 1
        return self.df.select(*self.dims).distinct().count()

    def count(self, fld: str, as_: str = "count") -> "Pipeline":
        return self._single_agg(F.count(fld), as_)

    def sum(self, fld: str, as_: str = "sum") -> "Pipeline":
        return self._single_agg(F.sum(fld), as_)

    def mean(self, fld: str, as_: str = "mean") -> "Pipeline":
        return self._single_agg(F.avg(fld), as_)

    def median(self, fld: str, as_: str = "median") -> "Pipeline":
        """Exact median, reference semantics: average of the two middle
        values for even n (FloatMedianReduceSlice sorts and averages —
        influxdb/influxql median)."""
        return self._single_agg(F.median(fld), as_)

    def mode(self, fld: str, as_: str = "mode") -> "Pipeline":
        return self._single_agg(F.mode(fld), as_)

    def spread(self, fld: str, as_: str = "spread") -> "Pipeline":
        return self._single_agg(F.max(fld) - F.min(fld), as_)

    def stddev(self, fld: str, as_: str = "stddev") -> "Pipeline":
        return self._single_agg(F.stddev_samp(fld), as_)

    def min(self, fld: str, as_: str = "min") -> "Pipeline":
        return self._single_agg(F.min(fld), as_)

    def max(self, fld: str, as_: str = "max") -> "Pipeline":
        return self._single_agg(F.max(fld), as_)

    def first(
        self, fld: str, as_: str = "first", use_point_times: bool = False,
        aux: Sequence[str] = (),
    ) -> "Pipeline":
        """Value at earliest time (/root/reference/pipeline/influxql.go:312).
        min_by keeps it a single hash-agg pass (no sort). ``aux`` columns
        ride along from the SELECTED point (the reference emits the whole
        selected point — golden TestStream_Selectors carries field
        'another' beside 'last')."""
        if use_point_times or aux:
            return self._selector_with_time(
                fld, as_, F.min_by, order=self.time_col,
                aux=aux, point_time=use_point_times,
            )
        return self._single_agg(F.min_by(fld, F.col(self.time_col)), as_)

    def last(
        self, fld: str, as_: str = "last", use_point_times: bool = False,
        aux: Sequence[str] = (),
    ) -> "Pipeline":
        if use_point_times or aux:
            return self._selector_with_time(
                fld, as_, F.max_by, order=self.time_col,
                aux=aux, point_time=use_point_times,
            )
        return self._single_agg(F.max_by(fld, F.col(self.time_col)), as_)

    def _selector_with_time(
        self, fld, as_, fn, order, aux: Sequence[str] = (), point_time: bool = True
    ) -> "Pipeline":
        """Selector keeping the selected point's own time and aux fields
        (usePointTimes, /root/reference/pipeline/influxql.go:160-169).
        One struct min_by/max_by keeps time+value+aux from the SAME row
        (separate per-column min_bys could mix rows on ties)."""
        df, keys, dim_names = self._window_grouping()
        s = F.struct(
            F.col(self.time_col).alias("t"), F.col(fld).alias("v"),
            *[F.col(a).alias(a) for a in aux],
        )
        # deterministic tie-break: order by (order, *tiebreak) as a struct
        # so equal-ordered points resolve stably (struct ordering is
        # lexicographic and fully codegen'd)
        order_expr = (
            F.struct(F.col(order), *[F.col(c) for c in self.tiebreak])
            if self.tiebreak
            else F.col(order)
        )
        sel = fn(s, order_expr)
        out = (df.groupBy(*keys) if keys else df).agg(sel.alias("__s"))
        out = out.withColumn(as_, F.col("__s.v"))
        for a in aux:
            out = out.withColumn(a, F.col(f"__s.{a}"))
        if point_time:
            out = out.withColumn(self.time_col, F.col("__s.t")).drop("__s")
            if "__w" in out.columns:
                out = out.drop("__w")
        else:
            out = self._emit_window_time(out.drop("__s"))
        return Pipeline(df=out, time_col=self.time_col, dims=tuple(dim_names), results=self.results)

    def min_selector(
        self, fld: str, as_: str = "min", aux: Sequence[str] = ()
    ) -> "Pipeline":
        """min as a SELECTOR: keeps the point time of the minimum
        (/root/reference/pipeline/influxql.go:362)."""
        return self._selector_with_time(fld, as_, F.min_by, order=fld, aux=aux)

    def max_selector(
        self, fld: str, as_: str = "max", aux: Sequence[str] = ()
    ) -> "Pipeline":
        return self._selector_with_time(fld, as_, F.max_by, order=fld, aux=aux)

    def percentile(self, fld: str, p: float, as_: str = "percentile") -> "Pipeline":
        """Exact percentile WITHOUT interpolation, reference formula
        idx = floor(n*p/100 + 0.5) clamped to [1, n] over the sorted values
        (influxdb FloatPercentileReduceSlice). At 100 TB scale prefer
        .agg(F.approx_percentile(...)) — this exact variant collects the
        group's values into an array (bounded by group size)."""
        arr = F.array_sort(F.collect_list(fld))
        n = F.size(arr)
        idx = F.greatest(F.least(F.floor(n * F.lit(p) / 100.0 + 0.5), n.cast("long")), F.lit(1))
        return self._single_agg(F.get(arr, (idx - 1).cast("int")), as_)

    def distinct(self, fld: str) -> "Pipeline":
        """Distinct values per group (/root/reference/pipeline/influxql.go:200)."""
        df, keys, dim_names = self._window_grouping()
        sel = [*keys, F.col(fld)] if keys else [F.col(fld)]
        out = df.select(*sel).distinct()
        out = self._emit_window_time(out)
        return Pipeline(df=out, time_col=self.time_col, dims=tuple(dim_names), results=self.results)

    def top(self, n: int, fld: str, *extra: str, as_: str | None = None) -> "Pipeline":
        """Top-n points by field per group (/root/reference/pipeline/influxql.go:419):
        row_number over desc(field) — single shuffle, no global sort."""
        return self._topk(n, fld, extra, descending=True, as_=as_)

    def bottom(self, n: int, fld: str, *extra: str, as_: str | None = None) -> "Pipeline":
        return self._topk(n, fld, extra, descending=False, as_=as_)

    def _topk(self, n, fld, extra, descending, as_) -> "Pipeline":
        df, keys, dim_names = self._window_grouping()
        order = [
            F.col(fld).desc() if descending else F.col(fld).asc(),
            F.col(self.time_col).asc(),
            *[F.col(c).asc() for c in self.tiebreak],
        ]
        w = Window.partitionBy(*keys).orderBy(*order) if keys else Window.partitionBy().orderBy(*order)
        out = df.withColumn("__rk", F.row_number().over(w)).filter(F.col("__rk") <= n).drop("__rk")
        keep = [self.time_col, *dim_names, *extra, fld]
        if "__w" in out.columns:
            out = out.drop("__w")
        out = out.select(*dict.fromkeys(keep))
        if as_ and as_ != fld:
            out = out.withColumnRenamed(fld, as_)
        return Pipeline(df=out, time_col=self.time_col, dims=tuple(dim_names), results=self.results)

    # ------------------------------------------------------------------ #
    # §2.3 joins
    # ------------------------------------------------------------------ #

    def join(
        self,
        other: "Pipeline",
        prefixes: tuple[str, str] = ("a", "b"),
        tolerance: str | float | None = None,
        on: Sequence[str] | None = None,
        fill=None,
        delimiter: str = "_",
        stream_name: str | None = None,
        delete_all: bool = False,
    ) -> "Pipeline":
        """Time-aligned join (/root/reference/join.go): points with equal
        (tolerance-bucketed) timestamps and equal dims are paired; fields
        are namespaced ``prefix<delim>field``. ``on=[dims]`` joins a
        coarse parent to a fine-grained child on a dim subset
        (one-to-many, /root/reference/pipeline/join.go:204-236).
        fill: None/'none' → inner; 'null' → full outer; scalar → full
        outer + constant fill; dict → full outer + per-field fill values
        (keys are prefixed output column names — the reference's
        per-field fill, pipeline/join.go Fill applied per missing field).

        ``stream_name`` sets the output measurement name as a ``name``
        column (pipeline/join.go:16 .streamName()). ``delete_all`` is
        accepted for API parity (pipeline/join.go .deleteAll() cascades
        group-delete messages): batch mode has no delete messages, and in
        streaming mode state cleanup is native via watermark timeouts —
        so it is a recorded no-op.

        Pairing: within one (bucket, dims) cell the reference pairs points
        SEQUENTIALLY in time order (join.go:538-762 builds per-time join
        sets — the golden TestStream_JoinTolerance rows are 1st-with-1st,
        2nd-with-2nd, never a cross product), so each side gets a
        within-bucket sequence number that joins as part of the key.
        The bucket is the time column itself without a tolerance, and the
        rounded ``__jt`` with one. The sequence is needed only where a cell
        can hold more than one point: a tolerance bucket, or a side that
        is not a batch time-window aggregate (raw points can repeat a
        timestamp). When both sides are such aggregates and there is no
        tolerance, every cell holds one point per side, its sequence would
        always be 1, and the join keys on (time, dims) alone, which each
        aggregate's output is already hash-partitioned on, so no side is
        shuffled again.

        Scale: equi-join on (time bucket, dims[, seq]) — Catalyst/AQE choose
        broadcast vs sort-merge; skewed buckets are split by AQE skew-join,
        and the sequence key also bounds any hot bucket to linear output.
        """
        del delete_all  # batch: no delete messages; streaming: watermarks
        lp, rp = prefixes
        join_dims = list(on) if on is not None else [d for d in self.dims if d in other.dims]
        overlap = (set(self.dims) & set(other.dims)) - set(join_dims)
        if overlap:
            # both sides would emit the same unprefixed tag column — the
            # reference's .on() likewise requires the coarse side's dims
            # to be a subset of the join dims (pipeline/join.go:204-236)
            raise ValueError(
                f"join(): dims {sorted(overlap)} exist on both sides but are "
                "not join keys; add them to on=[...] or drop them from one side"
            )

        tcol = self.time_col
        key = "__jt" if tolerance else tcol
        paired = bool(tolerance) or not (self._unique and other._unique)

        def bucket(p: "Pipeline") -> Column:
            if not tolerance:
                return F.col(p.time_col)
            us = round(parse_duration(tolerance) * 1_000_000)
            um = F.unix_micros(F.col(p.time_col)) + F.lit(us // 2)
            # Go Time.Round semantics (join.go rounds to the NEAREST
            # multiple, half up — golden TestStream_JoinTolerance puts
            # a t=3s point in the 4s bucket at tolerance 2s), done as
            # exact integer math: floor(t + d/2, d)
            return um - um % F.lit(us)

        def side(p: "Pipeline", pre: str | None, keep_dims: Iterable[str]) -> DataFrame:
            """The side keyed on ``key`` (plus ``__jseq`` when paired), its
            other columns prefixed; pre=None → pass through unrenamed
            (chained N-way joins:
            cpu.join(mem, ('cpu','mem')).join(disk, (None,'disk')))."""
            cols = [bucket(p).alias(key)]
            if paired:
                # sequence within the side's OWN full group (join.go builds
                # join sets per (time, group)); with an .on() subset join
                # the coarse side's seq stays per its coarse group, so the
                # single coarse point still matches every fine subgroup's
                # first point (one-to-many, pipeline/join.go:204-236)
                cols.append(F.row_number().over(
                    Window.partitionBy(bucket(p), *p.dims).orderBy(
                        F.col(p.time_col), *[F.col(c) for c in p.tiebreak]
                    )
                ).alias("__jseq"))
            for c in p.df.columns:
                if c == p.time_col:
                    continue  # time is rebuilt from the bucket key
                if c in keep_dims or pre is None:
                    cols.append(_flat(c))
                else:
                    cols.append(_flat(c).alias(f"{pre}{delimiter}{c}"))
            return p.df.select(*cols)

        # each side's own dims stay unprefixed — the fine side's extra tags
        # become output tags (golden TestStream_JoinOn keeps 'dc' a tag)
        left = side(self, lp, {*self.dims, *join_dims})
        right = side(other, rp, {*other.dims, *join_dims})
        how = "inner" if fill in (None, "none") else "full_outer"
        keys = [key, *(["__jseq"] if paired else []), *join_dims]
        out = left.join(right, keys, how)
        # explicit coalesce, not DataFrame.fillna: prefixed field names
        # contain the delimiter ('errors.value') which fillna's column
        # resolution can't address
        def _fill(df: DataFrame, cols_vals) -> DataFrame:
            dtypes = dict(df.dtypes)
            numeric = ("tinyint", "smallint", "int", "bigint",
                       "float", "double", "decimal")
            for c, v in cols_vals:
                t = dtypes.get(c, "")
                # same skip rule as DataFrame.fillna: only fill a column
                # whose type matches the fill value's kind
                if isinstance(v, bool):
                    ok = t == "boolean"
                elif isinstance(v, (int, float)):
                    ok = t.startswith(numeric)
                else:
                    ok = isinstance(v, str) and t == "string"
                if not ok:
                    continue
                df = df.withColumn(c, F.coalesce(_flat(c), F.lit(v)))
            return df

        if isinstance(fill, dict):
            out = _fill(out, [(c, v) for c, v in fill.items() if c in out.columns])
        elif fill not in (None, "none", "null"):
            out = _fill(out, [(c, fill) for c in out.columns if c not in keys])
        # time last, as before the join; a tolerance bucket is µs
        t = F.timestamp_micros(F.col(key)) if tolerance else F.col(key)
        out = out.select(
            *[_flat(c) for c in out.columns if c not in (key, "__jseq")],
            t.alias(tcol),
        )
        if stream_name is not None:
            out = out.withColumn("name", F.lit(stream_name))
        out_dims = tuple(dict.fromkeys([*join_dims, *self.dims, *other.dims]))
        return Pipeline(df=out, time_col=tcol, dims=out_dims, results=self.results)

    def combine(
        self,
        *predicates: str | Column,
        as_: Sequence[str] = ("a", "b"),
        tolerance: str | float | None = None,
        delimiter: str = "_",
        id_col: str | None = None,
    ) -> "Pipeline":
        """K-combination self-join within (group, rounded time)
        (/root/reference/combine.go:142-286): emits each combination of k
        distinct points where slot i matches predicate i. Generalized to N
        slots via iterated equi-joins; unordered-set semantics are enforced
        with a strict ``__id`` ordering between slots whose predicates are
        identical (the reference walks k-combinations, never pairing a
        point with itself — combine.go:201-246), and plain inequality
        between distinct-predicate slots.

        ``id_col`` distinguishes points sharing a timestamp (the reference
        uses full-point identity); defaults to a hash of all columns.

        Scale: each step is an equi-join on (time bucket, dims) — AQE
        picks broadcast/skew handling; combination blowup is bounded by
        per-(bucket, group) point counts, as in the reference's ``.max()``.
        """
        if len(predicates) < 2 or len(as_) != len(predicates):
            raise ValueError("combine() needs >=2 slots and matching as_ names")
        exprs = [self._expr(p) for p in predicates]
        us = round(parse_duration(tolerance) * 1_000_000) if tolerance else None
        if us:
            # Go Time.Round to the nearest multiple (combine.go:118)
            um = F.unix_micros(self.time) + F.lit(us // 2)
            t = um - um % F.lit(us)
        else:
            t = F.unix_micros(self.time)
        if id_col:
            ident = F.col(id_col)
        else:
            # default identity orders by (time, row-hash): same-predicate
            # slots then assign in EVENT-TIME order, the reference's
            # arrival-order slot assignment (combine.go:201-246) — the
            # hash only breaks same-timestamp ties
            ident = F.struct(
                F.unix_micros(self.time).alias("t"),
                F.xxhash64(*[F.col(c) for c in self.df.columns]).alias("h"),
            )
        # persist: every slot side re-reads this projection (N scans otherwise)
        base = self.df.withColumn("__ct", t).withColumn("__id", ident)
        if len(predicates) > 2:
            base = base.persist()
        preds_s = [str(p) for p in predicates]

        def side(pred: Column, name: str) -> DataFrame:
            df = base.filter(pred)
            cols = [F.col("__ct"), F.col("__id").alias(f"__id_{name}")]
            cols += [F.col(d) for d in self.dims]
            for c in self.df.columns:
                if c in self.dims or c == self.time_col:
                    continue
                cols.append(F.col(c).alias(f"{name}{delimiter}{c}"))
            return df.select(*cols)

        keys = ["__ct", *self.dims]
        out = side(exprs[0], as_[0])
        for i in range(1, len(predicates)):
            out = out.join(side(exprs[i], as_[i]), keys, "inner")
            for j in range(i):
                same = preds_s[j] == preds_s[i]
                cond = (
                    F.col(f"__id_{as_[j]}") < F.col(f"__id_{as_[i]}")
                    if same
                    else F.col(f"__id_{as_[j]}") != F.col(f"__id_{as_[i]}")
                )
                out = out.filter(cond)
        out = out.withColumn(self.time_col, F.timestamp_micros(F.col("__ct"))).drop(
            "__ct", *[f"__id_{n}" for n in as_]
        )
        return Pipeline(df=out, time_col=self.time_col, dims=self.dims, results=self.results)

    def union(self, *others: "Pipeline") -> "Pipeline":
        """Merge streams (/root/reference/union.go:104-166). The reference's
        global time-ordering buffer is unnecessary in Spark's declarative
        model — downstream ordered ops sort within their window specs."""
        df = self.df
        for o in others:
            df = df.unionByName(o.df, allowMissingColumns=True)
        return self._with(df)

    # ------------------------------------------------------------------ #
    # §2.2 flatten (pivot) / sideload (broadcast enrich)
    # ------------------------------------------------------------------ #

    def flatten(
        self,
        on: Sequence[str],
        fields: Sequence[str],
        tolerance: str | float | None = None,
        delimiter: str = "_",
        values: Sequence[str] | None = None,
        drop_original_field_name: bool = False,
    ) -> "Pipeline":
        """Pivot points sharing remaining dims into one wide point whose
        field names are prefixed by the flattened-dim values
        (/root/reference/flatten.go:219-254). Passing ``values`` (the
        expected dim values) lets Spark skip the extra distinct-scan job.
        ``drop_original_field_name`` omits the source field suffix
        (.dropOriginalFieldName(), pipeline/flatten.go — golden
        TestStream_FlattenDropOriginalFieldName: 'auth.server01' instead
        of 'auth.server01.value'); single-field flattens only.
        """
        t = self.time
        if tolerance:
            us = round(parse_duration(tolerance) * 1_000_000)
            # Go Time.Round to the nearest multiple (flatten.go:44)
            um = F.unix_micros(t) + F.lit(us // 2)
            t = F.timestamp_micros(um - um % F.lit(us))
        rest = [d for d in self.dims if d not in on]
        pivot_key = F.concat_ws(delimiter, *[F.col(c) for c in on])
        df = self.df.withColumn("__t", t).withColumn("__pk", pivot_key)
        gb = df.groupBy(F.col("__t").alias(self.time_col), *[F.col(d) for d in rest])
        piv = gb.pivot("__pk", list(values) if values else None)
        # earliest point per (bucket, pivot value) wins — the reference keeps
        # the first arrival (flatten.go:219); min_by over (time, tiebreak)
        # is the deterministic distributed equivalent.
        order = F.struct(F.col(self.time_col), *[F.col(c) for c in self.tiebreak])
        if len(fields) == 1:
            out = piv.agg(F.min_by(fields[0], order))
            # backtick-quote: pivot values may contain '.' (e.g. a
            # 'service.host' compound key), which bare F.col would treat
            # as struct access
            suffix = "" if drop_original_field_name else f"{delimiter}{fields[0]}"
            out = out.select(
                self.time_col,
                *rest,
                *[
                    F.col(f"`{c}`").alias(f"{c}{suffix}")
                    for c in out.columns
                    if c != self.time_col and c not in rest
                ],
            )
        else:
            if drop_original_field_name:
                raise ValueError(
                    "dropOriginalFieldName requires a single flattened field"
                )
            out = piv.agg(*[F.min_by(f_, order).alias(f_) for f_ in fields])
        return Pipeline(df=out, time_col=self.time_col, dims=tuple(rest), results=self.results)

    def sideload(
        self,
        lookup: DataFrame | Sequence[DataFrame],
        on: Sequence[str] | Sequence[Sequence[str]],
        fields: Sequence[str] | None = None,
        defaults: dict | None = None,
    ) -> "Pipeline":
        """Enrich points from small lookup tables
        (/root/reference/sideload.go): broadcast hash join — the Spark
        analog of the reference's in-memory hierarchical source cache.

        Hierarchical mode (/root/reference/pipeline/sideload.go:8-37
        ``.source().order()``): pass an ordered list of lookups (most
        specific first) and per-level key lists; each level is a broadcast
        left join and the loaded value is the FIRST non-null across levels
        (coalesce), exactly the reference's first-match-wins order walk.
        Broadcasts keep the fact-table scan shuffle-free at any scale.
        """
        lookups = list(lookup) if not isinstance(lookup, DataFrame) else [lookup]
        ons = (
            [list(on)] * len(lookups)
            if on and isinstance(on[0], str)
            else [list(o) for o in on]
        )
        if len(ons) != len(lookups):
            raise ValueError("need one key list per lookup level")
        all_cols = {c for lk in lookups for c in lk.columns}
        cols = list(fields) if fields else sorted(
            all_cols - {k for o in ons for k in o}
        )
        out = self.df
        lvl_names: dict[str, list[str]] = {c: [] for c in cols}
        for i, (lk, keys) in enumerate(zip(lookups, ons)):
            have = [c for c in cols if c in lk.columns]
            proj = lk.select(*keys, *[F.col(c).alias(f"__l{i}_{c}") for c in have])
            out = out.join(F.broadcast(proj), keys, "left")
            for c in have:
                lvl_names[c].append(f"__l{i}_{c}")
        for c in cols:
            first_match = F.coalesce(
                *[F.col(n) for n in lvl_names[c]],
                F.lit(defaults[c]) if defaults and c in defaults else F.lit(None),
            )
            out = out.withColumn(c, first_match)
        out = out.drop(*[n for ns in lvl_names.values() for n in ns])
        for k, v in (defaults or {}).items():
            if k not in cols:
                out = out.withColumn(k, F.coalesce(F.col(k), F.lit(v)))
        return self._with(out)

    # ------------------------------------------------------------------ #
    # §2.10 alert (batch mode — streaming state machine in streaming/)
    # ------------------------------------------------------------------ #

    def alert(
        self,
        crit: str | Column | None = None,
        warn: str | Column | None = None,
        info: str | Column | None = None,
        crit_reset: str | Column | None = None,
        warn_reset: str | Column | None = None,
        info_reset: str | Column | None = None,
        state_changes_only: bool = False,
        max_interval: str | float | None = None,
        no_recoveries: bool = False,
        events_only: bool = False,
        flapping: tuple[float, float] | None = None,
        history: int = 21,
        level_col: str = "level",
        level_tag: str | None = None,
        id_field: str | None = None,
        id_tag: str | None = None,
        duration_field: str | None = None,
        id_template: str | None = None,
        message_template: str | None = None,
        message_field: str = "message",
        details_template: str | None = None,
        details_field: str = "details",
        topic: str | None = None,
    ) -> "Pipeline":
        """Alert level evaluation (/root/reference/alert.go:915-950
        determineLevel): first matching level of CRITICAL>WARNING>INFO else
        OK. ``state_changes_only`` keeps only level transitions per group
        (initial state OK — /root/reference/alert.go:989);
        ``no_recoveries`` drops transitions into OK (pipeline/alert.go:500);
        ``flapping=(low, high)`` suppresses alerts while the weighted
        level-change fraction flaps (alert.go:1252-1286, exact formula in
        streaming/state.py).

        Batch mode: the level CASE + transition filter are pure column
        expressions. Reset hysteresis, flapping, the maxInterval expiry and
        noRecoveries under stateChangesOnly are sequential, so any of them
        runs the whole group through the alert stage the streaming
        operators use (streaming/state.py AlertStage) in one applyInPandas.
        """
        preds = {1: info, 2: warn, 3: crit}
        resets = {1: info_reset, 2: warn_reset, 3: crit_reset}
        if (
            any(r is not None for r in resets.values())
            or flapping is not None
            or max_interval is not None
            or (no_recoveries and state_changes_only)
        ):
            from pyspark.sql.types import StructType

            from kapacitor_spark.streaming.state import AlertStage, alert_masks

            # _expr(None) is None: undefined levels stay undefined
            df, preds, resets = alert_masks(
                self.df,
                {l: self._expr(c) for l, c in preds.items()},
                {l: self._expr(c) for l, c in resets.items()},
            )
            stage = AlertStage(
                self.time_col, preds, resets,
                state_changes_only=state_changes_only,
                events_only=events_only, max_interval=max_interval,
                no_recoveries=no_recoveries, flapping=flapping,
                history=history, duration_field=duration_field,
            )
            out_schema = StructType(
                [f for f in self.df.schema if f.name not in ("level", duration_field)]
                + stage.fields
            )
            out_cols = out_schema.fieldNames()
            sort_cols = [self.time_col, *self.tiebreak]

            def run(pdf):
                pdf = pdf.sort_values(sort_cols, kind="stable")
                return stage(stage.init, pdf)[1][out_cols]

            gb = df.groupBy(*[F.col(d) for d in self.dims]) if self.dims else df.groupBy()
            df = gb.applyInPandas(run, schema=out_schema)
        else:
            df = self.df.withColumn(
                "level", _level_label(self._level_index(crit, warn, info))
            )
            if duration_field:
                # .durationField (alert.go event Duration): nanoseconds
                # since the alert episode began (the OK→non-OK transition);
                # an OK recovery event carries the ended episode's length;
                # steady OK is 0 — pure window expressions, computed before
                # any transition filtering so every candidate event has it
                w = self._ordered()
                df = df.withColumn(
                    "__prev_lv", F.coalesce(F.lag("level").over(w), F.lit("OK"))
                ).withColumn(
                    "__ep_start",
                    F.when(
                        (F.col("level") != "OK") & (F.col("__prev_lv") == "OK"),
                        F.col(self.time_col),
                    ),
                ).withColumn(
                    "__ep_start",
                    F.last("__ep_start", ignorenulls=True).over(
                        w.rowsBetween(Window.unboundedPreceding, 0)
                    ),
                )
                in_episode = (F.col("level") != "OK") | (F.col("__prev_lv") != "OK")
                dur_ns = (
                    F.unix_micros(F.col(self.time_col))
                    - F.unix_micros(F.col("__ep_start"))
                ) * 1000
                df = df.withColumn(
                    duration_field,
                    F.when(in_episode & F.col("__ep_start").isNotNull(), dur_ns)
                    .otherwise(F.lit(0))
                    .cast("long"),
                ).drop("__prev_lv", "__ep_start")
            if state_changes_only:
                w = self._ordered()
                prev = F.coalesce(F.lag("level").over(w), F.lit("OK"))
                df = df.withColumn("__prev", prev).filter(
                    F.col("level") != F.col("__prev")
                ).drop("__prev")
            elif events_only:
                # the reference's trigger rule (alert.go:1068-1076): non-OK
                # points always fire; OK fires only as a recovery
                # transition — and .noRecoveries() silences exactly those
                # recovery events (golden TestStream_Alert_NoRecoveries:
                # six non-OK events, no OK rows)
                if no_recoveries:
                    df = df.filter(F.col("level") != "OK")
                else:
                    w = self._ordered()
                    prev = F.coalesce(F.lag("level").over(w), F.lit("OK"))
                    df = df.withColumn("__prev", prev).filter(
                        (F.col("level") != "OK") | (F.col("__prev") != "OK")
                    ).drop("__prev")
        return self._with(df)._alert_augment(
            level_col=level_col, level_tag=level_tag, id_field=id_field,
            id_tag=id_tag, id_template=id_template,
            message_template=message_template, message_field=message_field,
            details_template=details_template, details_field=details_field,
            topic=topic,
        )

    def _level_index(self, crit=None, warn=None, info=None) -> Column:
        """First matching level of CRITICAL > WARNING > INFO
        (alert.go:915-950 determineLevel) as an index into
        streaming.state.LEVELS: 3, 2, 1, else 0 (OK)."""
        lv = F.lit(0)
        for i, c in ((1, info), (2, warn), (3, crit)):
            if c is not None:
                lv = F.when(self._expr(c), i).otherwise(lv)
        return lv

    def _alert_augment(
        self,
        level_col: str = "level",
        level_tag: str | None = None,
        id_field: str | None = None,
        id_tag: str | None = None,
        id_template: str | None = None,
        message_template: str | None = None,
        message_field: str = "message",
        details_template: str | None = None,
        details_field: str = "details",
        topic: str | None = None,
    ) -> "Pipeline":
        """The alert event augment (alert.go augment*WithEventState) over
        the rows an alert machine emitted, whose level is in column
        ``level``: tags/fields/templates first, then ``level_col``
        renames the level column (templates read ``level``). Both the
        batch Pipeline.alert and the live TICK compile end in it."""
        df = self.df
        if level_tag:
            # .levelTag: the level as a tag — same column model here,
            # named independently
            df = df.withColumn(level_tag, F.col("level"))
        if id_field or id_tag:
            # .idField/.idTag: the rendered event ID; default template
            # per pipeline/alert.go:18
            idc = self._template(id_template or "{{ .Name }}:{{ .Group }}", "level")
            for c in (id_field, id_tag):
                if c:
                    df = df.withColumn(c, idc)
        if id_template:
            df = df.withColumn("alert_id", self._template(id_template, "level"))
        if message_template:
            # .messageField names the rendered-message column
            # (alert.go MessageField augment; default 'message').
            # cols=df.columns: {{ .ID }} must see the alert_id rendered
            # just above — the reference's default message IS
            # "{{ .ID }} is {{ .Level }}" (pipeline/alert.go:21)
            df = df.withColumn(
                message_field,
                self._template(message_template, "level", cols=set(df.columns)),
            )
        if details_template:
            # .details() (pipeline/alert.go Details — the larger body
            # template handler payloads embed: email HTML, pagerDuty
            # details, opsGenie description) — same template compiler,
            # one concat expression; renders AFTER message so
            # {{ .Message }} embeds the rendered message
            df = df.withColumn(
                details_field,
                self._template(
                    details_template, "level",
                    message_col=message_field if message_template else None,
                    cols=set(df.columns),
                ),
            )
        if topic is not None:
            # topic routing (/root/reference/alert/topics.go): events carry
            # their topic; TopicRegistry.dispatch fans out to handlers.
            df = df.withColumn("topic", F.lit(topic))
        if level_col != "level":
            df = df.drop(level_col).withColumnRenamed("level", level_col)
        return self._with(df)

    def _template(
        self,
        tmpl: str,
        level_col: str,
        message_col: str | None = None,
        cols: "set[str] | None" = None,
    ) -> Column:
        """Alert ID/message templating (/root/reference/pipeline/alert.go:
        64-72, Go text/template): supports {{ .Level }}, {{ .Time }},
        {{ .Name }}, {{ index .Tags "k" }}, {{ index .Fields "k" }} — all
        compiled to one concat expression (codegen'd, not per-row Python).
        Plain SQL expressions (no '{{') pass through unchanged."""
        if "{{" not in tmpl:
            return F.expr(tmpl)
        if cols is None:
            cols = set(self.df.columns)
        import re as _re

        parts: list[Column] = []
        pos = 0
        for m in _re.finditer(r"\{\{\s*(.*?)\s*\}\}", tmpl):
            if m.start() > pos:
                parts.append(F.lit(tmpl[pos:m.start()]))
            ph = m.group(1)
            if ph == ".Level":
                parts.append(F.col(level_col))
            elif ph == ".Message":
                # the already-rendered message (details templates embed it,
                # pipeline/alert.go Details docs); without an explicit
                # .message() the reference's default template applies —
                # "{{ .ID }} is {{ .Level }}" (pipeline/alert.go:21)
                if message_col:
                    parts.append(F.col(message_col))
                elif "alert_id" in cols:
                    parts.append(
                        F.concat(F.col("alert_id"), F.lit(" is "), F.col(level_col))
                    )
                else:
                    parts.append(F.lit(""))
            elif ph == ".Time":
                parts.append(F.date_format(self.time, "yyyy-MM-dd HH:mm:ss"))
            elif ph == ".Name":
                # measurement name, when the point carries one (§1.3 wide
                # layout keeps 'name' optional); empty otherwise
                parts.append(F.col("name") if "name" in cols else F.lit(""))
            elif ph == ".ID":
                # the rendered alert id when the chain produced one
                parts.append(
                    F.col("alert_id") if "alert_id" in cols else F.lit("")
                )
            elif ph == ".TaskName":
                parts.append(F.lit(""))  # single-pipeline context: no task name
            elif ph == ".Group":
                # models.ToGroupID (/root/reference/models/point.go:82):
                # "tag=value" pairs comma-joined in sorted-tag order
                if self.dims:
                    parts.append(
                        F.concat_ws(
                            ",",
                            *[
                                F.concat(F.lit(f"{d}="), F.col(d).cast("string"))
                                for d in sorted(self.dims)
                            ],
                        )
                    )
                else:
                    parts.append(F.lit("nil"))
            else:
                im = _re.fullmatch(r'index\s+\.(Tags|Fields)\s+"([^"]+)"', ph)
                if not im:
                    raise ValueError(f"unsupported template placeholder {{{{ {ph} }}}}")
                parts.append(F.col(im.group(2)).cast("string"))
            pos = m.end()
        if pos < len(tmpl):
            parts.append(F.lit(tmpl[pos:]))
        return F.concat(*parts)

    # ------------------------------------------------------------------ #
    # sinks (§2.1)
    # ------------------------------------------------------------------ #

    def alert_batch(
        self,
        crit: str | Column | None = None,
        warn: str | Column | None = None,
        info: str | Column | None = None,
        batch_key: str = "query_start",
        require: str = "any",
        **alert_kwargs,
    ) -> "Pipeline":
        """ONE alert event per batch (/root/reference/alert.go:1036-1100
        BufferedBatch): the batch's level is its highest point level
        (``require='all'`` → lowest, the .all() flag); the event time is
        the FIRST point at that level, or the batch time (max point time,
        edge/messages.go:376) for OK batches. The resulting per-group
        event sequence then runs through the regular alert state machine —
        ``state_changes_only`` / ``max_interval`` / ``no_recoveries`` /
        ``duration_field`` etc. pass through (**alert_kwargs), so
        stateChangesOnly(15s) expiry works across batches exactly as the
        golden TestBatch_AlertStateChangesOnlyExpired sequence.

        Scale: two window passes over (group, batch) + a per-group walk of
        BATCH-COUNT-sized data — events, not points, hit the sequential
        machine."""
        lv = self._level_index(crit, warn, info)
        if require not in ("all", "any"):
            raise ValueError("require must be 'all' or 'any'")
        if batch_key not in self.dims:
            raise ValueError(f"batch_key {batch_key!r} must be one of dims {self.dims}")
        group = tuple(d for d in self.dims if d != batch_key)
        w = Window.partitionBy(*[F.col(d) for d in self.dims])
        agg = F.min if require == "all" else F.max
        df = self.df.withColumn("__plv", lv)
        df = df.withColumn("__L", agg("__plv").over(w))
        df = df.withColumn("__tb", F.max(self.time_col).over(w)).withColumn(
            "__th",
            F.min(F.when(F.col("__plv") == F.col("__L"), self.time)).over(w),
        )
        event_t = F.when(F.col("__L") == 0, F.col("__tb")).otherwise(F.col("__th"))
        events = (
            df.withColumn(self.time_col, event_t)
            .select(self.time_col, *self.dims, "__L")
            .dropDuplicates([*self.dims])
        )
        ep = Pipeline(
            df=events, time_col=self.time_col, dims=group, results=self.results
        )
        out = ep.alert(
            crit=F.col("__L") >= 3,
            warn=F.col("__L") >= 2,
            info=F.col("__L") >= 1,
            **alert_kwargs,
        )
        return out._with(out.df.drop("__L"), dims=group)

    def alert_all(
        self,
        crit: str | Column | None = None,
        warn: str | Column | None = None,
        info: str | Column | None = None,
        level_col: str = "level",
        emit_points: bool = False,
        require: str = "all",
    ) -> "Pipeline":
        """Batch/window-edge alert level (/root/reference/alert.go:1036-1056
        BufferedBatch): with ``require='all'`` (the .all() flag,
        pipeline/alert.go:490-497) the batch's level is the highest level
        ALL points satisfy (min over point levels); with ``require='any'``
        (the reference's DEFAULT batch behavior) it is the HIGHEST point
        level (max) — one hash-aggregate either way.

        ``emit_points=True`` reproduces the reference's event payload: the
        batch's POINTS are emitted, level-augmented, and only for non-OK
        batches (the event carries the whole batch, alert.go ToResult;
        golden TestBatch_AlertAll shows every point of the all-critical
        batch). A broadcast join of the tiny per-group level table back
        onto the rows — no second shuffle of the fact side."""
        lv = self._level_index(crit, warn, info)
        if require not in ("all", "any"):
            raise ValueError("require must be 'all' or 'any'")
        out = self.agg((F.min(lv) if require == "all" else F.max(lv)).alias("__lv"))
        levels = out.df.withColumn(level_col, _level_label(F.col("__lv"))).drop("__lv")
        if not emit_points:
            return Pipeline(df=levels, time_col=out.time_col, dims=out.dims, results=self.results)
        if self.window is not None:
            # the window identity isn't a row column post-agg; batch edges
            # carry their batch key in dims instead
            raise ValueError("emit_points requires group dims (e.g. a batch id), not a pending window")
        keys = list(out.dims)
        lk = levels.select(*keys, level_col)
        df = (
            self.df.join(F.broadcast(lk), keys, "inner")
            .filter(F.col(level_col) != "OK")
        )
        return self._with(df)

    def inhibit(
        self,
        inhibitor: "Pipeline",
        on: Sequence[str],
        tolerance: str | float = "1m",
        level_col: str = "level",
    ) -> "Pipeline":
        """alert().inhibit(category, tags) (/root/reference/pipeline/
        alert.go:606; alert.go:800-812): suppress this pipeline's alerts
        while the inhibitor category has a non-OK alert for the same tag
        values in the same time bucket — an anti-join on (bucket, tags),
        no state needed in batch mode."""
        us = round(parse_duration(tolerance) * 1_000_000)

        def bucket(p: "Pipeline") -> Column:
            um = F.unix_micros(F.col(p.time_col))
            return um - um % F.lit(us)

        inh = (
            inhibitor.df.filter(F.col(level_col) != "OK")
            .select(bucket(inhibitor).alias("__ib"), *[F.col(c) for c in on])
            .distinct()
        )
        mine = self.df.withColumn("__ib", bucket(self))
        out = mine.join(F.broadcast(inh), ["__ib", *on], "left_anti").drop("__ib")
        return self._with(out)

    def autoscale(
        self,
        autoscaler,
        replicas: str | Column | None = None,
        *,
        min: int = 1,
        max: int = 0,
        increase_cooldown: str | float = 0.0,
        decrease_cooldown: str | float = 0.0,
        current_fn=None,
        apply: bool = True,
    ) -> "Pipeline":
        """k8sAutoscale/swarmAutoscale/ec2Autoscale decision machine
        (/root/reference/autoscale.go:181-283): evaluate the replicas
        lambda per point, clamp to [min, max] (max=0 → unbounded), emit an
        {old, new} scaling event when the desired count changes and the
        per-direction cooldown allows, and call the orchestrator client.
        State is per RESOURCE (shared across group-by groups —
        TestStream_K8sAutoscaleCardinality). The replicas lambda is
        evaluated JVM-side; the sequential walk runs distributed, one
        Arrow task per resource; only the tiny event stream collects to
        the driver where the client is called (see operators/autoscale.py
        for the full scale story). ``autoscaler.stats`` accumulates the
        reference's increase_events/decrease_events/cooldown_drops
        counters. Golden parity: TestStream_Autoscale (streamer_test.go:
        11697) k8s + swarm, default and min/max variants."""
        from kapacitor_spark.operators.autoscale import autoscale_events

        rep_col = self._expr(replicas) if replicas is not None else None
        events = autoscale_events(
            self.df,
            self.time_col,
            self.dims,
            self.tiebreak,
            autoscaler,
            rep_col,
            min=min,
            max=max,
            increase_cooldown=parse_duration(increase_cooldown),
            decrease_cooldown=parse_duration(decrease_cooldown),
            current_fn=current_fn,
            apply=apply,
        )
        return self._with(events, tiebreak=())

    def udf(self, udf_fn, **options) -> "Pipeline":
        """Apply a @udf_node-declared operator (/root/reference/udf/agent/
        udf.proto surface → applyInPandas; see kapacitor_spark.udf)."""
        if not getattr(udf_fn, "__udf_node__", False):
            raise TypeError("udf() expects a @udf_node-decorated function")
        return udf_fn(self, **options)

    def stats(self, interval: str | float) -> "Pipeline":
        """Emitted-count stats per interval (/root/reference/stats.go)."""
        from kapacitor_spark.stats import stats as _stats

        return _stats(self, interval)

    def deadman(self, threshold: float, interval: str | float) -> "Pipeline":
        """deadman macro (/root/reference/pipeline/node.go:282)."""
        from kapacitor_spark.stats import deadman as _deadman

        return _deadman(self, threshold, interval)

    def http_post(self, url: str, headers: dict | None = None) -> "Pipeline":
        """POST rows to a URL, executor-side (/root/reference/http_post.go)."""
        from kapacitor_spark.sinks import apply_sink, http_post as _hp

        apply_sink(self.df, _hp(url, headers))
        return self

    def http_out(self, name: str) -> "Pipeline":
        """Cache the result under a name (/root/reference/http_out.go —
        the reference's test-oracle sink). Here: a named entry in the
        pipeline's result registry; materialization stays lazy."""
        self.results[name] = self.df
        return self

    def sort(self, *cols: str | Column) -> "Pipeline":
        return self._with(self.df.orderBy(*[_col(c) for c in cols]))

    def limit(self, n: int) -> "Pipeline":
        return self._with(self.df.limit(n))

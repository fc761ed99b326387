"""Alert topics: named event buses with per-topic handler subscriptions and
queryable per-topic state (/root/reference/alert/topics.go,
/root/reference/services/alert/ — Topics.Collect routes events to a topic's
handlers; EventState persists last level/time per event ID).

Spark mapping: an alert event DataFrame carries a ``topic`` column
(``Pipeline.alert(..., topic=...)`` or ``.with_topic()``); a
``TopicRegistry`` holds handler subscriptions and dispatches a batch of
events executor-side (``foreachPartition`` — the driver never collects the
event stream; handlers see only their topic's rows). Topic state — the
reference's persisted ``EventState`` map — is a declarative aggregation:
latest level per (topic, event id), one hash-aggregate.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "TopicRegistry",
    "topic_state",
    "save_topic_state",
    "load_topic_state",
    "aggregate_topic_events",
    "publish_to_topics",
    "match_filter",
    "register_handler_spec",
]

# alert.Level severity order (reference alert/types.go)
_LEVEL_SEVERITY = {"OK": 0, "INFO": 1, "WARNING": 2, "CRITICAL": 3}


class TopicRegistry:
    """Handler subscriptions per topic (/root/reference/alert/topics.go
    Topics/Topic.AddHandler). ``"*"`` subscribes to every topic."""

    def __init__(self) -> None:
        self._subs: list[tuple[str, Callable]] = []

    def subscribe(self, topic: str, handler: Callable) -> "TopicRegistry":
        """handler(rows: list[Row]) is invoked with the subset of a
        partition's events whose topic matches."""
        self._subs.append((topic, handler))
        return self

    def dispatch(self, events: DataFrame, topic_col: str = "topic") -> None:
        """Route an event DataFrame to subscribed handlers, executor-side.

        One pass over the data: each partition buckets its rows by topic
        and invokes each matching handler once per partition (mirrors the
        reference's Topic.collect fan-out, alert/topics.go, without a
        driver collect)."""
        subs = list(self._subs)  # closure-captured, shipped to executors

        def per_partition(rows) -> None:
            by_topic: dict[str, list] = {}
            for r in rows:
                by_topic.setdefault(r[topic_col], []).append(r)
            if not by_topic:
                return
            for topic, handler in subs:
                if topic == "*":
                    matched = [r for rs in by_topic.values() for r in rs]
                else:
                    matched = by_topic.get(topic, [])
                if matched:
                    handler(matched)

        events.foreachPartition(per_partition)


def aggregate_topic_events(
    events: DataFrame,
    interval: str | float,
    time_col: str = "ts",
    level_col: str = "level",
    message_col: str | None = None,
    duration_col: str | None = None,
    agg_id: str = "aggregate",
    out_topic: str | None = None,
    message_template: str = "Received {count} events in the last {interval}.",
) -> DataFrame:
    """The topic AGGREGATE handler (/root/reference/services/alert/
    handlers.go:199-306 aggregateHandler.run): collapse each interval's
    events into ONE event whose level/time/duration are the interval
    maxima, whose message is the count template, and whose details join
    the member messages. The reference ticks on a wall clock; here the
    interval is an event-time bucket (the engine's time-is-data-time
    contract), which a live deployment can drive with
    streaming.window_barrier_stream.

    One hash-aggregate per interval bucket — map-side combine, no
    per-event Python."""
    from kapacitor_spark.durations import parse_duration

    us = round(parse_duration(interval) * 1_000_000)
    bucket = F.timestamp_micros(
        F.unix_micros(F.col(time_col)) - F.unix_micros(F.col(time_col)) % F.lit(us)
    )
    sev = F.lit(0)
    for name, rank in _LEVEL_SEVERITY.items():
        sev = F.when(F.col(level_col) == name, rank).otherwise(sev)
    aggs = [
        F.count(F.lit(1)).alias("count"),
        F.max_by(F.col(level_col), sev).alias(level_col),
        F.max(time_col).alias(time_col),
    ]
    if duration_col:
        aggs.append(F.max(duration_col).alias(duration_col))
    if message_col:
        aggs.append(
            F.concat_ws("\n", F.collect_list(message_col)).alias("details")
        )
    out = (
        events.withColumn("__b", bucket)
        .groupBy("__b")
        .agg(*aggs)
        .withColumn("id", F.lit(agg_id))
        .withColumn(
            "message",
            F.format_string(
                message_template.replace("{count}", "%s").replace(
                    "{interval}", interval if isinstance(interval, str) else str(interval)
                ),
                F.col("count"),
            ),
        )
        .drop("__b")
    )
    if out_topic is not None:
        out = out.withColumn("topic", F.lit(out_topic))
    return out


def publish_to_topics(
    events: DataFrame, topics: Sequence[str], topic_col: str = "topic"
) -> DataFrame:
    """The topic PUBLISH handler (/root/reference/services/alert/
    handlers.go:313-345 publishHandler): re-publish every event to each
    of ``topics`` — a small explode over the (tiny) event stream."""
    arr = F.array(*[F.lit(t) for t in topics])
    return events.drop(topic_col).withColumn(topic_col, F.explode(arr))


import re as _match_re

# The handler-match grammar is closed (reference services/alert/handlers.go
# matchHandler: level()/changed()/name()/taskName()/duration(), level
# identifiers, comparisons, boolean ops). One tokenizer feeds BOTH the
# Column compiler (match_filter) and the row evaluator (_match_row) — no
# regex rewriting over raw strings, no eval.
_MATCH_TOK = _match_re.compile(
    r"""\s*(?:
      (?P<str>'(?:[^'\\]|\\.)*'|"(?:[^"\\]|\\.)*")
    | (?P<num>\d+(?:\.\d+)?)
    | (?P<fn>[A-Za-z_][A-Za-z_0-9]*\s*\(\s*\))
    | (?P<ident>[A-Za-z_][A-Za-z_0-9]*)
    | (?P<op>==|!=|<=|>=|&&|\|\||[!<>()])
    )""",
    _match_re.X,
)


def _match_tokens(expr: str) -> list[tuple[str, str]]:
    """Lex a match expression into (kind, text) pairs; raises on garbage."""
    toks: list[tuple[str, str]] = []
    pos = 0
    while pos < len(expr):
        m = _MATCH_TOK.match(expr, pos)
        if not m:
            if expr[pos:].strip():
                raise ValueError(
                    f"bad match expression at {expr[pos:pos + 20]!r}"
                )
            break
        pos = m.end()
        kind = m.lastgroup
        text = m.group(kind)
        if kind == "fn":
            text = _match_re.sub(r"\s+", "", text)
        toks.append((kind, text))
    return toks


def match_filter(
    events: DataFrame,
    match: str,
    level_col: str = "level",
    prev_level_col: str | None = None,
    name_col: str = "name",
    duration_col: str | None = None,
    task_name: str = "",
) -> DataFrame:
    """The handler MATCH condition (/root/reference/services/alert/
    handlers.go:386-460 matchHandler): a lambda over event attributes —
    ``level()``, ``changed()``, ``name()``, ``taskName()``,
    ``duration()`` and the OK/INFO/WARNING/CRITICAL identifiers — that
    gates which events reach a handler. Compiles to one Column filter:

        match_filter(ev, "level() == CRITICAL")
        match_filter(ev, "changed() == TRUE", prev_level_col="prev")
    """
    sev = F.lit(0)
    for name, rank in _LEVEL_SEVERITY.items():
        sev = F.when(F.col(level_col) == name, rank).otherwise(sev)
    # Token-wise rewrite (never regex over the raw string): identifiers
    # inside string literals — "name() == 'svc-OK'" — must survive intact.
    out_toks: list[str] = []
    for kind, text in _match_tokens(match):
        if kind == "str":
            out_toks.append(text)
        elif kind == "fn":
            fname = text[: -2]
            if fname == "level":
                out_toks.append("__sev")
            elif fname == "changed":
                if prev_level_col is None:
                    raise ValueError(
                        "match uses changed() — pass prev_level_col (the "
                        "previous level column, e.g. from a lag window)"
                    )
                out_toks.append(f"({level_col} != {prev_level_col})")
            elif fname == "name":
                out_toks.append(name_col)
            elif fname == "taskName":
                out_toks.append(f"'{task_name}'")
            elif fname == "duration":
                if duration_col is None:
                    raise ValueError("match uses duration() — pass duration_col")
                out_toks.append(duration_col)
            else:
                raise ValueError(f"unknown match function {fname}()")
        elif kind == "ident":
            if text in _LEVEL_SEVERITY:
                out_toks.append(str(_LEVEL_SEVERITY[text]))
            elif text == "TRUE":
                out_toks.append("true")
            elif text == "FALSE":
                out_toks.append("false")
            elif text in ("AND", "OR", "NOT"):
                out_toks.append(text)
            else:
                out_toks.append(text)
        elif kind == "op":
            out_toks.append(
                {"==": "=", "&&": "AND", "||": "OR", "!": "NOT"}.get(text, text)
            )
        else:  # num
            out_toks.append(text)
    expr = " ".join(out_toks)
    return events.withColumn("__sev", sev).filter(F.expr(expr)).drop("__sev")


import re as _re

_VALID_HANDLER_ID = _re.compile(r"^[-\._A-Za-z0-9]+$")
_VALID_TOPIC_ID = _re.compile(r"^[-:\._A-Za-z0-9]+$")


def register_handler_spec(
    registry: TopicRegistry,
    spec: dict,
    services: dict | None = None,
    prev_level_col: str | None = None,
) -> TopicRegistry:
    """The reference's define-topic-handler contract
    (/root/reference/services/alert/types.go HandlerSpec +
    api.go RegisterHandlerSpec): a spec dict
    ``{"id", "topic", "kind", "options": {...}, "match": "..."}`` —
    exactly the YAML/JSON the reference CLI accepts — validates, builds
    its delivery through the one handler table (handlers.build_handler:
    every kind in handlers.HANDLERS, options in the reference's
    kebab-case or TICK's camelCase), wraps it in the optional match
    condition, and subscribes it to the topic. Every config error —
    unknown kind, missing service setting or transport callable, a
    ``changed()`` match without ``prev_level_col`` — raises here.

    ``services``: per-kind base configs ({"slack": {"url": ...}}), the
    reference's config-file sections. The handler runs wherever
    TopicRegistry.dispatch runs it — per partition, on the executors —
    and so does an injected transport callable (email ``send``, kafka
    ``produce``, mqtt ``publish``, snmpTrap ``send``).
    """
    from kapacitor_spark import handlers as H

    spec_id = spec.get("id", "")
    topic = spec.get("topic", "")
    match = spec.get("match", "")
    if not _VALID_TOPIC_ID.match(topic):
        raise ValueError(
            f"handler topic must contain only letters, numbers, '-', '.' "
            f"and '_'. {spec_id!r}"
        )
    if not _VALID_HANDLER_ID.match(spec_id):
        raise ValueError(
            f"handler ID must contain only letters, numbers, '-', '.' "
            f"and '_'. {spec_id!r}"
        )
    h = H.build_handler(spec.get("kind", ""), spec.get("options"), services)
    toks = _match_tokens(match)  # lexed once, not per dispatched row
    if prev_level_col is None and ("fn", "changed()") in toks:
        raise ValueError(
            "match uses changed() — pass prev_level_col (the previous "
            "level column)"
        )

    def deliver(rows):
        if match:
            # per-row match evaluation mirrors matchHandler.Handle
            rows = [r for r in rows if _match_row(r, toks, prev_level_col)]
        if not rows:
            return
        if h.rows:
            h.deliver(rows)
            return
        f = rows[0].__fields__
        time_col = "ts" if "ts" in f else "time"
        event = H._event_builder(
            time_col,
            id_col="alert_id" if "alert_id" in f else None,
            message_col="message" if "message" in f else None,
            details_col="details" if "details" in f else None,
            default_id=spec_id,
        )
        h.deliver([event(r) for r in rows])

    registry.subscribe(topic, deliver)
    return registry


def _match_row(row, toks, prev_level_col: str | None) -> bool:
    """Evaluate a handler match expression, lexed by _match_tokens,
    against one event Row — the row-level twin of match_filter: same
    tokens, same closed grammar, evaluated by a tiny recursive-descent
    parser (NOT eval — the reference's matchHandler grammar is closed;
    spec-provided strings must not reach a general evaluator)."""
    fields = set(row.__fields__)

    def fn_value(fname: str):
        if fname == "level":
            return _LEVEL_SEVERITY.get(str(row["level"]), 0)
        if fname == "name":
            return row["name"] if "name" in fields else ""
        if fname == "taskName":
            return ""
        if fname == "duration":
            return row["duration"] if "duration" in fields else 0
        if fname == "changed":
            return (
                str(row["level"]) != str(row[prev_level_col])
                if prev_level_col and prev_level_col in fields
                else False
            )
        raise ValueError(f"unknown match function {fname}()")

    i = 0

    def peek():
        return toks[i] if i < len(toks) else (None, None)

    def take():
        nonlocal i
        t = toks[i]
        i += 1
        return t

    def parse_or():
        v = parse_and()
        while peek()[1] in ("||", "OR"):
            take()
            rhs = parse_and()
            v = bool(v) or bool(rhs)
        return v

    def parse_and():
        v = parse_not()
        while peek()[1] in ("&&", "AND"):
            take()
            rhs = parse_not()
            v = bool(v) and bool(rhs)
        return v

    def parse_not():
        if peek()[1] in ("!", "NOT"):
            take()
            return not bool(parse_not())
        return parse_cmp()

    _CMP = {
        "==": lambda a, b: a == b,
        "!=": lambda a, b: a != b,
        "<=": lambda a, b: a <= b,
        ">=": lambda a, b: a >= b,
        "<": lambda a, b: a < b,
        ">": lambda a, b: a > b,
    }

    def parse_cmp():
        v = parse_primary()
        if peek()[1] in _CMP:
            op = take()[1]
            return _CMP[op](v, parse_primary())
        return v

    def parse_primary():
        kind, text = take()
        if kind == "op" and text == "(":
            v = parse_or()
            kind2, text2 = take()
            if text2 != ")":
                raise ValueError("unbalanced parens in match expression")
            return v
        if kind == "str":
            body = text[1:-1]
            return body.replace("\\'", "'").replace('\\"', '"').replace("\\\\", "\\")
        if kind == "num":
            return float(text) if "." in text else int(text)
        if kind == "fn":
            return fn_value(text[:-2])
        if kind == "ident":
            if text in _LEVEL_SEVERITY:
                return _LEVEL_SEVERITY[text]
            if text == "TRUE":
                return True
            if text == "FALSE":
                return False
            raise ValueError(f"unknown identifier {text!r} in match expression")
        raise ValueError(f"unexpected token {text!r} in match expression")

    result = parse_or()
    if i != len(toks):
        raise ValueError(
            f"trailing tokens in match expression {toks[i:]!r}"
        )
    return bool(result)


def topic_state(
    events: DataFrame,
    dims: Sequence[str],
    topic_col: str = "topic",
    time_col: str = "ts",
    level_col: str = "level",
) -> DataFrame:
    """Current state per (topic, group): the latest event's level, as the
    reference persists per-topic EventState (services/alert/ store). One
    max_by hash-aggregate — no window, no shuffle beyond the group keys."""
    key = F.struct(F.col(time_col), *[F.col(d) for d in dims])
    return events.groupBy(topic_col, *dims).agg(
        F.max_by(level_col, key).alias(level_col),
        F.max(time_col).alias("last_" + time_col),
        F.count(F.lit(1)).alias("n_events"),
    )


def save_topic_state(
    state: DataFrame, path: str, topic_col: str = "topic"
) -> None:
    """Persist topic state, partitioned by topic — the reference's
    persisted EventState store (services/alert/ + alert/topics.go restore
    on startup). Partitioning by topic makes per-topic restore a
    partition-pruned scan."""
    state.write.mode("overwrite").partitionBy(topic_col).parquet(path)


def load_topic_state(spark, path: str) -> DataFrame:
    """Restore persisted topic state (see save_topic_state). Filters on
    the topic column prune to single partitions."""
    return spark.read.parquet(path)


class TopicStore:
    """Per-topic EventState store with persistence — the reference's
    alert service with PersistTopics (services/alert/service.go; golden
    TestAlertHistory_Persistence, integrations/history_clean_test.go:13):

    * ``collect(event)`` updates the topic's in-memory state for the
      event's ID and PERSISTS it — except OK events, whose on-disk copy
      is DELETED (reset-to-OK clears history on disk but stays visible
      in memory until the topic closes).
    * topic level = max level over the topic's current event states.
    * ``close_topic`` drops the in-memory topic; ``restore_topic``
      reloads exactly what disk holds (non-OK states only).

    This is alerting CONTROL-PLANE state — kilobytes per topic, like the
    reference's boltdb store — so it lives driver-side as JSON files per
    topic, not as a DataFrame; the data-plane `topic_state` aggregate
    above remains the bulk query surface.
    """

    _LEVELS = ["OK", "INFO", "WARNING", "CRITICAL"]

    def __init__(self, path: str | None = None):
        import os
        import threading

        self._dir = path
        if path is not None:
            os.makedirs(path, exist_ok=True)
        self._topics: dict[str, dict] = {}
        # collected-event counters (the reference's per-topic collected
        # stat, alert/topics.go Topic.Collected)
        self._collected: dict[str, int] = {}
        # serializes collect/persist/restore — the task-API server is
        # threaded, and _persist snapshots the states dict while another
        # collect could be mutating it (the reference's BoltDB store
        # serializes commits the same way)
        self._lock = threading.Lock()

    def _file(self, topic: str) -> str:
        import hashlib
        import os

        safe = hashlib.md5(topic.encode()).hexdigest()[:16]
        return os.path.join(self._dir, f"topic_{safe}.json")

    def _persist(self, topic: str) -> None:
        # Crash-atomic: write a temp file then os.replace — the
        # reference's topic store is BoltDB (atomic commits,
        # /root/reference/alert/topics.go persistence via services/
        # storage); a truncate-in-place write here could lose EVERY
        # persisted alert state on a crash mid-write. Readers (_load)
        # only ever see a complete file; the temp name never matches the
        # topic_*.json load glob.
        import json as _json
        import os
        import tempfile

        if self._dir is None:
            return
        from kapacitor_spark._io import atomic_write_json

        states = self._topics.get(topic, {})
        disk = {k: v for k, v in states.items() if v["level"] != "OK"}
        atomic_write_json(
            self._file(topic), {"topic": topic, "states": disk}
        )

    def collect(
        self,
        topic: str,
        event_id: str,
        level: str,
        message: str = "",
        details: str = "",
        time=None,
        duration_ns: int = 0,
    ) -> None:
        if level not in self._LEVELS:
            raise ValueError(f"unknown level {level!r}")
        with self._lock:
            states = self._topics.setdefault(topic, {})
            states[event_id] = {
                "level": level,
                "message": message,
                "details": details,
                "time": str(time) if time is not None else "",
                "duration_ns": int(duration_ns),
            }
            self._collected[topic] = self._collected.get(topic, 0) + 1
            self._persist(topic)

    def topic_state(self, topic: str) -> tuple[bool, str]:
        """(exists, level) — level is the max over current event states,
        OK for an empty (but existing) topic."""
        with self._lock:
            if topic not in self._topics:
                return False, "OK"
            states = self._topics[topic]
            if not states:
                return True, "OK"
            return True, max(
                (s["level"] for s in states.values()),
                key=self._LEVELS.index,
            )

    def event_states(self, topic: str, min_level: str = "OK") -> dict:
        floor = self._LEVELS.index(min_level)
        with self._lock:
            states = {
                k: dict(v) for k, v in self._topics.get(topic, {}).items()
            }
        return {
            k: v
            for k, v in states.items()
            if self._LEVELS.index(v["level"]) >= floor
        }

    def close_topic(self, topic: str) -> None:
        # the on-disk copy stays (that's the whole point of close/restore)
        self._topics.pop(topic, None)

    def topics(self) -> list[str]:
        with self._lock:
            return sorted(self._topics)

    def collected(self, topic: str) -> int:
        with self._lock:
            return self._collected.get(topic, 0)

    def delete_topic(self, topic: str) -> bool:
        """DELETE /alerts/topics/<id> semantics (the reference's
        DeleteTopic, services/alert/service.go): drop memory AND disk —
        unlike close_topic, nothing survives to restore."""
        import os

        with self._lock:
            existed = self._topics.pop(topic, None) is not None
            self._collected.pop(topic, None)
            if self._dir is not None:
                try:
                    os.unlink(self._file(topic))
                    existed = True
                except FileNotFoundError:
                    pass
        return existed

    def restore_topic(self, topic: str) -> None:
        import json as _json
        import os

        states = {}
        f = self._file(topic) if self._dir is not None else None
        if f is not None and os.path.exists(f):
            with open(f) as fh:
                states = _json.load(fh).get("states", {})
        with self._lock:
            self._topics[topic] = states

"""TICKscript front-end: parse the reference's DSL and compile it onto the
Pipeline DataFrame compiler.

Reference grammar: /root/reference/tick/ast/ (lexer lex.go, parser
parser.go); evaluation semantics /root/reference/tick/eval.go — statements
are ``var name = expr`` or bare chain expressions; a chain starts from
``stream``/``batch``/a var and applies *chain methods* (``|method(...)``),
*property methods* (``.prop(...)``), and UDF methods (``@name``).

This implementation executes the script directly against Pipeline (the
reference likewise interprets the AST reflectively against pipeline.*Node
objects — there is no separate IR). Lambdas pass through to
functions.lambdas.compile_lambda; durations to durations.parse_duration.

Usage:
    outs = run_tickscript(script, sources={"cpu": df_or_pipeline})
    outs["TestStream_Window"]   # DataFrame named by |httpOut(name)

``kapacitorLoopback()`` registers its points as ``loopback:<db>.<rp>`` in
the returned outputs — feed that DataFrame to the subscribed script's
sources (the reference's DBRP routing, task_master.go forkPoint).

``@name()`` chain methods dispatch to UDFs registered via
``run_tickscript(udfs={...})`` — properties become kwargs (the
reference's InitRequest option list, udf/agent/udf.proto).

``sideload()`` supports ``file://`` sources with order templates
(sources/sideload.py); HTTP sideload endpoints are out of scope — pass a
lookup DataFrame in ``sources`` instead.

``batch|query('SELECT ...')`` runs the InfluxQL projection engine-side:
windows enumerate deterministically over the source's event-time range,
``groupBy(time(d), tags...)`` buckets inside each window, and rows carry
their window's ``query_start`` as a group key (per-batch state, the
reference's batch edges).

Autoscale nodes (k8sAutoscale/swarmAutoscale/ec2Autoscale) run the full
decision state machine (operators/autoscale.py) against clients passed
via ``run_tickscript(autoscale_clients={'k8s': client, ...})``.
`batch|queryFlux()` ships the Flux script to an injected InfluxDB 2.x
client (`run_tickscript(flux_client=fn)`) — the engine never interprets
Flux, exactly like the reference's FluxQueryService seam.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Any, Callable, NamedTuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kapacitor_spark import handlers as H
from kapacitor_spark.durations import parse_duration
from kapacitor_spark.functions.lambdas import (
    compile_lambda,
    compile_lambda_pandas,
    is_stateful,
)
from kapacitor_spark.pipeline import (
    CountWindowSpec,
    Pipeline,
    WindowSpec,
    _level_label,
)

__all__ = ["run_tickscript", "task_dot", "template_vars", "TickError"]


class TickError(ValueError):
    pass


# alert-node OWN props — anything here closes a pending handler spec.
# .quiet() only silences the reference node's error logging
# (pipeline/alert.go Quiet): a documented no-op on both compiles.
_ALERT_LEVEL_PROPS = {
    "crit", "warn", "info", "critReset", "warnReset", "infoReset",
    "stateChangesOnly", "noRecoveries", "flapping", "history",
    "levelField", "levelTag", "idField", "idTag", "durationField",
    "topic", "id", "message", "messageField", "details", "detailsField",
    "quiet", "log", "post", "tcp", "exec",
}
# the alert node's own sink props → the spec option their first
# positional arg maps to (the rest ride as ``args``: .exec(prog, args...))
_ALERT_SINKS = {"log": "path", "post": "url", "tcp": "address", "exec": "prog"}
# Option names that collide with handler-kind names: while a spec of the
# keyed kind is open, these parse as ITS options, not a new handler —
# .opsGenie2().teams('t1') routes teams to OpsGenie, not MS-Teams
# (reference pipeline/alert.go:1957,2043 — the typed receiver disambiguates
# there; the flat prop scan needs this whitelist).
_HANDLER_KIND_OPTIONS = {
    "opsgenie": {"teams", "recipients"},
    "opsgenie2": {"teams", "recipients"},
}


def _handler_kind(name: str) -> bool:
    """Does prop ``name`` open a service-handler chain? Its lower-cased
    name is a kind of the one handler table (handlers.HANDLERS), other
    than the alert node's own .log/.post/.tcp/.exec sink props."""
    kind = name.lower()
    return kind in H.HANDLERS and kind not in _ALERT_SINKS


def _parse_handler_specs(props) -> list[tuple[str, dict]]:
    """Parse service-handler chains off an alert node's prop list
    (pipeline/alert.go:39-61): each handler kind prop (.slack() etc.)
    OPENS a handler spec; the props that follow (.channel/.workspace/
    .routingKey/...) configure THAT handler until the next handler kind
    or alert-level prop. Shared by the batch compile and the streaming
    compile (r11 2nd wave) so both paths parse identically."""
    specs: list[tuple[str, dict]] = []
    current: dict | None = None
    cur_kind: str | None = None
    for name, args in props:
        if (
            current is not None
            and name in _HANDLER_KIND_OPTIONS.get(cur_kind, ())
            and args
        ):
            # collides with a handler-kind name but belongs to the open
            # spec (.opsGenie2().teams('t1')). A ZERO-ARG .teams() is
            # the MS-Teams handler itself (its options are config-
            # driven), so only an argumented call binds as an option.
            current[name] = args[0] if len(args) == 1 else list(args)
        elif _handler_kind(name):
            # the kind call's own positional args ride as '_arg'
            # (.mqtt(topic) takes one, .email(to...) is variadic —
            # pipeline/alert.go:1376, :1493)
            current = (
                {"_arg": args[0] if len(args) == 1 else list(args)}
                if args else {}
            )
            cur_kind = name.lower()
            specs.append((name, current))
        elif current is not None and name not in _ALERT_LEVEL_PROPS:
            if name in ("data", "link"):
                # each call appends one entry (pipeline/alert.go
                # .Data/.Link: "Multiple calls append")
                current.setdefault(name, []).append(list(args))
            elif name == "to":
                # .to(a).to(b, c) appends recipients (alert.go Email/To)
                current.setdefault(name, []).extend(args)
            else:
                # every other option overwrites (last wins), like the
                # reference's plain property setters; a zero-arg option
                # is a flag (.disableNotification(), .retained())
                current[name] = (
                    True if not args else args[0] if len(args) == 1
                    else list(args)
                )
        else:
            current = None
            cur_kind = None
    return specs


def _tick_tmpl(v):
    """TICK .id()/.message()/.details() strings are Go templates: text
    without {{ }} is a LITERAL ('cpu:h1' must not parse as a Spark
    variant-extraction expression). Pipeline.alert's SQL pass-through
    stays available to Python-DSL callers."""
    if v is None or "{{" in v:
        return v
    return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"


class _AlertProps(NamedTuple):
    """An alert node's parsed prop list (see _alert_props)."""

    machine: dict  # level/reset lambdas + emission knobs + duration_field
    augment: dict  # Pipeline._alert_augment kwargs
    specs: list    # service-handler chains (_parse_handler_specs)
    sinks: list    # .log/.post/.tcp/.exec props as spec options, in order


def _alert_props(props, lam) -> _AlertProps:
    """The one parser for an alert node's ordered prop list
    (pipeline/alert.go), shared by the batch and the live compile.
    ``lam`` compiles a level/reset lambda for the caller's engine.
    ``machine`` holds the kwargs Pipeline.alert, alert_stream and the
    fused window operators take in common. A prop that is neither the
    node's own nor an option of the handler spec it follows raises
    TickError: no compile drops one silently."""
    cur = None
    for n, _a in props:
        if _handler_kind(n):
            cur = n
        elif n in _ALERT_LEVEL_PROPS:
            cur = None  # spec-closing alert-own prop
        elif cur is None:
            raise TickError(f"alert() does not support .{n}()")
    pm = dict(props)

    def one(name, default=None):
        return pm.get(name, [default])[0]

    sco = pm.get("stateChangesOnly")
    machine = {
        n.replace("Reset", "_reset"): lam(pm[n][0])
        for n in ("crit", "warn", "info", "critReset", "warnReset", "infoReset")
        if n in pm
    }
    machine.update(
        state_changes_only=sco is not None,
        # the reference's STREAM trigger rule is always on
        # (alert.go:1127 — non-OK fires, OK fires only as recovery);
        # stateChangesOnly is the stricter filter when present
        events_only=sco is None,
        max_interval=_dur(sco[0]) if sco else None,
        no_recoveries="noRecoveries" in pm,
        flapping=(
            tuple(float(x) for x in pm["flapping"]) if "flapping" in pm
            else None
        ),
        history=int(one("history", 21)),
        duration_field=one("durationField"),
    )
    augment = dict(
        level_col=one("levelField", "level"),
        level_tag=one("levelTag"),
        id_field=one("idField"),
        id_tag=one("idTag"),
        id_template=_tick_tmpl(one("id")),
        message_template=_tick_tmpl(one("message")),
        message_field=one("messageField", "message"),
        details_template=_tick_tmpl(one("details")),
        details_field=one("detailsField", "details"),
        topic=one("topic"),
    )
    return _AlertProps(
        machine, augment, _parse_handler_specs(props),
        [
            (n, {_ALERT_SINKS[n]: (a or [None])[0], "args": list(a[1:])})
            for n, a in props if n in _ALERT_SINKS
        ],
    )


def _build_handlers(a: _AlertProps, services) -> list:
    """Build the node's .log/.post/.tcp/.exec sinks and service-handler
    chains through the one handler table (handlers.build_handler), at
    compile: a config error is a TickError here, never a failed
    delivery."""
    built = []
    for name, opts in [*a.sinks, *a.specs]:
        try:
            built.append(H.build_handler(name.lower(), opts, services))
        except H.HandlerConfigError as e:
            raise TickError(
                f"alert handler .{name}(): {e} (service sections come from "
                f"alert_services={{{name!r}: {{...}}}})"
            ) from None
    return built


def _deliver_alerts(df, dims, time_col, a: _AlertProps, built: list):
    """Deliver an alert DataFrame through the node's ``built`` handlers
    (_build_handlers) — on the batch alert output, or once per live
    micro-batch. Sinks run executor-side over the rows; service handlers
    get the events collected locally (tiny by construction)."""
    from kapacitor_spark import sinks as S

    level_col = a.augment["level_col"]
    msg_col = a.augment["message_field"]
    det_col = a.augment["details_field"]
    events = None
    for h in built:
        if h.rows:
            S.apply_sink(df, h.deliver)
            continue
        if events is None:
            # OK rows pass through: the alert node's events_only/
            # stateChangesOnly logic already restricts OK to genuine
            # recovery transitions, and the reference delivers those to
            # handlers (pagerduty2 'resolve', opsGenie2 close, victorops
            # RECOVERY — streamer_test.go expects alert.OK events)
            cols = df.columns
            value_cols = [
                c for c in cols
                if c not in (time_col, level_col, "alert_id", msg_col,
                             det_col, "topic", "name", *dims)
                and not c.startswith("__")
            ]
            events = H.events_from_alert_df(
                df, time_col, dims=dims, level_col=level_col,
                id_col="alert_id" if "alert_id" in cols else None,
                message_col=msg_col if msg_col in cols else None,
                details_col=det_col if det_col in cols else None,
                duration_col=a.machine["duration_field"],
                value_cols=value_cols[:4],
            )
        h.deliver(events)


# --------------------------------------------------------------------- #
# lexer
# --------------------------------------------------------------------- #

_TOK = re.compile(
    r"""\s*(?:
      (?P<comment>//[^\n]*)
    | (?P<dur>-?\d+(?:\.\d+)?(?:ns|us|µs|ms|s|m|h|d|w))(?![\w.])
    | (?P<num>-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
    | (?P<str3>'''(?:[^']|'(?!''))*''')
    | (?P<str>'(?:[^'\\]|\\.)*')
    | (?P<regex>/(?:[^/\\\n]|\\.)+/)
    | (?P<op>\|\||[|.@(),\[\]=*-])
    | (?P<ident>[A-Za-z_][A-Za-z0-9_]*)
    )""",
    re.VERBOSE,
)


_STMT_START = re.compile(
    r"\s*(?://[^\n]*\s*)*(?:var\s|[A-Za-z_][A-Za-z0-9_]*\s*[|@.])"
)


def _scan_lambda_body(src: str, start: int) -> int:
    """Return the end offset of a ``lambda: ...`` body beginning at
    ``start`` (offset of the 'lambda' keyword): scan to the first comma or
    close-paren at depth 0, skipping quoted strings/field refs. A bare
    ``var x = lambda: ...`` statement instead ends at a depth-0 newline
    whose next line begins a new statement (``var ...`` or an
    identifier starting a chain) — the template-task declaration form."""
    j = src.index(":", start) + 1
    depth = 0
    while j < len(src):
        c = src[j]
        if c == "'":
            j = src.index("'", j + 1)
        elif c == '"':
            j = src.index('"', j + 1)
        elif c == "(":
            depth += 1
        elif c == ")":
            if depth == 0:
                break
            depth -= 1
        elif c == "," and depth == 0:
            break
        elif c == "\n" and depth == 0 and _STMT_START.match(src, j):
            break
        j += 1
    return j


def _tokenize(src: str):
    toks, pos = [], 0
    while pos < len(src):
        m = _TOK.match(src, pos)
        if not m:
            if src[pos:].strip() == "":
                break
            raise TickError(f"cannot tokenize at {src[pos:pos+30]!r}")
        if m.group("ident") == "lambda":
            end = _scan_lambda_body(src, m.start("ident"))
            toks.append(("lambda", src[m.start("ident"):end], m.start("ident")))
            pos = end
            continue
        pos = m.end()
        if m.group("comment"):
            continue
        for kind in ("dur", "num", "str3", "str", "regex", "op", "ident"):
            v = m.group(kind)
            if v is not None:
                toks.append((kind, v, m.start()))
                break
    toks.append(("eof", "", len(src)))
    return toks, src


# --------------------------------------------------------------------- #
# parser/evaluator (single pass, like tick/eval.go's stack machine)
# --------------------------------------------------------------------- #


class _P:
    def __init__(self, toks, src, env):
        self.toks, self.src, self.i = toks, src, 0
        self.env = env

    def peek(self):
        return self.toks[self.i]

    def next(self):
        t = self.toks[self.i]
        self.i += 1
        return t

    def at_op(self, *ops):
        k, v, _ = self.peek()
        return k == "op" and v in ops

    def expect(self, op):
        k, v, p = self.next()
        if k != "op" or v != op:
            raise TickError(f"expected {op!r} at offset {p}, got {v!r}")

    def run(self):
        while self.peek()[0] != "eof":
            k, v, _ = self.peek()
            if k == "ident" and v == "var":
                self.next()
                _, name, _ = self.next()
                self.expect("=")
                val = self.expr()
                # template semantics (reference template.go): script vars
                # are DEFAULTS; definition-supplied vars override them
                preset = getattr(self.env, "preset_vars", None) or {}
                if name in preset:
                    pv = preset[name]
                    if isinstance(pv, _Lambda) and not pv.vars:
                        # bind the full script scope, like default lambdas
                        pv = _Lambda(pv.src, self.env.vars)
                    val = pv
                self.env.vars[name] = val
            else:
                res = self.expr()
                # terminal sink builders (kapacitorLoopback, httpPost with
                # endpoint/header props, alert nodes ending in handler
                # chains like .slack()) fire their side effect when the
                # statement ends without further chaining
                if isinstance(res, _Node) and res.name in (
                    "kapacitorLoopback", "httpPost", "influxDBOut", "alert"
                ):
                    self.env._materialize(res)

    def expr(self):
        node = self.primary()
        while True:
            if self.at_op("|"):
                self.next()
                _, name, _ = self.next()
                args = self.call_args()
                node = self.env.chain(node, name, args)
            elif self.at_op("."):
                self.next()
                _, name, _ = self.next()
                args = self.call_args()
                node = self.env.prop(node, name, args)
            elif self.at_op("@"):
                # @UDF chain method (/root/reference/task_master.go:497-525
                # dynamic UDF scope methods): dispatched to a registered
                # @udf_node via run_tickscript(udfs={name: fn})
                self.next()
                _, name, _ = self.next()
                args = self.call_args()
                node = self.env.chain(node, "@" + name, args)
            else:
                return node

    def primary(self):
        k, v, p = self.next()
        if k == "op" and v == "*":
            # groupBy(*) / groupBy(*).exclude(...) — group by every tag
            # (pipeline/group_by.go:139)
            return "*"
        if k == "op" and v == "-":
            # unary minus on a literal or var (e.g. shift(-period))
            inner = self.primary()
            if isinstance(inner, (int, float)):
                return -inner
            if isinstance(inner, _Duration):
                return _Duration(
                    inner.text[1:] if inner.text.startswith("-") else "-" + inner.text
                )
            raise TickError(f"cannot negate {inner!r} at offset {p}")
        if k == "ident":
            if v == "time" and self.at_op("("):
                # groupBy(time(2s[, offset])) — InfluxQL time bucketing
                # inside a batch query's groupBy (pipeline/batch.go GroupBy)
                return _TimeGroup(*self.call_args())
            if v in ("stream", "batch"):
                return _Source(v)
            if v in ("TRUE", "FALSE"):
                return v == "TRUE"
            if v in self.env.vars:
                return self.env.vars[v]
            raise TickError(f"unknown identifier {v!r} at offset {p}")
        if k == "str3":
            # triple-quoted string (batch query bodies in the reference's
            # own scripts: query('''SELECT ...'''))
            return v[3:-3]
        if k == "str":
            return v[1:-1].replace("\\'", "'")
        if k == "dur":
            return _Duration(v)
        if k == "num":
            return float(v) if "." in v or "e" in v.lower() else int(v)
        if k == "regex":
            return _Regex(v[1:-1])
        if k == "lambda":
            # bare lambda value (template-var declarations:
            # var match = lambda: ...) — same scope capture as call args
            return _Lambda(v, self.env.vars)
        raise TickError(f"unexpected token {v!r} at offset {p}")

    def call_args(self):
        """Arguments of a method call; lambdas are captured raw (paren/
        comma-depth aware) and compiled later with the pipeline's event
        ordering."""
        if not self.at_op("("):
            raise TickError(f"method call needs parentheses near offset {self.peek()[2]}")
        self.expect("(")
        args = []
        while not self.at_op(")"):
            k, v, p = self.peek()
            if k == "lambda":
                self.next()
                args.append(_Lambda(v, self.env.vars))
            else:
                args.append(self.arg_value())
            if self.at_op(","):
                self.next()
        self.expect(")")
        return args

    def arg_value(self):
        if self.at_op("["):
            self.next()
            out = []
            while not self.at_op("]"):
                out.append(self.arg_value())
                if self.at_op(","):
                    self.next()
            self.expect("]")
            return out
        return self.primary()

class _TimeGroup:
    """groupBy(time(d[, offset])) marker — InfluxQL downsampling buckets."""

    def __init__(self, interval, offset=None):
        self.interval = interval
        self.offset = offset


class _Source:
    def __init__(self, kind):
        self.kind = kind


class _Duration:
    def __init__(self, text):
        self.text = text
        self.seconds = parse_duration(text)


class _Regex:
    def __init__(self, pat):
        self.pat = pat


class _Lambda:
    def __init__(self, src, variables=None):
        self.src = src
        # script var scope captured at parse (shared dict — vars are
        # defined before use, TICKscript has no forward refs)
        self.vars = variables


class _Node:
    """A chain node accumulating property calls until the next pipe
    materializes it (mirrors pipeline/*Node defs + validation)."""

    def __init__(self, name, args, parent):
        self.name, self.args, self.parent = name, args, parent
        self.props: list[tuple[str, list]] = []

    def prop(self, name, args):
        self.props.append((name, args))
        return self

    def prop_map(self):
        return dict(self.props)


def _dur(v) -> str | float:
    if isinstance(v, _Duration):
        return v.seconds
    return v


def _mk_k8s_scaler(client, props):
    from kapacitor_spark.operators.autoscale import K8sAutoscaler

    kw = dict(
        resource_name=props.get("resourceName", [None])[0],
        resource_name_tag=props.get("resourceNameTag", [None])[0],
        namespace=props.get("namespace", [None])[0],
    )
    if "kind" in props:
        kw["kind"] = props["kind"][0]
    for tick_name, py_name in (
        ("namespaceTag", "namespace_tag"),
        ("kindTag", "kind_tag"),
        ("resourceTag", "resource_tag"),
    ):
        if tick_name in props:
            kw[py_name] = props[tick_name][0]
    return K8sAutoscaler(client, **kw)


def _mk_swarm_scaler(client, props):
    from kapacitor_spark.operators.autoscale import SwarmAutoscaler

    return SwarmAutoscaler(
        client,
        service_name=props.get("serviceName", [None])[0],
        service_name_tag=props.get("serviceNameTag", [None])[0],
        output_service_name_tag=props.get("outputServiceNameTag", [None])[0],
    )


def _mk_ec2_scaler(client, props):
    from kapacitor_spark.operators.autoscale import Ec2Autoscaler

    return Ec2Autoscaler(
        client,
        group_name=props.get("groupName", [None])[0],
        group_name_tag=props.get("groupNameTag", [None])[0],
        output_group_name_tag=props.get("outputGroupNameTag", [None])[0],
    )


# TICK autoscale node name -> (client kind, scaler factory)
_AUTOSCALE_KINDS = {
    "k8sAutoscale": ("k8s", _mk_k8s_scaler),
    "swarmAutoscale": ("swarm", _mk_swarm_scaler),
    "ec2Autoscale": ("ec2", _mk_ec2_scaler),
}


class _Env:
    """Executes chain/property calls — the task-level createNode dispatch
    (/root/reference/task.go:447-532) re-targeted at Pipeline."""

    AGGS = {
        "count", "sum", "mean", "median", "mode", "spread", "stddev",
        "min", "max", "first", "last", "distinct", "percentile",
        "top", "bottom", "derivative", "difference", "movingAverage",
        "cumulativeSum", "elapsed", "changeDetect", "stateDuration",
        "stateCount", "holtWinters", "holtWintersWithFit",
    }
    BUILDERS = {
        "from", "window", "eval", "default", "delete", "alert", "join",
        "query", "groupBy", "flatten", "combine", "kapacitorLoopback",
        "sideload", "barrier", "httpPost", "influxDBOut",
        "k8sAutoscale", "swarmAutoscale", "ec2Autoscale", "queryFlux",
    }
    # simple chain methods, applied inline by _apply_chain
    CHAIN = {
        "where", "shift", "sample", "union", "httpOut", "log", "trickle",
        "stats", "deadman",
    }

    def __init__(
        self, sources, time_col, dims, tiebreak, outputs, udfs=None,
        endpoints=None, influxdb=None, dbrp=None, alert_services=None,
        autoscale_clients=None, flux_client=None,
    ):
        self.dbrp = dbrp
        self.alert_services = alert_services
        self.autoscale_clients = autoscale_clients or {}
        self.flux_client = flux_client
        self.vars: dict[str, Any] = {}
        self.sources = sources
        self.time_col, self.dims, self.tiebreak = time_col, dims, tiebreak
        self.outputs = outputs
        self.udfs = udfs
        self.endpoints = endpoints
        self.influxdb = influxdb

    def _lam(self, p: Pipeline, v):
        """Compile a TICK lambda against ``p``: its schema, its event
        order (for stateful sigma/count/spread) and the script's vars.
        Anything else passes through (SQL strings, literals)."""
        if not isinstance(v, _Lambda):
            return v
        return compile_lambda(
            v.src, ordered_window=p._ordered(), time_col=p.time_col,
            schema=dict(p.df.dtypes), variables=v.vars,
        )

    def _where(self, p: Pipeline, v) -> Pipeline:
        """The one TICK where path: from().where() and |where()."""
        return p._filter(
            self._lam(p, v), isinstance(v, _Lambda) and is_stateful(v.src)
        )

    # -- source resolution ------------------------------------------- #

    def _source_pipeline(self, meas: str | None) -> Pipeline:
        """A source may be a DataFrame or Pipeline, a dict of them by
        measurement, or a callable(measurement) returning either."""
        src = self.sources
        if isinstance(src, (Pipeline, DataFrame)):
            obj = src
        elif callable(src):
            obj = src(meas)
        else:
            if meas is None and len(src) == 1:
                meas = next(iter(src))
            if meas not in src:
                raise TickError(f"no source for measurement {meas!r}")
            obj = src[meas]
        return obj if isinstance(obj, Pipeline) else Pipeline.from_df(
            obj, time_col=self.time_col, dims=self.dims, tiebreak=self.tiebreak
        )

    def _resolve_from(self, node: _Node) -> Pipeline:
        props = node.prop_map()
        meas = props.get("measurement", [None])[0]
        by_meas = "groupByMeasurement" in props
        p = self._source_pipeline(meas)
        if by_meas and "groupBy" not in props:
            p = p.group_by(by_measurement=True)
        for name, args in node.props:
            if name == "where":
                p = self._where(p, args[0])
            elif name == "groupBy":
                tags = args[0] if args and isinstance(args[0], list) else list(args)
                p = p.group_by(*[t for t in tags], by_measurement=by_meas)
            elif name == "truncate":
                us = round(_dur(args[0]) * 1_000_000)
                p = p._with(p.df.withColumn(
                    p.time_col,
                    F.timestamp_micros(F.unix_micros(p.time) - F.unix_micros(p.time) % F.lit(us)),
                ))
            elif name == "round":
                # .round(d): point times round to the NEAREST multiple
                # (pipeline/stream.go:163 Round vs :152 Truncate's floor)
                us = round(_dur(args[0]) * 1_000_000)
                t = F.unix_micros(p.time)
                p = p._with(p.df.withColumn(
                    p.time_col,
                    F.timestamp_micros(
                        ((t + F.lit(us // 2)) - (t + F.lit(us // 2)) % F.lit(us))
                    ),
                ))
            elif name in ("database", "retentionPolicy", "measurement",
                          "groupByMeasurement"):
                pass  # routing metadata / handled above
            else:
                raise TickError(f"from(): unsupported property .{name}()")
        return p

    _QUERY_AGGS = {
        "mean": F.avg, "sum": F.sum, "count": F.count, "min": F.min,
        "max": F.max, "median": F.median, "first": F.first, "last": F.last,
        # the rest of the InfluxQL SELECT function set (influxql.gen.go);
        # percentile("f", N) dispatches to Pipeline.percentile below
        "stddev": F.stddev_samp,
        "spread": lambda fld: F.max(fld) - F.min(fld),
        "mode": F.mode,
        "distinct": F.count_distinct,
    }

    def _resolve_query(self, node: _Node) -> Pipeline:
        """batch|query('SELECT ... FROM "db"."rp".meas [WHERE ...]')
        .period(p).every(e).offset(o).align().groupBy(time(d), tags...)
        (/root/reference/pipeline/batch.go:53-200; batch.go:168-566):
        windows are enumerated over the source's event-time range
        (deterministic, clock-free), each window's [start, stop) filter
        pushes into the scan, and the InfluxQL projection runs per
        (window, time-bucket, tags) — the engine-side analog of the
        query InfluxDB would execute. Rows carry ``query_start`` and it
        joins the dims, so downstream nodes see per-batch groups exactly
        like the reference's batch edges (state resets per batch)."""
        import re as _re

        from kapacitor_spark.tasks import BatchQuery

        props = node.prop_map()
        sql = node.args[0]
        # validation parity (golden TestBatch_InvalidQuery, task.go
        # newQueryNode): exactly ONE statement, and it must be a SELECT —
        # 'SELECT ...; DROP DATABASE x' style injections are rejected
        stmts = [x for x in sql.split(";") if x.strip()]
        if len(stmts) > 1:
            raise TickError(
                f"query must be a single select statement, got {len(stmts)} statements"
            )
        if not _re.match(r"(?is)\s*SELECT\b", sql):
            raise TickError(f"query is not a select statement {sql!r}")
        m = _re.match(
            r"(?is)\s*SELECT\s+(.*?)\s+FROM\s+(\S+)(?:\s+WHERE\s+(.*?))?\s*;?\s*$",
            sql.strip(),
        )
        if not m:
            raise TickError(f"query(): cannot parse {sql!r}")
        sel, table, where = m.group(1).strip(), m.group(2), m.group(3)
        meas = table.split(".")[-1].strip('"').strip("'")
        p = self._source_pipeline(meas)
        if where:
            # InfluxQL double-quoted identifiers → Spark backticks (a
            # double-quoted token is a STRING literal to Spark SQL)
            p = p.where(_re.sub(r'"(\w+)"', r"`\1`", where))

        tags: list[str] = []
        bucket = None
        bucket_offset = 0.0
        for name, args in node.props:
            if name == "groupBy":
                vals = args[0] if args and isinstance(args[0], list) else list(args)
                for a in vals:
                    if isinstance(a, _TimeGroup):
                        bucket = _dur(a.interval)
                        bucket_offset = _dur(a.offset) if a.offset is not None else 0.0
                    else:
                        tags.append(a)
        p = p.group_by(*tags) if tags else p

        if "period" not in props:
            raise TickError("query() needs .period(d)")
        bq = BatchQuery(
            period=_dur(props["period"][0]),
            every=_dur(props["every"][0]) if "every" in props else None,
            offset=_dur(props["offset"][0]) if "offset" in props else 0.0,
            align="align" in props,
        )
        tmin, tmax = p.df.agg(
            F.min(p.time_col), F.max(p.time_col)
        ).first()  # tiny driver agg: the replay range
        if tmin is None:
            raise TickError(
                "batch|query(): source has no rows — nothing to replay "
                "(the reference would simply issue empty queries; here an "
                "empty replay range is almost certainly a wrong source path)"
            )
        import datetime as _dt

        ev = _dur(props.get("every", props["period"])[0])
        every_s = ev if isinstance(ev, float) else float(ev)
        win = bq.backfill(
            p.df,
            tmin.replace(tzinfo=_dt.timezone.utc),
            # ticks fall on t0+k·every; extend the stop so the final window
            # covers the last point
            tmax.replace(tzinfo=_dt.timezone.utc) + _dt.timedelta(seconds=every_s),
            time_col=p.time_col,
        )
        out = Pipeline(
            df=win, time_col=p.time_col,
            dims=(*tags, "query_start"), tiebreak=p.tiebreak,
            results=p.results,
        )

        align_group = "alignGroup" in props

        def bucketed(o: Pipeline) -> Pipeline:
            """Apply the groupBy(time(d)) bucketing: epoch-aligned Spark
            windows normally; .alignGroup() (pipeline/batch.go:170
            AlignGroup) instead aligns buckets to each batch WINDOW's
            start — expressed as a computed bucket key appended to the
            dims (qs + floor((t-qs)/d)*d), no F.window involved."""
            from dataclasses import replace as _r

            if bucket is None:
                return o
            if not align_group:
                return o.window_time(bucket, bucket, offset=bucket_offset)
            d_us = round(_dur(bucket) * 1_000_000)
            qs = F.unix_micros(F.col("query_start"))
            t = F.unix_micros(F.col(o.time_col))
            bk = F.timestamp_micros(
                qs + F.floor((t - qs) / F.lit(d_us)).cast("long") * F.lit(d_us)
            )
            return _r(o, df=o.df.withColumn("__bk", bk), dims=(*o.dims, "__bk"))

        def unbucket(o: Pipeline) -> Pipeline:
            from dataclasses import replace as _r

            if "__bk" not in o.df.columns:
                return o
            df = o.df.withColumn(o.time_col, F.col("__bk")).drop("__bk")
            return _r(o, df=df, dims=tuple(d for d in o.dims if d != "__bk"))

        agg_re = (
            r'(\w+)\(\s*"?(\w+)"?\s*(?:,\s*([\d.]+)\s*)?\)'
            r'(?:\s+AS\s+"?(\w+)"?)?'
        )
        parts = [s.strip() for s in _re.split(r",(?![^(]*\))", sel) if s.strip()]
        if len(parts) > 1 and any(
            "(" in part and _re.fullmatch(agg_re, part, _re.I) for part in parts
        ):
            # a comma list where ANY entry is an aggregate call must be a
            # fully-supported multi-aggregate — falling through to the
            # plain-projection branch would silently emit raw rows
            bad = [
                part
                for part in parts
                if not (
                    (pm := _re.fullmatch(agg_re, part, _re.I))
                    and pm.group(1).lower() in self._QUERY_AGGS
                )
            ]
            if bad:
                raise TickError(
                    f"query(): unsupported entries in multi-aggregate "
                    f"SELECT: {bad} (percentile and plain fields must be "
                    "selected in their own query())"
                )
            # multi-aggregate SELECT (InfluxQL 'SELECT mean(a), max(b)'):
            # one grouped aggregation with all output columns. first/last
            # are excluded — Spark's grouped first is order-arbitrary and
            # only the single-agg path pins the reference's time ordering.
            cols = []
            for part in parts:
                pm = _re.fullmatch(agg_re, part, _re.I)
                fname = pm.group(1).lower()
                if fname in ("first", "last"):
                    raise TickError(
                        "query(): first/last in a multi-aggregate SELECT "
                        "are not supported — select them alone"
                    )
                alias = pm.group(4) or fname
                cols.append(self._QUERY_AGGS[fname](pm.group(2)).alias(alias))
            if props.get("fill", [None])[0] not in (None, "none"):
                raise TickError(
                    "query(): .fill() with a multi-aggregate SELECT is not "
                    "supported — fill each aggregate in its own query()"
                )
            return unbucket(bucketed(out).agg(*cols))
        am = _re.fullmatch(agg_re, sel, _re.I)
        if am and (
            am.group(1).lower() in self._QUERY_AGGS
            or am.group(1).lower() == "percentile"
        ):
            fname, fld, extra = am.group(1).lower(), am.group(2), am.group(3)
            alias = am.group(4) or fname
            out = bucketed(out)
            # InfluxQL emits the bucket/window START as the row time
            if fname == "percentile":
                # percentile("f", N): influxdb's exact non-interpolating
                # formula (Pipeline.percentile)
                out = out.percentile(fld, float(extra), as_=alias)
            else:
                out = out._single_agg(self._QUERY_AGGS[fname](fld), alias)
            out = unbucket(out)
            fill = props.get("fill", [None])[0]
            if fill is not None and fill != "none" and bucket is not None:
                out = self._query_fill(
                    out, fill, _dur(bucket), bucket_offset,
                    _dur(props["period"][0]), alias, tags,
                    align_group=align_group,
                )
        elif sel not in ("*",):
            # plain projection: keep time/dims + the selected fields;
            # rows with NO selected field are dropped (InfluxQL returns
            # only rows carrying a selected value — golden serverB null
            # gap in TestBatch_StateTracking)
            flds = [
                f.strip().strip('"') for f in sel.split(",") if f.strip()
            ]
            keep = [out.time_col, *out.dims, *flds]
            df = out.df.select(
                *[c for c in dict.fromkeys(keep) if c in out.df.columns]
            )
            present = [F.col(f) for f in flds if f in df.columns]
            if present:
                cond = present[0].isNotNull()
                for c in present[1:]:
                    cond = cond | c.isNotNull()
                df = df.filter(cond)
            out = out._with(df, dims=out.dims)
        return out

    def _resolve_query_flux(self, node: _Node) -> Pipeline:
        """batch|queryFlux('from(bucket:...) |> ...').every(e)/.cron(c)
        .period(p).offset(o).align().org(o).orgID(id).cluster(c)
        (/root/reference/pipeline/batch.go:367-443, batch.go:569-680,
        fluxquery.go): the engine does NOT interpret Flux — the script
        ships to an InfluxDB 2.x /api/v2/query endpoint and the returned
        table flows in as a batch edge (the reference's FluxQueryService
        seam, mocked in its own TestBatch_Flux). Pass the client via
        ``run_tickscript(flux_client=fn)`` with
        ``fn(script, org, org_id) -> DataFrame``.

        Replay divergence (documented): the reference re-issues the query
        on every schedule tick against live data; a deterministic batch
        replay has no wall clock, so the client is invoked ONCE — the
        schedule properties are validated with the reference's exact
        error strings (batch.go:600-614) and recorded, and a live
        deployment drives the cadence outside the engine."""
        if not node.args:
            raise TickError("queryFlux() needs the Flux script argument")
        props = node.prop_map()
        # value semantics exactly mirror batch.go:599-615: Every > 0 means
        # set (0 = unset, negative = error), Cron set = non-empty string
        every = _dur(props["every"][0]) if props.get("every") else 0.0
        cron = (props.get("cron") or [""])[0]
        if every != 0 and cron != "":
            raise TickError("must not set both 'every' and 'cron' properties")
        if every < 0:
            # the doubled 'must must' is the reference's own error string
            raise TickError("'every' duration must must non-negative")
        if every == 0 and cron == "":
            raise TickError("must define one of 'every' or 'cron'")
        if cron and not (5 <= len(cron.split()) <= 7):
            # the reference validates cron syntax at schedule creation
            # (gorhill/cronexpr accepts 5-7 fields); a silently-ignored
            # malformed schedule is the failure mode to avoid
            raise TickError(f"invalid cron expression {cron!r}")
        if self.flux_client is None:
            raise TickError(
                "queryFlux(): no Flux client — pass "
                "run_tickscript(flux_client=fn) with "
                "fn(script, org, org_id) -> DataFrame"
            )
        df = self.flux_client(
            node.args[0],
            (props.get("org") or [""])[0],
            (props.get("orgID") or [""])[0],
        )
        return Pipeline.from_df(
            df, time_col=self.time_col, dims=self.dims, tiebreak=self.tiebreak
        )

    def _query_fill(
        self, out: Pipeline, fill, bucket_s, offset_s, period_s, alias, tags,
        align_group: bool = False,
    ) -> Pipeline:
        """query().fill(...) — InfluxQL groupBy-time gap filling
        (/root/reference/batch.go:210-225 forwards it into the InfluxDB
        query; pipeline/batch.go:180-188 documents the options). Empty
        time buckets inside each batch window become rows:

        * a number      → that value
        * 'null'        → a row with a NULL value
        * 'previous'    → the previous bucket's value (within the window)
        * 'linear'      → linear interpolation between the neighboring
                          non-empty buckets (edges stay NULL, like
                          InfluxDB)
        * 'none'        → no fill (default; handled by the caller)

        The bucket spine is generated per (query_start, tags) with one
        ``sequence`` + explode — no scan of the data range — then a left
        join attaches the aggregated buckets. All expression-level."""
        d_us = round(bucket_s * 1_000_000)
        per_us = round(period_s * 1_000_000)
        off_us = round(offset_s * 1_000_000)
        df = out.df
        tcol = out.time_col
        keys = [t for t in tags] + ["query_start"]
        qs_us = F.unix_micros(F.col("query_start"))
        if align_group:
            first = qs_us  # alignGroup buckets start AT the window start
        else:
            first = (
                F.floor((qs_us - F.lit(off_us)) / F.lit(d_us)) * F.lit(d_us)
                + F.lit(off_us)
            ).cast("long")
        spine = (
            df.select(*keys).distinct().withColumn(
                tcol,
                F.explode(
                    F.sequence(
                        first, qs_us + F.lit(per_us - 1), F.lit(d_us)
                    )
                ),
            ).withColumn(tcol, F.timestamp_micros(F.col(tcol)))
        )
        joined = spine.join(df, [*keys, tcol], "left")
        w = (
            Window.partitionBy(*[F.col(k) for k in keys]).orderBy(tcol)
        )
        if fill == "null":
            filled = joined
        elif fill == "previous":
            filled = joined.withColumn(
                alias,
                F.last(alias, ignorenulls=True).over(
                    w.rowsBetween(Window.unboundedPreceding, 0)
                ),
            )
        elif fill == "linear":
            t_us = F.unix_micros(F.col(tcol))
            has = F.col(alias).isNotNull()
            pv = F.last(F.when(has, F.col(alias)), ignorenulls=True).over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            )
            pt = F.last(F.when(has, t_us), ignorenulls=True).over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            )
            nv = F.first(F.when(has, F.col(alias)), ignorenulls=True).over(
                w.rowsBetween(1, Window.unboundedFollowing)
            )
            nt = F.first(F.when(has, t_us), ignorenulls=True).over(
                w.rowsBetween(1, Window.unboundedFollowing)
            )
            interp = pv + (nv - pv) * (t_us - pt) / (nt - pt)
            filled = joined.withColumn(
                alias, F.coalesce(F.col(alias), interp)
            )
        else:
            # fill value takes the aggregate column's OWN type: fill(0) on
            # an integer count keeps the column long (coalescing a double
            # literal would silently promote every row to double)
            filled = joined.withColumn(
                alias,
                F.coalesce(
                    F.col(alias),
                    F.lit(fill).cast(joined.schema[alias].dataType),
                ),
            )
        return out._with(filled, dims=out.dims)

    # -- chain dispatch ----------------------------------------------- #

    def _resolve(self, x):
        """Materialize a pending builder or aggregation; anything else
        passes through."""
        if isinstance(x, _Node):
            return self._materialize(x)
        if isinstance(x, _PendingAgg):
            return x._build()
        return x

    def chain(self, node, name, args):
        node = self._resolve(node)
        if isinstance(node, _Source):
            if name == "from":
                return _Node("from", args, node)
            if name == "query":
                if node.kind != "batch":
                    raise TickError("query() requires a batch source")
                return _Node("query", args, node)
            if name == "queryFlux":
                if node.kind != "batch":
                    raise TickError("queryFlux() requires a batch source")
                return _Node("queryFlux", args, node)
            raise TickError(f"{node.kind} source supports |from()")
        if name in self.BUILDERS or name.startswith("@"):
            return _Node(name, args, node)
        if isinstance(node, Pipeline):
            return self._apply_chain(node, name, args)
        raise TickError(f"cannot chain |{name}() here")

    def prop(self, node, name, args):
        if isinstance(node, (_Node, _PendingAgg)):
            return node.prop(name, args)
        if isinstance(node, Pipeline) and name == "rename":
            # union(...).rename(m) (/root/reference/pipeline/union.go:
            # .rename sets the output measurement name)
            return node._with(
                node.df.withColumn("name", F.lit(args[0])), dims=node.dims
            )
        raise TickError(f"property .{name}() without a node")

    def _materialize(self, node: _Node):
        p = self._resolve(node.parent)
        if node.name == "from":
            return self._resolve_from(node)
        if node.name == "query":
            return self._resolve_query(node)
        if node.name == "queryFlux":
            return self._resolve_query_flux(node)
        if not isinstance(p, Pipeline):
            raise TickError(f"|{node.name}() needs an upstream pipeline")
        if node.name.startswith("@"):
            return self._mk_udf(p, node)
        if node.name in _AUTOSCALE_KINDS:
            return self._autoscale(p, node)
        fn = getattr(self, f"_mk_{node.name}", None)
        if fn is None:
            raise TickError(f"unsupported node |{node.name}()")
        return fn(p, node)

    def _mk_udf(self, p: Pipeline, node: _Node) -> Pipeline:
        """@UDF node (/root/reference/udf.go; integration golden
        TestStream_CustomFunctions): properties become the Init option
        list (udf/agent/udf.proto InitRequest/Option) — here plain kwargs
        to the registered @udf_node (single-value props unwrap, durations
        become seconds)."""
        name = node.name[1:]
        fn = (self.udfs or {}).get(name)
        if fn is None:
            raise TickError(
                f"@{name}(): no UDF registered — pass run_tickscript(udfs={{{name!r}: fn}})"
            )
        opts = {}
        for pname, args in node.props:
            vals = [
                _dur(a) if isinstance(a, _Duration) else a for a in args
            ]
            opts[pname] = vals[0] if len(vals) == 1 else tuple(vals)
        if getattr(fn, "__udf_node__", False):
            return p.udf(fn, **opts)
        return fn(p, **opts)

    # -- builder materializers ---------------------------------------- #

    def _mk_kapacitorLoopback(self, p: Pipeline, node: _Node) -> Pipeline:
        """kapacitorLoopback() (/root/reference/kapacitor_loopback.go;
        pipeline/kapacitor_loopback.go:9-27): re-inject this node's points
        under a target database/retentionPolicy. Spark mapping: the points
        DataFrame is registered in outputs as ``loopback:<db>.<rp>`` — a
        task-master layer (or the caller) feeds it to the subscribed
        script's sources, exactly how the reference routes by DBRP
        (task_master.go forkPoint). Ported fixture:
        TestStream_KapacitorLoopback."""
        props = node.prop_map()
        db = props.get("database", ["dbname"])[0]
        rp = props.get("retentionPolicy", ["rpname"])[0]
        # loop prevention (golden TestStream_KapacitorLoopback_PreventLoop;
        # task_master.go checks the loopback DBRP against the task's
        # subscriptions): writing back into the DBRP this task reads from
        # would feed the task its own output forever
        if self.dbrp is not None and f"{db}.{rp}" == self.dbrp:
            raise TickError(
                f"kapacitorLoopback(): loopback to {db}.{rp} would create "
                "a loop — the task subscribes to that same database/"
                "retention policy"
            )
        self.outputs[f"loopback:{db}.{rp}"] = p.df
        return p

    def _mk_httpPost(self, p: Pipeline, node: _Node) -> Pipeline:
        """httpPost('url') or httpPost().endpoint(name).header(k,v)
        (/root/reference/pipeline/http_post.go; services/httppost
        endpoint configs): endpoints resolve through
        ``run_tickscript(endpoints={name: url-or-config})`` — a config
        may be a plain URL string or ``{"url": ..., "headers": {...},
        "body_template": ...}``."""
        from kapacitor_spark.sinks import apply_sink, http_post

        props = node.prop_map()
        headers = {a[0]: a[1] for n, a in node.props if n == "header"}
        body_template = None
        if node.args:
            url = node.args[0]
        else:
            ep = props.get("endpoint", [None])[0]
            conf = (self.endpoints or {}).get(ep)
            if conf is None:
                raise TickError(
                    f"httpPost(): unknown endpoint {ep!r} — pass "
                    f"run_tickscript(endpoints={{{ep!r}: url-or-config}})"
                )
            if isinstance(conf, str):
                url = conf
            else:
                url = conf["url"]
                headers = {**conf.get("headers", {}), **headers}
                body_template = conf.get("body_template")
        apply_sink(
            p.df,
            http_post(
                url, headers=headers or None, body_template=body_template,
                capture_response="captureResponse" in props,
            ),
        )
        return p

    def _mk_influxDBOut(self, p: Pipeline, node: _Node) -> Pipeline:
        """influxDBOut().database(db).retentionPolicy(rp).measurement(m)
        .precision(pr).tag(k,v).create() (/root/reference/influxdb_out.go):
        writes line protocol to the InfluxDB configured via
        ``run_tickscript(influxdb='http://...')``. Without a configured
        URL the node is a recorded no-op (the reference likewise needs a
        configured cluster)."""
        if not self.influxdb:
            return p
        from kapacitor_spark.sinks import influxdb_http_out

        props = node.prop_map()
        influxdb_http_out(
            p.df,
            self.influxdb,
            database=props.get("database", ["db"])[0],
            measurement=props.get("measurement", ["m"])[0],
            retention_policy=props.get("retentionPolicy", [""])[0],
            precision=props.get("precision", ["ns"])[0],
            tags={a[0]: a[1] for n, a in node.props if n == "tag"},
            time_col=p.time_col,
            create="create" in props,
        )
        return p

    def _mk_barrier(self, p: Pipeline, node: _Node) -> Pipeline:
        """barrier().idle(d)/.period(d)/.delete(b) (/root/reference/
        barrier.go): in this BATCH evaluation context event time is
        already complete, so the barrier is a recorded no-op; the
        streaming compile target is kapacitor_spark.streaming.barrier
        (withWatermark) where idle/period bound state and drop late data."""
        return p

    def _mk_sideload(self, p: Pipeline, node: _Node) -> Pipeline:
        """sideload() (/root/reference/pipeline/sideload.go:8-37): file://
        source + order templates load per-level lookup tables
        (sources/sideload.py); .field()/.tag() declare loaded names and
        defaults. Golden: TestStream_Sideload(_Multiple)."""
        from kapacitor_spark.sources.sideload import load_sideload_levels

        props = node.prop_map()
        src = props.get("source", [None])[0]
        if src is None:
            raise TickError("sideload() needs .source('file://dir')")
        order = [a for name, args in node.props if name == "order" for a in args]
        defaults = {}
        fields = []
        for name, args in node.props:
            if name in ("field", "tag"):
                fields.append(args[0])
                defaults[args[0]] = args[1]
        lookups, ons = load_sideload_levels(p.df.sparkSession, src, order)
        return p.sideload(lookups, on=ons, fields=fields or None, defaults=defaults)

    def _autoscale(self, p: Pipeline, node: _Node) -> Pipeline:
        """k8s/swarm/ec2Autoscale (reference autoscale.go;
        pipeline/{k8s,swarm,ec2}_autoscale.go defaults Min=1, Max=0,
        cooldowns 0): the client lookup and validation, then ``_scale``
        runs the decision machine. The _AUTOSCALE_KINDS factory builds
        the concrete Autoscaler from the node's naming properties."""
        kind, mk = _AUTOSCALE_KINDS[node.name]
        props = node.prop_map()
        cluster = props.get("cluster", [""])[0]
        clients = self.autoscale_clients
        client = clients.get((kind, cluster)) or clients.get(kind)
        if client is None:
            raise TickError(
                f"{node.name}(): no {kind} client — pass "
                f"autoscale_clients={{{kind!r}: client}}"
            )
        scaler = mk(client, props)
        if "replicas" not in props:
            raise TickError(f"{node.name}() needs .replicas(lambda: ...)")
        if "currentField" in props:
            raise TickError(
                f"{node.name}().currentField(): state-dependent replicas "
                "lambdas need the Python API (Pipeline.autoscale current_fn=)"
            )
        return self._scale(
            p, scaler, self._lam(p, props["replicas"][0]),
            min=int(props.get("min", [1])[0]),
            max=int(props.get("max", [0])[0]),
            increase_cooldown=_dur(props.get("increaseCooldown", [0.0])[0]),
            decrease_cooldown=_dur(props.get("decreaseCooldown", [0.0])[0]),
        )

    def _scale(self, p: Pipeline, scaler, want, **kw) -> Pipeline:
        return p.autoscale(scaler, want, **kw)

    def _mk_window(self, p: Pipeline, node: _Node) -> Pipeline:
        props = node.prop_map()
        if "periodCount" in props:
            return p.window_count(
                int(props["periodCount"][0]),
                int(props.get("everyCount", [1])[0]),
                fill_period="fillPeriod" in props,
            )
        if "period" not in props:
            raise TickError("window() needs .period(d) or .periodCount(n)")
        period = _dur(props["period"][0])
        every = _dur(props.get("every", [None])[0]) if "every" in props else None
        return p.window_time(period, every, fill_period="fillPeriod" in props)

    def _mk_eval(self, p: Pipeline, node: _Node) -> Pipeline:
        props = node.prop_map()
        names = props.get("as", [])
        if len(names) != len(node.args):
            raise TickError("eval(): .as() must name every expression")
        # reference keep semantics (pipeline/eval.go Keep): no .keep() →
        # only time+dims+outputs survive; bare .keep() → keep everything;
        # .keep('a','b') → keep the listed subset (+outputs named in it)
        if "keep" not in props:
            keep = False
        else:
            keep = [a for a in props["keep"]] or True
        out = p
        quiet = "quiet" in props
        for n, l in zip(names, node.args):
            # .quiet() (pipeline/eval.go QuietFlag): an eval error (missing
            # field / div-by-zero NULL) drops the point silently
            out = out.eval(keep=True, drop_errors=quiet, **{n: self._lam(out, l)})
        if keep is False:
            cols = [out.time_col, *out.dims, *names]
            out = out._with(out.df.select(*dict.fromkeys(cols)))
        elif keep is not True:
            cols = [out.time_col, *out.dims, *keep, *names]
            out = out._with(out.df.select(*[c for c in dict.fromkeys(cols) if c in out.df.columns]))
        return out

    def _mk_default(self, p: Pipeline, node: _Node) -> Pipeline:
        # .tag() defaults use the empty-string-counts-as-missing rule
        # (default.go:100), applied one prop at a time so chained
        # default() nodes compose like the reference's
        out = p
        for name, args in node.props:
            if name == "field":
                out = out.default(**{args[0]: args[1]})
            elif name == "tag":
                out = out.default(tags={args[0]: args[1]})
        return out

    def _mk_delete(self, p: Pipeline, node: _Node) -> Pipeline:
        cols = [args[0] for name, args in node.props if name in ("field", "tag")]
        return p.delete(*cols)

    def _mk_groupBy(self, p: Pipeline, node: _Node) -> Pipeline:
        tags = node.args[0] if node.args and isinstance(node.args[0], list) else list(node.args)
        props = node.prop_map()
        exclude = props.get("exclude", [])
        return p.group_by(
            *tags, exclude=exclude, by_measurement="byMeasurement" in props
        )

    def _mk_flatten(self, p: Pipeline, node: _Node) -> Pipeline:
        props = node.prop_map()
        on = props.get("on", [])
        on = on[0] if on and isinstance(on[0], list) else on
        tol = _dur(props["tolerance"][0]) if "tolerance" in props else None
        fields = [
            c for c in p.df.columns if c not in (p.time_col, *p.dims, *on)
        ]
        return p.flatten(
            on=on, fields=fields[:1], tolerance=tol,
            delimiter=props.get("delimiter", ["."])[0],
            drop_original_field_name="dropOriginalFieldName" in props,
        )

    def _mk_combine(self, p: Pipeline, node: _Node) -> Pipeline:
        props = node.prop_map()
        as_ = tuple(props.get("as", ("a", "b")))
        tol = _dur(props["tolerance"][0]) if "tolerance" in props else None
        preds = [l.src if isinstance(l, _Lambda) else l for l in node.args]
        return p.combine(*preds, as_=as_, tolerance=tol)

    def _mk_join(self, p: Pipeline, node: _Node) -> Pipeline:
        other = self._resolve(node.args[0])
        props = node.prop_map()
        prefixes = tuple(props.get("as", ("a", "b")))
        tol = _dur(props["tolerance"][0]) if "tolerance" in props else None
        fill = props.get("fill", [None])[0]
        on = props.get("on", [None])[0]
        return p.join(
            other, prefixes=prefixes, tolerance=tol, fill=fill,
            on=on if isinstance(on, list) else None,
            # reference default delimiter is '.' (pipeline/join.go:13)
            delimiter=props.get("delimiter", ["."])[0],
            stream_name=props.get("streamName", [None])[0],
            delete_all="deleteAll" in props,
        )

    def _mk_alert(self, p: Pipeline, node: _Node) -> Pipeline:
        a = _alert_props(node.props, lambda v: self._lam(p, v))
        built = _build_handlers(a, self.alert_services)
        out = p.alert(**a.machine, **a.augment)
        _deliver_alerts(
            out.df, [d for d in out.dims if d != "name"], self.time_col, a,
            built,
        )
        return out

    # -- simple chain methods ------------------------------------------ #

    def _apply_chain(self, p: Pipeline, name, args):
        if name == "where":
            return self._where(p, args[0])
        if name == "shift":
            return p.shift(_dur(args[0]))
        if name == "sample":
            a = args[0]
            return p.sample(n=int(a)) if isinstance(a, (int, float)) else p.sample(every=_dur(a))
        if name == "union":
            return p.union(*[self._resolve(a) for a in args])
        if name == "httpOut":
            self.outputs[args[0]] = p.df
            return p
        if name == "log":
            return p
        if name == "trickle":
            return p.trickle()
        if name == "stats":
            return p.stats(_dur(args[0]))
        if name == "deadman":
            return p.deadman(args[0], _dur(args[1]))
        if name in self.AGGS:
            return _PendingAgg(self, p, name, args)
        raise TickError(f"unsupported chain method |{name}()")

    def _agg(self, n: "_PendingAgg") -> Pipeline:
        """Build a pending aggregation or per-point transform."""
        p, name, args, props = n.src, n.name, n.args, n.props
        as_ = props.get("as", [None])[0]
        unit = _dur(props["unit"][0]) if "unit" in props else "1s"
        if name in ("count", "sum", "mean", "median", "mode", "spread",
                    "stddev", "min", "max", "first", "last"):
            fld = args[0]
            if fld not in p.df.columns:
                # InfluxQL over a field the points don't carry yields NO
                # rows (golden TestStream_InfluxQLNodeMissingValue_Batch:
                # empty result, not an error). dataclasses.replace keeps
                # the pending window spec so the agg stays windowed (a
                # global agg over empty input would emit one null row).
                from dataclasses import replace as _dc_replace

                p = _dc_replace(
                    p,
                    df=p.df.withColumn(fld, F.lit(None).cast("double")).filter(
                        F.lit(False)
                    ),
                )
            if "usePointTimes" in props and name in ("first", "last"):
                # .usePointTimes() (influxql.go PointTimes): the emitted
                # row carries the SELECTED point's time, not the window's
                out = getattr(p, name)(
                    fld, as_=as_ or name, use_point_times=True
                )
            elif "usePointTimes" in props and name in ("min", "max"):
                out = getattr(p, f"{name}_selector")(fld, as_=as_ or name)
            else:
                out = getattr(p, name)(fld, as_=as_ or name)
        elif name == "distinct":
            out = p.distinct(args[0])
        elif name == "percentile":
            out = p.percentile(args[0], float(args[1]), as_=as_ or "percentile")
        elif name in ("top", "bottom"):
            out = getattr(p, name)(int(args[0]), args[1], *args[2:], as_=as_)
        elif name == "derivative":
            out = p.derivative(args[0], unit=unit,
                               non_negative="nonNegative" in props, as_=as_)
        elif name == "difference":
            out = p.difference(args[0], as_=as_)
        elif name == "movingAverage":
            out = p.moving_average(args[0], int(args[1]), as_=as_)
        elif name == "cumulativeSum":
            out = p.cumulative_sum(args[0], as_=as_)
        elif name == "elapsed":
            out = p.elapsed(unit=_dur(args[1]) if len(args) > 1 else unit,
                            as_=as_ or "elapsed")
        elif name == "changeDetect":
            out = p.change_detect(*args)
        elif name == "stateDuration":
            out = p.state_duration(
                self._lam(p, args[0]), unit=unit, as_=as_ or "state_duration"
            )
        elif name == "stateCount":
            out = p.state_count(self._lam(p, args[0]), as_=as_ or "state_count")
        elif name in ("holtWinters", "holtWintersWithFit"):
            out = p.holt_winters(args[0], int(args[1]), int(args[2]),
                                 _dur(args[3]),
                                 include_fit=name.endswith("WithFit"), as_=as_)
        else:  # pragma: no cover
            raise TickError(f"unsupported aggregation {name}")
        return out


class _PendingAgg:
    """An aggregation chain node that still accepts .as()/.unit()/... props;
    the next pipe (or output) materializes it through ``env._agg``.
    Mirrors InfluxQLNode chaining (reference pipeline/influxql.go:
    160-175)."""

    def __init__(self, env, p, name, args):
        self.env, self.src, self.name, self.args = env, p, name, args
        self.props: dict[str, list] = {}
        self._built = None

    def _build(self) -> Pipeline:
        if self._built is None:
            self._built = self.env._agg(self)
        return self._built

    def prop(self, name, args):
        self.props[name] = args
        self._built = None
        return self


def run_tickscript(
    script: str,
    sources,
    time_col: str = "time",
    dims: tuple[str, ...] = (),
    tiebreak: tuple[str, ...] = (),
    udfs: dict | None = None,
    endpoints: dict | None = None,
    influxdb: str | None = None,
    dbrp: str | None = None,
    alert_services: dict | None = None,
    template_vars: dict | None = None,
    autoscale_clients: dict | None = None,
    flux_client=None,
) -> dict[str, DataFrame]:
    """Execute a TICKscript; returns {httpOut name: DataFrame}.

    ``sources``: DataFrame | Pipeline | dict measurement→DataFrame/Pipeline
    | callable(measurement)→DataFrame/Pipeline.
    ``udfs``: registry for @name() chain methods — name → @udf_node
    function (options become kwargs), the reference's configured-UDF
    scope methods (/root/reference/task_master.go:497-525).
    ``endpoints``: httpPost().endpoint(name) registry — name → url string
    or {"url", "headers", "body_template"} (the reference's
    services/httppost endpoint configs).
    ``influxdb``: base URL for influxDBOut() writes (the reference's
    configured InfluxDB cluster).
    ``dbrp``: the task's subscribed "db.rp" — kapacitorLoopback() into the
    same DBRP raises (the reference's loop-prevention check).
    ``alert_services``: service configs for alert handler chains
    (.slack()/.victorOps()/... — the reference's [slack] etc. config
    sections): {kind: {"url": ..., "token": ..., "workspaces": {...}}}.
    ``template_vars``: template-task var overrides (the reference's
    define-template + vars JSON, /root/reference/template.go): script
    ``var`` statements become defaults; values given here win. Durations
    pass as "10s"-style strings, lambdas as "lambda: ..." strings.
    """
    env = _Env(
        sources, time_col, dims, tiebreak, {}, udfs, endpoints,
        influxdb, dbrp, alert_services, autoscale_clients, flux_client,
    )
    return _run(env, script, template_vars)


def _run(env: _Env, script: str, template_vars: dict | None) -> dict:
    env.preset_vars = _coerce_template_vars(template_vars or {})
    _P(*_tokenize(script), env).run()
    return env.outputs


# --------------------------------------------------------------------- #
# Structured-Streaming compile target — the continuous-ingestion form of
# a TICK task. run_tickscript evaluates scripts as batch replay over
# complete event time (every golden works that way, mirroring the
# reference's recording/replay tests); run_tickscript_stream compiles the
# streaming-compatible subset onto readStream DataFrames so the
# task-store API can enable a task against live ingestion.
#
# There is one front end: _StreamEnv is an _Env, so parsing, prop
# accumulation, from() resolution, groupBy/eval/default/delete/sideload,
# where/shift/sample(d)/union/log/httpOut and the aggregation props run
# the batch compile's own code. It overrides only the operators whose
# live form differs:
#   - time-window aggregates are the batch builder's F.window
#     aggregation (what Structured Streaming's incremental state store
#     executes); count windows run the keyed ring (window_count_stream)
#   - derivative/difference/elapsed/cumulativeSum/movingAverage/
#     stateCount/stateDuration/changeDetect and sample(n) run on the keyed
#     streaming operators
#   - join, flatten, combine, barrier (→ watermark), stats/deadman and
#     the autoscale decision stream have live operators of their own
#   - alert() is a stateless level CASE, the keyed alert machine, or
#     fused with its window into one keyed operator — with the batch
#     compile's prop parser, augment, delivery and AlertStage
# The supported chain methods are _StreamEnv.SUPPORTED. Any other raises
# TickError with the batch alternative spelled out — honesty over silent
# wrong answers.
# --------------------------------------------------------------------- #


@dataclass(frozen=True)
class _Aggregated(Pipeline):
    """A live stream after a streaming aggregation, ticker or keyed alert.
    Spark plans no second stateful operator behind one, so only
    log/httpOut/alert may follow.
    ``fuse`` is the pending window aggregation it came from: a stateful
    alert re-plans window + aggregate + alert from it as ONE keyed
    operator."""

    fuse: _PendingAgg | None = None


class _StreamEnv(_Env):
    """The live back end of the TICK front end (see the comment above)."""

    WINDOW_AGGS = {
        "mean", "sum", "count", "min", "max", "stddev", "median", "spread",
        "first", "last",
    }
    COUNT_AGGS = {"mean", "sum", "count", "min", "max"}
    _ORDERED = {
        "derivative": "derivative", "difference": "difference",
        "elapsed": "elapsed", "cumulativeSum": "cumulative_sum",
    }
    KEYED = {
        *_ORDERED, "movingAverage", "stateCount", "stateDuration",
        "changeDetect",
    }
    SUPPORTED = frozenset({
        *WINDOW_AGGS, *KEYED, *_AUTOSCALE_KINDS,
        "from", "where", "groupBy", "eval", "default", "delete", "shift",
        "sample", "sideload", "flatten", "combine", "barrier", "union",
        "join", "log", "stats", "deadman", "window", "alert", "httpOut",
    })
    # alert props that need the keyed alert machine; .durationField()
    # too, because the episode start persists in keyed state
    _STATEFUL_ALERT = {
        "critReset", "warnReset", "infoReset", "stateChangesOnly",
        "noRecoveries", "flapping", "history", "durationField",
    }

    def __init__(self, *args, flatten_values=None, join_watermark="1h", **kw):
        super().__init__(*args, **kw)
        self.flatten_values = flatten_values
        self.join_watermark = join_watermark
        self.handler_fns: list = []  # every live alert's delivery fn

    @staticmethod
    def _stateless(v):
        if isinstance(v, _Lambda) and is_stateful(v.src):
            raise TickError(
                f"live lambda {v.src!r}: sigma/count/spread need the whole "
                "ordered history — run the batch replay (run_tickscript)"
            )
        return v

    def _lam(self, p: Pipeline, v):
        return super()._lam(p, self._stateless(v))

    @staticmethod
    def _no_agg(x, name):
        if isinstance(x, _Aggregated):
            raise TickError(
                f"streaming compile: |{name}() on a stream behind a streaming "
                "aggregation or keyed alert would chain a second stateful "
                "operator — run the batch replay (run_tickscript)"
            )
        return x

    def chain(self, node, name, args):
        if name not in self.SUPPORTED:
            raise TickError(
                f"|{name}() is not in the streaming compile subset "
                f"({'/'.join(sorted(self.SUPPORTED))}) — run it as a batch "
                "replay task (run_tickscript) or wire the stateful operator "
                "from kapacitor_spark.streaming directly"
            )
        node = self._resolve(node)
        if isinstance(node, _Source) and node.kind != "stream":
            raise TickError("streaming compile: |from() must chain off `stream`")
        if name not in ("alert", "log", "httpOut"):
            self._no_agg(node, name)
        return super().chain(node, name, args)

    def _apply_chain(self, p: Pipeline, name, args):
        from kapacitor_spark import streaming as _strm

        if name == "sample" and isinstance(args[0], (int, float)):
            # every-Nth point: the per-group counter is keyed state
            # (reference sample.go:97-110)
            return p._with(_strm.sample_count_stream(
                p.df, p.time_col, list(p.dims), int(args[0]),
                tiebreak=self.tiebreak,
            ))
        if name == "stats":
            # wall-clock stats()/deadman() (reference stats.go:
            # "Stats are REAL-TIME not data-time") — ProcessingTimeTimeout
            # tickers; a fully-silent group still fires CRITICAL. Not
            # replayable: availableNow replays use the batch compile.
            out = _strm.stats_stream(
                p.df, p.time_col, list(p.dims), interval=_dur(args[0])
            )
            return _Aggregated(out, p.time_col, p.dims)
        if name == "deadman":
            out = _strm.deadman_stream(
                p.df, p.time_col, list(p.dims), interval=_dur(args[1]),
                threshold=float(args[0]),
            )
            return _Aggregated(out, p.time_col, p.dims)
        if name == "union":
            args = [self._no_agg(self._resolve(a), name) for a in args]
        return super()._apply_chain(p, name, args)

    def _agg(self, n: _PendingAgg) -> Pipeline:
        from kapacitor_spark import streaming as _strm

        p, name, args, props = n.src, n.name, n.args, n.props
        as_ = props.get("as", [None])[0]
        win, dims, tb = p.window, list(p.dims), self.tiebreak
        if isinstance(win, CountWindowSpec) and name in self.COUNT_AGGS:
            # the keyed ring buffer (reference window.go:360-470)
            out = _strm.window_count_stream(
                p.df, p.time_col, dims, args[0], win.period, win.every,
                agg=name, as_=as_ or name, tiebreak=tb,
                full_only=win.fill_period,
            )
            return _Aggregated(out, p.time_col, p.dims, fuse=n)
        if (
            isinstance(win, WindowSpec) and name in self.WINDOW_AGGS
            and not win.fill_period
        ):
            out = super()._agg(n)
            return _Aggregated(out.df, out.time_col, out.dims, fuse=n)
        if win is not None or name not in self.KEYED:
            raise TickError(
                f"streaming |{name}(): live aggregations are "
                f"{'/'.join(sorted(self.WINDOW_AGGS))} after a time "
                f"window (no fillPeriod, every > 0) and "
                f"{'/'.join(sorted(self.COUNT_AGGS))} after a count "
                "window — run the batch replay (run_tickscript)"
            )
        unit = _dur(props["unit"][0]) if "unit" in props else "1s"
        if name == "movingAverage":
            # the count-window ring with the warm-up gate
            out = _strm.window_count_stream(
                p.df, p.time_col, dims, args[0], int(args[1]), 1,
                agg="mean", as_=as_ or args[0], tiebreak=tb, full_only=True,
            )
        elif name in self._ORDERED:
            if name == "elapsed" and len(args) > 1:
                unit = _dur(args[1])
            out = _strm.ordered_transform_stream(
                p.df, p.time_col, dims, args[0], op=self._ORDERED[name],
                unit=unit, as_=as_, non_negative="nonNegative" in props,
                tiebreak=tb,
            )
        elif name == "changeDetect":
            out = _strm.change_detect_stream(
                p.df, p.time_col, dims, list(args), tiebreak=tb
            )
        elif name == "stateCount":
            out = _strm.state_count_stream(
                p.df, p.time_col, dims, cond=self._lam(p, args[0]),
                as_=as_ or "state_count", tiebreak=tb,
            )
        else:
            out = _strm.state_duration_stream(
                p.df, p.time_col, dims, cond=self._lam(p, args[0]),
                unit=unit, as_=as_ or "state_duration", tiebreak=tb,
            )
        return p._with(out)

    def _mk_barrier(self, p: Pipeline, node: _Node) -> Pipeline:
        """barrier().idle(d)/.period(d) → event-time watermark — the
        reference's late-drop + state-retention bound
        (reference pipeline/barrier.go:13-56)."""
        from kapacitor_spark.streaming import barrier

        props = node.prop_map()
        delay = props.get("idle", props.get("period"))
        if delay is None:
            raise TickError("streaming barrier() needs .idle(d) or .period(d)")
        return p._with(barrier(p.df, p.time_col, _dur(delay[0])), window=p.window)

    def _mk_flatten(self, p: Pipeline, node: _Node) -> Pipeline:
        """Streaming ``flatten().on(...).tolerance(d)`` — a per-bucket
        pivot is a streaming AGGREGATION (grouped conditional
        min_by(field, arrival-order) per pivot value), so it plans as
        native streaming-agg state, not a keyed operator. A streaming
        plan's schema must be static, so the pivot values CANNOT be
        discovered by a distinct scan the way the batch compile does
        (/root/reference/flatten.go:219-254 widens dynamically per
        buffer) — declare them via
        ``run_tickscript_stream(flatten_values=[...])``. Batch parity:
        same Go-style Time.Round bucketing, same earliest-point-wins
        rule (min_by over (time, tiebreak))."""
        values = self.flatten_values
        if not values:
            raise TickError(
                "streaming flatten() needs its pivot values declared up "
                "front (a streaming plan's output schema must be static) "
                "— pass flatten_values=[...] to run_tickscript_stream, "
                "or run the batch replay (run_tickscript)"
            )
        props = node.prop_map()
        on = props.get("on", [])
        on = on[0] if on and isinstance(on[0], list) else list(on)
        delimiter = props.get("delimiter", ["."])[0]
        drop_ofn = "dropOriginalFieldName" in props
        tc = p.time_col
        rest = [d for d in p.dims if d not in on]
        field = next(c for c in p.df.columns if c not in (tc, *p.dims))
        t = F.col(tc)
        if "tolerance" in props:
            us = round(_dur(props["tolerance"][0]) * 1_000_000)
            # Go Time.Round to the nearest multiple (flatten.go:44)
            um = F.unix_micros(t) + F.lit(us // 2)
            t = F.timestamp_micros(um - um % F.lit(us))
        pk = F.concat_ws(delimiter, *[F.col(c) for c in on])
        order = F.struct(F.col(tc), *[F.col(c) for c in self.tiebreak])
        aggs = [
            F.min_by(
                F.when(pk == F.lit(v), F.col(field)),
                F.when(pk == F.lit(v), order),
            ).alias(v if drop_ofn else f"{v}{delimiter}{field}")
            for v in values
        ]
        out = p.df.groupBy(t.alias(tc), *[F.col(d) for d in rest]).agg(*aggs)
        return _Aggregated(out, tc, tuple(rest))

    def _mk_combine(self, p: Pipeline, node: _Node) -> Pipeline:
        """Streaming ``combine(l1, l2, ...)`` — one streaming aggregation
        (the reference's per-bucket buffer as collect_list) + a
        declarative k-combination generator (streaming.combine_stream);
        the batch compile's iterated equi-joins would be chained
        stream-stream self-joins with multiplied state."""
        from kapacitor_spark.streaming import combine_stream

        props = node.prop_map()
        out = combine_stream(
            p.df, p.time_col, list(p.dims),
            [self._lam(p, a) for a in node.args],
            [a.src if isinstance(a, _Lambda) else str(a) for a in node.args],
            list(props.get("as", ("a", "b"))),
            tolerance=_dur(props["tolerance"][0]) if "tolerance" in props else None,
            delimiter=props.get("delimiter", ["_"])[0],
        )
        return _Aggregated(out, p.time_col, p.dims)

    def _mk_join(self, p: Pipeline, node: _Node) -> Pipeline:
        """Stream-stream tolerance join (streaming.join_stream) with
        watermark state eviction. Props: .as(prefixes) / .tolerance(d)
        (REQUIRED — the join keys on the tolerance bucket) /
        .delimiter() / .streamName() / .on(dims...) (dim-subset
        one-to-many join) / .fill('null'|scalar) (FULL OUTER on the
        window key; unmatched rows emit once both watermarks pass the
        bucket — tune run_tickscript_stream(join_watermark=...)) /
        .deleteAll() (a no-op: state cleanup is native watermark
        eviction). Documented divergence (join_stream docstring): >1 row
        per (bucket, dims) cell per side emits the cell cross product,
        where the batch join pairs sequentially."""
        from kapacitor_spark.streaming import join_stream

        props = node.prop_map()
        if "tolerance" not in props:
            raise TickError(
                "streaming join() needs .tolerance(d) — the stream-stream "
                "join keys on the tolerance bucket; exact equal-timestamp "
                "pairing runs in the batch replay (run_tickscript)"
            )
        other = self._resolve(node.args[0]) if len(node.args) == 1 else None
        if not isinstance(self._no_agg(other, "join"), Pipeline):
            raise TickError("streaming join() takes exactly one stream node "
                            "(chain N-way joins pairwise)")
        prefixes = tuple(props.get("as", ("a", "b")))
        delim = props.get("delimiter", ["."])[0]
        on = props.get("on")
        if on is not None:
            on = list(on[0]) if on and isinstance(on[0], list) else list(on)
        ld, rd, tc = list(p.dims), list(other.dims), p.time_col
        shared = [d for d in ld if d in rd]
        out = join_stream(
            p.df, other.df, tc, shared,
            tolerance=_dur(props["tolerance"][0]),
            watermark=self.join_watermark, prefixes=prefixes,
            delimiter=delim, on=on, fill=props.get("fill", [None])[0],
            left_dims=ld, right_dims=rd,
        )
        # batch parity: the joined row's time IS the bucket; per-side
        # original times do not survive (pipeline.py join drops them)
        out = out.drop(f"{prefixes[0]}{delim}{tc}", f"{prefixes[1]}{delim}{tc}")
        if "streamName" in props:
            out = out.withColumn("name", F.lit(props["streamName"][0]))
        dims = dict.fromkeys([*(shared if on is None else on), *ld, *rd])
        return Pipeline(df=out, time_col=tc, dims=tuple(dims),
                        tiebreak=self.tiebreak)

    def _scale(self, p: Pipeline, scaler, want, **kw) -> Pipeline:
        """The live decision stream (streaming.autoscale_stream): a
        per-resource keyed machine. For a STATIC resource name the
        current replica count prefetches from the client at compile (the
        reference's lazy Replicas(id) call, made eagerly — executors
        cannot hold clients); tag-addressed resources seed from their
        first clamped desired value without emitting. Wire a sink to
        make the orchestrator calls."""
        from kapacitor_spark.streaming import autoscale_stream

        initial = None
        if scaler._name is not None:
            initial = {scaler._name: int(scaler.replicas(scaler._name))}
        out = autoscale_stream(
            p.df, p.time_col, scaler, want, initial=initial,
            tiebreak=self.tiebreak, **kw,
        )
        return Pipeline(df=out, time_col=p.time_col, dims=("resource",))

    def _mk_alert(self, p: Pipeline, node: _Node) -> Pipeline:
        """Live alert(). With only crit/warn/info lambdas: a stateless
        level CASE on the rows — a live levels dashboard. Any
        _STATEFUL_ALERT prop runs the keyed alert machine
        (streaming.alert_stream ← streaming/state.py AlertStage, the SAME
        stage the batch replay runs, so stream == batch on identical
        input; the reference's canonical live task,
        TestStream_AlertStateChangesOnly). After a window aggregation the
        stateful machine fuses with the window (_fused_alert)."""
        from kapacitor_spark.streaming import alert_stream

        stateful = any(n in self._STATEFUL_ALERT for n, _a in node.props)
        if stateful and isinstance(p, _Aggregated):
            return self._fused_alert(p, node)
        a = _alert_props(node.props, lambda v: self._lam(p, v))
        m = a.machine
        if stateful:
            out = alert_stream(
                p.df, p.time_col, list(p.dims), tiebreak=self.tiebreak, **m
            )
        else:
            lv = p._level_index(m.get("crit"), m.get("warn"), m.get("info"))
            out = p.df.withColumn("level", _level_label(lv))
        return self._deliver(p, out, a, stateful)

    def _fused_alert(self, p: _Aggregated, node: _Node) -> Pipeline:
        """Stateful alert AFTER a windowed aggregation: re-plan window +
        agg + alert as ONE keyed state operator from the pending
        aggregation. Spark forbids a second stateful operator after a
        streaming aggregation — the fused operator is instead the
        reference's own execution shape (per-group window buffer feeding
        the in-process alert machine, reference window.go:149-260 +
        alert.go:989-1290; canonical task: TestStream_Alert). Ungrouped
        windows run as one synthetic group."""
        from kapacitor_spark import streaming as _strm

        n = p.fuse
        if n is None:
            raise TickError(
                "streaming alert: stateful knobs after stats / deadman / "
                "flatten / combine would chain two stateful streaming "
                "operators — alert on the raw stream, or run the batch "
                "replay (run_tickscript)"
            )

        if set(n.props) - {"as"}:
            raise TickError(
                f"streaming alert after |{n.name}(): the fused window alert "
                "takes only .as() on the aggregate — run the batch replay "
                "(run_tickscript)"
            )

        def lam(v):
            body = self._stateless(v).src if isinstance(v, _Lambda) else v
            return compile_lambda_pandas(
                body, time_col=p.time_col, variables=self.vars
            )

        a = _alert_props(node.props, lam)
        src, win = n.src, n.src.window
        kw = dict(agg=n.name, tiebreak=self.tiebreak, **a.machine)
        out_col = n.props.get("as", [None])[0] or n.name
        if isinstance(win, CountWindowSpec):
            out = _strm.window_count_alert_stream(
                src.df, src.time_col, list(src.dims), n.args[0], win.period,
                win.every, as_=out_col, full_only=win.fill_period, **kw,
            )
        else:
            out = _strm.window_alert_stream(
                src.df, src.time_col, list(src.dims), period=win.period,
                every=win.every, field=n.args[0], out_col=out_col, **kw,
            )
        return self._deliver(p, out, a, True)

    def _deliver(
        self, src: Pipeline, out: DataFrame, a: _AlertProps, keyed: bool
    ) -> Pipeline:
        """The batch compile's augment and delivery on the LIVE alert
        rows ``out`` of ``src``: Pipeline._alert_augment, then
        _deliver_alerts per micro-batch as a foreachBatch function
        attached to the output DataFrame (``df._ks_alert_handler_fn``;
        run_tickscript_stream surfaces it as
        ``outputs.alert_handlers[name]`` and raises if no httpOut
        carries it). Delivery is at-least-once under micro-batch
        retries — the reference's own handler semantics (alert.go
        handlers re-fire on replayed events). The handlers are built
        once, here (_build_handlers), so every config error raises AT
        COMPILE, not mid-stream. A ``keyed`` alert, or
        one behind a streaming aggregation, returns _Aggregated."""
        p = Pipeline(
            df=out, time_col=self.time_col, dims=tuple(src.dims),
            tiebreak=self.tiebreak,
        )._alert_augment(**a.augment)
        if keyed or isinstance(src, _Aggregated):
            p = _Aggregated(p.df, p.time_col, p.dims)
        if not a.specs and not a.sinks:
            return p
        built = _build_handlers(a, self.alert_services)
        hdims = [d for d in src.dims if d != "name"]

        def handler_fn(batch_df, _batch_id):
            if not batch_df.isEmpty():
                _deliver_alerts(batch_df, hdims, self.time_col, a, built)

        p.df._ks_alert_handler_fn = handler_fn
        self.handler_fns.append(handler_fn)
        return p


def run_tickscript_stream(
    script: str,
    sources,
    time_col: str = "time",
    dims: tuple = (),
    template_vars: dict | None = None,
    tiebreak: tuple = (),
    autoscale_clients: dict | None = None,
    flatten_values: list | None = None,
    join_watermark: str | float = "1h",
    alert_services: dict | None = None,
) -> dict[str, DataFrame]:
    """Compile a TICKscript onto Structured Streaming sources; returns
    {httpOut name: STREAMING DataFrame} ready for writeStream (drive a
    deterministic replay with kapacitor_spark.streaming.run_available_now,
    or attach a real sink for continuous execution).

    ``sources``: as for run_tickscript, with streaming DataFrames. The
    chain methods it compiles are ``_StreamEnv.SUPPORTED`` (see the
    comment above _StreamEnv); any other raises TickError naming the
    batch alternative."""
    env = _StreamEnv(
        sources, time_col, dims, tiebreak, {},
        alert_services=alert_services, autoscale_clients=autoscale_clients,
        flatten_values=flatten_values, join_watermark=join_watermark,
    )
    outputs = _run(env, script, template_vars)
    if not outputs:
        raise TickError("streaming compile: script has no httpOut()")

    class _StreamOutputs(dict):
        """dict of {httpOut name: streaming DataFrame}, plus
        ``alert_handlers``: {name: foreachBatch fn} for outputs whose
        alert node carried handler chains/sinks — start delivery with
        ``df.writeStream.foreachBatch(fn)...start()`` alongside (or
        instead of) the data sink."""

        alert_handlers: dict = {}

    outs = _StreamOutputs(outputs)
    outs.alert_handlers = {
        k: fn for k, v in outputs.items()
        if (fn := getattr(v, "_ks_alert_handler_fn", None)) is not None
    }
    if set(env.handler_fns) - set(outs.alert_handlers.values()):
        raise TickError(
            "streaming compile: an alert() with handlers or sinks delivers "
            "as the foreachBatch of its httpOut() — follow it only with "
            "|log() and |httpOut(), or run the batch replay (run_tickscript)"
        )
    return outs


# --------------------------------------------------------------------- #
# DOT export — `kapacitor show <task>` graph rendering
# --------------------------------------------------------------------- #


class _GNode:
    """Pure-graph stand-in for a chain node during DOT extraction."""

    __slots__ = ("label", "parents")

    def __init__(self, label, parents):
        self.label = label
        self.parents = parents


class _GraphEnv:
    """Implements the parser's env surface (chain/prop/_materialize/vars)
    but builds a DAG instead of executing — so ``task_dot`` renders a
    script's graph without needing sources, Spark, or service configs."""

    @staticmethod
    def _valid_chain() -> set:
        """Every chain-node name the EXECUTING env can dispatch. Derived
        from _Env itself so define-time validation (the task-store API
        validates scripts without sources or Spark, like the reference's
        define path) can never drift from execution."""
        return _Env.AGGS | _Env.BUILDERS | _Env.CHAIN

    def __init__(self):
        self.vars: dict = {}
        self.order: list = []
        self._sources: dict[str, _GNode] = {}

    def _src_node(self, src: "_Source") -> _GNode:
        # one shared node per source KIND: in the reference every `stream`
        # expression binds the pipeline's single StreamNode (stream0)
        g = self._sources.get(src.kind)
        if g is None:
            g = _GNode(src.kind, [])
            self._sources[src.kind] = g
            self.order.append(g)
        return g

    def chain(self, node, name, args):
        if not name.startswith("@") and name not in self._valid_chain():
            raise TickError(f"unsupported node |{name}()")
        parents = []
        if isinstance(node, _Source):
            parents.append(self._src_node(node))
        elif isinstance(node, _GNode):
            parents.append(node)
        for a in args:
            if isinstance(a, _GNode):
                parents.append(a)
            elif isinstance(a, _Source):
                parents.append(self._src_node(a))
        g = _GNode(name.lstrip("@"), parents)
        self.order.append(g)
        return g

    def prop(self, node, name, args):
        return node  # properties don't create DOT vertices

    def _materialize(self, node):
        return node


def task_dot(script: str, name: str = "task") -> str:
    """Render a TICKscript's node graph as graphviz DOT — the reference's
    ``kapacitor show`` output (/root/reference/task.go:84 Task.Dot →
    pipeline/pipeline.go:203 Pipeline.Dot; node names are ``<desc><id>``
    per pipeline/node.go:126). Pure parse: no sources, no Spark session,
    no service configs are needed."""
    env = _GraphEnv()
    toks, src = _tokenize(script)
    _P(toks, src, env).run()
    names: dict[int, str] = {}
    for i, g in enumerate(env.order):
        names[id(g)] = f"{g.label}{i}"
    lines = [f"digraph {name} {{"]
    for g in env.order:
        for p in g.parents:
            lines.append(f"{names[id(p)]} -> {names[id(g)]};")
    lines.append("}")
    return "\n".join(lines)


_DUR_RE = re.compile(r"^-?\d+(\.\d+)?(ns|us|µs|ms|s|m|h|d|w)$")


def _coerce_template_vars(overrides: dict) -> dict:
    """Python values → parser value types: '10s' → duration,
    'lambda: ...' → lambda (with an empty var scope), '/re/' → regex."""
    out = {}
    for k, v in overrides.items():
        if isinstance(v, str):
            if _DUR_RE.match(v):
                v = _Duration(v)
            elif v.startswith("lambda:"):
                # scope is bound when the var assignment executes
                v = _Lambda(v[len("lambda:"):].strip(), {})
            # plain strings stay strings — '/x/' could be a real path;
            # pass a compiled re.Pattern for a regex override
        elif isinstance(v, re.Pattern):
            v = _Regex(v.pattern)
        out[k] = v
    return out


def template_vars(script: str) -> dict[str, dict]:
    """Declared template vars with defaults and reference type names —
    the reference's Template.Vars (client.Vars: int/float/bool/string/
    duration/lambda/regex; /root/reference/template.go + pipeline.go:23
    CreateTemplatePipeline). Pure parse: no sources or Spark needed."""
    env = _GraphEnv()
    toks, src = _tokenize(script)
    _P(toks, src, env).run()
    out = {}
    for name, v in env.vars.items():
        if isinstance(v, _Duration):
            out[name] = {"value": v.text, "type": "duration"}
        elif isinstance(v, _Lambda):
            out[name] = {"value": v.src, "type": "lambda"}
        elif isinstance(v, _Regex):
            out[name] = {"value": v.pat, "type": "regex"}
        elif isinstance(v, bool):
            out[name] = {"value": v, "type": "bool"}
        elif isinstance(v, int):
            out[name] = {"value": v, "type": "int"}
        elif isinstance(v, float):
            out[name] = {"value": v, "type": "float"}
        elif isinstance(v, str):
            out[name] = {"value": v, "type": "string"}
        # node/chain vars (var x = stream|from()...) are pipeline wiring,
        # not template vars — the reference's vars JSON lists only typed
        # values, and this keeps the listing JSON-serializable
    return out

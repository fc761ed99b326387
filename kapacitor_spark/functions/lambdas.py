"""TICK lambda-expression → Spark Column compiler.

The reference evaluates lambdas per point with a compiled AST walker
(/root/reference/tick/stateful/expr.go, eval_binary_node.go; syntax
/root/reference/tick/ast/node.go). Here the same grammar compiles ONCE into
a Spark ``Column`` tree — Catalyst codegen then vectorizes it, replacing the
reference's per-point interpreter loop.

Grammar (tick/ast operator precedence):

    expr    := or
    or      := and (OR and)*
    and     := cmp (AND cmp)*
    cmp     := add ((> >= < <= == !=) add | (=~ !~) regex)*
    add     := mul ((+ -) mul)*
    mul     := unary ((* / %) unary)*
    unary   := (! -) unary | primary
    primary := NUMBER | DURATION | STRING | "field_ref" | TRUE | FALSE
             | ident(args...) | ident | ( expr )

Literals: numbers; single-quoted strings; double-quoted field/tag refs;
/regex/; durations (1s, 10m, …) → nanoseconds int64 (matching unixNano
scale, functions.go:224). ``lambda:`` prefix is optional.

Stateful functions sigma/count/spread (functions.go:1131-1213) need an
event-time ordering — pass ``ordered_window`` (Pipeline does this
automatically) and they compile to running-window aggregates.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, Window
from pyspark.sql import functions as F

from kapacitor_spark.durations import parse_duration
from kapacitor_spark.functions import FUNCTIONS

__all__ = ["compile_lambda", "compile_lambda_pandas", "is_lambda", "is_stateful"]

_TOKEN_RE = re.compile(
    r"""\s*(?:
      (?P<dur>\d+(?:\.\d+)?(?:ns|us|µs|ms|s|m|h|d|w))(?![\w.])
    | (?P<num>\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
    | (?P<str>'(?:[^'\\]|\\.)*')
    | (?P<ref>"(?:[^"\\]|\\.)*")
    | (?P<regex>/(?:[^/\\]|\\.)+/)
    | (?P<op><=|>=|==|!=|=~|!~|[-+*/%!<>(),])
    | (?P<ident>[A-Za-z_][A-Za-z0-9_]*)
    )""",
    re.VERBOSE,
)


def is_lambda(s: str) -> bool:
    return isinstance(s, str) and s.lstrip().startswith("lambda:")


_STATEFUL_CALL = re.compile(r"\b(?:sigma|count|spread)\s*\(")


def is_stateful(src: str) -> bool:
    """Whether a lambda calls a stateful function (sigma/count/spread),
    which compiles to a running window over the event order."""
    return bool(_STATEFUL_CALL.search(src))


def _tokenize(src: str) -> list[tuple[str, str]]:
    out, pos = [], 0
    while pos < len(src):
        m = _TOKEN_RE.match(src, pos)
        if not m:
            if src[pos:].strip() == "":
                break
            raise ValueError(f"lambda: cannot tokenize at {src[pos:pos+20]!r}")
        pos = m.end()
        for kind in ("dur", "num", "str", "ref", "regex", "op", "ident"):
            v = m.group(kind)
            if v is not None:
                out.append((kind, v))
                break
    out.append(("eof", ""))
    return out


# string-returning registry functions: their results participate in the
# reference's `+`-as-concatenation rule (tick/ast string concat via '+')
_STR_RETURNING = {
    "string", "strToUpper", "strToLower", "strTrim", "strTrimLeft",
    "strTrimRight", "strTrimPrefix", "strTrimSuffix", "strTrimSpace",
    "strReplace", "strSubstring", "regexReplace", "humanBytes",
}


class _Parser:
    def __init__(
        self,
        tokens,
        ordered_window: Window | None,
        time_col: str,
        schema: dict | None = None,
        variables: dict | None = None,
    ):
        self.toks = tokens
        self.i = 0
        self.w = ordered_window
        self.time_col = time_col
        self.schema = schema or {}
        # TICKscript var scope: bare identifiers resolve here FIRST
        # (reference lambdas close over script vars — tick/eval.go;
        # golden TestStream_VarWhereRegex/String)
        self.vars = variables or {}
        # ids of sub-expression Columns known to be strings — drives the
        # reference's '+'-is-concat rule for string operands
        self._strs: set[int] = set()

    def _mark_str(self, c: Column) -> Column:
        self._strs.add(id(c))
        return c

    def _is_str(self, c: Column) -> bool:
        return id(c) in self._strs

    def peek(self):
        return self.toks[self.i]

    def next(self):
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect_op(self, op):
        k, v = self.next()
        if k != "op" or v != op:
            raise ValueError(f"lambda: expected {op!r}, got {v!r}")

    # --- precedence climb ------------------------------------------------
    def parse(self) -> Column:
        c = self.or_()
        k, v = self.peek()
        if k != "eof":
            raise ValueError(f"lambda: trailing input at {v!r}")
        return c

    def or_(self) -> Column:
        c = self.and_()
        while self.peek() == ("ident", "OR"):
            self.next()
            c = c | self.and_()
        return c

    def and_(self) -> Column:
        c = self.cmp()
        while self.peek() == ("ident", "AND"):
            self.next()
            c = c & self.cmp()
        return c

    def cmp(self) -> Column:
        c = self.add()
        while True:
            k, v = self.peek()
            if k == "op" and v in (">", ">=", "<", "<=", "==", "!="):
                self.next()
                r = self.add()
                c = {
                    ">": c.__gt__, ">=": c.__ge__, "<": c.__lt__,
                    "<=": c.__le__, "==": c.__eq__, "!=": c.__ne__,
                }[v](r)
            elif k == "op" and v in ("=~", "!~"):
                self.next()
                rk, rv = self.next()
                if rk == "regex":
                    pat = rv[1:-1]
                elif rk == "str":
                    pat = rv[1:-1]
                elif rk == "ident" and rv in self.vars:
                    # regex held in a script var (TestStream_VarWhereRegex)
                    val = self.vars[rv]
                    pat = getattr(val, "pat", val)
                    if not isinstance(pat, str):
                        raise ValueError(f"lambda: var {rv!r} is not a regex/string")
                else:
                    raise ValueError(f"lambda: {v} needs a /regex/, got {rv!r}")
                m = c.rlike(pat)
                c = m if v == "=~" else ~m
            else:
                return c

    def add(self) -> Column:
        c = self.mul()
        while True:
            k, v = self.peek()
            if k == "op" and v in ("+", "-"):
                self.next()
                r = self.mul()
                if v == "+" and (self._is_str(c) or self._is_str(r)):
                    # reference: '+' concatenates strings (tick/ast binary
                    # ops; used as "str" + 'suffix' in eval lambdas)
                    c = self._mark_str(F.concat(c, r))
                else:
                    c = (c + r) if v == "+" else (c - r)
            else:
                return c

    def mul(self) -> Column:
        c = self.unary()
        while True:
            k, v = self.peek()
            if k == "op" and v in ("*", "/", "%"):
                self.next()
                r = self.unary()
                if v == "*":
                    c = c * r
                else:
                    # division/modulo by zero is an EVAL ERROR in the
                    # reference (point dropped, integrations
                    # TestStream_EvalDivisionByZero expects no output);
                    # try_* yields NULL instead of the ANSI exception so
                    # eval(drop_errors=True) can drop the point. (Float /0
                    # is +Inf in Go — documented divergence: NULL here.)
                    c = F.try_divide(c, r) if v == "/" else F.try_mod(c, r)
            else:
                return c

    def unary(self) -> Column:
        k, v = self.peek()
        if k == "op" and v == "!":
            self.next()
            return ~self.unary()
        if k == "op" and v == "-":
            self.next()
            return -self.unary()
        return self.primary()

    def primary(self) -> Column:
        k, v = self.next()
        if k == "num":
            return F.lit(float(v) if ("." in v or "e" in v or "E" in v) else int(v))
        if k == "dur":
            # durations compare against unixNano deltas → int64 nanoseconds
            return F.lit(int(parse_duration(v) * 1_000_000_000))
        if k == "str":
            return self._mark_str(F.lit(v[1:-1].replace("\\'", "'")))
        if k == "ref":
            name = v[1:-1]
            # the lambda scope always exposes "time" = the point time
            # (tick/stateful scope; reference lambdas write hour("time"))
            # even when the pipeline's event-time column has another name
            if name == "time" and name not in self.schema:
                name = self.time_col
            # backtick-quote: join-prefixed refs like "errors.value" are
            # flat column names, not struct field access
            c = F.col(f"`{name}`")
            return self._mark_str(c) if self.schema.get(name) == "string" else c
        if k == "op" and v == "(":
            c = self.or_()
            self.expect_op(")")
            return c
        if k == "ident":
            if v == "TRUE":
                return F.lit(True)
            if v == "FALSE":
                return F.lit(False)
            if self.peek() == ("op", "("):
                return self.call(v)
            if v in self.vars:
                lit = self._var_lit(self.vars[v])
                if lit is not None:
                    return lit
            # bare identifier = column ref (convenience beyond the reference)
            c = F.col(v)
            return self._mark_str(c) if self.schema.get(v) == "string" else c
        raise ValueError(f"lambda: unexpected token {v!r}")

    def _var_lit(self, val) -> Column | None:
        """A script var as a literal: strings stay string-marked (concat
        rule), durations become int64 NANOSECONDS (the lambda language's
        duration representation, matching unixNano comparisons). Non-scalar
        vars (pipelines/nodes) return None → column-ref fallback."""
        if hasattr(val, "seconds"):  # tick._Duration
            return F.lit(int(round(val.seconds * 1e9)))
        if isinstance(val, str):
            return self._mark_str(F.lit(val))
        if isinstance(val, (bool, int, float)):
            return F.lit(val)
        return None

    def call(self, name: str) -> Column:
        self.expect_op("(")
        args: list[Column] = []
        if self.peek() != ("op", ")"):
            args.append(self.or_())
            while self.peek() == ("op", ","):
                self.next()
                args.append(self.or_())
        self.expect_op(")")

        if name in ("sigma", "count", "spread"):
            return self.stateful(name, args)
        if name == "now":
            return F.current_timestamp()
        fn = FUNCTIONS.get(name)
        if fn is None:
            raise ValueError(f"lambda: unknown function {name!r}")
        out = fn(*args)
        return self._mark_str(out) if name in _STR_RETURNING else out

    def stateful(self, name: str, args: list[Column]) -> Column:
        """Running-state functions over the pipeline's event order
        (/root/reference/tick/stateful/functions.go:1131-1213)."""
        if self.w is None:
            raise ValueError(
                f"lambda: stateful {name}() needs event ordering — call via "
                f"Pipeline.eval/where (or pass ordered_window)"
            )
        run = self.w.rowsBetween(Window.unboundedPreceding, 0)
        if name == "count":
            return F.count(F.lit(1)).over(run).cast("double")
        x = args[0]
        if name == "spread":
            return F.max(x).over(run) - F.min(x).over(run)
        # sigma: |x - running_mean| / running_stddev_samp, both including x;
        # 0 while n<2 or variance==0 (functions.go:1146-1163)
        mean = F.avg(x).over(run)
        sd = F.stddev_samp(x).over(run)
        n = F.count(x).over(run)
        return (
            F.when((n < 2) | sd.isNull() | (sd == 0), F.lit(0.0))
            .otherwise(F.abs(x - mean) / sd)
        )


class _NumpyParser:
    """The same grammar compiled to a pandas/numpy evaluator instead of a
    Column — ``parse()`` returns ``f(pdf: pd.DataFrame) -> ndarray|scalar``.

    Exists for the ONE place Catalyst cannot reach: level lambdas inside
    the fused streaming window+alert operator (streaming.window_alert_stream),
    where the windowed-aggregate rows are materialized inside a keyed
    ``applyInPandasWithState`` function and never exist as a DataFrame
    (Spark disallows a second stateful operator after an aggregation).
    The reference evaluates the identical grammar per point in-process
    (/root/reference/tick/stateful/expr.go) — this is that interpreter,
    vectorized over the emitted window rows of one key and micro-batch.

    Divergence mirror: ``/`` and ``%`` by zero yield NaN (Catalyst
    try_divide/try_mod yield NULL); NaN comparisons are False either way.
    Stateful sigma/count/spread and the regex/string registry raise — use
    the batch replay for those shapes.
    """

    def __init__(self, tokens, time_col: str, variables: dict | None = None):
        self.toks = tokens
        self.i = 0
        self.time_col = time_col
        self.vars = variables or {}

    peek = _Parser.peek
    next = _Parser.next
    expect_op = _Parser.expect_op

    def parse(self):
        f = self.or_()
        k, v = self.peek()
        if k != "eof":
            raise ValueError(f"lambda: trailing input at {v!r}")
        return f

    def or_(self):
        f = self.and_()
        while self.peek() == ("ident", "OR"):
            self.next()
            g = self.and_()
            f = (lambda a, b: lambda p: np.logical_or(a(p), b(p)))(f, g)
        return f

    def and_(self):
        f = self.cmp()
        while self.peek() == ("ident", "AND"):
            self.next()
            g = self.cmp()
            f = (lambda a, b: lambda p: np.logical_and(a(p), b(p)))(f, g)
        return f

    _CMP = {
        ">": np.greater, ">=": np.greater_equal, "<": np.less,
        "<=": np.less_equal, "==": lambda a, b: a == b,
        "!=": lambda a, b: a != b,
    }

    def cmp(self):
        f = self.add()
        while True:
            k, v = self.peek()
            if k == "op" and v in self._CMP:
                self.next()
                g = self.add()
                op = self._CMP[v]
                f = (lambda a, b, o: lambda p: o(a(p), b(p)))(f, g, op)
            elif k == "op" and v in ("=~", "!~"):
                self.next()
                rk, rv = self.next()
                if rk in ("regex", "str"):
                    pat = rv[1:-1]
                elif rk == "ident" and rv in self.vars:
                    val = self.vars[rv]
                    pat = getattr(val, "pat", val)
                else:
                    raise ValueError(f"lambda: {v} needs a /regex/, got {rv!r}")
                rx = re.compile(pat)
                neg = v == "!~"

                def mk(a, rx, neg):
                    def run(p):
                        x = a(p)
                        arr = np.asarray(x, dtype=object).ravel()
                        m = np.fromiter(
                            (bool(rx.search(str(s))) if s is not None else False
                             for s in arr),
                            dtype=bool, count=len(arr),
                        )
                        return ~m if neg else m
                    return run

                f = mk(f, rx, neg)
            else:
                return f

    @staticmethod
    def _num_bin(a, b, op):
        def run(p):
            x, y = a(p), b(p)
            with np.errstate(divide="ignore", invalid="ignore"):
                return op(x, y)
        return run

    def add(self):
        f = self.mul()
        while True:
            k, v = self.peek()
            if k == "op" and v in ("+", "-"):
                self.next()
                g = self.mul()
                if v == "+":
                    def mk(a, b):
                        def run(p):
                            x, y = a(p), b(p)
                            if _np_is_str(x) or _np_is_str(y):
                                return np.char.add(
                                    np.asarray(x, dtype=str),
                                    np.asarray(y, dtype=str),
                                )
                            return x + y
                        return run
                    f = mk(f, g)
                else:
                    f = self._num_bin(f, g, np.subtract)
            else:
                return f

    def mul(self):
        f = self.unary()
        while True:
            k, v = self.peek()
            if k == "op" and v in ("*", "/", "%"):
                self.next()
                g = self.unary()
                if v == "*":
                    f = self._num_bin(f, g, np.multiply)
                else:
                    # mirror try_divide/try_mod: NULL (NaN) on zero divisor
                    op = np.divide if v == "/" else np.mod

                    def mk(a, b, op):
                        def run(p):
                            x = np.asarray(a(p), dtype=float)
                            y = np.asarray(b(p), dtype=float)
                            with np.errstate(divide="ignore", invalid="ignore"):
                                out = op(x, y)
                            return np.where(y == 0, np.nan, out)
                        return run

                    f = mk(f, g, op)
            else:
                return f

    def unary(self):
        k, v = self.peek()
        if k == "op" and v == "!":
            self.next()
            f = self.unary()
            return lambda p, a=f: np.logical_not(a(p))
        if k == "op" and v == "-":
            self.next()
            f = self.unary()
            return lambda p, a=f: np.negative(a(p))
        return self.primary()

    def primary(self):
        k, v = self.next()
        if k == "num":
            lit = float(v) if ("." in v or "e" in v or "E" in v) else int(v)
            return lambda p, x=lit: x
        if k == "dur":
            ns = int(parse_duration(v) * 1_000_000_000)
            return lambda p, x=ns: x
        if k == "str":
            s = v[1:-1].replace("\\'", "'")
            return lambda p, x=s: x
        if k == "ref":
            name = v[1:-1]
            return self._col(name)
        if k == "op" and v == "(":
            f = self.or_()
            self.expect_op(")")
            return f
        if k == "ident":
            if v == "TRUE":
                return lambda p: True
            if v == "FALSE":
                return lambda p: False
            if self.peek() == ("op", "("):
                return self.call(v)
            if v in self.vars:
                val = self.vars[v]
                if hasattr(val, "seconds"):
                    ns = int(round(val.seconds * 1e9))
                    return lambda p, x=ns: x
                if isinstance(val, (bool, int, float, str)):
                    return lambda p, x=val: x
            return self._col(v)
        raise ValueError(f"lambda: unexpected token {v!r}")

    def _col(self, name: str):
        if name == "time":
            name = self.time_col
        tcol = self.time_col

        def run(p, name=name):
            if name not in p.columns:
                raise ValueError(f"lambda: unknown field {name!r}")
            s = p[name]
            if name == tcol and str(s.dtype).startswith("datetime"):
                return s.to_numpy()
            return s.to_numpy()
        return run

    _NP_FNS = {
        "abs": np.abs, "ceil": np.ceil, "floor": np.floor,
        "sqrt": np.sqrt, "cbrt": np.cbrt, "exp": np.exp, "exp2": np.exp2,
        "expm1": np.expm1, "log": np.log, "log2": np.log2,
        "log10": np.log10, "log1p": np.log1p, "sin": np.sin,
        "cos": np.cos, "tan": np.tan, "asin": np.arcsin,
        "acos": np.arccos, "atan": np.arctan, "sinh": np.sinh,
        "cosh": np.cosh, "tanh": np.tanh, "asinh": np.arcsinh,
        "acosh": np.arccosh, "atanh": np.arctanh, "trunc": np.trunc,
    }
    _NP_FNS2 = {
        "pow": np.power, "atan2": np.arctan2, "hypot": np.hypot,
        "mod": np.mod, "min": np.minimum, "max": np.maximum,
    }

    def call(self, name: str):
        self.expect_op("(")
        args = []
        if self.peek() != ("op", ")"):
            args.append(self.or_())
            while self.peek() == ("op", ","):
                self.next()
                args.append(self.or_())
        self.expect_op(")")
        if name in self._NP_FNS and len(args) == 1:
            fn, a = self._NP_FNS[name], args[0]
            def run(p, fn=fn, a=a):
                with np.errstate(invalid="ignore", divide="ignore"):
                    return fn(np.asarray(a(p), dtype=float))
            return run
        if name in self._NP_FNS2 and len(args) == 2:
            fn, a, b = self._NP_FNS2[name], args[0], args[1]
            return lambda p, fn=fn, a=a, b=b: fn(a(p), b(p))
        if name == "pow10" and len(args) == 1:
            a = args[0]
            return lambda p, a=a: np.power(10.0, np.asarray(a(p), dtype=float))
        if name == "if" and len(args) == 3:
            c, t, e = args
            return lambda p, c=c, t=t, e=e: np.where(c(p), t(p), e(p))
        if name == "isPresent" and len(args) == 1:
            a = args[0]
            def run(p, a=a):
                x = a(p)
                if np.isscalar(x):
                    return x is not None
                return pd.notna(np.asarray(x, dtype=object))
            return run
        if name == "bool" and len(args) == 1:
            a = args[0]
            return lambda p, a=a: np.asarray(a(p)).astype(bool)
        if name == "int" and len(args) == 1:
            a = args[0]
            return lambda p, a=a: np.asarray(a(p), dtype=float).astype(np.int64)
        if name == "float" and len(args) == 1:
            a = args[0]
            return lambda p, a=a: np.asarray(a(p), dtype=float)
        if name == "string" and len(args) == 1:
            a = args[0]
            return lambda p, a=a: np.asarray(a(p)).astype(str)
        if name == "unixNano" and len(args) == 1:
            a = args[0]
            def run(p, a=a):
                x = np.asarray(a(p))
                if np.issubdtype(x.dtype, np.datetime64):
                    return x.astype("datetime64[ns]").astype(np.int64)
                return x.astype(np.int64)
            return run
        _TS_PARTS = {
            "hour": "hour", "minute": "minute", "day": "day",
            "month": "month", "year": "year", "weekday": "dayofweek",
        }
        if name in _TS_PARTS and len(args) == 1:
            a, attr = args[0], _TS_PARTS[name]
            def run(p, a=a, attr=attr):
                idx = pd.DatetimeIndex(np.asarray(a(p)))
                out = getattr(idx, attr).to_numpy()
                # reference weekday: Sunday=0 (Go time.Weekday);
                # pandas dayofweek: Monday=0
                return (out + 1) % 7 if attr == "dayofweek" else out
            return run
        raise ValueError(
            f"lambda: {name}() is not available in the in-process "
            "(pandas) evaluator used by the fused streaming window+alert "
            "operator — restructure the level lambda or run the batch "
            "replay (run_tickscript)"
        )


def _np_is_str(x) -> bool:
    if isinstance(x, str):
        return True
    a = np.asarray(x)
    return a.dtype.kind in ("U", "S") or (
        a.dtype == object and a.size and isinstance(a.flat[0], str)
    )


def compile_lambda_pandas(
    src: str,
    time_col: str = "time",
    variables: dict | None = None,
):
    """Compile a TICK lambda to ``f(pdf) -> bool ndarray`` for in-process
    evaluation over pandas rows (see _NumpyParser for scope/divergences).
    The result is broadcast to ``len(pdf)`` and NaN/None compare False,
    matching NULL-comparison semantics of the Catalyst compile."""
    body = src.lstrip()
    if body.startswith("lambda:"):
        body = body[len("lambda:"):]
    f = _NumpyParser(_tokenize(body), time_col, variables).parse()

    def run(pdf) -> np.ndarray:
        out = f(pdf)
        if np.isscalar(out) or getattr(out, "ndim", 1) == 0:
            return np.full(len(pdf), bool(out))
        arr = np.asarray(out)
        if arr.dtype != bool:
            arr = pd.notna(arr) & arr.astype(bool)
        return arr

    return run


def compile_lambda(
    src: str,
    ordered_window: Window | None = None,
    time_col: str = "time",
    schema: dict | None = None,
    variables: dict | None = None,
) -> Column:
    """Compile ``lambda: "value" > 10.0 AND sigma("value") > 3`` to a Column.

    ``schema`` (column name → Spark dtype string, e.g. dict(df.dtypes))
    enables the reference's string semantics for ``+`` (concatenation
    when either operand is a string column/literal/function result).
    ``variables``: TICKscript var scope — bare identifiers resolve to
    these values before falling back to column refs."""
    body = src.lstrip()
    if body.startswith("lambda:"):
        body = body[len("lambda:"):]
    return _Parser(
        _tokenize(body), ordered_window, time_col, schema, variables
    ).parse()

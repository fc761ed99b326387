"""Property-based roundtrip tests (hypothesis) — the fuzz layer of the
test strategy (SURVEY §5): the reference pins its wire format with
hand-picked escape cases; here hypothesis generates adversarial tag/field
content (commas, spaces, equals, quotes, backslashes, unicode) and asserts
render → parse is the identity through the REAL Spark path.

The Spark session is reused; each case renders via to_line_protocol (JVM
concat/escape) and parses via parse_lines, so both directions of the
escaping contract are exercised together.
"""

import datetime as dt
import math
import os
import sys

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

# identifier-ish text: printable, no newlines; includes the escape-relevant
# characters , = space "
#
# Backslash is EXCLUDED from measurement/tag content: the line-protocol
# wire format has no backslash escape outside quoted string fields (the
# reference's models parser treats \ before a delimiter as an escape and
# passes it through otherwise), so a bare trailing backslash is
# unrepresentable there — InfluxDB's own documented wart, faithfully
# shared. Quoted STRING FIELD values do escape backslashes and are fuzzed
# with them below.
_ident = st.text(
    alphabet=st.characters(
        codec="utf-8",
        exclude_categories=("Cs", "Cc"),
        include_characters=', ="',
        exclude_characters="\\",
    ),
    min_size=1,
    max_size=12,
).filter(lambda s: s.strip() and "\n" not in s and "\r" not in s)

# a LEADING '#' marks a comment line in the wire format (unescapable —
# same in the reference's parser), so measurements can't start with it
_meas = _ident.filter(lambda s: not s.startswith("#"))

_strfield = st.text(
    alphabet=st.characters(
        codec="utf-8",
        exclude_categories=("Cs", "Cc"),
        include_characters=', ="\\',
    ),
    min_size=1,
    max_size=12,
).filter(lambda s: s.strip() and "\n" not in s and "\r" not in s)

_float = st.floats(
    allow_nan=False, allow_infinity=False, width=64,
    min_value=-1e12, max_value=1e12,
)


@pytest.fixture(scope="module")
def _spark(spark):
    return spark


@given(meas=_meas, tagv=_ident, sval=_strfield, fval=_float, ival=st.integers(-2**60, 2**60))
@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_line_protocol_roundtrip_property(_spark, meas, tagv, sval, fval, ival):
    """render(point) → parse → the same point, for arbitrary measurement /
    tag / string-field content and full-range numeric fields."""
    spark = _spark
    ts = dt.datetime(2024, 1, 1, 12, 30, 45, 123456)
    src = spark.createDataFrame(
        [(ts, tagv, fval, ival, sval)],
        "time timestamp, host string, value double, n long, note string",
    )
    from kapacitor_spark.sources.line_protocol import parse_lines, to_line_protocol

    lines = to_line_protocol(
        src, meas, tag_cols=["host"], field_cols=["value", "n", "note"],
    )
    parsed = parse_lines(lines, col="line").collect()
    assert len(parsed) == 1
    r = parsed[0]
    assert r["name"] == meas
    assert r["tags"]["host"] == tagv
    assert r["fields_i"]["n"] == ival
    assert r["fields_s"]["note"] == sval
    got_f = r["fields_f"]["value"]
    assert got_f == fval or math.isclose(got_f, fval, rel_tol=1e-15)
    assert r["time"] == ts


# --------------------------------------------------------------------- #
# parse_lines (one SQL parse) == parse_line (the plain-Python oracle),
# line by line, over generated well-formed and malformed lines
# --------------------------------------------------------------------- #

# raw text for names: the wire format's delimiters, both escapes' marks,
# a comment mark, and whitespace the two regex engines could read apart
_lp_text = st.text(
    alphabet=st.one_of(
        st.sampled_from(list('ab,= "\\#\t\r\n\u2028')),
        st.characters(codec="utf-8", exclude_categories=("Cs", "Cc")),
    ),
    min_size=1,
    max_size=6,
)
# a small key pool makes repeated keys common
_lp_key = st.one_of(st.sampled_from(["host", "v", "a b", "k=v", "x,y"]), _lp_text)


def _lp_escape(s, chars):
    for c in chars:
        s = s.replace(c, "\\" + c)
    return s


_lp_value = st.one_of(
    st.floats(allow_nan=False, allow_infinity=False).map(repr),
    st.sampled_from([".5", "1.", "-0", "1e3", "2.5E-3", "7"]),
    st.integers(-(2**63), 2**63 - 1).map(lambda n: f"{n}i"),
    st.integers(0, 2**63 - 1).map(lambda n: f"{n}u"),
    st.sampled_from(["t", "T", "true", "True", "TRUE", "f", "F", "false", "False", "FALSE"]),
    _lp_text.map(lambda s: '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'),
)


@st.composite
def _lp_line(draw):
    meas = _lp_escape(draw(_lp_text), ", ")
    tags = "".join(
        f",{_lp_escape(k, ',= ')}={_lp_escape(v, ', ')}"
        for k, v in draw(st.lists(st.tuples(_lp_key, _lp_text), max_size=3))
    )
    fields = ",".join(
        f"{_lp_escape(k, ',= ')}={v}"
        for k, v in draw(st.lists(st.tuples(_lp_key, _lp_value), min_size=1, max_size=3))
    )
    ts = draw(st.one_of(st.none(), st.integers(-(2**63), 2**63 - 1)))
    line = f"{meas}{tags} {fields}" + ("" if ts is None else f" {ts}")
    mutation = draw(st.sampled_from(
        ["none"] * 6 + ["unterminated", "bad_value", "no_fields", "comment", "blank"]))
    if mutation == "unterminated":
        line = f'{meas}{tags} s="open {ts or 0}'
    elif mutation == "bad_value":
        bad = draw(st.sampled_from(["abc", "1d", "1.2.3", "nan", "0x1", "--1", ""]))
        line = f"{meas}{tags} {fields},bad={bad}"
    elif mutation == "no_fields":
        line = f"{meas}{tags}" + ("" if ts is None else f" {ts}")
    elif mutation == "comment":
        line = "# " + line
    elif mutation == "blank":
        line = draw(st.sampled_from(["", "  ", "\t"]))
    return line


def _lp_point(r, us):
    """A parsed point (parse_line dict or parse_lines Row) as a comparable
    string; ``us`` is its time in epoch microseconds or None."""
    maps = ("tags", "fields_f", "fields_i", "fields_s", "fields_b")
    return repr((r["name"], *(sorted(r[m].items()) for m in maps), us))


def _lp_oracle(line):
    """parse_line's point for ``line``, or None when it is dropped."""
    from kapacitor_spark.sources.line_protocol import parse_line

    try:
        r = parse_line(line)
    except ValueError:
        return None
    if r is None:
        return None
    t = r["time"]
    us = None if t is None else (t - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)
    return _lp_point(r, us)


@given(lines=st.lists(_lp_line(), min_size=1, max_size=12))
@settings(
    max_examples=40,
    derandomize=True,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_parse_lines_matches_parse_line(_spark, lines):
    """parse_lines over a DataFrame yields exactly the points parse_line
    yields line by line, malformed lines dropped on both: escapes in the
    measurement and keys, quoted strings with spaces/commas/'='/\\"/\\\\,
    all four field types, optional timestamps over the whole int64
    range, repeated keys, and malformed mutations."""
    from kapacitor_spark.sources.line_protocol import parse_lines

    df = _spark.createDataFrame([(l,) for l in lines], "value string")
    got = sorted(
        _lp_point(r, r["us"])
        for r in parse_lines(df).selectExpr("*", "unix_micros(time) AS us").collect()
    )
    want = sorted(p for p in map(_lp_oracle, lines) if p is not None)
    assert got == want, lines


@given(
    secs=st.integers(min_value=0, max_value=10**9),
    unit=st.sampled_from(["ns", "us", "ms", "s", "m", "h", "d", "w"]),
)
@settings(max_examples=50, deadline=None)
def test_duration_parse_scale_property(secs, unit):
    """parse_duration is linear in its numeric part for every unit."""
    from kapacitor_spark.durations import parse_duration

    one = parse_duration(f"1{unit}")
    many = parse_duration(f"{secs}{unit}")
    assert math.isclose(many, secs * one, rel_tol=1e-12, abs_tol=1e-15)


# --------------------------------------------------------------------- #
# lambda-language fuzz: random expression trees evaluated through the
# Catalyst compiler AND a direct Python reference must agree
# --------------------------------------------------------------------- #

_num = st.floats(min_value=-100, max_value=100, allow_nan=False, width=32).map(
    lambda x: round(x, 3)
)


def _arith(depth):
    leaf = st.one_of(
        st.just(('"a"', lambda r: r["a"])),
        st.just(('"b"', lambda r: r["b"])),
        _num.map(lambda v: (repr(float(v)), lambda r, v=v: float(v))),
    )
    if depth <= 0:
        return leaf

    def combine(args):
        (ls, lf), op, (rs, rf) = args
        py = {
            "+": lambda r: lf(r) + rf(r),
            "-": lambda r: lf(r) - rf(r),
            "*": lambda r: lf(r) * rf(r),
        }[op]
        return (f"({ls} {op} {rs})", py)

    inner = _arith(depth - 1)
    return st.one_of(
        leaf,
        st.tuples(inner, st.sampled_from("+-*"), inner).map(combine),
    )


def _boolean(depth):
    def cmp_(args):
        (ls, lf), op, (rs, rf) = args
        py = {
            ">": lambda r: lf(r) > rf(r),
            "<": lambda r: lf(r) < rf(r),
            ">=": lambda r: lf(r) >= rf(r),
            "<=": lambda r: lf(r) <= rf(r),
        }[op]
        return (f"{ls} {op} {rs}", py)

    base = st.tuples(
        _arith(depth), st.sampled_from([">", "<", ">=", "<="]), _arith(depth)
    ).map(cmp_)
    if depth <= 0:
        return base

    def logic(args):
        (ls, lf), op, (rs, rf) = args
        py = (
            (lambda r: lf(r) and rf(r))
            if op == "AND"
            else (lambda r: lf(r) or rf(r))
        )
        return (f"({ls} {op} {rs})", py)

    inner = _boolean(depth - 1)
    return st.one_of(base, st.tuples(inner, st.sampled_from(["AND", "OR"]), inner).map(logic))


@given(expr=_boolean(2), seed=st.integers(0, 2**31))
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_lambda_compiler_matches_python(_spark, expr, seed):
    """compile_lambda(src) over a DataFrame selects exactly the rows the
    equivalent Python predicate selects — arithmetic, comparisons, and
    AND/OR at arbitrary nesting."""
    import random

    from kapacitor_spark.functions.lambdas import compile_lambda

    src, py = expr
    rng = random.Random(seed)
    rows = [
        (i, round(rng.uniform(-50, 50), 3), round(rng.uniform(-50, 50), 3))
        for i in range(25)
    ]
    df = _spark.createDataFrame(rows, "i long, a double, b double")
    got = {
        r["i"]
        for r in df.filter(compile_lambda("lambda: " + src)).collect()
    }
    want = {i for i, a, b in rows if py({"a": a, "b": b})}
    assert got == want, src


# --------------------------------------------------------------------- #
# GIF animation composition (r9): decode_frames vs an independent
# per-pixel compositor over randomized multi-block streams
# --------------------------------------------------------------------- #


def _gif_stream(sw, sh, bg_index, palette, blocks):
    """Hand-mux a GIF89a stream: global table + per-block GCE + image
    descriptor (region placement, no local tables)."""
    import struct as _struct

    from kapacitor_spark.dataprep import gifcodec as _gc

    nbits = max(1, (len(palette) - 1).bit_length())
    pal = bytearray()
    for rgb in palette:
        pal += bytes(rgb)
    pal += b"\x00" * (3 * ((1 << nbits) - len(palette)))
    out = bytearray(b"GIF89a")
    out += _struct.pack("<HH", sw, sh)
    out += bytes([0x80 | (nbits - 1), bg_index, 0]) + pal
    for left, top, fw, fh, indices, disposal, transparent in blocks:
        packed = ((disposal & 7) << 2) | (1 if transparent is not None else 0)
        out += (b"\x21\xf9\x04" + bytes([packed]) + b"\x00\x00"
                + bytes([transparent or 0]) + b"\x00")
        out += b"\x2c" + _struct.pack("<HHHH", left, top, fw, fh) + b"\x00"
        mcs = max(2, nbits)
        out += bytes([mcs])
        lzw = _gc._lzw_encode(bytes(indices), mcs)
        for i in range(0, len(lzw), 255):
            out += bytes([len(lzw[i:i + 255])]) + lzw[i:i + 255]
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.data())
def test_gif_animation_matches_reference_compositor(data):
    """decode_frames must agree pixel-for-pixel with a straight-line
    per-pixel compositor (independent loop-based implementation of the
    GIF89a disposal + transparency rules) on random block sequences."""
    import numpy as np

    from kapacitor_spark.dataprep import gifcodec

    rng_seed = data.draw(st.integers(0, 2**31 - 1))
    rng = np.random.RandomState(rng_seed)
    sw, sh = data.draw(st.integers(2, 8)), data.draw(st.integers(2, 8))
    ncolors = data.draw(st.integers(2, 8))
    palette = [tuple(int(x) for x in rng.randint(0, 256, 3))
               for _ in range(ncolors)]
    bg_index = data.draw(st.integers(0, ncolors - 1))
    blocks = []
    for _ in range(data.draw(st.integers(1, 5))):
        left = data.draw(st.integers(0, sw - 1))
        top = data.draw(st.integers(0, sh - 1))
        fw = data.draw(st.integers(1, sw - left))
        fh = data.draw(st.integers(1, sh - top))
        indices = rng.randint(0, ncolors, fw * fh).astype(np.uint8)
        disposal = data.draw(st.sampled_from([0, 1, 2, 3]))
        transparent = data.draw(
            st.one_of(st.none(), st.integers(0, ncolors - 1)))
        blocks.append((left, top, fw, fh, bytes(indices), disposal, transparent))

    stream = _gif_stream(sw, sh, bg_index, palette, blocks)
    w, h, frames = gifcodec.decode_frames(stream)
    assert (w, h, len(frames)) == (sw, sh, len(blocks))

    # independent compositor: plain python loops, straight from the spec
    bg = palette[bg_index]
    canvas = [[bg for _ in range(sw)] for _ in range(sh)]
    for (left, top, fw, fh, indices, disposal, transparent), got in zip(
            blocks, frames):
        saved = [row[:] for row in canvas]
        for y in range(fh):
            for x in range(fw):
                idx = indices[y * fw + x]
                if transparent is not None and idx == transparent:
                    continue
                canvas[top + y][left + x] = palette[idx]
        flat = bytes(c for row in canvas for px in row for c in px)
        assert got == flat, (rng_seed, "frame mismatch")
        if disposal == 2:
            for y in range(fh):
                for x in range(fw):
                    canvas[top + y][left + x] = bg
        elif disposal == 3:
            for y in range(fh):
                for x in range(fw):
                    canvas[top + y][left + x] = saved[top + y][left + x]

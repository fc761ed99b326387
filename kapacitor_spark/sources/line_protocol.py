"""InfluxDB line-protocol ingest/egress (SURVEY §2.1).

The reference ingests line protocol over HTTP/UDP
(/root/reference/services/httpd/handler.go, services/udp/service.go:145)
and replays recorded ``.srpl`` fixtures (dbname/rpname header pairs + one
point per line, /root/reference/replay.go:17-110). The wire format is the
public InfluxDB line protocol:

    measurement[,tag=val...] field=value[,field2=value2...] [timestamp_ns]

Field value types: float (``1.0``, ``.5``, ``1e3``), integer (``2i``,
``2u``, within int64), string (``"s"``, escaping ``\\"`` and ``\\\\``),
boolean (``t/true/f/false`` and capitalised forms); commas/spaces/equals
in the measurement and keys are backslash-escaped. A line that does not
fit the grammar is dropped; a repeated key keeps its last value.

Spark mapping: ``parse_lines`` parses each line once, in SQL expressions
inside the JVM stage that scans it (no Python worker, no second scan);
``parse_line`` reads the same grammar in plain Python and is its test
oracle. Egress (``to_line_protocol``) is pure JVM concat/regexp (codegen'd).

Parsed schema (the reference's schemaless point, /root/reference/models/
point.go, typed by class):

    name string, tags map<string,string>,
    fields_f map<string,double>, fields_i map<string,long>,
    fields_s map<string,string>, fields_b map<string,boolean>,
    time timestamp

``promote()`` turns that into the wide/typed layout (SURVEY §1.3) for one
measurement: tags + chosen fields as top-level typed columns.
"""

from __future__ import annotations

import re
from datetime import datetime, timedelta
from typing import Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

PARSED_SCHEMA = (
    "name string, tags map<string,string>, "
    "fields_f map<string,double>, fields_i map<string,long>, "
    "fields_s map<string,string>, fields_b map<string,boolean>, "
    "time timestamp"
)

# The line grammar, as pattern strings that Python ``re`` (parse_line) and
# java.util.regex (parse_lines, with the UNIX_LINES flag ``(?d)`` so that
# only ``\n`` ends a line, as in Python) read alike: ``[0-9]``, never
# ``\d``. Runs are unrolled (``c*(?:\\.c*)*``: java.util.regex recurses
# once per iteration of an alternation group and overflows on a long
# string) and possessive (``*+``: safe, as a run is always followed by a
# delimiter it cannot contain).
def _run(stop: str) -> str:
    """One or more characters that are neither a backslash nor in
    ``stop``, or backslash escapes of any character."""
    c = rf"[^\\{stop}]"
    return rf"(?:{c}|\\.){c}*+(?:\\.{c}*+)*+"


def _at_most(n: int) -> str:
    """Digits (leading zeros allowed) of a value <= ``n``: an integer or
    timestamp past int64 fails the grammar instead of a cast."""
    d = str(n)
    alts = [f"[0-9]{{1,{len(d) - 1}}}+"]
    alts += [f"{d[:i]}[0-{int(c) - 1}][0-9]{{{len(d) - i - 1}}}"
             for i, c in enumerate(d) if c != "0"]
    return f"0*(?:{'|'.join(alts + [d])})"


_INT = rf"(?:{_at_most(2**63 - 1)}|-{_at_most(2**63)})"
_KEY = _run(",= ")
_TAG_VALUE = _run(", ")
_STR = r'"[^"\\]*+(?:\\.[^"\\]*+)*+"'
_VALUE = "|".join((
    _STR,
    r"-?(?:[0-9]+(?:\.[0-9]*)?|\.[0-9]+)(?:[eE][+-]?[0-9]+)?",
    rf"{_INT}i|{_at_most(2**63 - 1)}u",
    r"[tTfF]|true|True|TRUE|false|False|FALSE",
))
_FIELD = rf"{_KEY}=(?:{_VALUE})"
# groups: measurement, tag list (",k=v" repeated), field list, timestamp;
# runs of spaces separate the sections (reference fixtures contain
# double-space lines, TestStream_HttpPost_URL_Template.srpl line 5)
_LINE = (
    rf"^((?!#){_run(', ')})((?:,{_KEY}={_TAG_VALUE})*)"
    rf" +({_FIELD}(?:,{_FIELD})*)(?: +({_INT}))?$"
)
# pairs of a list that matched _LINE: key group 1, raw value group 2
_TAG_PAIR = rf",({_KEY})=({_TAG_VALUE})"
_FIELD_PAIR = rf"({_KEY})=({_STR}|[^,]*)"
_KEY_ESCAPE = r"\\([, =])"
_STR_ESCAPE = r'\\([\\"])'



def _unescape(s: str) -> str:
    return re.sub(_KEY_ESCAPE, r"\1", s)


_NS_PER = {"ns": 1, "u": 1_000, "ms": 1_000_000, "s": 1_000_000_000}
_EPOCH = datetime(1970, 1, 1)


def parse_line(line: str, precision_ns: bool = True, precision: str | None = None):
    """Parse one line → dict matching PARSED_SCHEMA, None for blank/
    comment lines; a malformed line raises ValueError. ``precision``
    ('ns'|'u'|'ms'|'s') overrides the legacy precision_ns flag — the
    reference's replay/write paths carry an explicit precision
    (replay.go ReplayStreamFromIO; the integration harness replays .srpl
    at 's'). A repeated key keeps its last value, whatever the field
    types. The oracle of :func:`parse_lines`, which reads the same grammar."""
    # ASCII-only trim: Python's bare strip() also eats unicode whitespace
    # (e.g. U+00A0), which the reference's Go parser treats as measurement
    # content — found by the hypothesis roundtrip fuzz
    line = line.strip(" \t\r\n")
    if not line or line.startswith("#"):
        return None
    m = re.match(_LINE, line)
    if m is None:
        raise ValueError(f"line protocol: malformed line: {line!r}")
    meas, tag_list, field_list, ts = m.groups()
    tags = {_unescape(k): _unescape(v) for k, v in re.findall(_TAG_PAIR, tag_list)}
    ff, fi, fs, fb = {}, {}, {}, {}
    for key, v in {_unescape(k): v for k, v in re.findall(_FIELD_PAIR, field_list)}.items():
        # the type from the first/last character of a value that matched
        # _VALUE; parse_lines' _FIELD_ENTRY is the same rule
        if v[0] == '"':
            fs[key] = re.sub(_STR_ESCAPE, r"\1", v[1:-1])
        elif v[-1] in "iu":
            fi[key] = int(v[:-1])
        elif v[0] in "tTfF":
            fb[key] = v[0] in "tT"
        else:
            ff[key] = float(v)

    if precision is None:
        precision = "ns" if precision_ns else "u"
    return {
        "name": _unescape(meas),
        "tags": tags,
        "fields_f": ff,
        "fields_i": fi,
        "fields_s": fs,
        "fields_b": fb,
        # floored to µs; a datetime, as the lowest int64 ns timestamps
        # floor below pandas' ns range (not Spark's)
        "time": None if ts is None
        else _EPOCH + timedelta(microseconds=int(ts) * _NS_PER[precision] // 1000),
    }


def _sq(s: str) -> str:
    """``s`` as a single-quoted Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _jvm_re(p: str) -> str:
    return _sq("(?d)" + p)


def _pairs(lst: str, pattern: str, entry: str) -> str:
    """SQL: the key/value pairs in ``lst`` as an array of ``entry``, a
    struct over ``k`` (the unescaped key) and ``v`` (the raw value)."""
    p = _jvm_re(pattern)
    return (
        f"zip_with(transform(regexp_extract_all({lst}, {p}, 1), "
        f"x -> regexp_replace(x, {_jvm_re(_KEY_ESCAPE)}, '$1')), "
        f"regexp_extract_all({lst}, {p}, 2), (k, v) -> {entry})"
    )


def _last_wins(pairs: str) -> str:
    """SQL: ``pairs`` without an entry whose key comes again later, so a
    map built from it keeps each key's last value (without the
    session-wide spark.sql.mapKeyDedupPolicy)."""
    return (
        f"filter({pairs}, (e, i) -> "
        f"NOT array_contains(slice({pairs}.k, i + 2, size({pairs})), e.k))"
    )


_TAG_ENTRY = f"named_struct('k', k, 'v', regexp_replace(v, {_jvm_re(_KEY_ESCAPE)}, '$1'))"
# the type from the first/last character of a value that matched
# _VALUE, the same rule as parse_line's
_FIELD_ENTRY = (
    "named_struct('k', k, 't', CASE WHEN left(v, 1) = '\"' THEN 's' "
    "WHEN right(v, 1) IN ('i', 'u') THEN 'i' "
    "WHEN left(v, 1) IN ('t', 'T', 'f', 'F') THEN 'b' ELSE 'f' END, 'v', v)"
)
_FIELD_VALUE = {
    "fields_f": ("f", "CAST(e.v AS DOUBLE)"),
    "fields_i": ("i", "CAST(substring(e.v, 1, length(e.v) - 1) AS BIGINT)"),
    "fields_s": ("s", f"regexp_replace(substring(e.v, 2, length(e.v) - 2), "
                      f"{_jvm_re(_STR_ESCAPE)}, '$1')"),
    "fields_b": ("b", "left(e.v, 1) IN ('t', 'T')"),
}


def parse_lines(df: DataFrame, col: str = "value", precision_ns: bool = True) -> DataFrame:
    """Parse raw line-protocol rows (from ``spark.read.text``/Kafka) into
    typed points.

    One scan and one parse, all in SQL expressions (rlike,
    regexp_extract, regexp_extract_all, higher-order functions), so each
    line is parsed once inside the JVM stage that reads it. The grammar
    is :func:`parse_line`'s: a malformed line is dropped, and a repeated
    tag or field key keeps its last value.
    """
    # floor division like parse_line's // (float division of ns epochs
    # loses µs precision)
    micros = (
        "__ts div 1000 - CASE WHEN __ts % 1000 < 0 THEN 1 ELSE 0 END"
        if precision_ns else "__ts"
    )
    # The only filter reads the raw line: a pushed-down filter copies in
    # every expression it reads. Each step is its own projection, as one
    # that the next step reads twice is not inlined into it.
    line = _jvm_re(_LINE)
    return (
        df.selectExpr(f"trim(BOTH ' \\t\\r\\n' FROM `{col}`) AS __l")
        .where(f"__l rlike {line}")
        .selectExpr(*(f"regexp_extract(__l, {line}, {i}) AS __{n}"
                      for i, n in enumerate("mtfs", 1)))
        .selectExpr(
            f"regexp_replace(__m, {_jvm_re(_KEY_ESCAPE)}, '$1') AS name",
            f"{_pairs('__t', _TAG_PAIR, _TAG_ENTRY)} AS __tags",
            f"{_pairs('__f', _FIELD_PAIR, _FIELD_ENTRY)} AS __fields",
            "CAST(nullif(__s, '') AS BIGINT) AS __ts",
        )
        .selectExpr(
            "name",
            f"map_from_entries({_last_wins('__tags')}) AS tags",
            f"{_last_wins('__fields')} AS __fields",
            f"timestamp_micros({micros}) AS time",
        )
        .selectExpr(
            "name",
            "tags",
            *(f"map_from_entries(transform(filter(__fields, e -> e.t = '{t}'), "
              f"e -> named_struct('k', e.k, 'v', {conv}))) AS {name}"
              for name, (t, conv) in _FIELD_VALUE.items()),
            "time",
        )
    )


def read_srpl(spark: SparkSession, path: str, precision: str = "ns") -> DataFrame:
    """Read a reference-format ``.srpl`` replay fixture: repeating
    [dbname, rpname, point-line] triples (/root/reference/replay.go:49-70;
    fixtures integrations/testdata/*.srpl). Driver-side read — fixtures are
    tiny test inputs, not data-plane files."""
    with open(path) as fh:
        raw = [ln.rstrip("\n") for ln in fh]
    rows = []
    i = 0
    while i + 2 < len(raw) + 1:
        if i + 2 >= len(raw) + 1 or not raw[i].strip():
            break
        db, rp, pt = raw[i], raw[i + 1], raw[i + 2]
        r = parse_line(pt, precision=precision)
        if r is not None:
            r["database"], r["retention_policy"] = db, rp
            rows.append(r)
        i += 3
    pdf = pd.DataFrame(
        rows,
        columns=["name", "tags", "fields_f", "fields_i", "fields_s", "fields_b",
                 "time", "database", "retention_policy"],
    )
    return spark.createDataFrame(
        pdf, PARSED_SCHEMA + ", database string, retention_policy string"
    )


def read_brpl(spark: SparkSession, path: str) -> DataFrame:
    """Read a reference-format ``.brpl`` batch-replay fixture: one JSON
    object per line = one batch {name, tags, points:[{fields, time}]}
    (/root/reference/replay.go batch replay; fixtures
    integrations/testdata/*.brpl). Emits one row per point with its
    0-based ``batch_id`` — the reference's batch-edge grouping key (a
    batch reduces to one point under aggregation, SURVEY §2.5)."""
    import json

    # streaming decode: fixtures are EITHER one JSON object per line OR
    # pretty-printed multi-line objects back to back — raw_decode walks both
    dec = json.JSONDecoder()
    text = open(path).read()
    batches = []
    i = 0
    while True:
        while i < len(text) and text[i] in " \t\r\n":
            i += 1
        if i >= len(text):
            break
        obj, end = dec.raw_decode(text, i)
        batches.append(obj)
        i = end

    rows = []
    for bid, b in enumerate(batches):
        for p in b["points"]:
            ts = pd.Timestamp(p["time"])
            if ts.tzinfo is not None:
                ts = ts.tz_convert("UTC").tz_localize(None)
            flds = p.get("fields", {})
            rows.append(
                {
                    "batch_id": bid,
                    "name": b.get("name"),
                    "tags": b.get("tags") or {},
                    "fields_f": {
                        k: float(v) for k, v in flds.items()
                        if isinstance(v, (int, float)) and not isinstance(v, bool)
                    },
                    "fields_s": {
                        k: v for k, v in flds.items() if isinstance(v, str)
                    },
                    "fields_b": {
                        k: v for k, v in flds.items() if isinstance(v, bool)
                    },
                    "time": ts,
                }
            )
    pdf = pd.DataFrame(
        rows,
        columns=["batch_id", "name", "tags", "fields_f", "fields_s", "fields_b", "time"],
    )
    return spark.createDataFrame(
        pdf,
        "batch_id long, name string, tags map<string,string>, "
        "fields_f map<string,double>, fields_s map<string,string>, "
        "fields_b map<string,boolean>, time timestamp",
    )


def replay_brpl(
    spark: SparkSession, path: str, zero: str = "1971-01-01 00:00:00"
) -> DataFrame:
    """Replay a .brpl fixture with the reference harness's clock shift
    (first point lands on 1971-01-01; see replay_srpl)."""
    df = read_brpl(spark, path)
    first = df.agg(F.min("time")).first()[0]
    shift = int(pd.Timestamp(zero).value // 1000) - int(pd.Timestamp(first).value // 1000)
    return df.withColumn(
        "time", F.timestamp_micros(F.unix_micros(F.col("time")) + F.lit(shift))
    )


def replay_srpl(
    spark: SparkSession,
    path: str,
    precision: str = "s",
    zero: str = "1971-01-01 00:00:00",
) -> DataFrame:
    """Replay an .srpl fixture exactly like the reference's test harness
    (/root/reference/integrations/streamer_test.go: ReplayStreamFromIO
    with precision 's', deterministic clock starting 1971-01-01,
    recTime=false — replay.go:49-70 shifts every timestamp so the FIRST
    point lands on clock zero). Event-time Spark needs no clock: the
    shift is a column expression."""
    df = read_srpl(spark, path, precision=precision)
    first = df.agg(F.min("time")).first()[0]  # tiny driver agg
    first_us = int(pd.Timestamp(first).value // 1000)
    zero_us = int(pd.Timestamp(zero).value // 1000)
    shift = zero_us - first_us
    return df.withColumn(
        "time", F.timestamp_micros(F.unix_micros(F.col("time")) + F.lit(shift))
    )


def promote(
    parsed: DataFrame,
    measurement: str,
    float_fields: Sequence[str] = (),
    int_fields: Sequence[str] = (),
    str_fields: Sequence[str] = (),
    bool_fields: Sequence[str] = (),
    tag_cols: Sequence[str] = (),
    keep_name: bool = False,
) -> DataFrame:
    """Schemaless → wide/typed layout (SURVEY §1.3): filter to one
    measurement, lift chosen tags/fields to typed top-level columns.
    ``keep_name=True`` carries the measurement as a ``name`` column —
    the reference's points always know their measurement (group identity
    is models.ToGroupID(name, tags), and alert templates render
    {{ .Name }}); aggregations ride it along automatically."""
    out = parsed.filter(F.col("name") == measurement)
    cols: list[Column] = [F.col("time")]
    if keep_name:
        cols.append(F.lit(measurement).alias("name"))
    for t in tag_cols:
        cols.append(F.col("tags").getItem(t).alias(t))
    for f_, src in (
        *[(x, "fields_f") for x in float_fields],
        *[(x, "fields_i") for x in int_fields],
        *[(x, "fields_s") for x in str_fields],
        *[(x, "fields_b") for x in bool_fields],
    ):
        cols.append(F.col(src).getItem(f_).alias(f_))
    return out.select(*cols)


def to_line_protocol(
    df: DataFrame,
    measurement: str | Column,
    tag_cols: Sequence[str] = (),
    field_cols: Sequence[str] | None = None,
    time_col: str = "time",
    precision: str = "ns",
) -> DataFrame:
    """Render rows as line protocol — the influxDBOut/egress direction
    (/root/reference/influxdb_out.go). Pure JVM expression (concat/
    regexp_replace), codegen'd; returns a single-column ``line`` DataFrame
    writable to text/Kafka. ``precision`` renders the trailing timestamp
    in ns/u/ms/s units (the reference's .precision() option,
    /root/reference/pipeline/influxdb_out.go)."""
    # ONE selectExpr string (r11 optimization round): the Column-API
    # chain cost ~0.2 s of driver py4j/analysis time per build. Literal
    # keys (measurement string, tag/field names) escape in PYTHON at
    # build time — regexp_replace of a literal is a constant — while
    # data-dependent values keep the identical regexp_replace expression.
    def _esc_lit(s: str) -> str:
        return re.sub(r"([,= ])", r"\\\1", s)

    esc_val = (
        lambda e: f"regexp_replace({e}, '([,= ])', '\\\\\\\\$1')"
    )  # SQL sees pattern ([,= ]) and replacement \\$1
    if isinstance(measurement, str):
        mexpr = _sq(_esc_lit(measurement))
        pre = df
    else:
        # arbitrary measurement Column: project it once, escape in SQL
        pre = df.withColumn("__kspark_m", measurement)
        mexpr = esc_val("cast(__kspark_m as string)")
    fields = field_cols or [
        c for c in df.columns if c not in tag_cols and c != time_col
    ]
    parts: list[str] = [mexpr]
    for t in tag_cols:
        parts.append(
            f"CASE WHEN `{t}` IS NOT NULL THEN concat(',', {_sq(_esc_lit(t))}, "
            f"'=', {esc_val(f'cast(`{t}` as string)')}) ELSE '' END"
        )
    field_frags = []
    dtypes = dict(df.dtypes)
    for fld in fields:
        dt = dtypes[fld]
        if dt in ("bigint", "int", "smallint", "tinyint", "long"):
            rendered = f"concat(cast(`{fld}` as string), 'i')"
        elif dt == "boolean":
            rendered = f"CASE WHEN `{fld}` THEN 'true' ELSE 'false' END"
        elif dt == "string":
            # pattern \\ (one literal backslash), replacement \\\\ (two);
            # then " -> \" — identical to the old _escape chain
            rendered = (
                "concat('\"', regexp_replace(regexp_replace("
                f"`{fld}`, '\\\\\\\\', '\\\\\\\\\\\\\\\\'), "
                "'\"', '\\\\\\\\\"'), '\"')"
            )
        else:
            # %.17g-style shortest-roundtrip float rendering: Spark's
            # string cast of DoubleType is already round-trippable
            rendered = f"cast(`{fld}` as string)"
        field_frags.append(
            f"CASE WHEN `{fld}` IS NOT NULL THEN "
            f"concat({_sq(_esc_lit(fld))}, '=', {rendered}) END"
        )
    field_str = "concat_ws(',', " + ", ".join(field_frags) + ")"
    um = f"unix_micros(`{time_col}`)"
    scaled = {
        "ns": f"{um} * 1000",
        "u": um,
        "ms": f"cast({um} / 1000 as bigint)",
        "s": f"cast({um} / 1000000 as bigint)",
    }
    try:
        ts = f"cast({scaled[precision]} as string)"
    except KeyError:
        raise ValueError(f"precision must be one of {sorted(scaled)}, got {precision!r}")
    line = (
        "concat(" + ", ".join(parts) + ", ' ', " + field_str + ", ' ', " + ts + ")"
    )
    return pre.selectExpr(f"{line} AS line")


def _esc_key_py(s: str, what: str) -> str:
    # Only the escapes the PARSER actually reverses survive a round trip
    # (the shared line-protocol wart: no backslash escape exists in the
    # wire format, and '=' in keys does not unsplit) — refuse the rest
    # loudly rather than corrupt identifiers silently.
    if "\\" in s or "=" in s or "\n" in s:
        raise ValueError(
            f"record_srpl: {what} {s!r} contains a character the line "
            "protocol cannot round-trip (backslash / '=' / newline)"
        )
    return s.replace(",", "\\,").replace(" ", "\\ ")


def record_srpl(
    df: DataFrame,
    path: str,
    precision: str = "ns",
    database: str = "dbname",
    retention_policy: str = "rpname",
) -> int:
    """Write a ``.srpl`` recording — the inverse of :func:`read_srpl`
    (same default precision) and the engine-side analog of the
    reference's ``kapacitor record`` (/root/reference/replay.go
    WriteStreamFor* : repeating [db, rp, line-protocol point] triples).
    Accepts a PARSED_SCHEMA DataFrame (what read_srpl/parse_lines
    produce; ``database``/``retention_policy`` columns override the
    defaults when present). Identifiers or values the wire format cannot
    represent round-trip-safely (backslash, '=' in keys, raw newlines)
    raise instead of corrupting the recording; a point needs at least
    one field and a non-null time. Driver-side write, like read_srpl —
    recordings are test fixtures, not data-plane files. Returns the
    number of points written."""
    div = {"ns": 1, "u": 1_000, "ms": 1_000_000, "s": 1_000_000_000}[precision]
    cols = set(df.columns)
    rows = df.orderBy("time").collect()
    n = 0
    with open(path, "w") as fh:
        for r in rows:
            parts = [_esc_key_py(r["name"] or "", "measurement")]
            for k in sorted((r["tags"] or {})):
                parts.append(
                    f",{_esc_key_py(k, 'tag key')}="
                    f"{_esc_key_py(r['tags'][k], 'tag value')}"
                )
            frags = []
            for k in sorted((r["fields_f"] or {})):
                frags.append(f"{_esc_key_py(k, 'field key')}={r['fields_f'][k]!r}")
            for k in sorted((r["fields_i"] or {})):
                frags.append(f"{_esc_key_py(k, 'field key')}={r['fields_i'][k]}i")
            for k in sorted((r["fields_s"] or {})):
                sv = r["fields_s"][k]
                if "\n" in sv or "\\" in sv:
                    raise ValueError(
                        "record_srpl: string field value contains a newline "
                        "or backslash the line format cannot round-trip"
                    )
                frags.append(
                    f'{_esc_key_py(k, "field key")}="{sv.replace(chr(34), chr(92) + chr(34))}"'
                )
            for k in sorted((r["fields_b"] or {})):
                frags.append(
                    f"{_esc_key_py(k, 'field key')}="
                    f"{'true' if r['fields_b'][k] else 'false'}"
                )
            if not frags:
                raise ValueError("record_srpl: point has no fields")
            if r["time"] is None:
                raise ValueError("record_srpl: point has a null time")
            ts_ns = int(pd.Timestamp(r["time"]).value)
            ts = ts_ns // div
            db = r["database"] if "database" in cols else database
            rp = r["retention_policy"] if "retention_policy" in cols else retention_policy
            fh.write(f"{db}\n{rp}\n{parts[0]}{''.join(parts[1:])} "
                     f"{','.join(frags)} {ts:010d}\n")
            n += 1
    return n


def subscribe_stream(
    spark: SparkSession,
    path: str,
    precision_ns: bool = True,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The engine side of an InfluxDB SUBSCRIPTION: a continuous
    line-protocol feed parsed into typed points as a STREAMING DataFrame.

    The reference registers itself with InfluxDB, which then pushes
    writes over UDP/HTTP (services/influxdb subscriptions,
    services/udp/service.go:145); the transport registration is external
    service plumbing, but the data plane — "line protocol keeps
    arriving, points keep flowing" — is exactly a Structured Streaming
    text source + :func:`parse_lines` (one scan per trigger; a malformed
    write is dropped, never stopping the query). Point the subscriber
    (or any collector) at a spool directory and read it here; swap the
    text source for Kafka with the same parse_lines call.

    Returns the parsed stream (name/tags/fields/time columns); feed it
    to any streaming operator or barrier().
    """
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.load(path)
    return parse_lines(raw, col="value", precision_ns=precision_ns)

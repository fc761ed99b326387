"""Line-protocol ingest/egress (SURVEY §2.1) — covers the wire-format corner
cases the reference's parser handles (escaping, typed fields, no-timestamp)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kapacitor_spark.sources.line_protocol import (
    parse_line,
    parse_lines,
    promote,
    to_line_protocol,
)


def test_parse_basic():
    r = parse_line("cpu,host=serverA,type=idle value=97.1 1000000000")
    assert r["name"] == "cpu"
    assert r["tags"] == {"host": "serverA", "type": "idle"}
    assert r["fields_f"] == {"value": 97.1}
    assert r["time"] == pd.Timestamp(1, unit="s")


def test_parse_typed_fields():
    r = parse_line('m f=1.5,i=42i,s="hello",b=true,neg=-7i 0')
    assert r["fields_f"] == {"f": 1.5}
    assert r["fields_i"] == {"i": 42, "neg": -7}
    assert r["fields_s"] == {"s": "hello"}
    assert r["fields_b"] == {"b": True}


def test_parse_escapes():
    r = parse_line(r"my\,meas,ta\ g=va\=l value=1 5")
    assert r["name"] == "my,meas"
    assert r["tags"] == {"ta g": "va=l"}
    r2 = parse_line('m s="say \\"hi\\", ok" 5')
    assert r2["fields_s"] == {"s": 'say "hi", ok'}


def test_parse_no_timestamp_and_comments():
    assert parse_line("# comment") is None
    assert parse_line("   ") is None
    r = parse_line("m value=1")
    assert r["time"] is None and r["fields_f"] == {"value": 1.0}


def test_parse_lines_df(spark):
    lines = [
        "cpu,host=a usage=0.5 1000000000",
        "cpu,host=b usage=0.7,n=3i 2000000000",
        "not a valid line @@@",
        "mem,host=a used=123i 1000000000",
    ]
    df = spark.createDataFrame([(l,) for l in lines], "value string")
    out = parse_lines(df).collect()
    assert len(out) == 3
    cpu = [r for r in out if r.name == "cpu"]
    assert {r.tags["host"] for r in cpu} == {"a", "b"}
    assert cpu[0].fields_f["usage"] == 0.5


def test_promote(spark):
    lines = [
        "cpu,host=a usage=0.5,n=1i 1000000000",
        "cpu,host=b usage=0.7,n=3i 2000000000",
        "mem,host=a used=9i 1000000000",
    ]
    df = parse_lines(spark.createDataFrame([(l,) for l in lines], "value string"))
    wide = promote(df, "cpu", float_fields=["usage"], int_fields=["n"], tag_cols=["host"])
    rows = {r.host: r for r in wide.collect()}
    assert set(rows) == {"a", "b"}
    assert rows["b"].usage == 0.7 and rows["b"].n == 3
    assert wide.columns == ["time", "host", "usage", "n"]


def test_roundtrip(spark):
    rows = [
        ("2024-01-01 00:00:00", "serverA", 10.5, 3, "ok and, well", True),
        ("2024-01-01 00:00:01", "server B", -2.0, -1, 'say "hi"', False),
    ]
    df = (
        spark.createDataFrame(rows, "t string, host string, v double, n long, s string, b boolean")
        .withColumn("t", F.to_timestamp("t"))
    )
    lines = to_line_protocol(df, "meas", tag_cols=["host"], time_col="t")
    parsed = parse_lines(lines, col="line").collect()
    assert len(parsed) == 2
    by_host = {r.tags["host"]: r for r in parsed}
    assert by_host["serverA"].fields_f["v"] == 10.5
    assert by_host["serverA"].fields_i["n"] == 3
    assert by_host["serverA"].fields_b["b"] is True
    assert by_host["server B"].fields_s["s"] == 'say "hi"'
    assert by_host["server B"].time == pd.Timestamp("2024-01-01 00:00:01")


def test_read_srpl(spark, tmp_path):
    p = tmp_path / "fixture.srpl"
    p.write_text(
        "dbname\nrpname\ncpu,type=idle,host=serverA value=97.1 0000000001\n"
        "dbname\nrpname\ncpu,type=idle,host=serverB value=97.1 0000000001\n"
    )
    from kapacitor_spark.sources.line_protocol import read_srpl

    out = read_srpl(spark, str(p)).collect()
    assert len(out) == 2
    assert out[0].database == "dbname"
    assert {r.tags["host"] for r in out} == {"serverA", "serverB"}


def test_record_srpl_roundtrips_reference_fixture(spark, tmp_path):
    """record_srpl is the inverse of read_srpl: re-record a reference
    fixture and read it back identical (points, tags, field types,
    times) — the kapacitor-record side of record/replay."""
    from kapacitor_spark.sources.line_protocol import read_srpl, record_srpl

    src = "/root/reference/integrations/testdata/TestStream_Alert.srpl"
    orig = read_srpl(spark, src, precision="s")
    out = str(tmp_path / "rec.srpl")
    n = record_srpl(orig, out, precision="s")
    back = read_srpl(spark, out, precision="s")
    assert n == orig.count() == back.count()
    a = sorted(orig.collect(), key=lambda r: (r["time"], str(r["tags"])))
    b = sorted(back.collect(), key=lambda r: (r["time"], str(r["tags"])))
    for ra, rb in zip(a, b):
        assert ra["name"] == rb["name"]
        assert (ra["tags"] or {}) == (rb["tags"] or {})
        assert (ra["fields_f"] or {}) == (rb["fields_f"] or {})
        assert (ra["fields_i"] or {}) == (rb["fields_i"] or {})
        assert (ra["fields_s"] or {}) == (rb["fields_s"] or {})
        assert (ra["fields_b"] or {}) == (rb["fields_b"] or {})
        assert ra["time"] == rb["time"]
        assert ra["database"] == rb["database"]


def test_record_srpl_rejects_unroundtrippable(spark, tmp_path):
    """Identifiers/values the wire format cannot round-trip raise instead
    of silently corrupting the recording."""
    import pytest as _pytest

    from kapacitor_spark.sources.line_protocol import (
        PARSED_SCHEMA, record_srpl,
    )

    def df_of(name="m", tags=None, ff=None, fs=None, t="2024-01-01"):
        import datetime as dt

        row = (name, tags or {}, ff if ff is not None else {"v": 1.0},
               {}, fs or {}, {}, dt.datetime(2024, 1, 1))
        return spark.createDataFrame([row], PARSED_SCHEMA)

    p = str(tmp_path / "x.srpl")
    with _pytest.raises(Exception, match="round-trip"):
        record_srpl(df_of(name="a=b"), p)
    with _pytest.raises(Exception, match="round-trip"):
        record_srpl(df_of(tags={"k": "back\\slash"}), p)
    with _pytest.raises(Exception, match="newline|round-trip"):
        record_srpl(df_of(fs={"msg": "a\nb"}), p)
    with _pytest.raises(Exception, match="no fields"):
        record_srpl(df_of(ff={}), p)
    # clean rows (incl. spaces/commas, which DO escape) still work
    n = record_srpl(df_of(name="my metric", tags={"k": "a,b c"}), p)
    assert n == 1


def test_parse_line_follows_reference_grammar():
    """parse_line is the oracle of parse_lines, so it follows the
    reference grammar: a quoted string keeps its runs of spaces, an
    escaped '=' stays inside a tag key, an unterminated quote makes the
    line malformed."""
    assert parse_line('m s="a  b" 5')["fields_s"] == {"s": "a  b"}
    assert parse_line(r"m,h\=k=v f=1i 5")["tags"] == {"h=k": "v"}
    with pytest.raises(ValueError):
        parse_line('m s="unterminated 1')


# (line, parsed fields or None for a dropped line) — one value grammar
# for both parsers: float, i/u integer within int64, boolean, quoted
# string; a repeated tag or field key keeps its last value
_GRAMMAR_CASES = [
    ("m value=.5,w=1. 5", {"fields_f": {"value": 0.5, "w": 1.0}}),
    ("m value=abc 5", None),
    ("m value=1d 5", None),
    ("m v=-5u 5", None),
    ("m v=9223372036854775807i,w=-9223372036854775808i 5",
     {"fields_i": {"v": 2**63 - 1, "w": -(2**63)}}),
    ("m v=9223372036854775808i 5", None),
    ("m v=1 9223372036854775808", None),
    ("m,t=a", None),
    ("cpu,host=a,host=b v=1 1000", {"tags": {"host": "b"}, "fields_f": {"v": 1.0}}),
    ("cpu v=1,v=2 1000", {"fields_f": {"v": 2.0}}),
    ('cpu v=1,v="s" 1000', {"fields_s": {"v": "s"}}),
    ('m s="' + "x" * 100_000 + '" 5', {"fields_s": {"s": "x" * 100_000}}),
]


def test_value_grammar_and_duplicate_keys_on_both_parsers(spark):
    """Every path applies one grammar: a value of no type drops the line
    (the old JVM branch kept 'abc' as a point with no fields and dropped
    '.5'), and a repeated key keeps its last value (the old JVM branch
    failed with DUPLICATED_MAP_KEY). The 100k-character string guards
    the JVM regex stack."""
    cols = ("tags", "fields_f", "fields_i", "fields_s", "fields_b")

    def key(d):
        return repr([sorted(d.get(c, {}).items()) for c in cols])

    df = spark.createDataFrame([(l,) for l, _ in _GRAMMAR_CASES], "value string")
    got = sorted(key({c: dict(r[c]) for c in cols}) for r in parse_lines(df).collect())
    want = []
    for line, fields in _GRAMMAR_CASES:
        if fields is None:
            with pytest.raises(ValueError):
                parse_line(line)
        else:
            assert key(parse_line(line)) == key(fields), line
            want.append(key(fields))
    assert got == sorted(want)

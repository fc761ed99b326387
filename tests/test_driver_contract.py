"""Guards on the driver-facing contracts so registry edits can't silently
break the scoring pipeline: the 50-slot scored window stays fully
oracle-backed, every bench HEADLINE name resolves, and the oracle SQL
strings at least parse in DuckDB (a syntax error here would zero a
CORRECTNESS row at scoring time, far from the edit that caused it)."""

import os
import sys

import threading
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
import bench


def test_scored_window_is_curated_and_oracled():
    qs = list(entry_mod.queries())
    oracles = entry_mod.oracle_sql()
    assert len(entry_mod._SCORED_ORDER) == 50
    assert qs[:50] == entry_mod._SCORED_ORDER
    missing = [n for n in qs[:50] if n not in oracles]
    assert not missing, f"scored window has rows-only queries: {missing}"


def test_scored_window_covers_every_family():
    """Tagged coverage: every SURVEY.md §2 family and every dataprep
    operator group keeps at least one scored slot, and the family map IS
    the scored window (no unclassified strays)."""
    fams = entry_mod._SCORED_FAMILIES
    required = {
        "2.1-sources-tick", "2.2-projections", "2.3-joins", "2.4-windowing",
        "2.5-aggregations", "2.7-lambda", "2.8-streaming", "2.9-udf",
        "2.10-alerting", "dataprep-dedup", "dataprep-text",
        "dataprep-similarity", "dataprep-sketches", "dataprep-retrieval",
        "dataprep-multimodal",
        "dataprep-selection",  # r10: DSIR importance resampling
    }
    assert set(fams) == required
    assert all(len(members) > 0 for members in fams.values())
    flattened = [n for members in fams.values() for n in members]
    assert flattened == entry_mod._SCORED_ORDER


def test_bench_headline_names_resolve():
    qs = entry_mod.queries()
    unknown = [n for n in bench.HEADLINE if n not in qs]
    assert not unknown, unknown


def test_every_oracle_sql_parses_in_duckdb(sf_dir):
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad = []
    for name, sql in entry_mod.oracle_sql().items():
        try:
            con.sql(f"EXPLAIN {sql}")
        except Exception as e:  # noqa: BLE001
            bad.append((name, str(e).splitlines()[0]))
    con.close()
    assert not bad, bad


def test_queries_are_uniquely_named_and_callable():
    qs = entry_mod.queries()
    assert len(qs) == len(set(qs))
    assert all(callable(f) for f in qs.values())


def test_streaming_entry_query_removes_its_checkpoint(spark, sf_dir):
    """A replay query's checkpoint is throwaway: it is gone once the
    query returns, and the memory-sink table still holds the rows."""
    import glob
    import tempfile

    base = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    pattern = os.path.join(base, "kspark_ckpt_*")
    before = set(glob.glob(pattern))
    out = entry_mod.queries()["stream_state_count"](spark, sf_dir)
    assert set(glob.glob(pattern)) == before
    assert out.count() > 0


# ---- schema exactness ------------------------------------------------- #
# The driver's hash is over typed (Arrow) values, so a Spark int32 against
# a DuckDB BIGINT — or a windowed SUM that DuckDB widens to DECIMAL(38,0) —
# hash-diverges even when every value is equal (that was the one red
# CORRECTNESS_r04 row, sequence_packing). Pin EXACT canonical type
# equality between every oracle-backed query's Spark schema and its
# oracle's LIMIT-0 Arrow schema so it can never recur.

def _canon_arrow(t):
    import pyarrow as pa

    if pa.types.is_large_string(t) or pa.types.is_string(t):
        return "string"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{_canon_arrow(t.value_type)}>"
    if pa.types.is_boolean(t):
        return "bool"
    return str(t)  # int64 / int32 / double / float / binary ...


def _canon_spark(dt):
    from pyspark.sql import types as T

    m = {
        T.LongType: "int64", T.IntegerType: "int32", T.ShortType: "int16",
        T.ByteType: "int8", T.DoubleType: "double", T.FloatType: "float",
        T.StringType: "string", T.TimestampType: "timestamp",
        T.TimestampNTZType: "timestamp", T.DateType: "date",
        T.BooleanType: "bool", T.BinaryType: "binary",
    }
    for cls, name in m.items():
        if isinstance(dt, cls):
            return name
    if isinstance(dt, __import__("pyspark.sql.types", fromlist=["DecimalType"]).DecimalType):
        return f"decimal({dt.precision},{dt.scale})"
    from pyspark.sql.types import ArrayType

    if isinstance(dt, ArrayType):
        return f"list<{_canon_spark(dt.elementType)}>"
    return dt.simpleString()


def test_schema_exactness_vs_oracle(spark, sf_dir):
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = entry_mod.oracle_sql()
    bad = []
    lock = threading.Lock()

    def check(item):
        name, fn = item
        if name not in oracles:
            return
        sdf = fn(spark, sf_dir)  # schema only — no action runs (batch)
        got = {f.name: _canon_spark(f.dataType) for f in sdf.schema.fields}
        with lock:  # one shared DuckDB connection; LIMIT 0 probes are ms
            oschema = con.sql(
                f"SELECT * FROM ({oracles[name]}) LIMIT 0"
            ).arrow().schema
        want = {f.name: _canon_arrow(f.type) for f in oschema}
        if got != want:
            diffs = {
                k: (got.get(k), want.get(k))
                for k in set(got) | set(want)
                if got.get(k) != want.get(k)
            }
            bad.append((name, diffs))

    # Same split as tests/test_oracle_all.py: streaming-machinery queries
    # pin session conf for their (blocking) replay, so they run serially;
    # batch builds are driver-side plan analysis that threads overlap
    # fine (guide §2.6).
    items = list(entry_mod.queries().items())
    parallel = [i for i in items if not any(m in i[0] for m in ("stream", "tick_"))]
    serial = [i for i in items if any(m in i[0] for m in ("stream", "tick_"))]
    with ThreadPoolExecutor(max_workers=6) as pool:
        list(pool.map(check, parallel))
    for i in serial:
        check(i)
    con.close()
    assert not bad, f"Spark/oracle schema mismatches (spark, oracle): {bad}"

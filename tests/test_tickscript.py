"""TICKscript front-end tests — script shapes mirror the reference's
integration tests (/root/reference/integrations/streamer_test.go):
TestStream_Window, TestStream_SimpleMR, alerts, joins."""

import os

import pytest
from pyspark.sql import functions as F

from kapacitor_spark.tick import TickError, run_tickscript


@pytest.fixture(scope="module")
def cpu(spark):
    rows = []
    for i in range(10):
        rows.append((i, f"2024-01-01 00:00:{i:02d}", "serverA", "idle", 90.0 + i))
        rows.append((i + 100, f"2024-01-01 00:00:{i:02d}", "serverB", "idle", 50.0 + i))
    df = spark.createDataFrame(rows, "id long, time string, host string, type string, value double")
    return df.withColumn("time", F.to_timestamp("time"))


def test_stream_window_mean(cpu):
    script = """
var period = 4s
stream
    |from()
        .measurement('cpu')
        .where(lambda: "host" == 'serverA')
    |window()
        .period(period)
        .every(period)
    |mean('value')
        .as('mean_value')
    |httpOut('TestStream_Window')
"""
    outs = run_tickscript(script, sources={"cpu": cpu}, time_col="time", tiebreak=("id",))
    rows = sorted(outs["TestStream_Window"].collect(), key=lambda r: r.time)
    # 10 points in 4s tumbling windows: [0-4)=4pts, [4-8)=4, [8-12)=2
    assert len(rows) == 3
    assert rows[0].mean_value == pytest.approx((90 + 91 + 92 + 93) / 4)
    assert rows[2].mean_value == pytest.approx((98 + 99) / 2)


def test_stream_simple_mr_groupby(cpu):
    script = """
stream
    |from()
        .measurement('cpu')
        .groupBy(['host'])
    |window()
        .period(10s)
        .every(10s)
    |count('value')
        .as('n')
    |httpOut('out')
"""
    outs = run_tickscript(script, sources={"cpu": cpu}, time_col="time")
    got = {r.host: r.n for r in outs["out"].collect()}
    assert got == {"serverA": 10, "serverB": 10}


def test_alert_state_changes(cpu):
    script = """
stream
    |from()
        .measurement('cpu')
        .groupBy(['host'])
    |alert()
        .warn(lambda: "value" > 95.0)
        .crit(lambda: "value" > 98.0)
        .stateChangesOnly()
    |httpOut('alerts')
"""
    outs = run_tickscript(script, sources={"cpu": cpu}, time_col="time", tiebreak=("id",))
    rows = outs["alerts"].orderBy("time").collect()
    a = [(r.value, r.level) for r in rows if r.host == "serverA"]
    assert a == [(96.0, "WARNING"), (99.0, "CRITICAL")]
    assert not [r for r in rows if r.host == "serverB"]


def test_eval_and_where_chain(cpu):
    script = """
stream
    |from()
        .measurement('cpu')
    |eval(lambda: "value" * 2.0, lambda: "doubled" + 1.0)
        .as('doubled', 'plus')
        .keep()
    |where(lambda: "plus" > 190.0)
    |httpOut('out')
"""
    outs = run_tickscript(script, sources={"cpu": cpu}, time_col="time")
    rows = outs["out"].collect()
    assert all(r.plus == r.value * 2 + 1 for r in rows)
    assert all(r.plus > 190 for r in rows)


def test_derivative_with_unit(cpu):
    script = """
stream
    |from()
        .measurement('cpu')
        .where(lambda: "host" == 'serverA')
        .groupBy(['host'])
    |derivative('value')
        .unit(1s)
    |httpOut('out')
"""
    outs = run_tickscript(script, sources={"cpu": cpu}, time_col="time", tiebreak=("id",))
    vals = [r.value for r in outs["out"].orderBy("time").collect()]
    assert vals == [1.0] * 9  # +1 per second


def test_var_chain_reference_and_union(cpu):
    script = """
var base = stream
    |from()
        .measurement('cpu')
        .groupBy(['host'])

var hot = base
    |where(lambda: "value" >= 95.0)

var cold = base
    |where(lambda: "value" < 55.0)

hot
    |union(cold)
    |httpOut('out')
"""
    outs = run_tickscript(script, sources={"cpu": cpu}, time_col="time")
    vals = sorted(r.value for r in outs["out"].collect())
    assert vals == [50.0, 51.0, 52.0, 53.0, 54.0, 95.0, 96.0, 97.0, 98.0, 99.0]


def test_window_count_script(cpu):
    script = """
stream
    |from()
        .measurement('cpu')
        .where(lambda: "host" == 'serverA')
        .groupBy(['host'])
    |window()
        .periodCount(3)
        .everyCount(1)
    |sum('value')
        .as('s3')
    |httpOut('out')
"""
    outs = run_tickscript(script, sources={"cpu": cpu}, time_col="time", tiebreak=("id",))
    rows = outs["out"].orderBy("time").collect()
    assert rows[0].s3 == 90.0 and rows[2].s3 == 90 + 91 + 92


def test_alert_topic_and_message(cpu):
    script = """
stream
    |from().measurement('cpu').groupBy(['host'])
    |alert()
        .crit(lambda: "value" > 95.0)
        .topic('ops')
        .message('{{ .Level }} on {{ index .Tags "host" }}')
    |httpOut('alerts')
"""
    outs = run_tickscript(
        script, sources={"cpu": cpu}, time_col="time", tiebreak=("id",)
    )
    rows = outs["alerts"].filter("level = 'CRITICAL'").collect()
    assert rows and all(r.topic == "ops" for r in rows)
    assert all(r.message == f"CRITICAL on {r.host}" for r in rows)


def test_join_stream_name(cpu):
    script = """
var a = stream
    |from().measurement('cpu').where(lambda: "host" == 'serverA').groupBy(['type'])
var b = stream
    |from().measurement('cpu').where(lambda: "host" == 'serverB').groupBy(['type'])
a
    |join(b)
        .as('l', 'r')
        .tolerance(1s)
        .streamName('merged')
    |httpOut('joined')
"""
    outs = run_tickscript(
        script, sources={"cpu": cpu}, time_col="time", tiebreak=("id",)
    )
    rows = outs["joined"].collect()
    assert rows and all(r.name == "merged" for r in rows)


def test_unknown_method_raises(cpu):
    with pytest.raises(TickError, match="unsupported"):
        run_tickscript(
            "stream |from() |frobnicate()", sources={"cpu": cpu}, time_col="time"
        )


def test_unknown_var_raises(cpu):
    with pytest.raises(TickError, match="unknown identifier"):
        run_tickscript("nosuchvar |httpOut('x')", sources={"cpu": cpu})


def test_alert_reset_and_duration_props(spark):
    """TICKscript .infoReset/.warnReset/.critReset/.durationField/
    .levelField map onto the alert() reset hysteresis and episode
    duration (golden sequence from TestStream_Alert_WithReset_0)."""
    import datetime as dt

    from kapacitor_spark.sources.line_protocol import promote, replay_srpl
    from kapacitor_spark.tick import run_tickscript

    raw = replay_srpl(
        spark,
        "/root/reference/integrations/testdata/TestStream_Alert_WithReset_0.srpl",
    )
    cpu = promote(raw, "cpu", float_fields=["value"], tag_cols=["host"])
    outs = run_tickscript(
        """
stream
    |from().measurement('cpu').where(lambda: "host" == 'serverA').groupBy('host')
    |alert()
        .info(lambda: "value" > 40.0)
        .infoReset(lambda: "value" < 10.0)
        .warn(lambda: "value" > 60.0)
        .warnReset(lambda: "value" < 20.0)
        .crit(lambda: "value" > 80.0)
        .critReset(lambda: "value" < 30.0)
        .levelField('lvl')
        .durationField('dur')
    |httpOut('reset')
""",
        sources={"cpu": cpu}, time_col="time",
    )
    rows = sorted(outs["reset"].collect(), key=lambda r: r["time"])
    levels = [r["lvl"] for r in rows]
    assert levels == [
        "INFO", "INFO", "INFO", "OK", "INFO", "WARNING", "WARNING", "OK",
        "INFO", "WARNING", "CRITICAL", "OK",
    ]
    # episode durations in ns: the OK recoveries close the episodes
    # opened at t0 and t4
    assert rows[3]["dur"] == 3 * 1_000_000_000
    assert rows[7]["dur"] == 3 * 1_000_000_000


def test_custom_udf_chain_method(spark):
    """TestStream_CustomFunctions (streamer_test.go:7256-7421): the
    @customFunc() chain method dispatches to a registered UDF; its
    properties arrive as the Init option list — opt1('count'),
    opt2(FALSE, 1, 1.0, '1.0', 1s) — and the UDF's output flows to
    httpOut. The golden output is (00:00:10, customField=42)."""
    from kapacitor_spark.sources.line_protocol import promote, replay_srpl
    from kapacitor_spark.tick import run_tickscript
    from kapacitor_spark.udf import udf_node

    @udf_node("time timestamp, customField double")
    def custom_func(pdf, opt1=None, opt2=None):
        # the Init handshake: options arrive as plain kwargs. The UDF runs
        # on executors, so the option check is encoded in the OUTPUT value:
        # 42 only when both options arrived exactly as declared.
        ok = opt1 == "count" and opt2 == (False, 1, 1.0, "1.0", 1.0)
        out = pdf[["time"]].copy()
        out["customField"] = 42.0 if ok else -1.0
        return out

    raw = replay_srpl(
        spark, "/root/reference/integrations/testdata/TestStream_CustomFunctions.srpl"
    )
    cpu = promote(
        raw.filter("name = 'cpu'"), "cpu",
        float_fields=["value"], tag_cols=["host", "type"],
    )
    outs = run_tickscript(
        """
stream
    |from().measurement('cpu').where(lambda: "host" == 'serverA')
    |window().period(10s).every(10s)
    |count('value')
    @customFunc()
        .opt1('count')
        .opt2(FALSE, 1, 1.0, '1.0', 1s)
    |httpOut('TestStream_CustomFunctions')
""",
        sources={"cpu": cpu},
        time_col="time",
        udfs={"customFunc": custom_func},
    )
    rows = (
        outs["TestStream_CustomFunctions"]
        .filter("time = '1971-01-01 00:00:10'")
        .collect()
    )
    assert [(str(r.time), r["customField"]) for r in rows] == [
        ("1971-01-01 00:00:10", 42.0)
    ]


def test_var_where_string_and_regex(spark):
    """TestStream_VarWhereString / _VarWhereRegex (streamer_test.go:4150,
    4178): lambdas close over script vars — a string var compares as a
    literal, a regex var drives =~. Golden: 10 serverA points in [0,10)."""
    from kapacitor_spark.sources.line_protocol import promote, replay_srpl
    from kapacitor_spark.tick import run_tickscript

    raw = replay_srpl(
        spark, "/root/reference/integrations/testdata/TestStream_SimpleMR.srpl"
    )
    cpu = promote(
        raw.filter("name = 'cpu'"), "cpu",
        float_fields=["value"], tag_cols=["host"],
    )
    for where in (
        "var serverStr = 'serverA'\n",
        "var serverPattern = /^serverA$/\n",
    ):
        cond = (
            '.where(lambda: "host" == serverStr)'
            if "serverStr" in where
            else '.where(lambda: "host" =~ serverPattern)'
        )
        outs = run_tickscript(
            where
            + f"""
stream
    |from().measurement('cpu'){cond}
    |window().period(10s).every(10s)
    |count('value')
    |httpOut('TestStream_SimpleMR')
""",
            sources={"cpu": cpu},
            time_col="time",
        )
        rows = outs["TestStream_SimpleMR"].filter(
            "time = '1971-01-01 00:00:00'"
        ).collect()
        assert [r["count"] for r in rows] == [10], where


def test_batch_query_state_tracking_script(spark):
    """batch|query() end-to-end through the front-end — the
    TestBatch_StateCount / TestBatch_StateDuration scripts (batcher_test.go:2568,
    2676) verbatim: windows are enumerated over the replayed range,
    groupBy('host') + the per-window batch key group the state walks, and
    the null-value point is absent (InfluxQL returns only rows carrying a
    selected field)."""
    from pyspark.sql import functions as F

    from kapacitor_spark.sources.line_protocol import replay_brpl
    from kapacitor_spark.tick import run_tickscript

    raw = replay_brpl(
        spark, "/root/reference/integrations/testdata/TestBatch_StateTracking.0.brpl"
    )
    pts = raw.select(
        "time", F.col("tags")["host"].alias("host"),
        F.col("fields_f")["value"].alias("value"),
    )
    outs = run_tickscript(
        """
var data = batch
    |query('SELECT value FROM "telegraf"."default"."cpu"')
        .period(4s)
        .every(4s)
        .groupBy('host')
data
    |stateCount(lambda: "value" > 95)
        .as('my_count')
    |httpOut('counts')
data
    |stateDuration(lambda: "value" > 95)
        .unit(1ms)
        .as('my_duration')
    |httpOut('durations')
""",
        sources={"cpu": pts},
        time_col="time",
    )
    import datetime as dt

    Z = dt.timezone.utc

    def ts(s):
        return dt.datetime(1971, 1, 1, 0, 0, s, tzinfo=Z)

    got_c = {
        (r["host"], r.time.replace(tzinfo=Z)): (r["my_count"], r["value"])
        for r in outs["counts"].filter("time >= '1971-01-01 00:00:04'").collect()
    }
    assert got_c == {
        ("serverA", ts(4)): (1, 97.1), ("serverA", ts(5)): (2, 96.6),
        ("serverA", ts(6)): (-1, 83.6), ("serverA", ts(7)): (1, 99.1),
        ("serverB", ts(4)): (-1, 47.0), ("serverB", ts(5)): (1, 95.1),
        ("serverB", ts(7)): (2, 96.1),
    }
    got_d = {
        (r["host"], r.time.replace(tzinfo=Z)): (r["my_duration"], r["value"])
        for r in outs["durations"].filter("time >= '1971-01-01 00:00:04'").collect()
    }
    assert got_d == {
        ("serverA", ts(4)): (0.0, 97.1), ("serverA", ts(5)): (1000.0, 96.6),
        ("serverA", ts(6)): (-1.0, 83.6), ("serverA", ts(7)): (0.0, 99.1),
        ("serverB", ts(4)): (-1.0, 47.0), ("serverB", ts(5)): (0.0, 95.1),
        ("serverB", ts(7)): (2000.0, 96.1),
    }


def test_batch_query_aggregate_time_bucket(cpu):
    """query('SELECT mean("value") ...').groupBy(time(4s), 'host'): the
    InfluxQL projection runs engine-side — per (window, 4s bucket, host)
    means, rows timed at the bucket start."""
    outs = run_tickscript(
        """
batch
    |query('SELECT mean("value") FROM "db"."rp"."cpu" WHERE "host" = \\'serverA\\'')
        .period(8s)
        .every(8s)
        .groupBy(time(4s), 'host')
    |httpOut('means')
""",
        sources={"cpu": cpu},
        time_col="time",
    )
    rows = {r.time.second: r["mean"] for r in outs["means"].collect()}
    # fixture: serverA values 90..99 at :00-:09 → buckets [0,4)=91.5,
    # [4,8)=95.5, [8,12)=98.5
    assert rows == {0: 91.5, 4: 95.5, 8: 98.5}


def test_batch_query_transform_scripts(spark):
    """TestBatch_Difference / _CumulativeSum scripts (batcher_test.go:477,
    566) verbatim through batch|query(): plain SELECT + per-batch ordered
    transforms, golden values from the reference."""
    from pyspark.sql import functions as F

    from kapacitor_spark.sources.line_protocol import replay_brpl
    from kapacitor_spark.tick import run_tickscript

    import datetime as dt

    Z = dt.timezone.utc

    def ts(s):
        return dt.datetime(1971, 1, 1, 0, 0, s, tzinfo=Z)

    def pts(fixture):
        raw = replay_brpl(
            spark, f"/root/reference/integrations/testdata/{fixture}"
        )
        return raw.select(
            "time", F.col("fields_f")["value"].alias("value")
        ).filter("value IS NOT NULL")

    outs = run_tickscript(
        """
batch
    |query('SELECT "value" FROM "telegraf"."default".packets')
        .period(10s)
        .every(10s)
    |difference('value')
    |httpOut('TestBatch_Difference')
""",
        sources={"packets": pts("TestBatch_Difference.0.brpl")},
        time_col="time",
    )
    got = [
        (r.time.replace(tzinfo=Z), r["value"])
        for r in outs["TestBatch_Difference"].orderBy("time").collect()
    ]
    assert got == [(ts(2), 5.0), (ts(4), 3.0), (ts(6), 1.0), (ts(8), -5.0)]

    outs2 = run_tickscript(
        """
batch
    |query('SELECT "value" FROM "telegraf"."default".packets')
        .period(10s)
        .every(10s)
    |cumulativeSum('value')
    |httpOut('TestBatch_CumulativeSum')
""",
        sources={"packets": pts("TestBatch_CumulativeSum.0.brpl")},
        time_col="time",
    )
    got2 = [
        (r.time.replace(tzinfo=Z), r["value"])
        for r in outs2["TestBatch_CumulativeSum"]
        .filter("time >= '1971-01-01 00:00:10'").orderBy("time").collect()
    ]
    assert got2 == [
        (ts(10), 0.0), (ts(12), 10.0), (ts(14), 30.0),
        (ts(16), 60.0), (ts(18), 100.0),
    ]


def test_union_rename_script(spark):
    """TestStream_Union_Stepped's script shape (streamer_test.go:5848)
    verbatim: union(...).rename('cpu_all') |groupBy('cpu') — the renamed
    measurement and re-keyed groups, last point per group at the 6s step."""
    from pyspark.sql import functions as F

    from kapacitor_spark.sources.line_protocol import promote, replay_srpl
    from kapacitor_spark.tick import run_tickscript

    raw = replay_srpl(
        spark, "/root/reference/integrations/testdata/TestStream_Union_Stepped.srpl"
    )
    cpu = promote(raw, "cpu", float_fields=["value"], tag_cols=["cpu"])
    outs = run_tickscript(
        """
var cpuT = stream
    |from().measurement('cpu').where(lambda: "cpu" == 'total')
var cpu0 = stream
    |from().measurement('cpu').where(lambda: "cpu" == '0')
var cpu1 = stream
    |from().measurement('cpu').where(lambda: "cpu" == '1')
cpuT
    |union(cpu0, cpu1)
        .rename('cpu_all')
    |groupBy('cpu')
    |httpOut('TestStream_Union_Stepped')
""",
        sources={"cpu": cpu},
        time_col="time",
    )
    import datetime as dt

    Z = dt.timezone.utc
    last = (
        outs["TestStream_Union_Stepped"]
        .filter("time <= '1971-01-01 00:00:05'")
        .groupBy("cpu")
        .agg(F.max_by(F.struct("time", "value", "name"), "time").alias("s"))
        .select("cpu", "s.time", "s.value", "s.name")
        .collect()
    )
    got = {r["cpu"]: (r["time"].replace(tzinfo=Z).second, r["value"], r["name"]) for r in last}
    assert got == {
        "0": (5, 92.0, "cpu_all"),
        "1": (5, 92.0, "cpu_all"),
        "total": (4, 93.0, "cpu_all"),
    }


def test_delete_join_script_verbatim(spark):
    """TestStream_Delete_Join's script (streamer_test.go:4730) verbatim —
    barrier().idle().delete() parses (state-cleanup directive; a batch
    no-op), the tolerance join + streamName + eval division produce the
    golden [0,10) row 18/18 → 1.0."""
    from pyspark.sql import functions as F

    from kapacitor_spark.sources.line_protocol import promote, replay_srpl
    from kapacitor_spark.tick import run_tickscript

    raw = replay_srpl(
        spark, "/root/reference/integrations/testdata/TestStream_Delete_Join.srpl"
    )
    srcs = {
        m: promote(
            raw.filter(F.col("name") == m), m,
            float_fields=["value"], tag_cols=["host"],
        )
        for m in ("cpu", "views")
    }
    outs = run_tickscript(
        """
var errorCounts = stream
    |from().measurement('cpu').groupBy('host')
    |window().period(10s).every(10s).align()
    |sum('value')
    |barrier().idle(1s).delete(TRUE)
var viewCounts = stream
    |from().measurement('views').groupBy('host')
    |window().period(10s).every(10s).align()
    |sum('value')
errorCounts
    |join(viewCounts)
        .as('errors', 'views')
        .streamName('error_view')
        .tolerance(2s)
        .deleteAll(TRUE)
    |eval(lambda: "errors.sum" / "views.sum")
        .as('error_percent')
        .keep()
    |httpOut('TestStream_Delete_Join')
""",
        sources=srcs,
        time_col="time",
    )
    rows = outs["TestStream_Delete_Join"].filter(
        "time <= '1971-01-01 00:00:10'"
    ).collect()
    assert [
        (r["host"], r["name"], r["error_percent"], r["errors.sum"], r["views.sum"])
        for r in rows
    ] == [("serverA", "error_view", 1.0, 18.0, 18.0)]


def test_http_post_endpoint_script(spark):
    """TestStream_HttpPostEndpoint(+_CustomBody) (streamer_test.go): the
    httpPost().endpoint(name).header(k,v) form resolves through the
    endpoint registry and fires as a terminal node — the receiver sees
    the rows and the custom header."""
    import http.server
    import threading

    from kapacitor_spark.sources.line_protocol import promote, replay_srpl
    from kapacitor_spark.tick import run_tickscript

    got: dict = {"rows": []}

    class H(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            import json as _json

            got["my"] = self.headers.get("my")
            body = self.rfile.read(int(self.headers["Content-Length"]))
            got["rows"].extend(_json.loads(body))
            self.send_response(200)
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = http.server.HTTPServer(("127.0.0.1", 0), H)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        raw = replay_srpl(
            spark, "/root/reference/integrations/testdata/TestStream_HttpPost.srpl"
        )
        cpu = promote(
            raw, "cpu", float_fields=["value"], tag_cols=["host", "type"]
        ).coalesce(1)
        run_tickscript(
            """
stream
    |from().measurement('cpu').where(lambda: "host" == 'serverA')
    |httpPost()
        .endpoint('test')
        .header('my', 'header')
""",
            sources={"cpu": cpu},
            time_col="time",
            endpoints={"test": f"http://127.0.0.1:{port}/post"},
        )
    finally:
        srv.shutdown()
    assert got["my"] == "header"
    nums = [97.1, 92.6, 95.6, 93.1, 92.6, 95.8]
    assert sorted(d["value"] for d in got["rows"]) == sorted(nums)


def test_influxdb_out_script_verbatim(spark):
    """TestStream_InfluxDBOut's script (streamer_test.go:12491) verbatim:
    the windowed count writes one line-protocol point to the configured
    InfluxDB /write endpoint with db/rp/precision params and the static
    tag."""
    import http.server
    import threading
    import urllib.parse

    from pyspark.sql import functions as F

    from kapacitor_spark.sources.line_protocol import promote, replay_srpl
    from kapacitor_spark.tick import run_tickscript

    got: dict = {}

    class H(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            u = urllib.parse.urlparse(self.path)
            got["params"] = dict(urllib.parse.parse_qsl(u.query))
            body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
            got.setdefault("lines", []).extend(
                l for l in body.decode().splitlines() if l
            )
            self.send_response(204)
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = http.server.HTTPServer(("127.0.0.1", 0), H)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        raw = replay_srpl(
            spark, "/root/reference/integrations/testdata/TestStream_InfluxDBOut.srpl"
        )
        cpu = promote(
            raw.filter("name = 'cpu'"), "cpu",
            float_fields=["value"], tag_cols=["host"],
        )
        run_tickscript(
            """
stream
    |from()
        .measurement('cpu')
        .where(lambda: "host" == 'serverA')
    |window()
        .period(10s)
        .every(10s)
    |count('value')
    |influxDBOut()
        .database('db')
        .retentionPolicy('rp')
        .measurement('m')
        .precision('s')
        .tag('key', 'value')
""",
            sources={"cpu": cpu},
            time_col="time",
            influxdb=f"http://127.0.0.1:{port}",
        )
    finally:
        srv.shutdown()
    assert got["params"] == {"db": "db", "rp": "rp", "precision": "s"}
    # tick windows label at start (:00); content count 10 matches the golden
    assert "m,key=value count=10i 31536000" in got["lines"]


def test_triple_quoted_query_string(cpu):
    """The reference's batch scripts write query bodies as '''...''' —
    the lexer must treat them as one string token (multi-line)."""
    outs = run_tickscript(
        """
batch
    |query('''
        SELECT mean("value")
        FROM "db"."rp".cpu
        WHERE "host" = 'serverA'
''')
        .period(8s)
        .every(8s)
        .groupBy(time(4s), 'host')
    |httpOut('means')
""",
        sources={"cpu": cpu},
        time_col="time",
    )
    rows = {r.time.second: r["mean"] for r in outs["means"].collect()}
    assert rows == {0: 91.5, 4: 95.5, 8: 98.5}


def test_batch_query_empty_source_raises_clear_error(spark):
    """ADVICE r3: batch|query() over an empty source must raise a clear
    TickError, not AttributeError on the None replay range."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from kapacitor_spark.tick import TickError, run_tickscript

    empty = (
        spark.range(0)
        .select(
            F.current_timestamp().alias("time"),
            F.lit("h").alias("host"),
            F.col("id").cast("double").alias("value"),
        )
    )
    with _pytest.raises(TickError, match="no rows"):
        run_tickscript(
            """
batch
    |query('SELECT value FROM "db"."rp"."cpu"')
        .period(4s)
        .every(4s)
    |httpOut('out')
""",
            sources={"cpu": empty},
            time_col="time",
        )


def test_kapacitor_loopback_prevent_loop(spark):
    """TestStream_KapacitorLoopback_PreventLoop (streamer_test.go): a
    loopback into the DBRP the task subscribes to must be rejected at
    task-build time."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from kapacitor_spark.tick import TickError, run_tickscript

    pts = (
        spark.range(3)
        .select(
            F.current_timestamp().alias("time"),
            F.lit("h").alias("host"),
            F.col("id").cast("double").alias("value"),
        )
    )
    script = """
stream
    |from()
        .measurement('cpu')
        .where(lambda: "host" == 'serverA')
    |kapacitorLoopback()
        .database('dbname')
        .retentionPolicy('rpname')
"""
    with _pytest.raises(TickError, match="loop"):
        run_tickscript(script, sources={"cpu": pts}, time_col="time",
                       dbrp="dbname.rpname")
    # a different target DBRP is fine and registers the loopback output
    outs = run_tickscript(script, sources={"cpu": pts}, time_col="time",
                          dbrp="other.rp")
    assert "loopback:dbname.rpname" in outs


def test_batch_invalid_query(spark):
    """TestBatch_InvalidQuery (batcher_test.go): query() must be exactly
    one SELECT statement — multi-statement injection and non-SELECT
    statements are rejected."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from kapacitor_spark.tick import TickError, run_tickscript

    pts = spark.range(3).select(
        F.current_timestamp().alias("time"),
        F.col("id").cast("double").alias("value"),
    )
    for q, msg in [
        ("SELECT value FROM db.rp.m; DROP DATABASE _internal",
         "single select statement"),
        ("DROP DATABASE _internal", "not a select statement"),
    ]:
        with _pytest.raises(TickError, match=msg):
            run_tickscript(
                f"""
batch
    |query('{q}')
        .period(1s)
        .every(1s)
    |httpOut('out')
""",
                sources={"m": pts},
                time_col="time",
            )


def test_influxql_missing_value_batch(spark):
    """TestStream_InfluxQLNodeMissingValue_Batch (streamer_test.go):
    aggregating a field the points don't carry yields an EMPTY result,
    not an error."""
    import datetime as dt

    from kapacitor_spark.tick import run_tickscript

    rows = [
        (dt.datetime(1971, 1, 1, 0, 0, s, tzinfo=dt.timezone.utc), 1000.0 + s)
        for s in range(12)
    ]
    pts = spark.createDataFrame(rows, "time timestamp, value double")
    outs = run_tickscript(
        """
stream
    |from().measurement('packets')
    |derivative('value')
    |window()
        .period(10s)
        .every(10s)
    |mean('is_missing_value')
    |httpOut('TestStream_InfluxQLNodeMissingValue')
""",
        sources={"packets": pts},
        time_col="time",
    )
    assert outs["TestStream_InfluxQLNodeMissingValue"].count() == 0


def test_batch_query_extended_aggregates(spark):
    """The rest of the InfluxQL SELECT function set through batch|query():
    stddev/spread/mode/distinct/percentile(f, N) — influxql.gen.go's
    generated reduce matrix, dispatched engine-side."""
    import datetime as dt

    from kapacitor_spark.tick import run_tickscript

    Z = dt.timezone.utc
    rows = [
        (dt.datetime(1971, 1, 1, 0, 0, s, tzinfo=Z), "h", float(v))
        for s, v in enumerate([1, 1, 2, 3, 5, 8, 8, 8])
    ]
    pts = spark.createDataFrame(rows, "time timestamp, host string, value double")

    def q(sel):
        outs = run_tickscript(
            f"""
batch
    |query('SELECT {sel} FROM "db"."rp"."m"')
        .period(8s)
        .every(8s)
        .align()
    |httpOut('out')
""",
            sources={"m": pts},
            time_col="time",
        )
        return outs["out"].collect()

    assert q('spread("value")')[0]["spread"] == 7.0
    assert q('distinct("value")')[0]["distinct"] == 5
    assert q('mode("value")')[0]["mode"] == 8.0
    assert q('percentile("value", 50)')[0]["percentile"] == 3.0
    import math

    vals = [1, 1, 2, 3, 5, 8, 8, 8]
    mean = sum(vals) / len(vals)
    exp_sd = math.sqrt(sum((v - mean) ** 2 for v in vals) / (len(vals) - 1))
    assert abs(q('stddev("value")')[0]["stddev"] - exp_sd) < 1e-9


def test_alert_details_template(cpu):
    """.details() — pipeline/alert.go Details: the larger body template
    handler payloads embed (email HTML, opsGenie description) renders to
    a details column with the same template compiler."""
    script = """
stream
    |from().measurement('cpu').groupBy(['host'])
    |alert()
        .crit(lambda: "value" > 98.0)
        .id('kapacitor/{{ index .Tags "host" }}')
        .details('<b>{{ .Message }}</b> host={{ index .Tags "host" }}')
    |httpOut('alerts')
"""
    outs = run_tickscript(script, sources={"cpu": cpu}, time_col="time",
                          tiebreak=("id",))
    rows = outs["alerts"].filter("level = 'CRITICAL'").collect()
    assert rows
    for r in rows:
        # {{ .Message }} falls back to the reference's default message
        # template "{{ .ID }} is {{ .Level }}" when .message() is absent
        assert r["details"] == (
            f"<b>kapacitor/{r['host']} is CRITICAL</b> host={r['host']}"
        )


def test_task_dot_renders_reference_graph():
    """task_dot = the reference's `kapacitor show` DOT output
    (task.go:84 Task.Dot → pipeline.Dot; names are <desc><id>). Pure
    parse — no sources or Spark needed."""
    from kapacitor_spark.tick import task_dot

    dot = task_dot("""
var errors = stream
    |from()
        .measurement('errors')
var requests = stream
    |from()
        .measurement('requests')
errors
    |join(requests)
        .as('errors', 'requests')
    |eval(lambda: "errors.value" / "requests.value")
        .as('rate')
    |window()
        .period(10s)
        .every(10s)
    |mean('rate')
    |alert()
        .crit(lambda: "mean" > 0.1)
""", name="error_rate")
    lines = dot.splitlines()
    assert lines[0] == "digraph error_rate {"
    assert lines[-1] == "}"
    edges = set(lines[1:-1])
    assert edges == {
        "stream0 -> from1;",
        "stream0 -> from2;",
        "from1 -> join3;",
        "from2 -> join3;",
        "join3 -> eval4;",
        "eval4 -> window5;",
        "window5 -> mean6;",
        "mean6 -> alert7;",
    }


def test_task_dot_union_and_udf():
    from kapacitor_spark.tick import task_dot

    dot = task_dot("""
var a = stream|from().measurement('m1')
var b = stream|from().measurement('m2')
a
    |union(b)
    @myFunc()
        .field('value')
    |httpOut('out')
""")
    edges = set(dot.splitlines()[1:-1])
    assert "from1 -> union3;" in edges
    assert "from2 -> union3;" in edges
    assert "union3 -> myFunc4;" in edges
    assert "myFunc4 -> httpOut5;" in edges


def test_template_vars_matches_reference_shape():
    """TestServer_DefineTemplate (server_test.go:1409): Vars lists each
    declared var with value+type, and the Dot is byte-identical to the
    reference's expected string."""
    from kapacitor_spark.tick import task_dot, template_vars

    tick = """var x = 5

stream
    |from()
        .measurement('test')
"""
    assert template_vars(tick) == {"x": {"value": 5, "type": "int"}}
    assert task_dot(tick, "testTemplateID") == (
        "digraph testTemplateID {\nstream0 -> from1;\n}"
    )
    mixed = """var every = 10s
var name = 'cpu'
var thresh = 0.9
var enabled = TRUE
var match = lambda: "value" > thresh
"""
    tv = template_vars(mixed + "\nstream|from().measurement(name)")
    assert tv["every"] == {"value": "10s", "type": "duration"}
    assert tv["name"] == {"value": "cpu", "type": "string"}
    assert tv["thresh"] == {"value": 0.9, "type": "float"}
    assert tv["enabled"] == {"value": True, "type": "bool"}
    assert tv["match"]["type"] == "lambda"


def test_template_var_overrides_execute(cpu):
    """define-template semantics: script vars are defaults, supplied vars
    override — the threshold override changes which rows alert."""
    from kapacitor_spark.tick import run_tickscript

    tick = """var warnLevel = 1000.0

stream
    |from()
        .measurement('cpu')
    |alert()
        .warn(lambda: "value" > warnLevel)
        .levelField('level')
    |httpOut('out')
"""
    # default threshold 1000: nothing exceeds it on the fixture
    outs = run_tickscript(tick, sources={"cpu": cpu}, time_col="time")
    base = outs["out"].filter("level != 'OK'").count()
    outs2 = run_tickscript(
        tick, sources={"cpu": cpu}, time_col="time",
        template_vars={"warnLevel": 90.0},
    )
    lowered = outs2["out"].filter("level != 'OK'").count()
    assert base == 0 and lowered > 0


def test_template_duration_override(cpu):
    from kapacitor_spark.tick import run_tickscript

    tick = """var period = 1s

stream
    |from()
        .measurement('cpu')
    |window()
        .period(period)
        .every(period)
    |count('value')
    |httpOut('w')
"""
    narrow = run_tickscript(tick, sources={"cpu": cpu}, time_col="time")
    wide = run_tickscript(
        tick, sources={"cpu": cpu}, time_col="time",
        template_vars={"period": "10s"},
    )
    assert wide["w"].count() < narrow["w"].count()


def test_template_vars_json_safe_and_node_vars_excluded():
    import json

    from kapacitor_spark.tick import template_vars

    tv = template_vars("""var thresh = 0.9
var errors = stream
    |from()
        .measurement('errors')
errors
    |httpOut('x')
""")
    assert "errors" not in tv  # pipeline wiring, not a template var
    json.dumps(tv)  # client.Vars must serialize


def test_template_override_lambda_sees_script_vars(cpu):
    """An overriding lambda binds the full script scope, like defaults."""
    from kapacitor_spark.tick import run_tickscript

    tick = """var thresh = 90.0
var cond = lambda: "value" > 1000.0

stream
    |from()
        .measurement('cpu')
    |alert()
        .warn(cond)
    |httpOut('out')
"""
    outs = run_tickscript(
        tick, sources={"cpu": cpu}, time_col="time",
        template_vars={"cond": 'lambda: "value" > thresh'},
    )
    assert outs["out"].filter("level != 'OK'").count() > 0


def test_template_path_string_stays_string():
    from kapacitor_spark.tick import _coerce_template_vars, _Regex

    out = _coerce_template_vars({"path": "/var/log/", "d": "10s"})
    assert out["path"] == "/var/log/"
    import re as _re

    out2 = _coerce_template_vars({"pat": _re.compile("^cpu.*")})
    assert isinstance(out2["pat"], _Regex) and out2["pat"].pat == "^cpu.*"


def test_bare_lambda_ends_before_property_statement():
    from kapacitor_spark.tick import _tokenize

    toks, _ = _tokenize('var m = lambda: "value" > 3\nw.x(1)\n')
    lam = [t for t in toks if t[0] == "lambda"][0]
    assert "w.x" not in lam[1]


def test_sideload_http_source(spark):
    """sideload() with an http:// source — the reference's httpSource
    (/root/reference/services/sideload/service.go:262-291): ONE GET
    returns the whole cache as JSON {order-path: {key: value}}, then the
    order templates walk it first-match-wins exactly like file://. Serves
    the reference's own sideload fixture contents from a local mock
    server and asserts the TestStream_Sideload_Multiple golden values."""
    import http.server
    import json as _json
    import socketserver
    import threading

    from kapacitor_spark.sources.line_protocol import promote, replay_srpl
    from kapacitor_spark.sources.sideload import _load_file
    from kapacitor_spark.tick import run_tickscript

    fixtures = "/root/reference/integrations/testdata"
    base = f"{fixtures}/sideload"
    cache = {}
    for level in ("t0", "t1", "t2"):
        d = os.path.join(base, level)
        for fn in sorted(os.listdir(d)):
            if fn.endswith(".yml"):
                cache[f"{level}/{fn}"] = _load_file(os.path.join(d, fn))
    body = _json.dumps(cache).encode()

    class H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    with socketserver.TCPServer(("127.0.0.1", 0), H) as srv:
        port = srv.server_address[1]
        t = threading.Thread(target=srv.serve_forever, daemon=True)
        t.start()
        try:
            raw = replay_srpl(spark, f"{fixtures}/TestStream_Sideload.srpl")
            m = promote(raw, "m", float_fields=["value"],
                        tag_cols=["t0", "t1", "t2"])
            outs = run_tickscript(
                f"""
stream
    |from().measurement('m').groupBy('t0', 't1', 't2')
    |sideload()
        .source('http://127.0.0.1:{port}/kapacitor/v1/sideload')
        .order('t0/{{{{.t0}}}}.yml', 't1/{{{{.t1}}}}.yml', 't2/{{{{.t2}}}}.yml')
        .field('f1', 0)
        .field('f2', 0.0)
        .tag('t3', 'one')
    |httpOut('TestStream_Sideload')
""",
                sources={"m": m},
                time_col="time",
            )
        finally:
            srv.shutdown()
    got = {
        (r.t0, r.t1, r.t2): (float(r.f1), float(r.f2), r.t3, r.value)
        for r in outs["TestStream_Sideload"].collect()
    }
    assert got == {
        ("a", "m", "x"): (0.0, 0.0, "one", 1.0),
        ("b", "n", "y"): (2.0, 3.5, "why", 1.0),
        ("c", "o", "y"): (12.0, 13.5, "why", 1.0),
    }


def test_sideload_http_source_rejects_bad_body(spark):
    """A non-object JSON body raises instead of silently loading nothing
    (the reference errors in loadValues, service.go:321-329)."""
    import pytest as _pytest

    from kapacitor_spark.sources.sideload import _fetch_http_cache
    import http.server
    import socketserver
    import threading

    class H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            self.send_response(200)
            self.end_headers()
            self.wfile.write(b'[1, 2, 3]')

        def log_message(self, *a):
            pass

    with socketserver.TCPServer(("127.0.0.1", 0), H) as srv:
        port = srv.server_address[1]
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        try:
            with _pytest.raises(ValueError, match="JSON object"):
                _fetch_http_cache(f"http://127.0.0.1:{port}/x")
        finally:
            srv.shutdown()


def test_sideload_file_source_without_matches_applies_defaults(
    spark, tmp_path
):
    """A file:// level with no matching files is an empty lookup (not a
    schema-inference error): points fall through to the .field()/.tag()
    defaults. Only a missing source directory raises."""
    (tmp_path / "t0").mkdir()
    (tmp_path / "t0" / "unrelated.json").write_text('{"f1": 5}')
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "a", 1.0),
         (2, "2024-01-01 00:00:01", "b", 2.0)],
        "id long, time string, t0 string, value double",
    ).withColumn("time", F.to_timestamp("time"))
    script = f"""
stream
    |from()
        .measurement('m')
    |sideload()
        .source('file://{tmp_path}')
        .order('t0/{{{{.t0}}}}.yml', 'missing/{{{{.t0}}}}.yml')
        .field('f1', 7)
        .tag('t3', 'none')
    |httpOut('s')
"""
    outs = run_tickscript(script, sources={"m": df}, time_col="time")
    got = sorted((r["id"], r["f1"], r["t3"]) for r in outs["s"].collect())
    assert got == [(1, 7, "none"), (2, 7, "none")]

    with pytest.raises(ValueError, match="does not exist"):
        run_tickscript(
            script.replace(str(tmp_path), str(tmp_path / "absent")),
            sources={"m": df}, time_col="time",
        )


def test_batch_query_fill_modes(spark):
    """query().fill(...) — InfluxQL groupBy-time gap filling inside each
    batch window (reference batch.go:210-225 fill dispatch): number /
    'null' / 'previous' / 'linear' generate rows for empty 2s buckets of
    a 10s window; 'none' (and no fill) keep only non-empty buckets.
    Data: points at :00, :02, :08 → buckets :04 and :06 are empty."""
    rows = [
        ("2024-01-01 00:00:00", 10.0),
        ("2024-01-01 00:00:01", 20.0),  # bucket :00 mean 15
        ("2024-01-01 00:00:02", 30.0),  # bucket :02 mean 30
        ("2024-01-01 00:00:08", 90.0),  # bucket :08 mean 90
    ]
    df = (
        spark.createDataFrame(rows, "time string, value double")
        .withColumn("time", F.to_timestamp("time"))
    )

    def run(fill_clause):
        script = f"""
batch
    |query('SELECT mean("value") FROM "db"."rp".m')
        .period(10s)
        .every(10s)
        .groupBy(time(2s)){fill_clause}
    |httpOut('out')
"""
        outs = run_tickscript(script, {"m": df}, time_col="time")
        return {
            r["time"].second: r["mean"]
            for r in outs["out"].collect()
            if r["time"].second < 10
        }

    assert run("") == {0: 15.0, 2: 30.0, 8: 90.0}
    assert run("\n        .fill('none')") == {0: 15.0, 2: 30.0, 8: 90.0}
    assert run("\n        .fill(0.0)") == {0: 15.0, 2: 30.0, 4: 0.0, 6: 0.0, 8: 90.0}
    assert run("\n        .fill('null')") == {0: 15.0, 2: 30.0, 4: None, 6: None, 8: 90.0}
    assert run("\n        .fill('previous')") == {
        0: 15.0, 2: 30.0, 4: 30.0, 6: 30.0, 8: 90.0}
    # linear: :02=30 → :08=90 ⇒ :04=50, :06=70
    assert run("\n        .fill('linear')") == {
        0: 15.0, 2: 30.0, 4: 50.0, 6: 70.0, 8: 90.0}


def test_from_round_property(spark):
    """from().round(d): times round to the NEAREST d multiple
    (stream.go:163) — distinct from .truncate()'s floor."""
    rows = [
        ("2024-01-01 00:00:00.4", 1.0),
        ("2024-01-01 00:00:00.6", 2.0),
        ("2024-01-01 00:00:01.5", 3.0),  # exactly half: rounds up
    ]
    df = spark.createDataFrame(rows, "time string, value double").withColumn(
        "time", F.to_timestamp("time")
    )
    outs = run_tickscript(
        "stream |from().measurement('m').round(1s) |httpOut('o')",
        {"m": df}, time_col="time",
    )
    got = sorted((r["time"].second, r["value"]) for r in outs["o"].collect())
    assert got == [(0, 1.0), (1, 2.0), (2, 3.0)]


def test_batch_query_multi_aggregate(spark):
    """InfluxQL multi-aggregate SELECT: 'SELECT mean(v) AS m, max(v) AS
    mx, count(v) AS n' — one grouped aggregation per time bucket."""
    rows = [
        ("2024-01-01 00:00:00", 10.0),
        ("2024-01-01 00:00:01", 20.0),
        ("2024-01-01 00:00:02", 60.0),
        ("2024-01-01 00:00:03", 40.0),
    ]
    df = spark.createDataFrame(rows, "time string, value double").withColumn(
        "time", F.to_timestamp("time")
    )
    outs = run_tickscript(
        """
batch
    |query('SELECT mean("value") AS m, max("value") AS mx, count("value") AS n FROM "db"."rp".m')
        .period(4s)
        .every(4s)
        .groupBy(time(2s))
    |httpOut('o')
""",
        {"m": df}, time_col="time",
    )
    got = {
        r["time"].second: (r["m"], r["mx"], r["n"])
        for r in outs["o"].collect()
    }
    assert got[0] == (15.0, 20.0, 2)
    assert got[2] == (50.0, 60.0, 2)


def test_batch_query_multi_aggregate_first_raises(spark):
    df = spark.createDataFrame(
        [("2024-01-01 00:00:00", 1.0)], "time string, value double"
    ).withColumn("time", F.to_timestamp("time"))
    with pytest.raises(TickError, match="first/last"):
        run_tickscript(
            """
batch
    |query('SELECT first("value"), mean("value") FROM "db"."rp".m')
        .period(4s)
    |httpOut('o')
""",
            {"m": df}, time_col="time",
        )


def test_use_point_times_prop(cpu):
    """|last('value').usePointTimes(): the emitted row carries the
    SELECTED point's time, not the window boundary (influxql.go
    PointTimes); without it the window start is emitted."""
    script = """
stream
    |from().measurement('cpu').where(lambda: "host" == 'serverA').groupBy('host')
    |window().period(10s).every(10s)
    |last('value')
        .as('v')
        .usePointTimes()
    |httpOut('o')
"""
    outs = run_tickscript(script, {"cpu": cpu}, time_col="time", tiebreak=("id",))
    rows = outs["o"].collect()
    assert len(rows) == 1
    # last point of the window is at :09 with value 99
    assert rows[0]["v"] == 99.0 and rows[0]["time"].second == 9


def test_group_by_measurement_prop(spark):
    """from().groupByMeasurement(): the measurement name joins the group
    key (pipeline/group_by.go:133), so same-tag rows from different
    measurements aggregate separately."""
    rows = [
        ("2024-01-01 00:00:00", "cpu", "h1", 1.0),
        ("2024-01-01 00:00:01", "cpu", "h1", 3.0),
        ("2024-01-01 00:00:00", "mem", "h1", 10.0),
        ("2024-01-01 00:00:01", "mem", "h1", 30.0),
    ]
    df = spark.createDataFrame(
        rows, "time string, name string, host string, value double"
    ).withColumn("time", F.to_timestamp("time"))
    outs = run_tickscript(
        """
stream
    |from().groupBy('host').groupByMeasurement()
    |window().period(10s).every(10s)
    |mean('value').as('m')
    |httpOut('o')
""",
        df, time_col="time",
    )
    got = {r["name"]: r["m"] for r in outs["o"].collect()}
    assert got == {"cpu": 2.0, "mem": 20.0}


def test_batch_query_align_group(spark):
    """query().alignGroup() (pipeline/batch.go AlignGroup): groupBy(time(d))
    buckets align to each batch WINDOW's start instead of the epoch grid.
    Data starts at :03, so windows start :03; aligned buckets are
    [:03,:05) and [:05,:07), while the default epoch grid gives :02/:04/:06."""
    rows = [
        ("2024-01-01 00:00:03", 10.0),
        ("2024-01-01 00:00:04", 20.0),
        ("2024-01-01 00:00:05", 40.0),
        ("2024-01-01 00:00:06", 80.0),
    ]
    df = spark.createDataFrame(rows, "time string, value double").withColumn(
        "time", F.to_timestamp("time")
    )
    base = """
batch
    |query('SELECT mean("value") FROM "db"."rp".m')
        .period(4s)
        .every(4s)
        .groupBy(time(2s)){align}
    |httpOut('o')
"""
    outs = run_tickscript(base.format(align=""), {"m": df}, time_col="time")
    epoch = {r["time"].second: r["mean"] for r in outs["o"].collect()}
    assert epoch == {2: 10.0, 4: 30.0, 6: 80.0}
    outs = run_tickscript(
        base.format(align="\n        .alignGroup()"), {"m": df}, time_col="time"
    )
    aligned = {r["time"].second: r["mean"] for r in outs["o"].collect()}
    assert aligned == {3: 15.0, 5: 60.0}


def test_batch_query_multi_aggregate_percentile_raises(spark):
    """A multi-aggregate SELECT containing percentile (or any unsupported
    entry) must RAISE, not silently fall through to the plain-projection
    path with no aggregation."""
    df = spark.createDataFrame(
        [("2024-01-01 00:00:00", 1.0)], "time string, value double"
    ).withColumn("time", F.to_timestamp("time"))
    with pytest.raises(TickError, match="unsupported entries"):
        run_tickscript(
            """
batch
    |query('SELECT mean("value"), percentile("value", 90) FROM "db"."rp".m')
        .period(4s)
    |httpOut('o')
""",
            {"m": df}, time_col="time",
        )


def test_batch_query_fill_keeps_integer_counts(spark):
    """fill(0) on count() keeps the column integer: existing buckets stay
    long (3 not 3.0) and gaps fill with 0."""
    rows = [("2024-01-01 00:00:00", 1.0), ("2024-01-01 00:00:01", 2.0),
            ("2024-01-01 00:00:08", 3.0)]
    df = spark.createDataFrame(rows, "time string, value double").withColumn(
        "time", F.to_timestamp("time")
    )
    outs = run_tickscript(
        """
batch
    |query('SELECT count("value") FROM "db"."rp".m')
        .period(10s)
        .every(10s)
        .groupBy(time(2s))
        .fill(0)
    |httpOut('o')
""",
        {"m": df}, time_col="time",
    )
    got = {r["time"].second: r["count"] for r in outs["o"].collect()
           if r["time"].second < 10}
    assert got == {0: 2, 2: 0, 4: 0, 6: 0, 8: 1}
    assert all(isinstance(v, int) for v in got.values())


def test_batch_query_flux_golden(spark):
    """TestBatch_Flux (batcher_test.go:22): the Flux script ships to the
    injected client (the reference's mocked FluxQueryService seam) and
    the returned table flows through the pipeline to httpOut — asserted
    against the reference's inline expected rows (name 'yeas', vote tag,
    time/value columns)."""
    import datetime as _dt

    Z = _dt.timezone.utc
    canned = [
        ("1971-01-01T00:00:00", "yea"), ("1971-01-01T00:00:02", "nay"),
        ("1971-01-01T00:00:04", "yea"), ("1971-01-01T00:00:05", "yea"),
        ("1971-01-01T00:00:06", "nay"), ("1971-01-01T00:00:08", "yea"),
    ]
    calls = []

    def flux_client(script, org, org_id):
        calls.append((script, org, org_id))
        df = spark.createDataFrame(
            [("yeas", "should we orange juice", t, v) for t, v in canned],
            "name string, vote string, time string, value string",
        )
        return df.withColumn("time", F.to_timestamp("time"))

    script = """batch|queryFlux('from(bucket:"example-bucket")
|> range(start:-1h)
|> filter(fn:(r) =>
r._measurement == "cpu" and
r.cpu == "cpu-total"
)
|> aggregateWindow(every: 1m, fn: mean)')
    .every(1s)
|httpOut('TestBatch_FluxQuery')
"""
    outs = run_tickscript(script, sources={}, time_col="time",
                          flux_client=flux_client)
    rows = outs["TestBatch_FluxQuery"].orderBy("time").collect()
    got = [(r["time"].replace(tzinfo=Z).isoformat(), r["name"], r["vote"],
            r["value"]) for r in rows]
    assert got == [
        (f"{t}+00:00", "yeas", "should we orange juice", v) for t, v in canned
    ]
    assert len(calls) == 1
    assert 'from(bucket:"example-bucket")' in calls[0][0]


def test_batch_query_flux_validation(spark):
    """The reference's exact schedule-validation errors
    (batch.go:600-614)."""
    def client(s, o, oid):
        raise AssertionError("client must not be called on invalid scripts")

    with pytest.raises(TickError, match="must not set both 'every' and 'cron'"):
        run_tickscript(
            "batch|queryFlux('f').every(1s).cron('* * * * *')|httpOut('o')",
            sources={}, flux_client=client,
        )
    with pytest.raises(TickError, match="must define one of 'every' or 'cron'"):
        run_tickscript(
            "batch|queryFlux('f')|httpOut('o')", sources={}, flux_client=client
        )
    with pytest.raises(TickError, match="no Flux client"):
        run_tickscript("batch|queryFlux('f').every(1s)|httpOut('o')", sources={})


def test_batch_query_flux_value_semantics(spark):
    """every(0s) means UNSET (batch.go:599-615): alone it errors 'must
    define one of', combined with cron it is valid; zero-arg queryFlux()
    raises a TickError, not IndexError."""
    def client(s, o, oid):
        return spark.createDataFrame(
            [("1971-01-01 00:00:00", 1.0)], "time string, value double"
        ).selectExpr("to_timestamp(time) AS time", "value")

    with pytest.raises(TickError, match="must define one of 'every' or 'cron'"):
        run_tickscript("batch|queryFlux('f').every(0s)|httpOut('o')",
                       sources={}, flux_client=client)
    outs = run_tickscript(
        "batch|queryFlux('f').every(0s).cron('* * * * *')|httpOut('o')",
        sources={}, flux_client=client,
    )
    assert outs["o"].count() == 1
    with pytest.raises(TickError, match="needs the Flux script"):
        run_tickscript("batch|queryFlux().every(1s)|httpOut('o')",
                       sources={}, flux_client=client)


def test_batch_query_flux_cron_validation(spark):
    def client(s, o, oid):
        raise AssertionError("unreachable")

    with pytest.raises(TickError, match="invalid cron expression"):
        run_tickscript("batch|queryFlux('f').cron('nonsense')|httpOut('o')",
                       sources={}, flux_client=client)

"""The one alert-handler table (kapacitor_spark.handlers.HANDLERS): TICK
chains and topic handler specs build every delivery through
handlers.build_handler, so the same kind + options + service config POST
the same bodies on both paths, and every config error raises when the
handler is built — at compile on the batch and the live TICK compiles."""

import copy
import datetime as dt
import decimal
import http.server
import json
import socketserver
import threading

import pytest
from pyspark.sql import functions as F

from kapacitor_spark.handlers import HANDLERS
from kapacitor_spark.tick import TickError, run_tickscript, run_tickscript_stream
from kapacitor_spark.topics import TopicRegistry, register_handler_spec


@pytest.fixture
def capture():
    """A local HTTP server recording (path, Authorization, JSON body)."""
    received = []

    class H(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            n = int(self.headers.get("Content-Length", 0))
            received.append((
                self.path, self.headers.get("Authorization", ""),
                json.loads(self.rfile.read(n)),
            ))
            self.send_response(200)
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = socketserver.ThreadingTCPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{srv.server_address[1]}", received
    srv.shutdown()
    srv.server_close()


@pytest.fixture
def sensu():
    """A local sensu client socket: records each JSON event written to it
    and answers ``ok``, as the reference's sensu service expects."""
    received = []

    class H(socketserver.StreamRequestHandler):
        def handle(self):
            received.append(json.loads(self.rfile.read()))
            self.wfile.write(b"ok")

    srv = socketserver.ThreadingTCPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"127.0.0.1:{srv.server_address[1]}", received
    srv.shutdown()
    srv.server_close()


@pytest.fixture(scope="module")
def cpu(spark):
    """One CRITICAL point and its OK recovery, no group tags."""
    rows = [("2024-01-01 00:00:00", 99.0), ("2024-01-01 00:00:01", 10.0)]
    df = spark.createDataFrame(rows, "time string, value double")
    return df.withColumn("time", F.to_timestamp("time"))


def _tick_and_spec_posts(cpu, received, chains, specs, services):
    """Deliver the same alert events through a TICK chain (run_tickscript)
    and through topic handler specs (register_handler_spec +
    TopicRegistry.dispatch over the chain's own alert rows); return both
    sides' sorted (path, auth, body) lists."""
    outs = run_tickscript(
        f"""
stream
    |from().measurement('cpu')
    |alert()
        .crit(lambda: "value" > 90.0)
        .id('cpu-alert')
        .message('cpu is {{{{ .Level }}}}')
{chains}
    |httpOut('a')
""",
        {"cpu": cpu}, time_col="time", alert_services=services,
    )
    tick = sorted(received, key=json.dumps)
    received.clear()
    reg = TopicRegistry()
    for kind, options in specs.items():
        register_handler_spec(
            reg,
            {"id": f"h-{kind}", "topic": "t", "kind": kind, "options": options},
            services=services,
        )
    reg.dispatch(outs["a"].withColumn("topic", F.lit("t")))
    spec = sorted(received, key=json.dumps)
    received.clear()
    return tick, spec


# Fields rendered from an event's data series. A TICK chain's events
# carry the alert row's series; a topic spec's events an empty series
# list (a spec knows no group-by or value columns).
_DATA_FIELDS = {
    "victorops": [("data",)],
    "pagerduty": [("details",)],
    "pagerduty2": [("payload", "custom_details")],
    "opsgenie": [("description",)],
    "opsgenie2": [("description",), ("details", "Kapacitor Task Name")],
    "alerta": [("rawData",)],
}
_EMPTY_SERIES = ('{"series":[]}', {"series": []}, {"result": {"series": []}})


def _split_data(posts):
    """Take the data-series fields out of (path, auth, body) posts (the
    path's first segment names the kind): the sorted posts without
    them, and the removed values."""
    rest, data = [], []
    for path, auth, body in posts:
        body = copy.deepcopy(body)
        for keys in _DATA_FIELDS.get(path.split("/")[1], []):
            d = body
            for k in keys[:-1]:
                d = d.get(k, {})
            if keys[-1] in d:
                data.append(d.pop(keys[-1]))
        rest.append((path, auth, body))
    return sorted(rest, key=json.dumps), data


def test_spec_kebab_options_match_tick_chain(cpu, capture):
    """Spec options the parent's topic path dropped — slack username/
    icon-emoji/workspace, victorops routing-key/json_data, pagerduty2
    links/client_url — reach the payload exactly as the TICK chain's
    camelCase props do, and service keys match case-insensitively."""
    url, received = capture
    services = {
        "slack": {
            "url": f"{url}/slack",
            "workspaces": {"ws2": {"url": f"{url}/slack2", "token": "tk"}},
        },
        "victorOps": {"url": f"{url}/victorops", "api_key": "ak", "json_data": True},
        "PagerDuty2": {"url": f"{url}/pagerduty2", "client_url": "http://kap"},
    }
    tick, spec = _tick_and_spec_posts(
        cpu, received,
        """        .slack()
            .workspace('ws2').channel('#ops').username('bot')
            .iconEmoji(':fire:')
        .victorOps().routingKey('rk')
        .pagerDuty2().routingKey('rk2').link('https://g/1', 'Graph')
""",
        {
            "slack": {"workspace": "ws2", "channel": "#ops",
                      "username": "bot", "icon-emoji": ":fire:"},
            "victorops": {"routing-key": "rk"},
            "pagerduty2": {"routing-key": "rk2", "links": [
                {"href": "https://g/1", "text": "Graph"}]},
        },
        services,
    )
    assert len(tick) == 6  # 3 handlers x (CRITICAL + OK recovery)
    tick_rest, tick_data = _split_data(tick)
    spec_rest, spec_data = _split_data(spec)
    assert spec_rest == tick_rest
    assert spec_data and all(v in _EMPTY_SERIES for v in spec_data)
    assert any(v not in _EMPTY_SERIES for v in tick_data)
    by_path = {p: (auth, b) for p, auth, b in spec}
    auth, slack = by_path["/slack2"]
    assert auth == "Bearer tk"
    assert (slack["username"], slack["icon_emoji"]) == ("bot", ":fire:")
    assert by_path["/victorops/ak/rk"][1]["data"] == {"series": []}  # json_data
    pd2 = by_path["/pagerduty2"][1]
    assert pd2["client_url"] == "http://kap"
    assert pd2["links"] == [{"href": "https://g/1", "text": "Graph"}]


def test_tick_spec_parity_every_http_kind(cpu, capture):
    """Every HTTP kind in the table POSTs identical (path, auth, body)
    from a TICK chain and from the equivalent kebab-case topic spec, but
    for the fields rendered from the event's data series."""
    url, received = capture
    http_kinds = {
        "slack", "victorops", "pagerduty", "pagerduty2", "opsgenie",
        "opsgenie2", "telegram", "teams", "talk", "discord", "hipchat",
        "pushover", "alerta", "servicenow", "zenoss", "bigpanda",
    }
    services = {k: {"url": f"{url}/{k}"} for k in http_kinds}
    services["victorops"]["api_key"] = "ak"
    services["opsgenie2"]["api_key"] = "gk"
    services["telegram"]["token"] = "tt"
    services["pushover"]["token"] = "pt"
    services["bigpanda"]["token"] = "bt"
    chains = f"""        .slack().channel('#ops').iconEmoji(':fire:')
        .victorOps().routingKey('rk')
        .pagerDuty().serviceKey('sk')
        .pagerDuty2().routingKey('rk2').link('https://g/1')
        .opsGenie().teams('t1').recipients('r1')
        .opsGenie2().teams('t1', 't2')
        .telegram().chatId('42').disableNotification()
        .teams().channelURL('{url}/teams2')
        .talk()
        .discord().username('dbot')
        .hipChat().room('ops').token('hk')
        .pushover().userKey('uk').URL('https://x').URLTitle('X')
        .alerta().resource('cpu').event('high').services('web')
        .serviceNow().metricName('cpu').messageKey('mk')
        .zenoss().eventClass('/App')
        .bigPanda().appKey('bk').primaryProperty('host')
"""
    specs = {
        "slack": {"channel": "#ops", "icon-emoji": ":fire:"},
        "victorops": {"routing-key": "rk"},
        "pagerduty": {"service-key": "sk"},
        "pagerduty2": {"routing-key": "rk2", "links": [{"href": "https://g/1"}]},
        "opsgenie": {"teams": ["t1"], "recipients": ["r1"]},
        "opsgenie2": {"teams": ["t1", "t2"]},
        "telegram": {"chat-id": "42", "disable-notification": True},
        "teams": {"channel-url": f"{url}/teams2"},
        "talk": {},
        "discord": {"username": "dbot"},
        "hipchat": {"room": "ops", "token": "hk"},
        "pushover": {"user-key": "uk", "url": "https://x", "url-title": "X"},
        "alerta": {"resource": "cpu", "event": "high", "services": ["web"]},
        "servicenow": {"metric-name": "cpu", "message-key": "mk"},
        "zenoss": {"event-class": "/App"},
        "bigpanda": {"app-key": "bk", "primary-property": "host"},
    }
    assert http_kinds == set(specs) and http_kinds < set(HANDLERS)
    tick, spec = _tick_and_spec_posts(
        cpu, received, chains, specs, services
    )
    # two events (the CRITICAL fire and its OK recovery) per kind
    assert len(tick) == 2 * len(http_kinds)
    assert {p.split("/")[1] for p, _a, _b in tick} == (
        http_kinds - {"teams"} | {"teams2"}
    )
    tick_rest, tick_data = _split_data(tick)
    spec_rest, spec_data = _split_data(spec)
    assert spec_rest == tick_rest
    assert all(v in _EMPTY_SERIES for v in spec_data)
    assert any(v not in _EMPTY_SERIES for v in tick_data)
    bodies = {p.split("?")[0]: b for p, _a, b in tick}
    assert bodies["/telegram/bottt/sendMessage"]["disable_notification"] is True
    assert bodies["/pushover"]["url"] == "https://x"


@pytest.mark.parametrize(
    "chain, kind, section",
    [
        (".sensu()", "sensu", {"source": "s"}),
        (".pagerDuty()", "pagerDuty", {"service_key": "k"}),
        (".opsGenie()", "opsGenie", {"api_key": "k"}),
        (".email('a@b.c')", "email", {"from": "k@b.c"}),
        (".kafka()", "kafka", {"topic": "t"}),
        (".mqtt('alerts')", "mqtt", {"qos": 1}),
        (".snmpTrap('1.3.6.1.4.1.1')", "snmpTrap", {"trap_oid": "1.2"}),
        (".email()", "email", {"send": print, "from": "k@b.c"}),
    ],
    ids=["sensu_no_addr", "pagerduty_no_url", "opsgenie_no_url",
         "email_no_send", "kafka_no_produce", "mqtt_no_publish",
         "snmptrap_no_send", "email_no_recipients"],
)
def test_handler_config_errors_raise_at_compile(
    spark, cpu, tmp_path, chain, kind, section
):
    """Every handler config error is a TickError at compile on BOTH
    compiles — the live one used to compile and then fail its query on
    the first alert."""
    src = tmp_path / "in"
    cpu.coalesce(1).write.parquet(str(src))
    script = f"""
stream
    |from().measurement('cpu')
    |alert()
        .crit(lambda: "value" > 90.0)
        {chain}
    |httpOut('a')
"""
    live = spark.readStream.schema(cpu.schema).parquet(str(src))
    with pytest.raises(TickError, match=f"\\.{chain[1:chain.index('(')]}\\(\\)"):
        run_tickscript_stream(
            script, {"cpu": live}, time_col="time",
            alert_services={kind: section},
        )
    with pytest.raises(TickError):
        run_tickscript(
            script, {"cpu": cpu}, time_col="time",
            alert_services={kind: section},
        )


@pytest.mark.parametrize("chain", [".sensu()", ".pagerDuty()", ".opsGenie()"])
def test_parsed_kinds_deliver_on_live_path(
    spark, cpu, tmp_path, capture, sensu, chain
):
    """.sensu()/.pagerDuty()/.opsGenie() had a parser but no delivery: a
    live task compiled, then died in foreachBatch on its first alert.
    Through the table they deliver, live and batch alike."""
    url, posts = capture
    addr, events = sensu
    received = events if chain == ".sensu()" else posts
    kind = chain[1:-2]
    services = {kind: {"url": f"{url}/{kind}", "addr": addr,
                       "api_key": "k", "service_key": "k"}}
    src = tmp_path / "in"
    cpu.coalesce(1).write.parquet(str(src))
    script = f"""
stream
    |from().measurement('cpu')
    |alert()
        .crit(lambda: "value" > 90.0)
        .stateChangesOnly()
        .id('cpu-alert')
        {chain}
    |httpOut('a')
"""
    souts = run_tickscript_stream(
        script, {"cpu": spark.readStream.schema(cpu.schema).parquet(str(src))},
        time_col="time", alert_services=services,
    )
    q = (
        souts["a"].writeStream.foreachBatch(souts.alert_handlers["a"])
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    live = sorted(received, key=json.dumps)
    received.clear()
    run_tickscript(script, {"cpu": cpu}, time_col="time",
                   alert_services=services)
    assert len(live) == 2 and live == sorted(received, key=json.dumps)


def test_sensu_writes_to_the_client_socket(cpu, sensu):
    """.sensu() and a sensu spec write the same JSON event to the
    section's TCP addr, as the reference's sensu service does."""
    addr, received = sensu
    services = {"sensu": {"addr": addr, "source": "kap"}}
    tick, spec = _tick_and_spec_posts(
        cpu, received,
        "        .sensu().handlers('h1', 'h2')\n",
        {"sensu": {"handlers": ["h1", "h2"]}},
        services,
    )
    assert spec == tick == sorted([
        {"name": "cpu-alert", "source": "kap", "output": "cpu is CRITICAL",
         "status": 2, "handlers": ["h1", "h2"]},
        {"name": "cpu-alert", "source": "kap", "output": "cpu is OK",
         "status": 0, "handlers": ["h1", "h2"]},
    ], key=json.dumps)


def test_spec_reads_only_its_kinds_options(spark, capture):
    """A spec sets only the options its kind has: formatter internals
    (zenoss tid/action/method, alerta timeout_s) are ignored, and the
    per-handler options (zenoss device, alerta resource) are never read
    from the service section. Its events keep an empty series list, so
    columns JSON cannot hold (Decimal, date) never reach a payload."""
    url, received = capture
    services = {
        "zenoss": {"url": f"{url}/zenoss", "device": "sec", "collector": "c"},
        "alerta": {"url": f"{url}/alerta", "resource": "sec"},
    }
    reg = TopicRegistry()
    register_handler_spec(reg, {
        "id": "z", "topic": "t", "kind": "zenoss",
        "options": {"tid": 9, "action": "X", "method": "m",
                    "component": "cpu"},
    }, services=services)
    register_handler_spec(reg, {
        "id": "a", "topic": "t", "kind": "alerta",
        "options": {"event": "high", "timeout-s": 5},
    }, services=services)
    ev = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1), "CRITICAL", "m", "t",
          decimal.Decimal("1.50"), dt.date(2024, 1, 1), "web1")],
        "ts timestamp, level string, message string, topic string, "
        "cost decimal(10,2), day date, host string",
    )
    reg.dispatch(ev)
    bodies = {p: b for p, _a, b in received}
    z = bodies["/zenoss"]
    assert (z["tid"], z["action"], z["method"]) == (1, "EventsRouter", "add_event")
    assert (z["data"][0]["device"], z["data"][0]["component"]) == ("", "cpu")
    assert z["data"][0]["collector"] == "c"
    a = bodies["/alerta/alert"]
    assert (a["resource"], a["event"], a["timeout"]) == ("", "high", 86400)
    assert a["rawData"] == {"series": []} and a["tags"] == []


def test_changed_match_needs_previous_level_column(spark, tmp_path):
    """A changed() match with no previous-level column used to never
    fire; it now raises at registration, and dispatch_events reports the
    handler as skipped."""
    from kapacitor_spark.server import TaskStoreService

    spec = {"id": "ch", "topic": "t", "kind": "log",
            "options": {"path": str(tmp_path / "ch.jsonl")},
            "match": "changed() == TRUE"}
    with pytest.raises(ValueError, match="changed"):
        register_handler_spec(TopicRegistry(), spec)
    register_handler_spec(TopicRegistry(), spec, prev_level_col="prev")

    ev = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1), "CRITICAL", "m", "t")],
        "ts timestamp, level string, message string, topic string",
    )
    service = TaskStoreService(store_dir=str(tmp_path / "store"))
    service.store.put("handlers", {
        "id": "t/ch", **{k: spec[k] for k in ("kind", "options", "match")}
    })
    skipped = service.dispatch_events(ev)
    assert [k for k, _ in skipped] == ["t/ch"] and "changed" in skipped[0][1]


def test_rest_validator_accepts_exactly_the_table_kinds(tmp_path):
    """POST /alerts/topics/<t>/handlers accepts every table kind and
    nothing else."""
    import urllib.error
    import urllib.request

    from kapacitor_spark.server import BASE_PATH, TaskStoreService

    service = TaskStoreService(store_dir=str(tmp_path / "store"))
    port = service.start()

    def post(body):
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}{BASE_PATH}/alerts/topics/t/handlers",
            data=json.dumps(body).encode(), method="POST",
            headers={"Content-Type": "application/json"},
        )
        try:
            with urllib.request.urlopen(req) as resp:
                return resp.status, json.loads(resp.read())
        except urllib.error.HTTPError as e:
            return e.code, json.loads(e.read())

    try:
        for kind in sorted(HANDLERS):
            assert post({"id": f"h-{kind}", "kind": kind})[0] == 200, kind
        for kind in ("nosuch", "victorOps", "SLACK"):
            st, err = post({"id": "x", "kind": kind})
            assert st == 400 and "unsupported handler kind" in err["error"]
    finally:
        service.stop()


def test_spec_match_is_lexed_once_not_per_row(tmp_path, monkeypatch):
    """A topic handler spec lexes its match expression once, at
    registration: its delivery filters any number of rows without
    lexing again."""
    from pyspark.sql import Row

    from kapacitor_spark import topics

    calls = []
    lex = topics._match_tokens
    monkeypatch.setattr(
        topics, "_match_tokens", lambda m: calls.append(m) or lex(m)
    )
    path = tmp_path / "m.jsonl"
    reg = TopicRegistry()
    register_handler_spec(reg, {
        "id": "m", "topic": "t", "kind": "log",
        "options": {"path": str(path)},
        "match": "level() == CRITICAL && !(name() == 'skip')",
    })
    ((_topic, deliver),) = reg._subs
    rows = [
        Row(time=dt.datetime(2024, 1, 1, 0, 0, i % 60), name="cpu",
            level="CRITICAL" if i % 2 else "OK", message="m", topic="t")
        for i in range(400)
    ]
    deliver(rows)
    deliver(rows)
    assert calls == ["level() == CRITICAL && !(name() == 'skip')"]
    assert len(path.read_text().splitlines()) == 400  # 200 per call

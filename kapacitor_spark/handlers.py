"""Alert handlers — the reference's alert-service matrix as ONE table.

Payload formatters are PURE builders over an :class:`AlertEvent`,
verified field-for-field against the reference's own integration goldens
(tests/test_alert_handlers.py ← /root/reference/integrations/
streamer_test.go TestStream_AlertSlack etc.).

:data:`HANDLERS` maps each reference lower-case kind to the builder of
its delivery; :func:`build_handler` turns "kind + options + service
config" into ``deliver(events)`` for TICK chains (``tick._build_handlers``)
and topic handler specs (``topics.register_handler_spec``) alike — the
reference's alert service builds every handler from its HandlerConfig
(services/alert/service.go). Three rules live here only: kind names
(TICK chain names map by ``.lower()``, service-section keys match
case-insensitively), option names (:func:`_option_name`; options override
the section; each entry names the options it reads) and build-time
errors (:class:`HandlerConfigError`).

TICK delivers on the driver over the COLLECTED alert events — alert
streams are tiny by construction (the filtered state-change output, not
the raw data); topic handlers deliver per partition. For firehose-scale
fan-out use ``sinks.http_post``, which posts per partition.
"""

from __future__ import annotations

import base64
import datetime as dt
import inspect
import json
import re
import socket
import urllib.request
from collections import ChainMap, defaultdict
from dataclasses import dataclass, field
from functools import partial
from typing import Any, Callable, NamedTuple

from kapacitor_spark import sinks

__all__ = [
    "AlertEvent",
    "slack_payload",
    "pagerduty_payload",
    "pagerduty2_payload",
    "opsgenie_payload",
    "servicenow_event",
    "zenoss_event",
    "bigpanda_payload",
    "opsgenie2_payload",
    "victorops_payload",
    "teams_payload",
    "telegram_payload",
    "alerta_payload",
    "sensu_payload",
    "pushover_payload",
    "hipchat_payload",
    "discord_payload",
    "talk_payload",
    "email_message",
    "snmptrap_varbinds",
    "kafka_record",
    "events_from_alert_df",
    "post_payload",
    "HANDLERS",
    "HandlerConfigError",
    "build_handler",
]

# alert.Level ints and names (reference alert/types.go)
LEVELS = ("OK", "INFO", "WARNING", "CRITICAL")


@dataclass
class AlertEvent:
    """One alert event — the reference's alert.Data
    (/root/reference/alert/types.go): rendered id + message, event time,
    level, and the triggering data window as a models.Result-shaped dict
    ``{"series": [{"name", "tags", "columns", "values"}]}``."""

    id: str
    message: str
    time: dt.datetime
    level: str = "CRITICAL"
    prev_level: str = "OK"
    duration_ns: int = 0
    details: str = ""
    task_name: str = ""
    recoverable: bool = True
    data: dict = field(default_factory=lambda: {"series": []})

    @property
    def tags(self) -> dict:
        s = self.data.get("series") or [{}]
        return dict(s[0].get("tags") or {})


def _go_json(obj: Any) -> str:
    """json.Marshal parity: integral floats render as ints (Go prints
    float64(10) as '10'), no spaces."""

    def fix(o):
        if isinstance(o, float) and o.is_integer():
            return int(o)
        if isinstance(o, dict):
            return {k: fix(v) for k, v in o.items()}
        if isinstance(o, (list, tuple)):
            return [fix(v) for v in o]
        if isinstance(o, dt.datetime):
            return _rfc3339(o)
        return o

    return json.dumps(fix(obj), separators=(",", ":"))


def _rfc3339(t: dt.datetime) -> str:
    """Go time.Time JSON encoding (RFC3339, 'Z', no sub-second zeros)."""
    base = t.strftime("%Y-%m-%dT%H:%M:%S")
    if t.microsecond:
        base += f".{t.microsecond:06d}".rstrip("0")
    return base + "Z"


def _go_time_string(t: dt.datetime) -> str:
    """Go time.Time.String(): '1971-01-01 00:00:10 +0000 UTC'."""
    return t.strftime("%Y-%m-%d %H:%M:%S") + " +0000 UTC"


def slack_payload(
    ev: AlertEvent,
    channel: str,
    username: str = "kapacitor",
    icon_emoji: str = "",
) -> dict:
    """slack/service.go preparePost: one attachment, color by level."""
    color = {"WARNING": "warning", "CRITICAL": "danger"}.get(ev.level, "good")
    return {
        "channel": channel,
        "text": "",
        "attachments": [
            {
                "fallback": ev.message,
                "color": color,
                "text": ev.message,
                "mrkdwn_in": ["text"],
            }
        ],
        "username": username,
        "icon_emoji": icon_emoji,
    }


def pagerduty2_payload(
    ev: AlertEvent,
    routing_key: str,
    client_url: str = "",
    links: list[dict] | None = None,
) -> dict:
    """pagerduty2/service.go preparePost: PD-CEF event. OK → resolve."""
    severity = {"WARNING": "warning", "CRITICAL": "critical", "INFO": "info"}.get(
        ev.level, "info"
    )
    action = "resolve" if ev.level == "OK" else "trigger"
    ts = ev.time.strftime("%Y-%m-%dT%H:%M:%S") + f".{ev.time.microsecond * 1000:09d}Z"
    out = {
        "routing_key": routing_key,
        "event_action": action,
        "dedup_key": ev.id,
        "payload": {
            "summary": ev.message,
            "source": ev.tags.get("host", "unknown"),
            "severity": severity,
            "timestamp": ts,
            "class": ev.task_name,
            "component": "",
            "group": "",
            "custom_details": {"result": ev.data},
        },
        "images": None,
        "links": [{"href": l["href"], "text": l.get("text", "")} for l in links]
        if links
        else None,
        "client": "kapacitor",
        "client_url": client_url,
    }
    return out


def opsgenie2_payload(
    ev: AlertEvent,
    teams: list[str] = (),
    recipients: list[str] = (),
    recovery_action: str = "close",
) -> tuple[str, dict]:
    """opsgenie2/service.go preparePost → (url path, payload). Non-OK
    levels create alerts (priority P5/P3/P1); OK routes to the recovery
    action endpoint with the alias."""
    alias = base64.urlsafe_b64encode(ev.id.encode()).decode()
    if ev.level == "OK":
        return f"/{alias}/{recovery_action}?identifierType=alias", {"note": ev.message}
    priority = {"INFO": "P5", "WARNING": "P3", "CRITICAL": "P1"}[ev.level]
    details = {"Monitoring Tool": "Kapacitor", "Level": ev.level}
    series = ev.data.get("series") or []
    if series:
        details.update(series[0].get("tags") or {})
        details["Kapacitor Task Name"] = series[0].get("name", "")
    responders = [{"name": t, "type": "team"} for t in teams] + [
        {"username": r, "type": "user"} for r in recipients
    ]
    out = {
        "entity": ev.id,
        "alias": alias,
        "message": ev.message,
        "note": "",
        "priority": priority,
        "description": ev.details if ev.details else _go_json(ev.data),
        "details": details,
    }
    if responders:
        out["responders"] = responders
    return "/", out


def victorops_payload(ev: AlertEvent, json_data: bool = False) -> dict:
    """victorops/service.go preparePost; OK → RECOVERY (service.go:196)."""
    return {
        "message_type": "RECOVERY" if ev.level == "OK" else ev.level,
        "entity_id": ev.id,
        "state_message": ev.message,
        "timestamp": int(ev.time.replace(tzinfo=dt.timezone.utc).timestamp()),
        "monitoring_tool": "kapacitor",
        "data": ev.data if json_data else _go_json(ev.data),
    }


_TEAMS_SUMMARY_CUTOFF = 70


def teams_payload(ev: AlertEvent, alert_topic: str = "") -> dict:
    """teams/service.go preparePost: an Office 365 MessageCard."""
    if not ev.id and not alert_topic:
        title = ev.level
        summary = f"{title}: {ev.message}"
    elif not ev.id:
        title = f"{ev.level}: [{alert_topic}]"
        summary = f"{title} - {ev.message}"
    else:
        title = f"{ev.level}: [{ev.id}]"
        summary = f"{title} - {ev.message}"
    color = {"WARNING": "FFA533", "CRITICAL": "CC4A31"}.get(ev.level, "34CC25")
    return {
        "@type": "MessageCard",
        "@context": "http://schema.org/extensions",
        "title": title,
        "text": ev.message,
        "summary": summary[:_TEAMS_SUMMARY_CUTOFF] + "...",
        "themeColor": color,
    }


def telegram_payload(
    ev: AlertEvent,
    chat_id: str,
    parse_mode: str = "",
    disable_web_page_preview: bool = False,
    disable_notification: bool = False,
) -> dict:
    """telegram/service.go preparePost (POST to /bot<token>/sendMessage)."""
    if parse_mode and parse_mode.lower() not in ("markdown", "html"):
        raise ValueError(
            f"parseMode {parse_mode} is not valid, please use 'Markdown' or 'HTML'"
        )
    out = {"chat_id": chat_id, "text": ev.message}
    if parse_mode:
        out["parse_mode"] = parse_mode
    if disable_web_page_preview:
        out["disable_web_page_preview"] = True
    if disable_notification:
        out["disable_notification"] = True
    return out


def alerta_payload(
    ev: AlertEvent,
    resource: str,
    event: str,
    environment: str = "",
    group: str = "",
    value: str = "",
    origin: str = "Kapacitor",
    service: list[str] = (),
    correlate: list[str] = (),
    attributes: dict | None = None,
    timeout_s: int = 86400,
) -> dict:
    """alerta/service.go preparePost: severity mapped from the level by
    the handler (alerta.go), message rendered 'msg @go-time'."""
    out = {
        "resource": resource,
        "event": event,
        "environment": environment,
        "severity": {
            "OK": "ok", "INFO": "informational",
            "WARNING": "warning", "CRITICAL": "critical",
        }[ev.level],
        "group": group,
        "value": value,
        "text": f"{ev.message} @{_go_time_string(ev.time)}",
        "origin": origin,
        "rawData": ev.data,
        "timeout": timeout_s,
        "tags": [f"{k}={v}" for k, v in ev.tags.items()],
    }
    if service:
        out["service"] = list(service)
    if correlate:
        out["correlate"] = list(correlate)
    if attributes:
        out["attributes"] = attributes
    return out


def sensu_payload(
    ev: AlertEvent,
    name: str,
    source: str = "Kapacitor",
    handlers: list[str] = (),
    metadata: dict | None = None,
) -> dict:
    """sensu/service.go prepareData: status 0/0/1/2 by level; metadata
    keys merge without overriding the core fields."""
    status = {"OK": 0, "INFO": 0, "WARNING": 1, "CRITICAL": 2}.get(ev.level, 3)
    out = {
        "name": name,
        "source": source,
        "output": ev.message,
        "status": status,
        "handlers": list(handlers),
    }
    for k, v in (metadata or {}).items():
        out.setdefault(k, v)
    return out


def pushover_payload(
    ev: AlertEvent,
    token: str,
    user_key: str,
    device: str = "",
    title: str = "",
    url: str = "",
    url_title: str = "",
    sound: str = "",
) -> dict:
    """pushover/service.go preparePost: priority -2/-1/0/1 by level;
    message rendered 'msg @go-time' by the handler."""
    priority = {"OK": -2, "INFO": -1, "WARNING": 0, "CRITICAL": 1}[ev.level]
    return {
        "token": token,
        "user": user_key,
        "message": f"{ev.message} @{_go_time_string(ev.time)}",
        "device": device,
        "title": title,
        "url": url,
        "url_title": url_title,
        "sound": sound,
        "priority": priority,
    }


def hipchat_payload(ev: AlertEvent) -> dict:
    """hipchat/service.go preparePost (room/token live in the URL)."""
    color = {"WARNING": "yellow", "CRITICAL": "red"}.get(ev.level, "green")
    return {
        "from": "kapacitor",
        "color": color,
        "message": ev.message,
        "notify": True,
    }


def discord_payload(
    ev: AlertEvent, username: str = "kapacitor", avatar_url: str = "",
    embed_title: str = "", timestamp: str = "",
) -> dict:
    """discord/service.go preparePost: one embed, color by level."""
    color = {"CRITICAL": 0xF95F53, "WARNING": 0xF48D38}.get(ev.level, 0x7A65F2)
    return {
        "username": username,
        "avatar_url": avatar_url,
        "embeds": [
            {
                "color": color,
                "description": ev.message,
                "title": embed_title,
                "timestamp": timestamp,
            }
        ],
    }


def talk_payload(ev: AlertEvent, author_name: str = "Kapacitor") -> dict:
    """talk/service.go preparePost."""
    return {"title": ev.id, "text": ev.message, "authorName": author_name}


def pagerduty_payload(
    ev: AlertEvent,
    service_key: str,
    client_url: str = "",
    incident_key: str = "",
) -> dict:
    """pagerduty/service.go (v1 API) preparePost: WARNING/CRITICAL →
    trigger, OK → resolve; INFO is rejected (the reference ignores it
    with an error)."""
    if ev.level == "INFO":
        raise ValueError(
            "AlertLevel 'info' is currently ignored by the PagerDuty service"
        )
    event_type = "trigger" if ev.level in ("WARNING", "CRITICAL") else "resolve"
    return {
        "service_key": service_key,
        "event_type": event_type,
        "description": ev.message,
        "incident_key": incident_key,
        "client": "kapacitor",
        "client_url": client_url,
        "details": ev.details if ev.details else _go_json(ev.data),
    }


def opsgenie_payload(
    ev: AlertEvent,
    api_key: str,
    teams: list[str] = (),
    recipients: list[str] = (),
) -> dict:
    """opsgenie/service.go (v1 API) preparePost: plain-id alias, flat
    teams/recipients lists, two-key details map."""
    out = {
        "apiKey": api_key,
        "entity": ev.id,
        "alias": ev.id,
        "message": ev.message,
        "note": "",
        "details": {"Level": ev.level, "Monitoring Tool": "Kapacitor"},
        "description": ev.details if ev.details else _go_json(ev.data),
    }
    if teams:
        out["teams"] = list(teams)
    if recipients:
        out["recipients"] = list(recipients)
    return out


def servicenow_event(
    ev: AlertEvent,
    source: str = "Kapacitor",
    node: str = "",
    type_: str = "",
    resource: str = "",
    metric_name: str = "",
    message_key: str = "",
    additional_info: dict | None = None,
) -> dict:
    """servicenow/service.go: one em/jsonv2 record — severity OK(5)/
    Warning(4)/Critical(1), message_key defaults to the alert id, empty
    optional fields are omitted (json omitempty)."""
    severity = {"OK": 5, "WARNING": 4, "CRITICAL": 1}.get(ev.level, 0)
    out = {
        "source": source,
        "severity": str(severity),
        "description": ev.message,
        "message_key": message_key or ev.id,
    }
    for k, v in (
        ("node", node), ("type", type_), ("resource", resource),
        ("metric_name", metric_name),
    ):
        if v:
            out[k] = v
    if additional_info:
        out["additional_info"] = _go_json(additional_info)
    return out


def zenoss_event(
    ev: AlertEvent,
    device: str = "",
    component: str = "",
    event_class_key: str = "",
    event_class: str = "",
    collector: str = "",
    summary: str = "",
    severity_map: dict | None = None,
    tid: int = 1,
    action: str = "EventsRouter",
    method: str = "add_event",
    message: str = "",
    extra: dict | None = None,
) -> dict:
    """zenoss/service.go: an EventsRouter add_event RPC envelope; the
    severity renders through the configurable map (default Zenoss names,
    numeric maps supported — golden TestStream_AlertZenoss_Custom),
    summary falls back to the alert message (256-char cutoff), and custom
    handlers may override action/method and attach extra data fields."""
    sev_map = severity_map or {
        "OK": "Clear", "INFO": "Info", "WARNING": "Warning",
        "CRITICAL": "Critical",
    }
    data = {
        "summary": (summary or ev.message)[:256],
        "device": device,
        "component": component,
        "severity": sev_map[ev.level],
        "evclasskey": event_class_key,
        "evclass": event_class,
    }
    if collector:
        data["collector"] = collector
    if message:
        data["message"] = message[:4096]
    for k, v in (extra or {}).items():
        data.setdefault(k, v)
    return {
        "action": action,
        "method": method,
        "data": [data],
        "type": "rpc",
        "tid": tid,
    }


def bigpanda_payload(
    ev: AlertEvent,
    app_key: str,
    primary_property: str = "",
    secondary_property: str = "",
    attributes: dict | None = None,
) -> dict:
    """bigpanda/service.go preparePost: status ok/warning/critical by
    level, task '<task>:<measurement>', unix-seconds timestamp; details
    carry the (non-JSON) alert details; extra attributes (auto-attributes
    tags/fields) merge flat into the payload."""
    status = {"OK": "ok", "INFO": "ok", "WARNING": "warning",
              "CRITICAL": "critical"}.get(ev.level, "critical")
    series = ev.data.get("series") or [{}]
    name = series[0].get("name", "")
    out: dict = {}
    if ev.message:
        out["description"] = f"{ev.message} @{_go_time_string(ev.time)}"
    if ev.details and not ev.details.startswith("{"):
        out["details"] = ev.details
    if ev.id:
        out["check"] = ev.id
    out["task"] = f"{ev.task_name}:{name}"
    out["timestamp"] = int(ev.time.replace(tzinfo=dt.timezone.utc).timestamp())
    out["status"] = status
    if primary_property:
        out["primary_property"] = primary_property
    if secondary_property:
        out["secondary_property"] = secondary_property
    out["app_key"] = app_key
    for k, v in (attributes or {}).items():
        out.setdefault(k, v)
    return out


def email_message(
    ev: AlertEvent,
    to: list[str],
    from_: str,
) -> "object":
    """smtp/service.go: the alert email — Subject is the rendered alert
    message, the HTML body is the alert's .details(), quoted-printable
    text/html (golden TestStream_AlertEmail header set). Returns an
    email.message.Message ready for smtplib.send_message."""
    from email.charset import QP, Charset
    from email.mime.text import MIMEText

    cs = Charset("utf-8")
    cs.body_encoding = QP
    msg = MIMEText("", "html")
    # drop the placeholder encoding header so set_payload's
    # quoted-printable one is THE Content-Transfer-Encoding
    del msg["Content-Transfer-Encoding"]
    msg.set_payload(ev.details or ev.message, charset=cs)
    msg.replace_header("Content-Type", "text/html; charset=UTF-8")
    msg["To"] = ", ".join(to)
    msg["From"] = from_
    msg["Subject"] = ev.message
    return msg


# snmptrap/service.go type codes (handler .data(oid, type, value))
_SNMP_TYPES = {
    "c": "Counter64",
    "i": "Integer",
    "n": "Null",
    "s": "OctetString",
    "t": "TimeTicks",
}
_SNMP_SYSUPTIME_OID = "1.3.6.1.2.1.1.3.0"
_SNMP_TRAP_OID = "1.3.6.1.6.3.1.1.4.1.0"


def snmptrap_varbinds(
    ev: AlertEvent,
    trap_oid: str,
    data: list[tuple],
    uptime_ticks: int = 1000,
) -> list[dict]:
    """snmptrap/service.go Trap(): the SNMPv2 trap varbind list — sysUpTime
    and snmpTrapOID first, then the handler's .data(oid, type, value)
    rows with the reference's one-letter type codes (golden
    TestStream_AlertSNMPTrap). Wire encoding (BER) is left to an SNMP
    library; this is the exact payload contract."""
    binds = [
        {"oid": _SNMP_SYSUPTIME_OID, "type": "TimeTicks", "value": str(uptime_ticks)},
        {"oid": _SNMP_TRAP_OID, "type": "Oid", "value": trap_oid},
    ]
    for oid, code, value in data:
        if code not in _SNMP_TYPES:
            raise ValueError(f"unknown snmp data type code {code!r}")
        binds.append({"oid": oid, "type": _SNMP_TYPES[code], "value": value})
    return binds


def render_event_template(ev: AlertEvent, tmpl: str) -> str:
    """Per-event Go text/template rendering for handler options that the
    reference executes per alert (mqtt topic templates, kafka .template(),
    snmpTrap .data() values — services/{mqtt,kafka,snmptrap}). Supports
    the field set those templates use: {{ .ID }} {{ .Name }} {{ .Level }}
    {{ .Message }} {{ .Details }} {{ .TaskName }} {{ index .Tags "k" }}.
    Strings without '{{' pass through unchanged."""
    if "{{" not in tmpl:
        return tmpl

    def sub(m):
        expr = m.group(1).strip()
        if expr == ".ID":
            return ev.id
        if expr == ".Name":
            s = ev.data.get("series") or [{}]
            return str(s[0].get("name") or "")
        if expr == ".Level":
            return ev.level
        if expr == ".Message":
            return ev.message
        if expr == ".Details":
            return ev.details
        if expr == ".TaskName":
            return ev.task_name
        tm = re.fullmatch(r'index\s+\.Tags\s+"(\w+)"', expr)
        if tm:
            return str(ev.tags.get(tm.group(1), ""))
        raise ValueError(f"unsupported event template {expr!r}")

    return re.sub(r"\{\{(.+?)\}\}", sub, tmpl)


def mqtt_record(
    ev: AlertEvent,
    topic: str,
    qos: int = 0,
    retained: bool = False,
) -> dict:
    """mqtt/service.go:136-150 + handler :252-258: publish(topic, qos,
    retained, message-bytes) where the payload is the event's rendered
    MESSAGE (not a JSON document) and the topic comes from a Go
    text/template over the event ({{ .ID }}/{{ .Name }}/{{ .Level }}/
    {{ index .Tags "k" }} — the subset the reference's own topic
    templates use). QoS 0/1/2 mirror the config enum; empty topics are
    rejected exactly like Service.Alert (:140)."""
    rendered = render_event_template(ev, topic)
    if not rendered:
        raise ValueError("missing MQTT topic")
    if qos not in (0, 1, 2):
        raise ValueError(f"invalid QoS {qos!r}")
    return {
        "topic": rendered,
        "qos": qos,
        "retained": bool(retained),
        "payload": ev.message,
    }


def kafka_record(
    ev: AlertEvent, topic: str, template_message: str | None = None
) -> dict:
    """kafka/service.go: one record per event — key is the alert ID
    (partitioning key, golden TestStream_AlertKafka), value is the
    rendered .template() or the full Go-marshaled alert.Data."""
    if template_message is not None:
        value = template_message
    else:
        value = _go_json(
            {
                "id": ev.id,
                "message": ev.message,
                "details": ev.details,
                "time": ev.time,
                "duration": ev.duration_ns,
                "level": ev.level,
                "data": ev.data,
                "recoverable": ev.recoverable,
            }
        )
    return {"topic": topic, "key": ev.id, "value": value}


# ------------------------------------------------------------------ #
# kafka partitioning (services/kafka/hash.go + config.go:104-121)
# ------------------------------------------------------------------ #
# The reference's partitionById contract (golden
# TestStream_AlertKafka_Partitioning: every record key maps to exactly
# one partition): key-hash mod numPartitions with four selectable
# algorithms kept bit-compatible with older kapacitor/kafka clients.

_MURMUR2_SEED = 0x9747B28C  # hash.go:52 (the Java client's constant)
_M32 = 0xFFFFFFFF


def _murmur2(data: bytes) -> int:
    """Kafka-compatible murmur2 (hash.go:49-91, itself the Go port of
    org.apache.kafka.common.utils.Utils#murmur2)."""
    length = len(data)
    m, r = 0x5BD1E995, 24
    h = (_MURMUR2_SEED ^ length) & _M32
    n4 = length // 4
    for i in range(n4):
        k = int.from_bytes(data[i * 4 : i * 4 + 4], "little")
        k = (k * m) & _M32
        k ^= k >> r
        k = (k * m) & _M32
        h = (h * m) & _M32
        h ^= k
    extra = length % 4
    base = length & ~3
    if extra >= 3:
        h ^= (data[base + 2] & 0xFF) << 16
    if extra >= 2:
        h ^= (data[base + 1] & 0xFF) << 8
    if extra >= 1:
        h ^= data[base] & 0xFF
        h = (h * m) & _M32
    h ^= h >> 13
    h = (h * m) & _M32
    h ^= h >> 15
    return h


def _murmur3_32(data: bytes, seed: int = 0) -> int:
    """MurmurHash3 x86 32-bit (the published algorithm sarama's
    NewCustomHashPartitioner(murmur3.New32) wraps)."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & _M32
    n4 = len(data) // 4
    for i in range(n4):
        k = int.from_bytes(data[i * 4 : i * 4 + 4], "little")
        k = (k * c1) & _M32
        k = ((k << 15) | (k >> 17)) & _M32
        k = (k * c2) & _M32
        h ^= k
        h = ((h << 13) | (h >> 19)) & _M32
        h = (h * 5 + 0xE6546B64) & _M32
    k = 0
    tail = data[n4 * 4 :]
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & _M32
        k = ((k << 15) | (k >> 17)) & _M32
        k = (k * c2) & _M32
        h ^= k
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & _M32
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & _M32
    h ^= h >> 16
    return h


def _fnv1a_32(data: bytes) -> int:
    h = 0x811C9DC5
    for b in data:
        h ^= b
        h = (h * 0x01000193) & _M32
    return h


def kafka_partition(
    key: str | bytes, num_partitions: int, algorithm: str = "crc32"
) -> int:
    """Partition a record key exactly as the reference's partitionById
    producers do (services/kafka/config.go:104-121 selects the
    constructor; hash.go implements crc32/murmur2):

    - ``crc32`` (default): ``crc32.ChecksumIEEE(key) % n`` (hash.go:118)
    - ``murmur2``: ``(murmur2(key) & 0x7fffffff) % n`` (hash.go:39)
    - ``murmur3``: sarama custom-hash rule ``int32(h) % n``, negative
      result += n
    - ``fnv-1a``: same sarama rule over FNV-1a 32

    Deterministic per key by construction — the property the golden
    TestStream_AlertKafka_Partitioning asserts (every key lands on ONE
    partition)."""
    import zlib

    if num_partitions <= 0:
        raise ValueError("number of partitions must be positive")
    data = key.encode() if isinstance(key, str) else bytes(key)
    if algorithm in ("crc32", ""):
        return (zlib.crc32(data) % num_partitions) & 0x7FFFFFFF
    if algorithm == "murmur2":
        return (_murmur2(data) & 0x7FFFFFFF) % num_partitions
    if algorithm in ("murmur3", "fnv-1a"):
        h = _murmur3_32(data) if algorithm == "murmur3" else _fnv1a_32(data)
        # sarama hashPartitioner: Go-truncated signed-int32 modulo, then
        # negate if negative
        signed = h - (1 << 32) if h >= (1 << 31) else h
        p = abs(signed) % num_partitions  # |a| % n == |a % n| for Go's %
        return p
    raise ValueError(f"invalid partition algorithm: {algorithm!r}")


def events_from_alert_df(
    df,
    time_col: str,
    dims: "list[str]" = (),
    level_col: str = "level",
    id_col: str | None = None,
    message_col: str | None = None,
    details_col: str | None = None,
    duration_col: str | None = None,
    measurement: str = "",
    task_name: str = "",
    value_cols: "list[str]" = (),
    limit: int = 10_000,
) -> list[AlertEvent]:
    """Glue from a ``Pipeline.alert(...)`` result DataFrame to
    :class:`AlertEvent` objects for the service formatters — the
    engine-side analog of the reference's AlertNode → handler fan-out
    (alert.go handleEvent). Collects up to ``limit`` rows (alert streams
    are the filtered state-change output — tiny by construction; the
    limit guards against wiring a raw data stream in by mistake)."""
    rows = df.limit(limit + 1).collect()
    if len(rows) > limit:
        raise ValueError(
            f"events_from_alert_df: more than {limit} alert events — this "
            "looks like an unfiltered data stream, not an alert stream"
        )
    event = _event_builder(
        time_col, dims, level_col, id_col, message_col, details_col,
        duration_col, measurement, task_name, value_cols,
    )
    return [event(r) for r in rows]


def _event_builder(
    time_col, dims=(), level_col="level", id_col=None, message_col=None,
    details_col=None, duration_col=None, measurement="", task_name="",
    value_cols=(), default_id=None,
) -> Callable:
    """The one Row → :class:`AlertEvent` constructor, shared by
    events_from_alert_df and the topic handlers. Without ``id_col`` the
    id is ``default_id`` or ``<measurement>:<group>``; without
    ``message_col`` the message is ``<id> is <level>``. A topic handler
    passes its spec id as ``default_id``: its events carry an empty
    series list, since a spec knows neither group-by nor value columns."""
    cols = list(value_cols)

    def event(r) -> AlertEvent:
        tags = {d: str(r[d]) for d in dims}
        t = r[time_col]
        if t.tzinfo is None:
            t = t.replace(tzinfo=dt.timezone.utc)
        group = ",".join(f"{k}={v}" for k, v in tags.items())
        if id_col:
            ev_id = str(r[id_col])
        elif default_id is not None:
            ev_id = default_id
        else:
            ev_id = f"{measurement}:{group}" if group else measurement
        series = {
            "name": measurement,
            "tags": tags,
            "columns": [time_col, *cols],
            "values": [[t, *[r[c] for c in cols]]],
        }
        return AlertEvent(
            id=ev_id,
            message=(
                str(r[message_col]) if message_col
                else f"{ev_id} is {r[level_col]}"
            ),
            time=t,
            level=str(r[level_col]),
            details=str(r[details_col]) if details_col else "",
            duration_ns=int(r[duration_col]) if duration_col else 0,
            task_name=task_name,
            data={"series": [] if default_id is not None else [series]},
        )

    return event


def post_payload(
    url: str,
    payload: dict,
    headers: dict | None = None,
    timeout: float = 10.0,
    tolerant: bool = False,
) -> None:
    """Generic JSON POST used by every handler — same log-and-continue
    contract as sinks.http_post when ``tolerant``."""
    try:
        req = urllib.request.Request(
            url,
            data=_go_json(payload).encode(),
            headers={"Content-Type": "application/json", **(headers or {})},
            method="POST",
        )
        urllib.request.urlopen(req, timeout=timeout).read()
    except Exception as e:  # noqa: BLE001
        if not tolerant:
            raise
        import sys

        print(f"alert handler error for {url}: {e}", file=sys.stderr)


# ------------------------------------------------------------------ #
# the handler table: kind + options + service config → delivery
# ------------------------------------------------------------------ #


class HandlerConfigError(ValueError):
    """A handler that cannot be built: an unknown kind, a missing service
    setting or option, a missing transport callable, an email with no
    recipients. Raised when the handler is BUILT, never mid-delivery."""


class _Handler(NamedTuple):
    """A built handler. ``deliver`` takes a list of AlertEvents — or, for
    the alert node's own sinks (``rows``: log/post/tcp/exec), the event
    Rows themselves, which those handlers write out whole."""

    deliver: Callable
    rows: bool


_ROW_KINDS = ("log", "post", "tcp", "exec")


def _option_name(name: str) -> str:
    """The one option-name rule: TICK camelCase props (``routingKey``,
    ``URLTitle``) and the reference's kebab-case spec options
    (``routing-key``) → this repo's snake_case config keys."""
    s = re.sub(r"(?<=[a-z0-9])(?=[A-Z])", "_", name)
    s = re.sub(r"(?<=[A-Z])(?=[A-Z][a-z])", "_", s)
    return s.replace("-", "_").lower()


def build_handler(
    kind: str, options: dict | None = None, services: dict | None = None
) -> _Handler:
    """Build the delivery of one handler from the table: ``kind`` is a
    :data:`HANDLERS` key, ``options`` its handler options (any spelling
    :func:`_option_name` maps), ``services`` the per-kind service sections
    (``{"slack": {"url": ...}}``, keys matched case-insensitively).
    Options override the section. Every config error raises
    :class:`HandlerConfigError` here."""
    if kind not in HANDLERS:
        raise HandlerConfigError(
            f"unsupported handler kind {kind!r} "
            f"(supported: {', '.join(sorted(HANDLERS))})"
        )
    section = next(
        (v for k, v in (services or {}).items() if k.lower() == kind), None
    )
    opts = {_option_name(k): v for k, v in (options or {}).items()}
    try:
        deliver = HANDLERS[kind](ChainMap(opts, dict(section or {})))
    except HandlerConfigError as e:
        raise HandlerConfigError(f"{kind}: {e}") from None
    return _Handler(deliver, kind in _ROW_KINDS)


def _need(o: ChainMap, key: str):
    """``o[key]``, or HandlerConfigError naming what is missing."""
    v = o.get(key)
    if v is None or v == "":
        raise HandlerConfigError(
            f"no {key!r} in its options or service section"
            + ("" if o.maps[-1] else " (no service section is configured)")
        )
    return v


def _aslist(x) -> list:
    return [x] if isinstance(x, str) else list(x or [])


def _fields(fmt: Callable, o: ChainMap, shared: str = "", own: str = "") -> dict:
    """The args of formatter ``fmt`` that a kind reads from its config:
    each name in ``shared`` from the handler's options, else its service
    section; each name in ``own`` from the handler's options only. A
    list-valued (tuple-defaulted) arg takes a single value too; an unset
    required one is ''."""
    params = inspect.signature(fmt).parameters
    out = {}
    for names, src in ((shared, o), (own, o.maps[0])):
        for k in names.split():
            p = params[k]
            if k in src:
                out[k] = _aslist(src[k]) if isinstance(p.default, tuple) else src[k]
            elif p.default is p.empty:
                out[k] = ""
    return out


def _poster(url: str, payload: Callable, headers: dict | None = None):
    """deliver(events): POST ``payload(ev)`` to ``url`` per event; a
    ``(path, body)`` payload POSTs ``body`` to ``url`` + ``path``."""

    def deliver(events) -> None:
        for ev in events:
            body = payload(ev)
            path, body = body if isinstance(body, tuple) else ("", body)
            post_payload(url.rstrip("/") + path if path else url, body, headers)

    return deliver


def _http(
    fmt: Callable, path: str = "", headers=None, shared: str = "",
    own: str = "", **per_event,
):
    """The builder of a plain HTTP kind: POST ``fmt(ev, **kw)`` per event
    to the url + ``path`` (formatted over the config) with ``headers(o)``;
    ``kw``: the _fields ``shared``/``own`` name, the builder's ``fixed``
    args and the ``per_event`` args, each computed from the event."""

    def build(o, **fixed):
        url = _need(o, "url")
        if path:
            url = url.rstrip("/") + path.format_map(defaultdict(str, o))
        kw = {**_fields(fmt, o, shared, own), **fixed}
        return _poster(
            url,
            lambda ev: fmt(ev, **kw, **{k: f(ev) for k, f in per_event.items()}),
            headers(o) if headers else None,
        )

    return build


def _auth(scheme: str, key: str) -> Callable:
    """headers(o): ``Authorization: <scheme> <o[key]>``, none if unset."""
    return lambda o: {"Authorization": f"{scheme} {o[key]}"} if o.get(key) else {}


_bearer = _auth("Bearer", "token")


def _slack(o):
    ws = o.maps[0].get("workspace")
    if ws:
        section = o.maps[-1]
        o = ChainMap(o.maps[0], (section.get("workspaces") or {}).get(ws, section))
    return _http(
        slack_payload, headers=_bearer, shared="channel username icon_emoji"
    )(o)


def _pagerduty(o):
    post = _http(
        pagerduty_payload, shared="service_key", incident_key=lambda ev: ev.id
    )(o)
    # the v1 API has no INFO: the reference logs and skips those events
    return lambda events: post([ev for ev in events if ev.level != "INFO"])


def _pagerduty2(o):
    # .link(href[, text]) calls append (pipeline/alert.go:1166); a spec
    # carries the same entries as links: [{href, text}]
    links = [
        {"href": l[0], "text": l[1] if len(l) > 1 else ""}
        for l in o.maps[0].get("link", [])
    ] + list(o.maps[0].get("links") or [])
    return _http(pagerduty2_payload, shared="routing_key client_url")(
        o, links=links or None
    )


def _teams(o):
    # .channelURL() / channel-url overrides the configured webhook
    return _poster(o.maps[0].get("channel_url") or _need(o, "url"), teams_payload)


def _pushover(o):
    # the section's url is the API endpoint; a handler's .URL() / url
    # option is the supplementary link shown with the message
    kw = _fields(
        pushover_payload, o, "token user_key", "device title url url_title sound"
    )
    return _poster(
        _need(ChainMap(o.maps[-1]), "url"), partial(pushover_payload, **kw)
    )


def _alerta(o):
    # the handler option is .services(); the formatter's arg is service
    return _http(
        alerta_payload, "/alert",
        lambda c: {"Authorization": (
            f"{c.get('token_prefix', 'Bearer')} {c.get('token', '')}"
        )},
        shared="environment origin", own="resource event group value",
    )(o, service=_aslist(o.maps[0].get("services")))


def _sensu(o):
    # the reference writes each event as JSON to the sensu client's TCP
    # socket and takes anything but "ok" back as an error
    # (services/sensu/service.go Alert)
    addr = _need(o, "addr")
    host, _, port = addr.rpartition(":")
    if not port.isdigit():
        raise HandlerConfigError(f"addr {addr!r} is not host:port")
    kw = _fields(sensu_payload, o, shared="source handlers")

    def deliver(events) -> None:
        for ev in events:
            body = _go_json(sensu_payload(ev, ev.id, **kw)) + "\n"
            with socket.create_connection((host, int(port)), timeout=10) as s:
                s.sendall(body.encode())
                s.shutdown(socket.SHUT_WR)
                resp = b"".join(iter(lambda: s.recv(4096), b""))
            if resp != b"ok":
                raise OSError(f"sensu socket error: {resp.decode(errors='replace')}")

    return deliver


def _servicenow(o):
    kw = _fields(
        servicenow_event, o, "source", "node resource metric_name message_key"
    )
    kw["type_"] = o.maps[0].get("type", "")
    return _poster(
        _need(o, "url"),
        lambda ev: {"records": [servicenow_event(ev, **kw)]},
    )


def _email(o):
    # SMTP is external: the section's send(email.message.Message) is the
    # smtplib send_message seam. Recipients: the handler's .email(to...)
    # and .to() entries, else the section's to
    send = _need(o, "send")
    to = (
        _aslist(o.maps[0].get("_arg")) + _aslist(o.maps[0].get("to"))
        or _aslist(o.maps[-1].get("to"))
    )
    if not to:
        raise HandlerConfigError("no recipients")

    def deliver(events) -> None:
        for ev in events:
            send(email_message(ev, to=to, from_=o.get("from", "")))

    return deliver


def _kafka(o):
    # the broker is external: produce(topic, partition, key, value)
    produce = _need(o, "produce")
    topic = o.maps[0].get("kafka_topic") or o.get("topic", "")
    nparts = int(o.get("partitions", 1))
    algo = o.get("partition_algorithm", "crc32")
    by_id = o.get("partition_by_id", True) and nparts > 1
    tmpl = o.maps[0].get("template")

    def deliver(events) -> None:
        for ev in events:
            # the reference executes .template() per alert
            # (services/kafka/service.go:407-410)
            rec = kafka_record(
                ev, topic,
                None if tmpl is None else render_event_template(ev, tmpl),
            )
            part = kafka_partition(rec["key"], nparts, algo) if by_id else 0
            produce(rec["topic"], part, rec["key"], rec["value"])

    return deliver


def _snmptrap(o):
    # BER wire encoding is external: send(varbinds)
    send = _need(o, "send")
    trap_oid = o.get("_arg") or o.get("trap_oid", "")
    data = o.maps[0].get("data") or []

    def deliver(events) -> None:
        for ev in events:
            # .data() VALUES are templates executed per event
            # (services/snmptrap/service.go:220-246)
            rows = [
                (oid, typ, render_event_template(ev, str(value)))
                for oid, typ, value in data
            ]
            send(snmptrap_varbinds(ev, trap_oid, rows))

    return deliver


def _mqtt(o):
    # the broker is external: publish(topic, qos, retained, payload), the
    # reference's mqtttest client seam
    publish = _need(o, "publish")
    topic = o.get("_arg") or o.get("topic", "")
    qos, retained = int(o.get("qos", 0)), bool(o.get("retained", False))

    def deliver(events) -> None:
        for ev in events:
            rec = mqtt_record(ev, topic, qos=qos, retained=retained)
            publish(rec["topic"], rec["qos"], rec["retained"], rec["payload"])

    return deliver


#: The one alert-handler table: the reference's lower-case kind → the
#: builder of its delivery from the merged options/section. Its keys are
#: the only list of handler kinds.
HANDLERS: dict[str, Callable] = {
    "slack": _slack,
    "victorops": _http(
        victorops_payload, "/{api_key}/{routing_key}", shared="json_data"
    ),
    "pagerduty": _pagerduty,
    "pagerduty2": _pagerduty2,
    "opsgenie": _http(opsgenie_payload, shared="api_key teams recipients"),
    "opsgenie2": _http(
        opsgenie2_payload, headers=_auth("GenieKey", "api_key"),
        shared="teams recipients",
    ),
    "telegram": _http(
        telegram_payload, "/bot{token}/sendMessage",
        shared="chat_id parse_mode disable_web_page_preview disable_notification",
    ),
    "teams": _teams,
    "talk": _http(talk_payload, shared="author_name"),
    "discord": _http(discord_payload, shared="username"),
    "hipchat": _http(hipchat_payload, "/{room}/notification?auth_token={token}"),
    "pushover": _pushover,
    "alerta": _alerta,
    "sensu": _sensu,
    "servicenow": _servicenow,
    "zenoss": _http(
        zenoss_event, shared="event_class collector", own="device component"
    ),
    "bigpanda": _http(
        bigpanda_payload, headers=_bearer,
        shared="app_key primary_property secondary_property",
    ),
    "email": _email,
    "kafka": _kafka,
    "snmptrap": _snmptrap,
    "mqtt": _mqtt,
    **{k: partial(sinks.alert_sink, k) for k in _ROW_KINDS},
}

"""Sinks and alert handlers (SURVEY §2.1, §2.10).

The reference's side-effecting nodes: ``httpPost`` (POST each batch as JSON,
/root/reference/http_post.go), ``influxDBOut`` (buffered line-protocol
writes, /root/reference/influxdb_out.go), alert handlers log/post/exec/tcp
(/root/reference/alert.go:61-1290; service handlers under
/root/reference/services/).

Spark mapping: a sink is a function applied per partition (batch) or via
``foreachBatch`` (streaming). Handlers are plain Python callables invoked
with row dicts — the heavy lifting (level computation, dedup of
transitions) already happened declaratively upstream, so handler volume is
small (alert events, not raw points).

Scale note: handlers run ON EXECUTORS via foreachPartition — the driver
never collects the stream. Events per partition are posted in one
connection (the reference likewise buffers, influxdb_out.go buffer+flush).
"""

from __future__ import annotations

import json
import subprocess
import urllib.error
import urllib.request
from typing import Callable, Iterable, Sequence

from pyspark.sql import DataFrame, Row


def _rows_json(rows: Iterable[Row]) -> list[dict]:
    out = []
    for r in rows:
        d = r.asDict(recursive=True)
        for k, v in d.items():
            if hasattr(v, "isoformat"):
                d[k] = v.isoformat()
        out.append(d)
    return out


def http_post(
    url: str,
    headers: dict | None = None,
    timeout: float = 10.0,
    body_template: str | None = None,
    tolerant: bool = False,
    capture_response: bool = False,
) -> Callable:
    """httpPost(url) handler (/root/reference/http_post.go): POSTs each
    partition's rows as one JSON array. Returns a foreachPartition fn.

    ``url`` may be a TEMPLATE over row fields/tags using Python
    ``{name}`` placeholders (the reference's .captureResponse URL
    template, http_post.go rowTemplate / golden
    TestStream_HttpPost_URL_Template posts to /cpu/?host=...&cpu=...):
    rows are then grouped by rendered URL and each distinct URL gets one
    request per partition.

    ``body_template``: the endpoint row-template body
    (/root/reference/services/httppost/service.go RowTemplate; golden
    TestStream_HttpPostEndpoint_CustomBody) — each row renders through the
    ``{name}``-style template and the partition's rendered rows POST as
    newline-joined text/plain (the reference posts one request per point;
    batching divergence as with the JSON path, content identical).

    ``tolerant=True``: a failed request (timeout, non-2xx — golden
    TestStream_HttpPostEndpoint_StatusCodes / TestBatch_HttpPost_Timeout)
    is logged to stderr and the stream CONTINUES, matching the
    reference's diag.Error-and-keep-going handler contract — a flaky
    alert endpoint must never kill the pipeline.

    ``capture_response=True`` (.captureResponse(),
    /root/reference/http_post.go:152-161): a non-2xx response's BODY
    becomes the error message; without it the reference's exact hint
    string is used."""

    def _send_one(target: str, payload: list) -> None:
        # body rendering sits INSIDE the tolerant guard: a row missing a
        # template key (KeyError) or a template with stray braces
        # (ValueError) is a per-request failure too — the log-and-continue
        # handler contract covers render errors, not just transport ones
        try:
            if body_template is not None:
                body = "\n".join(body_template.format(**d) for d in payload).encode()
                ctype = "text/plain; charset=utf-8"
            else:
                body = json.dumps(payload).encode()
                ctype = "application/json"
            req = urllib.request.Request(
                target,
                data=body,
                headers={"Content-Type": ctype, **(headers or {})},
                method="POST",
            )
            urllib.request.urlopen(req, timeout=timeout).read()
        except urllib.error.HTTPError as he:
            if capture_response:
                try:
                    detail = he.read().decode(errors="replace")
                except Exception:  # noqa: BLE001
                    detail = str(he)
            else:
                detail = (
                    "unknown error, use .captureResponse() to capture the "
                    "HTTP response"
                )
            err = RuntimeError(
                f"POST returned non 2xx status code (code={he.code}): {detail}"
            )
            if not tolerant:
                raise err from None
            import sys as _sys

            print(f"http_post error for {target}: {err}", file=_sys.stderr)
        except Exception as e:  # noqa: BLE001 — handler contract: log, go on
            if not tolerant:
                raise
            import sys as _sys

            print(f"http_post error for {target}: {e}", file=_sys.stderr)

    templated = "{" in url

    def send(rows: Iterable[Row]) -> None:
        payload = _rows_json(rows)
        if not payload:
            return
        if not templated:
            _send_one(url, payload)
            return
        by_url: dict[str, list] = {}
        for d in payload:
            by_url.setdefault(url.format(**d), []).append(d)
        for target, part in by_url.items():
            _send_one(target, part)

    return send


def log_handler(path: str) -> Callable:
    """alert().log(path) (/root/reference/alert.go log handler): append one
    JSON line per event.

    The reference's log handler is single-process-serialized; here every
    partition appends to the SAME file concurrently, so the append must be
    atomic: one ``os.write`` of the whole payload on an ``O_APPEND`` fd
    (the kernel serializes the offset+write), under ``flock`` so a payload
    the kernel splits across write syscalls (very large batches, NFS) can
    never interleave mid-line with another partition's."""
    import fcntl
    import os

    def write(rows: Iterable[Row]) -> None:
        lines = [json.dumps(d, default=str) for d in _rows_json(rows)]
        if not lines:
            return
        payload = ("\n".join(lines) + "\n").encode()
        fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            try:
                view = memoryview(payload)
                while view:
                    view = view[os.write(fd, view):]
            finally:
                fcntl.flock(fd, fcntl.LOCK_UN)
        finally:
            os.close(fd)

    return write


def exec_handler(cmd: Sequence[str]) -> Callable:
    """alert().exec(cmd...) (/root/reference/alert.go exec handler): spawn
    the command once per partition, JSON events on stdin."""

    def run(rows: Iterable[Row]) -> None:
        payload = _rows_json(rows)
        if not payload:
            return
        subprocess.run(
            list(cmd), input=json.dumps(payload).encode(), check=True, timeout=60
        )

    return run


def tcp_handler(host: str, port: int) -> Callable:
    """alert().tcp(addr) (/root/reference/alert.go tcp handler): newline-
    delimited JSON events over one socket per partition."""

    def send(rows: Iterable[Row]) -> None:
        import socket

        payload = _rows_json(rows)
        if not payload:
            return
        with socket.create_connection((host, port), timeout=10) as s:
            for d in payload:
                s.sendall((json.dumps(d, default=str) + "\n").encode())

    return send


def alert_sink(kind: str, options) -> Callable:
    """The log/post/tcp/exec alert handlers built from the reference's
    topic-spec options: ``log {path}``, ``post {url[, tolerant]}``,
    ``tcp {address}``, ``exec {prog[, args]}`` (``prog`` may also be the
    whole argv list). TICK's ``.log(path)``/``.post(url)``/``.tcp(addr)``/
    ``.exec(prog, args...)`` map their positional args onto the same
    names. A missing option raises handlers.HandlerConfigError."""
    from kapacitor_spark.handlers import HandlerConfigError

    need = {"log": "path", "post": "url", "tcp": "address", "exec": "prog"}[kind]
    target = options.get(need)
    if not target:
        raise HandlerConfigError(f"no {need!r} option")
    if kind == "log":
        return log_handler(target)
    if kind == "post":
        return http_post(target, tolerant=bool(options.get("tolerant")))
    if kind == "tcp":
        host, _, port = target.rpartition(":")
        return tcp_handler(host, int(port))
    if isinstance(target, (list, tuple)):
        return exec_handler(list(target))
    return exec_handler([target, *options.get("args", [])])


def apply_sink(df: DataFrame, handler: Callable) -> None:
    """Run a handler over a batch DataFrame (executor-side)."""
    df.foreachPartition(handler)


def stream_sink(stream_df: DataFrame, handler: Callable, checkpoint: str):
    """Run a handler over a streaming DataFrame via foreachBatch."""

    def per_batch(batch_df: DataFrame, _epoch: int) -> None:
        batch_df.foreachPartition(handler)

    return (
        stream_df.writeStream.foreachBatch(per_batch)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def influxdb_out(
    df: DataFrame,
    path: str,
    measurement: str,
    tag_cols: Sequence[str] = (),
    time_col: str = "time",
    mode: str = "append",
) -> None:
    """influxDBOut() analog (/root/reference/influxdb_out.go): render rows
    as line protocol and write to a text target (a directory here; a real
    deployment points this at a Kafka topic or HTTP gateway)."""
    from kapacitor_spark.sources.line_protocol import to_line_protocol

    to_line_protocol(df, measurement, tag_cols=tag_cols, time_col=time_col).write.mode(
        mode
    ).text(path)


def influxdb_http_out(
    df: DataFrame,
    url: str,
    database: str,
    measurement: str,
    retention_policy: str = "",
    precision: str = "ns",
    tag_cols: Sequence[str] = (),
    tags: dict | None = None,
    time_col: str = "time",
    timeout: float = 10.0,
    create: bool = False,
) -> None:
    """influxDBOut() HTTP write path (/root/reference/influxdb_out.go
    WriteTo: POST line protocol to the InfluxDB ``/write`` endpoint with
    db/rp/precision query params; the reference's .database()/.
    retentionPolicy()/.precision()/.tag() options map to the kwargs here).
    ``create=True`` first issues ``CREATE DATABASE "db" [WITH NAME "rp"]``
    against ``/query`` (influxdb_out.go:64-86 CreateFlag), once from the
    driver.

    Rendering is pure JVM (to_line_protocol); each partition flushes one
    buffered POST from the executor — the reference likewise buffers and
    flushes (influxdb_out.go buffer+flushInterval), and the driver never
    collects the points."""
    from urllib.parse import urlencode

    from pyspark.sql import functions as F

    from kapacitor_spark.sources.line_protocol import to_line_protocol

    static = tags or {}
    d = df
    for k, v in static.items():
        d = d.withColumn(k, F.lit(v))
    lines = to_line_protocol(
        d,
        measurement,
        tag_cols=[*tag_cols, *static],
        field_cols=[c for c in df.columns if c not in tag_cols and c != time_col],
        time_col=time_col,
        precision=precision,
    )
    if create:
        stmt = f'CREATE DATABASE "{database}"'
        if retention_policy:
            stmt += f' WITH NAME "{retention_policy}"'
        qreq = urllib.request.Request(
            f"{url.rstrip('/')}/query?{urlencode({'q': stmt})}", method="POST"
        )
        urllib.request.urlopen(qreq, timeout=timeout).read()

    params = urlencode(
        {"db": database, "rp": retention_policy, "precision": precision}
    )
    target = f"{url.rstrip('/')}/write?{params}"

    def send(rows: Iterable[Row]) -> None:
        body = "\n".join(r["line"] for r in rows)
        if not body:
            return
        req = urllib.request.Request(
            target, data=body.encode(), method="POST",
            headers={"Content-Type": "text/plain; charset=utf-8"},
        )
        urllib.request.urlopen(req, timeout=timeout).read()

    lines.foreachPartition(send)

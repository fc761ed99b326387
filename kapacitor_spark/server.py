"""Task-store + replay REST layer: the reference's HTTP CRUD surface
(`/root/reference/services/task_store/service.go:102-170` routes,
`:680` create, `:854` update, `:1399` delete, `:513` list;
`/root/reference/services/replay/service.go` recordings/replays) over
this repo's engine functions — `tick.run_tickscript` (execution),
`tick.task_dot` (DOT render), `tick.template_vars` (template vars),
`sources.line_protocol.replay_srpl/replay_brpl` (replays).

Scope matches the reference's own split: the HTTP layer is CONTROL
PLANE — validate, store, list, render — and delegates execution to an
injected ``executor`` (a callable receiving the task dict) exactly as
the reference's task_store delegates to its TaskMaster. The default
executor validates the script graph without needing Spark or sources;
callers wire ``run_tickscript`` with their sources to make ``enabled``
tasks actually run (tests do — see tests/test_task_api.py).

Persistence: one JSON file per collection under ``store_dir`` (the
reference persists to BoltDB — same durability contract, stdlib-only).
The HTTP server is stdlib ``ThreadingHTTPServer``; the store takes a
lock around mutations.
"""

from __future__ import annotations

import json
import re
import threading
import uuid
from datetime import datetime, timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from pathlib import Path
from urllib.parse import parse_qs, urlsplit

__all__ = ["TaskStore", "TaskStoreService", "BASE_PATH"]

BASE_PATH = "/kapacitor/v1"
_VALID_ID = re.compile(r"^[-._\w]+$")  # service.go validTaskID


def _now() -> str:
    return datetime.now(timezone.utc).isoformat()


class TaskStore:
    """Dir-persisted task/template store (the reference's task_store DAO,
    service.go dao.go). Thread-safe; every mutation rewrites the JSON
    file — collections are control-plane small."""

    def __init__(self, store_dir: str | None = None):
        self._lock = threading.RLock()
        self._dir = Path(store_dir) if store_dir else None
        self.tasks: dict[str, dict] = {}
        self.templates: dict[str, dict] = {}
        # topic-handler specs, keyed "topic/handler_id" (the reference's
        # alert-service handler DAO, services/alert/dao.go)
        self.handlers: dict[str, dict] = {}
        if self._dir is not None:
            self._dir.mkdir(parents=True, exist_ok=True)
            for name in ("tasks", "templates", "handlers"):
                f = self._dir / f"{name}.json"
                if f.exists():
                    setattr(self, name, json.loads(f.read_text()))

    def _flush(self) -> None:
        # Crash-atomic persistence (the reference's task store is BoltDB,
        # /root/reference/services/task_store — atomic commits): write a
        # temp file then os.replace, so a crash mid-write can never
        # truncate the task/template definitions to a partial file.
        if self._dir is None:
            return
        from kapacitor_spark._io import atomic_write_json

        for name in ("tasks", "templates", "handlers"):
            atomic_write_json(
                str(self._dir / f"{name}.json"), getattr(self, name),
                indent=1, sort_keys=True,
            )

    def put(self, kind: str, obj: dict) -> None:
        with self._lock:
            getattr(self, kind)[obj["id"]] = obj
            self._flush()

    def put_new(self, kind: str, obj: dict) -> bool:
        """Atomic exists-check + insert — the create path must not race a
        concurrent POST with the same id (ThreadingHTTPServer handles each
        request on its own thread; check-then-put outside the lock let the
        second creator silently overwrite the first)."""
        with self._lock:
            if obj["id"] in getattr(self, kind):
                return False
            getattr(self, kind)[obj["id"]] = obj
            self._flush()
            return True

    def delete(self, kind: str, oid: str) -> bool:
        with self._lock:
            existed = getattr(self, kind).pop(oid, None) is not None
            self._flush()
            return existed

    def list(self, kind: str, pattern: str = "", offset: int = 0, limit: int = 100):
        with self._lock:
            items = sorted(getattr(self, kind).values(), key=lambda t: t["id"])
        if pattern:
            # the reference matches with path.Match (glob), not regex
            import fnmatch

            items = [t for t in items if fnmatch.fnmatch(t["id"], pattern)]
        return items[offset : offset + limit]


def _default_executor(task: dict) -> None:
    """Validate the script graph without executing (no Spark needed):
    parse + DOT render catches syntax/wiring errors, mirroring the
    reference's define-time validation."""
    from kapacitor_spark.tick import task_dot

    task_dot(task["script"], name=task["id"])


class TaskStoreService:
    """HTTP facade. ``executor(task_dict)`` runs on enable (and on
    create with status=enabled); ``replayer(task_dict, recording_path,
    kind)`` runs POST /replays. Both are seams: the engine-side default
    validates only, tests inject run_tickscript/replay_srpl."""

    def __init__(
        self,
        store_dir: str | None = None,
        executor=None,
        replayer=None,
        recordings_dir: str | None = None,
        topic_store=None,
    ):
        self.store = TaskStore(store_dir)
        self.executor = executor or _default_executor
        self.replayer = replayer
        self.recordings_dir = Path(recordings_dir) if recordings_dir else None
        self.replays: dict[str, dict] = {}
        # alert API state source (/root/reference/services/alert/api.go):
        # pass the engine's TopicStore so GET /alerts/topics reflects
        # live alert state; default = in-memory store (handlers CRUD and
        # implicit topic creation still work)
        if topic_store is None:
            from kapacitor_spark.topics import TopicStore

            topic_store = TopicStore(None)
        self.topic_store = topic_store
        self._httpd: ThreadingHTTPServer | None = None

    # ---------------------------------------------------------------- #
    # request-level logic (framework-free so it unit-tests without a
    # socket; the handler below adapts HTTP to these)
    # ---------------------------------------------------------------- #

    def handle(self, method: str, path: str, query: dict, body: dict):
        """Returns (status, json-payload | None)."""
        if not path.startswith(BASE_PATH):
            return 404, {"error": f"unknown path {path}"}
        rel = path[len(BASE_PATH) :]
        if rel == "/ping":
            return 204, None
        for kind, anchor in (("tasks", "/tasks"), ("templates", "/templates")):
            if rel == anchor:
                if method == "GET":
                    return self._list(kind, query)
                if method == "POST":
                    return self._create(kind, body)
            elif rel.startswith(anchor + "/"):
                oid = rel[len(anchor) + 1 :]
                if method == "GET":
                    return self._get(kind, oid, query)
                if method == "PATCH":
                    return self._update(kind, oid, body)
                if method == "DELETE":
                    return (
                        (204, None)
                        if self.store.delete(kind, oid)
                        else (404, {"error": f"no {kind[:-1]} exists"})
                    )
        if rel == "/alerts/topics" and method == "GET":
            return self._list_topics(query)
        if rel.startswith("/alerts/topics/"):
            return self._alerts_route(
                method, rel[len("/alerts/topics/"):], query, body
            )
        if rel == "/recordings" and method == "GET":
            return self._list_recordings()
        if rel == "/replays" and method == "POST":
            return self._replay(body)
        if rel == "/replays" and method == "GET":
            return 200, {"replays": sorted(self.replays.values(), key=lambda r: r["id"])}
        return 404, {"error": f"unknown route {method} {rel}"}

    # -- tasks / templates -------------------------------------------- #

    def _public(self, kind: str, obj: dict, dot: bool = True) -> dict:
        out = {k: v for k, v in obj.items()}
        out["link"] = {"rel": "self", "href": f"{BASE_PATH}/{kind}/{obj['id']}"}
        if dot:
            from kapacitor_spark.tick import task_dot

            try:
                out["dot"] = task_dot(obj["script"], name=obj["id"])
            except Exception:  # noqa: BLE001 — dot is advisory on read
                out["dot"] = ""
        return out

    def _validate_script(self, script: str) -> str | None:
        from kapacitor_spark.tick import TickError, task_dot

        try:
            task_dot(script, name="validate")
        except TickError as e:
            return str(e)
        except Exception as e:  # parser surfaces some errors as ValueError
            return str(e)
        return None

    def _create(self, kind: str, body: dict):
        oid = body.get("id") or str(uuid.uuid4())
        if not _VALID_ID.match(oid):
            return 400, {
                "error": "task ID must contain only letters, numbers,"
                f" '-', '.' and '_'. {oid!r}"
            }
        script = body.get("script", "")
        vars_in = dict(body.get("vars") or {})
        template_id = body.get("template-id", "")
        if kind == "tasks" and template_id:
            tpl = self.store.templates.get(template_id)
            if tpl is None:
                return 400, {"error": f"unknown template {template_id}"}
            script = tpl["script"]
            ttype = tpl["type"]
        else:
            ttype = body.get("type", "stream")
            if not script:
                return 400, {"error": "must provide TICKscript"}
        err = self._validate_script(script)
        if err is not None:
            return 400, {"error": f"invalid TICKscript: {err}"}
        from kapacitor_spark.tick import template_vars as tvars

        obj = {
            "id": oid,
            "type": ttype,
            "script": script,
            "vars": vars_in,
            "dbrps": body.get("dbrps", []),
            "status": body.get("status", "disabled"),
            "template-id": template_id,
            "executing": False,
            "error": "",
            "created": _now(),
            "modified": _now(),
        }
        if kind == "templates":
            obj["vars"] = tvars(script)
            obj.pop("template-id")
            obj.pop("status")
        if not self.store.put_new(kind, obj):
            return 400, {"error": f"{kind[:-1]} {oid} already exists"}
        if kind == "tasks" and obj["status"] == "enabled":
            self._execute(obj)
        return 200, self._public(kind, obj)

    def _get(self, kind: str, oid: str, query: dict):
        obj = getattr(self.store, kind).get(oid)
        if obj is None:
            return 404, {"error": f"no {kind[:-1]} exists"}
        return 200, self._public(kind, obj)

    def _list(self, kind: str, query: dict):
        pattern = (query.get("pattern") or [""])[0]
        try:
            offset = int((query.get("offset") or ["0"])[0])
            limit = int((query.get("limit") or ["100"])[0])
        except ValueError:
            return 400, {"error": "offset and limit must be integers"}
        items = self.store.list(kind, pattern, offset, limit)
        return 200, {
            kind: [self._public(kind, t, dot=False) for t in items],
            "link": {"rel": "self", "href": f"{BASE_PATH}/{kind}"},
        }

    def _update(self, kind: str, oid: str, body: dict):
        obj = getattr(self.store, kind).get(oid)
        if obj is None:
            return 404, {"error": f"no {kind[:-1]} exists"}
        # mutate a COPY and publish via put(): in-place edits on the stored
        # dict would let concurrent readers observe a half-applied update
        obj = dict(obj)
        if "script" in body:
            err = self._validate_script(body["script"])
            if err is not None:
                return 400, {"error": f"invalid TICKscript: {err}"}
            obj["script"] = body["script"]
            if kind == "templates":
                from kapacitor_spark.tick import template_vars as tvars

                obj["vars"] = tvars(obj["script"])
        for k in ("vars", "dbrps", "type"):
            if k in body and kind == "tasks":
                obj[k] = body[k]
        was = obj.get("status")
        if "status" in body and kind == "tasks":
            obj["status"] = body["status"]
            if obj["status"] != "enabled":
                # the reference reports executing=false once disabled
                obj["executing"] = False
        obj["modified"] = _now()
        self.store.put(kind, obj)
        if kind == "tasks" and obj["status"] == "enabled" and was != "enabled":
            self._execute(obj)
        return 200, self._public(kind, obj)

    def _execute(self, task: dict) -> None:
        task["executing"] = True
        task["error"] = ""
        task["last-enabled"] = _now()
        try:
            self.executor(task)
        except Exception as e:  # noqa: BLE001 — surfaced via the API, like the reference
            task["executing"] = False
            task["error"] = str(e)
        finally:
            self.store.put("tasks", task)

    # -- alert topics + handlers (services/alert/api.go) --------------- #
    #
    # JSON shapes mirror the reference client types
    # (/root/reference/client/v1/client.go:2136-2300 — Topics/Topic/
    # TopicEvents/TopicEvent/EventState/TopicHandlers/TopicHandler):
    # link + id + level + collected + events-link/handlers-link for
    # topics; state {message, details, time, duration, level} per event
    # (duration in ns, time as the stored string); handlers carry
    # {id, kind, options, match}. Topics exist if they have collected
    # state OR registered handlers (the reference creates implicitly).

    _LEVELS = ("OK", "INFO", "WARNING", "CRITICAL")

    def _topic_ids(self):
        ids = set(self.topic_store.topics())
        ids.update(k.split("/", 1)[0] for k in self.store.handlers)
        return sorted(ids)

    def _topic_obj(self, tid: str) -> dict:
        base = f"{BASE_PATH}/alerts/topics/{tid}"
        _, level = self.topic_store.topic_state(tid)
        return {
            "link": {"rel": "self", "href": base},
            "id": tid,
            "level": level,
            "collected": self.topic_store.collected(tid),
            "events-link": {"rel": "events", "href": f"{base}/events"},
            "handlers-link": {"rel": "handlers", "href": f"{base}/handlers"},
        }

    def _list_topics(self, query: dict):
        import fnmatch

        pattern = query.get("pattern", [""])[0]
        floor, err = self._min_level(query)
        if err:
            return 400, {"error": err}
        topics = [
            self._topic_obj(t)
            for t in self._topic_ids()
            if (not pattern or fnmatch.fnmatch(t, pattern))
        ]
        topics = [
            t for t in topics if self._LEVELS.index(t["level"]) >= floor
        ]
        return 200, {
            "link": {"rel": "self", "href": f"{BASE_PATH}/alerts/topics"},
            "topics": topics,
        }

    def _event_obj(self, tid: str, eid: str, st: dict) -> dict:
        return {
            "link": {
                "rel": "self",
                "href": f"{BASE_PATH}/alerts/topics/{tid}/events/{eid}",
            },
            "id": eid,
            "state": {
                "message": st.get("message", ""),
                "details": st.get("details", ""),
                "time": st.get("time", ""),
                "duration": int(st.get("duration_ns", 0)),
                "level": st["level"],
            },
        }

    def _handler_obj(self, tid: str, spec: dict) -> dict:
        return {
            "link": {
                "rel": "self",
                "href": (
                    f"{BASE_PATH}/alerts/topics/{tid}/handlers/{spec['id']}"
                ),
            },
            "id": spec["id"],
            "kind": spec["kind"],
            "options": spec.get("options", {}),
            "match": spec.get("match", ""),
        }

    def _min_level(self, query: dict):
        """(floor_index, error) — a malformed min-level is the CLIENT's
        mistake and must 400, not 500."""
        v = query.get("min-level", ["OK"])[0]
        if v not in self._LEVELS:
            return None, f"invalid min-level {v!r} (one of {list(self._LEVELS)})"
        return self._LEVELS.index(v), None

    def _validate_handler(self, body: dict):
        from kapacitor_spark.handlers import HANDLERS

        hid = body.get("id", "")
        if not hid or not _VALID_ID.match(hid):
            return f"invalid handler id {hid!r}"
        kind = body.get("kind")
        if not kind:
            return "handler kind required"
        if kind not in HANDLERS:
            return (
                f"unsupported handler kind {kind!r} "
                f"(supported: {sorted(HANDLERS)})"
            )
        match = body.get("match", "")
        if match:
            from kapacitor_spark.topics import _match_tokens

            try:
                _match_tokens(match)
            except ValueError as e:
                return f"invalid match expression: {e}"
        return None

    def _alerts_route(self, method, rest, query, body):
        parts = rest.split("/")
        tid = parts[0]
        if not tid:
            return 404, {"error": "missing topic id"}
        sub = parts[1] if len(parts) > 1 else None
        exists = (
            tid in self.topic_store.topics()
            or any(k.startswith(tid + "/") for k in self.store.handlers)
        )
        if sub is None:
            if method == "GET":
                if not exists:
                    return 404, {"error": f"unknown topic {tid!r}"}
                return 200, self._topic_obj(tid)
            if method == "DELETE":
                self.topic_store.delete_topic(tid)
                for k in [
                    k for k in self.store.handlers
                    if k.startswith(tid + "/")
                ]:
                    self.store.delete("handlers", k)
                return 204, None
        elif sub == "events":
            if not exists:
                return 404, {"error": f"unknown topic {tid!r}"}
            _, err = self._min_level(query)
            if err:
                return 400, {"error": err}
            states = self.topic_store.event_states(
                tid, query.get("min-level", ["OK"])[0]
            )
            if len(parts) == 2 and method == "GET":
                return 200, {
                    "link": {
                        "rel": "self",
                        "href": f"{BASE_PATH}/alerts/topics/{tid}/events",
                    },
                    "topic": tid,
                    "events": [
                        self._event_obj(tid, eid, st)
                        for eid, st in sorted(states.items())
                    ],
                }
            if len(parts) == 3 and method == "GET":
                eid = parts[2]
                if eid not in states:
                    return 404, {"error": f"unknown event {eid!r}"}
                return 200, self._event_obj(tid, eid, states[eid])
        elif sub == "handlers":
            if len(parts) == 2:
                if method == "GET":
                    hs = [
                        self._handler_obj(
                            tid, {**v, "id": k.split("/", 1)[1]}
                        )
                        for k, v in sorted(self.store.handlers.items())
                        if k.startswith(tid + "/")
                    ]
                    return 200, {
                        "link": {
                            "rel": "self",
                            "href": (
                                f"{BASE_PATH}/alerts/topics/{tid}/handlers"
                            ),
                        },
                        "topic": tid,
                        "handlers": hs,
                    }
                if method == "POST":
                    err = self._validate_handler(body)
                    if err:
                        return 400, {"error": err}
                    spec = {
                        "id": body["id"],
                        "kind": body["kind"],
                        "options": body.get("options", {}),
                        "match": body.get("match", ""),
                    }
                    key = f"{tid}/{spec['id']}"
                    if not self.store.put_new(
                        "handlers", {**spec, "id": key}
                    ):
                        return 400, {
                            "error": f"handler {spec['id']!r} exists"
                        }
                    return 200, self._handler_obj(tid, spec)
            elif len(parts) == 3:
                hid = parts[2]
                key = f"{tid}/{hid}"
                cur = self.store.handlers.get(key)
                if method == "GET":
                    if cur is None:
                        return 404, {"error": f"unknown handler {hid!r}"}
                    return 200, self._handler_obj(
                        tid, {**cur, "id": hid}
                    )
                if method == "PUT":
                    err = self._validate_handler({**body, "id": hid})
                    if err:
                        return 400, {"error": err}
                    spec = {
                        "id": key,
                        "kind": body["kind"],
                        "options": body.get("options", {}),
                        "match": body.get("match", ""),
                    }
                    self.store.put("handlers", spec)
                    return 200, self._handler_obj(
                        tid, {**spec, "id": hid}
                    )
                if method == "PATCH":
                    if cur is None:
                        return 404, {"error": f"unknown handler {hid!r}"}
                    import copy

                    # deep copy: nested /options/* patch ops must not
                    # touch the live store entry until validation passes
                    spec = copy.deepcopy(cur)
                    ops = body if isinstance(body, list) else [body]
                    for op in ops:
                        if "op" in op:
                            # RFC-6902 subset, the reference's JSONPatch
                            field = op.get("path", "").lstrip("/")
                            fld = field.split("/")[0]
                            if op["op"] in ("replace", "add"):
                                if "/" in field:  # nested option path
                                    root, leaf = field.split("/", 1)
                                    spec.setdefault(root, {})[leaf] = (
                                        op.get("value")
                                    )
                                else:
                                    spec[fld] = op.get("value")
                            elif op["op"] == "remove":
                                if "/" in field:
                                    root, leaf = field.split("/", 1)
                                    spec.get(root, {}).pop(leaf, None)
                                else:
                                    spec.pop(fld, None)
                        else:  # plain merge
                            spec.update(op)
                    spec["id"] = key
                    err = self._validate_handler({**spec, "id": hid})
                    if err:
                        return 400, {"error": err}
                    self.store.put("handlers", spec)
                    return 200, self._handler_obj(
                        tid, {**spec, "id": hid}
                    )
                if method == "DELETE":
                    self.store.delete("handlers", key)
                    return 204, None
        return 404, {"error": f"unknown route {method} alerts/{rest}"}

    def dispatch_events(
        self,
        events_df,
        services=None,
        topic_col="topic",
        prev_level_col=None,
    ):
        """The DATA PLANE behind the handler CRUD API: route an
        alert-event DataFrame through every REST-registered handler spec
        (the reference's Topics.Collect → handler fan-out,
        alert/topics.go). Specs build their delivery callables through
        topics.register_handler_spec — the same path the YAML
        define-topic-handler contract uses, over the one handler table
        that TICK chains build through too (handlers.HANDLERS: every
        kind is accepted) — so match conditions, kind formatters and
        service configs behave identically whether a handler arrived via
        REST, via code or as a TICK chain. Handlers run per partition
        where the registry dispatches them, and so does any transport
        callable injected through ``services``.

        ``prev_level_col``: the previous-level column match ``changed()``
        conditions read; defaults to ``"prev"`` when the DataFrame has
        one. A spec whose callable cannot be built (missing option,
        unconfigured service, a ``changed()`` match with no previous-level
        column) is SKIPPED with a warning instead of aborting delivery
        for every other handler — a page must not be dropped because an
        unrelated handler is misconfigured.

        Returns the list of (handler_key, error) pairs skipped."""
        from kapacitor_spark.topics import (
            TopicRegistry,
            register_handler_spec,
        )

        if prev_level_col is None and "prev" in events_df.columns:
            prev_level_col = "prev"
        reg = TopicRegistry()
        skipped = []
        for key, spec in sorted(self.store.handlers.items()):
            tid, hid = key.split("/", 1)
            try:
                register_handler_spec(
                    reg, {**spec, "id": hid, "topic": tid},
                    services=services, prev_level_col=prev_level_col,
                )
            except Exception as e:
                import logging

                logging.getLogger(__name__).warning(
                    "skipping alert handler %s: %s", key, e
                )
                skipped.append((key, str(e)))
        reg.dispatch(events_df, topic_col=topic_col)
        return skipped

    # -- recordings / replays ----------------------------------------- #

    def _list_recordings(self):
        recs = []
        if self.recordings_dir is not None and self.recordings_dir.exists():
            for p in sorted(self.recordings_dir.iterdir()):
                if p.suffix in (".srpl", ".brpl"):
                    recs.append(
                        {
                            "id": p.stem,
                            "type": "stream" if p.suffix == ".srpl" else "batch",
                            "size": p.stat().st_size,
                            "link": {
                                "rel": "self",
                                "href": f"{BASE_PATH}/recordings/{p.stem}",
                            },
                        }
                    )
        return 200, {"recordings": recs}

    def _replay(self, body: dict):
        task = self.store.tasks.get(body.get("task", ""))
        if task is None:
            return 404, {"error": "no task exists"}
        rid = body.get("recording", "")
        # a recording id is a bare stem, never a path: reject separators
        # and dot-runs outright, then double-check the resolved file still
        # lives inside recordings_dir (path-traversal guard)
        if not _VALID_ID.match(rid) or ".." in rid:
            return 400, {"error": f"invalid recording id {rid!r}"}
        rec = None
        if self.recordings_dir is not None:
            base = self.recordings_dir.resolve()
            for suffix in (".srpl", ".brpl"):
                p = self.recordings_dir / f"{rid}{suffix}"
                if p.exists() and p.resolve().parent == base:
                    rec = p
                    break
        if rec is None:
            return 404, {"error": f"no recording exists: {rid!r}"}
        if self.replayer is None:
            return 501, {"error": "no replayer configured on this server"}
        replay_id = body.get("id") or str(uuid.uuid4())
        entry = {
            "id": replay_id,
            "task": task["id"],
            "recording": rid,
            "status": "running",
            "error": "",
            "link": {"rel": "self", "href": f"{BASE_PATH}/replays/{replay_id}"},
        }
        self.replays[replay_id] = entry
        try:
            self.replayer(task, str(rec), rec.suffix[1:])
            entry["status"] = "finished"
        except Exception as e:  # noqa: BLE001
            entry["status"] = "failed"
            entry["error"] = str(e)
        return 201, entry

    # ---------------------------------------------------------------- #
    # socket plumbing
    # ---------------------------------------------------------------- #

    def start(self, port: int = 0) -> int:
        svc = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet test output
                pass

            def _serve(self, method):
                parts = urlsplit(self.path)
                body = {}
                n = int(self.headers.get("Content-Length") or 0)
                if n:
                    try:
                        body = json.loads(self.rfile.read(n))
                    except ValueError:
                        self._send(400, {"error": "invalid JSON"})
                        return
                try:
                    status, payload = svc.handle(
                        method, parts.path, parse_qs(parts.query), body
                    )
                except Exception as e:  # noqa: BLE001
                    status, payload = 500, {"error": str(e)}
                self._send(status, payload)

            def _send(self, status, payload):
                self.send_response(status)
                data = b""
                if payload is not None:
                    data = json.dumps(payload).encode()
                    self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def do_GET(self):
                self._serve("GET")

            def do_POST(self):
                self._serve("POST")

            def do_PATCH(self):
                self._serve("PATCH")

            def do_PUT(self):
                self._serve("PUT")

            def do_DELETE(self):
                self._serve("DELETE")

        self._httpd = ThreadingHTTPServer(("127.0.0.1", port), Handler)
        threading.Thread(target=self._httpd.serve_forever, daemon=True).start()
        return self._httpd.server_address[1]

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None

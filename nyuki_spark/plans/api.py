"""Template/instance CRUD surface (the reference's REST API, Spark-side).

The reference exposes an aiohttp API: template CRUD with validation before
publish, versioned template storage, manual instance start, instance/metric
queries (SURVEY.md §3.1 entry point 2; upstream module paths unverifiable —
empty mount). This module mirrors that surface on the engine's terms:

- :class:`TemplateStore` — versioned spec storage. ``put`` VALIDATES by
  compiling (:func:`nyuki_spark.plans.spec.compile_pipeline` — compilation
  is validation, so a stored template cannot fail structurally at run
  time), auto-increments the version, and keeps every published version
  for diff/rollback, like the reference's draft/publish history. Optional
  ``persist_dir`` writes each version as a JSON document — the artifact
  users store in git instead of MongoDB.
- :meth:`TemplateStore.start_instance` — the "manual instance start"
  endpoint: applies a stored template to a DataFrame and records an
  instance row (id, template, version, state), queryable like the
  reference's instance collection.
- :func:`serve` — a thin stdlib HTTP layer (ThreadingHTTPServer) over the
  store for wire-level parity: GET/PUT/DELETE templates, POST instances,
  GET instances. The handler only translates HTTP <-> store calls; all
  behavior lives in the store so embedding applications can skip HTTP
  entirely.
- **Live progress push** (r7 next-round #5 — the reference's websocket
  parity surface): pass a :class:`~nyuki_spark.streaming.listener.
  MetricsListener` to :func:`serve` and clients can follow a running
  pipeline's per-batch progress (rows, state rows/bytes, watermark
  evictions) two ways: ``GET /progress/stream`` is Server-Sent Events
  (``text/event-stream``; ``since``/``max``/``timeout_s`` query params),
  ``GET /progress?since=N`` is the long-poll snapshot returning the
  events after the N-th ever recorded, plus the next cursor. Both read
  the listener's in-memory progress buffer — metadata-sized (one entry
  per micro-batch, the last ``PROGRESS_CAP`` kept), never rows; a client
  that fell behind the cap resumes at the oldest kept event.

Scale note: templates are metadata (bytes); instances are Spark jobs. The
HTTP layer never holds rows — an instance run materialises through the
normal DataFrame API, so the 100 TB path is identical with or without this
surface.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from dataclasses import dataclass, field
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import DataFrame

from nyuki_spark.plans.spec import PipelineSpec, SpecError, compile_pipeline

__all__ = ["TemplateStore", "TemplateNotFound", "serve"]


class TemplateNotFound(KeyError):
    """No such template (or version)."""


@dataclass
class Instance:
    """One started run of a template over a DataFrame."""

    id: str
    template: str
    version: int
    state: str = "running"
    rows: int | None = None

    def as_dict(self) -> dict:
        return {
            "id": self.id,
            "template": self.template,
            "version": self.version,
            "state": self.state,
            "rows": self.rows,
        }


@dataclass
class TemplateStore:
    """Versioned, validated pipeline-template storage + instance registry."""

    persist_dir: str | None = None
    _templates: dict[str, list[dict]] = field(default_factory=dict)
    _compiled: dict[tuple[str, int], PipelineSpec] = field(default_factory=dict)
    _instances: dict[str, Instance] = field(default_factory=dict)
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    # -- template CRUD -------------------------------------------------------

    def put(self, name: str, spec: dict | str) -> dict:
        """Validate-and-publish; returns {name, version, n_steps}.

        Raises :class:`~nyuki_spark.plans.spec.SpecError` on an invalid
        spec — nothing is stored, matching the reference's
        validate-before-publish contract.
        """
        if isinstance(spec, str):
            spec = json.loads(spec)
        compiled = compile_pipeline({**spec, "name": name})  # raises SpecError
        with self._lock:
            versions = self._templates.setdefault(name, [])
            version = len(versions) + 1
            doc = {**spec, "name": name, "version": version}
            versions.append(doc)
            self._compiled[(name, version)] = compiled
            if self.persist_dir:
                os.makedirs(self.persist_dir, exist_ok=True)
                path = os.path.join(self.persist_dir, f"{name}.v{version}.json")
                with open(path, "w", encoding="utf-8") as f:
                    json.dump(doc, f, indent=2, sort_keys=True)
        return {"name": name, "version": version, "n_steps": compiled.n_steps}

    def get(self, name: str, version: int | None = None) -> dict:
        versions = self._templates.get(name)
        if not versions:
            raise TemplateNotFound(name)
        if version is None:
            return versions[-1]
        if not 1 <= version <= len(versions):
            raise TemplateNotFound(f"{name} v{version}")
        return versions[version - 1]

    def list(self) -> list[dict]:
        return [
            {"name": n, "latest_version": len(v), "n_steps": len(v[-1]["steps"])}
            for n, v in sorted(self._templates.items())
        ]

    def delete(self, name: str) -> None:
        with self._lock:
            if name not in self._templates:
                raise TemplateNotFound(name)
            for v in range(1, len(self._templates[name]) + 1):
                self._compiled.pop((name, v), None)
            del self._templates[name]

    # -- instances -----------------------------------------------------------

    def start_instance(
        self, name: str, df: DataFrame, version: int | None = None
    ) -> tuple[Instance, DataFrame]:
        """Apply template ``name`` to ``df``; returns (instance record, result).

        The result DataFrame is lazy — the instance's ``state`` flips to
        ``done`` (with a row count) only via :meth:`finish_instance`, the
        way the reference marks instances on terminal task completion.
        """
        doc = self.get(name, version)
        compiled = self._compiled[(name, doc["version"])]
        inst = Instance(id=uuid.uuid4().hex[:12], template=name, version=doc["version"])
        with self._lock:
            self._instances[inst.id] = inst
        return inst, compiled(df)

    def finish_instance(self, instance_id: str, rows: int) -> Instance:
        with self._lock:
            inst = self._instances[instance_id]
            inst.state, inst.rows = "done", rows
        return inst

    def instances(self) -> list[dict]:
        return [i.as_dict() for i in self._instances.values()]


def _progress_event(p) -> dict:
    """JSON shape of one MetricsListener progress entry."""
    return {
        "query_id": p.query_id,
        "name": p.name,
        "batch_id": p.batch_id,
        "num_input_rows": p.num_input_rows,
        "batch_duration_ms": p.batch_duration_ms,
        "state_rows": p.state_rows,
        "state_memory_bytes": p.state_memory_bytes,
        "state_rows_dropped_by_watermark": p.state_rows_dropped_by_watermark,
        "state_by_operator": [list(t) for t in (p.state_by_operator or [])],
        "phase_ms": dict(p.phase_ms or {}),
    }


def serve(
    store: TemplateStore,
    spark=None,
    tables: dict[str, DataFrame] | None = None,
    port: int = 0,
    listener=None,
):
    """Start the HTTP layer on ``port`` (0 = ephemeral); returns the server.

    ``tables`` names the DataFrames instances may run against (POST body
    picks one) — the HTTP surface never invents data access.
    ``listener`` (a MetricsListener already attached to the session)
    enables the ``/progress`` endpoints. Call ``server.shutdown()`` to
    stop; ``server.server_address[1]`` is the bound port.
    """
    tables = tables or {}

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet test runs
            pass

        def _send(self, code: int, payload: dict | list) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _body(self) -> dict:
            n = int(self.headers.get("Content-Length", 0))
            return json.loads(self.rfile.read(n) or b"{}")

        def _sse_stream(self, qs: dict) -> None:
            """Server-Sent Events: push each new progress entry as a
            ``data:`` frame as the listener records it. The loop ends at
            ``max`` events (tests), ``timeout_s`` idle budget, or client
            disconnect — whichever comes first. Polling the in-memory
            list at 50 ms is the stdlib-only equivalent of a condition
            push; entries are one-per-micro-batch, so the wire traffic
            is metadata-sized. Params are validated by the caller
            (do_GET) before the 200 header goes out."""
            since = qs["_since"]
            max_events = qs["_max"]
            timeout_s = qs["_timeout_s"]
            self.send_response(200)
            self.send_header("Content-Type", "text/event-stream")
            self.send_header("Cache-Control", "no-cache")
            self.end_headers()
            idx, sent = since, 0
            deadline = time.monotonic() + timeout_s
            try:
                while time.monotonic() < deadline:
                    idx, batch = listener.events_since(idx)
                    for p in batch:
                        payload = json.dumps(_progress_event(p))
                        idx += 1
                        self.wfile.write(
                            f"id: {idx}\ndata: {payload}\n\n".encode()
                        )
                        self.wfile.flush()
                        sent += 1
                        if max_events and sent >= max_events:
                            return
                    time.sleep(0.05)
            except (BrokenPipeError, ConnectionResetError):
                return  # client hung up — normal SSE lifecycle

        def do_GET(self):
            parts = [p for p in self.path.split("?")[0].split("/") if p]
            qs = dict(
                kv.split("=", 1)
                for kv in self.path.partition("?")[2].split("&")
                if "=" in kv
            )
            if parts and parts[0] == "progress":
                if listener is None:
                    return self._send(404, {"error": "no listener attached"})
                # Validate query params BEFORE any body/header is written:
                # a bare int()/float() raising inside the handler thread
                # would abort the connection with no JSON error (r8
                # advice). `since` is an absolute cursor (entries ever
                # recorded); events_since clamps it to the kept range.
                try:
                    since = max(0, int(qs.get("since", 0)))
                    max_events = max(0, int(qs.get("max", 0)))
                    # Cap as well as floor: float() accepts 'inf'/'nan',
                    # and an infinite deadline would pin the SSE handler
                    # thread (and its socket) until the client hangs up.
                    # NaN must be caught BEFORE the clamp: max(0.0, nan)
                    # returns 0.0 (NaN compares False), so a post-clamp
                    # check never fires and nan would silently become a
                    # 0-second timeout instead of the 30 s default.
                    timeout_s = float(qs.get("timeout_s", 30.0))
                    if timeout_s != timeout_s:  # NaN
                        timeout_s = 30.0
                    timeout_s = min(max(0.0, timeout_s), 600.0)
                except ValueError:
                    return self._send(
                        400,
                        {"error": "since/max must be int, timeout_s float"},
                    )
                if parts == ["progress", "stream"]:
                    qs["_since"] = since
                    qs["_max"] = max_events
                    qs["_timeout_s"] = timeout_s
                    return self._sse_stream(qs)
                if parts == ["progress"]:
                    since, batch = listener.events_since(since)
                    events = [_progress_event(p) for p in batch]
                    return self._send(
                        200, {"since": since, "next": since + len(events), "events": events}
                    )
            try:
                if parts == ["templates"]:
                    return self._send(200, store.list())
                if len(parts) == 2 and parts[0] == "templates":
                    q = self.path.partition("?")[2]
                    version = None
                    for kv in q.split("&"):
                        if kv.startswith("version="):
                            version = int(kv.split("=", 1)[1])
                    return self._send(200, store.get(parts[1], version))
                if parts == ["instances"]:
                    return self._send(200, store.instances())
            except TemplateNotFound as e:
                return self._send(404, {"error": str(e)})
            self._send(404, {"error": "no such route"})

        def do_PUT(self):
            parts = [p for p in self.path.split("/") if p]
            if len(parts) == 2 and parts[0] == "templates":
                try:
                    return self._send(200, store.put(parts[1], self._body()))
                except SpecError as e:
                    # Jsonschema-shaped listing: every violation with its
                    # JSON-pointer path, not just the first (the
                    # reference's validate-before-publish error contract).
                    return self._send(400, {"error": str(e), "errors": e.errors})
            self._send(404, {"error": "no such route"})

        def do_DELETE(self):
            parts = [p for p in self.path.split("/") if p]
            if len(parts) == 2 and parts[0] == "templates":
                try:
                    store.delete(parts[1])
                    return self._send(200, {"deleted": parts[1]})
                except TemplateNotFound as e:
                    return self._send(404, {"error": str(e)})
            self._send(404, {"error": "no such route"})

        def do_POST(self):
            parts = [p for p in self.path.split("/") if p]
            if len(parts) == 3 and parts[0] == "templates" and parts[2] == "instances":
                body = self._body()
                table = body.get("table")
                if table not in tables:
                    return self._send(400, {"error": f"unknown table {table!r}"})
                try:
                    inst, out = store.start_instance(
                        parts[1], tables[table], body.get("version")
                    )
                except TemplateNotFound as e:
                    return self._send(404, {"error": str(e)})
                limit = int(body.get("limit", 20))
                rows = [r.asDict(recursive=True) for r in out.limit(limit).collect()]
                store.finish_instance(inst.id, len(rows))
                return self._send(
                    200, {"instance": store._instances[inst.id].as_dict(), "rows": rows}
                )
            self._send(404, {"error": "no such route"})

    server = ThreadingHTTPServer(("127.0.0.1", port), Handler)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server

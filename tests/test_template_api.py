"""Template/instance CRUD surface (plans/api.py) vs the reference semantics:
validate-before-publish, version history, instance start + state, and the
HTTP wire layer (stdlib server, ephemeral port).
"""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from nyuki_spark.catalog import load_table
from nyuki_spark.plans.api import TemplateNotFound, TemplateStore, serve
from nyuki_spark.plans.spec import SpecError

SPEC_V1 = {
    "steps": [
        {"op": "filter", "condition": "event_type == 'purchase'"},
        {"op": "set", "field": "route", "value": "billing"},
        {"op": "select", "fields": ["event_id", "route"]},
    ]
}
SPEC_V2 = {
    "steps": [
        {"op": "filter", "condition": "event_type == 'click'"},
        {"op": "select", "fields": ["event_id"]},
    ]
}


def test_store_validates_before_publish(spark, tmp_path):
    # ``spark`` is required: compiling a spec builds Column trees, which
    # need an active SparkContext even before any data is touched.
    store = TemplateStore(persist_dir=str(tmp_path))
    with pytest.raises(SpecError):
        store.put("bad", {"steps": [{"op": "warp-drive"}]})
    assert store.list() == []  # nothing stored on failed validation


def test_store_versions_and_crud(spark, tmp_path):
    store = TemplateStore(persist_dir=str(tmp_path))
    assert store.put("route", SPEC_V1)["version"] == 1
    assert store.put("route", SPEC_V2)["version"] == 2
    assert store.get("route")["version"] == 2  # latest wins
    assert store.get("route", version=1)["steps"] == SPEC_V1["steps"]
    assert store.list() == [{"name": "route", "latest_version": 2, "n_steps": 2}]
    assert (tmp_path / "route.v1.json").exists()
    assert (tmp_path / "route.v2.json").exists()
    store.delete("route")
    with pytest.raises(TemplateNotFound):
        store.get("route")


def test_instance_start_runs_pipeline(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    store = TemplateStore()
    store.put("route", SPEC_V1)
    inst, out = store.start_instance("route", events)
    assert inst.state == "running"
    rows = out.collect()
    want = events.where("event_type = 'purchase'").count()
    assert len(rows) == want
    assert set(out.columns) == {"event_id", "route"}
    done = store.finish_instance(inst.id, len(rows))
    assert done.state == "done" and done.rows == want
    assert store.instances()[0]["state"] == "done"


def test_http_round_trip(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    store = TemplateStore()
    server = serve(store, tables={"events": events})
    port = server.server_address[1]
    base = f"http://127.0.0.1:{port}"

    def call(method, path, body=None):
        req = urllib.request.Request(
            base + path,
            method=method,
            data=json.dumps(body).encode() if body is not None else None,
        )
        try:
            with urllib.request.urlopen(req) as r:
                return r.status, json.loads(r.read())
        except urllib.error.HTTPError as e:
            return e.code, json.loads(e.read())

    try:
        code, out = call("PUT", "/templates/route", SPEC_V1)
        assert (code, out["version"]) == (200, 1)
        code, out = call("PUT", "/templates/route", SPEC_V2)
        assert out["version"] == 2
        code, bad = call("PUT", "/templates/bad", {"steps": [{"op": "nope"}]})
        assert code == 400 and "not one of" in bad["error"]
        assert bad["errors"][0]["path"] == "/steps/0/op"

        code, lst = call("GET", "/templates")
        assert [t["name"] for t in lst] == ["route"]
        code, v1 = call("GET", "/templates/route?version=1")
        assert v1["version"] == 1

        code, run = call("POST", "/templates/route/instances", {"table": "events", "version": 1, "limit": 5})
        assert code == 200 and run["instance"]["state"] == "done"
        assert all(r["route"] == "billing" for r in run["rows"])
        code, insts = call("GET", "/instances")
        assert len(insts) == 1

        code, _ = call("DELETE", "/templates/route")
        assert code == 200
        code, _ = call("GET", "/templates/route")
        assert code == 404
    finally:
        server.shutdown()


def test_validation_error_listing_shape(spark):
    """The reference validates templates by jsonschema before publish and
    returns a structured listing. Three malformed specs -> every
    violation reported with {path, message, validator}, nothing stored."""
    from nyuki_spark.plans.spec import validate_spec

    store = TemplateStore()

    # 1. unknown op + missing required key, in one document: BOTH reported.
    bad1 = {
        "steps": [
            {"op": "warp-drive"},
            {"op": "extract", "field": "k"},  # missing 'pattern'
        ]
    }
    errs = validate_spec(bad1)
    assert {e["validator"] for e in errs} == {"enum", "required"}
    assert {e["path"] for e in errs} == {"/steps/0/op", "/steps/1"}
    with pytest.raises(SpecError) as ei:
        store.put("bad1", bad1)
    assert ei.value.errors == errs
    assert store.list() == []  # nothing published

    # 2. type violations with JSON-pointer paths into nested structures.
    bad2 = {
        "steps": [
            {"op": "select", "fields": ["ok", 7]},
            {"op": "lookup", "field": "k", "table": {"a": 1}, "icase": "yes"},
        ]
    }
    errs = validate_spec(bad2)
    by_path = {e["path"]: e["validator"] for e in errs}
    assert by_path == {
        "/steps/0/fields/1": "type",
        "/steps/1/table/a": "type",
        "/steps/1/icase": "type",
    }

    # 3. semantic format checks: bad DSL condition, bad regex, empty cases.
    bad3 = {
        "steps": [
            {"op": "filter", "condition": "__import__('os')"},
            {"op": "sub", "field": "t", "pattern": "(unclosed", "repl": ""},
            {"op": "branch", "field": "sev", "cases": []},
        ]
    }
    errs = validate_spec(bad3)
    by_path = {e["path"]: e["validator"] for e in errs}
    assert by_path["/steps/0/condition"] == "format"
    assert by_path["/steps/1/pattern"] == "format"
    assert by_path["/steps/2/cases"] == "minItems"


def test_http_put_returns_error_listing(spark):
    """The wire contract: PUT of an invalid spec -> 400 with the full
    jsonschema-shaped listing in the body."""
    store = TemplateStore()
    server = serve(store)
    port = server.server_address[1]
    try:
        body = json.dumps(
            {"steps": [{"op": "nope"}, {"op": "set"}]}
        ).encode()
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/templates/bad",
            data=body,
            method="PUT",
            headers={"Content-Type": "application/json"},
        )
        try:
            urllib.request.urlopen(req)
            raise AssertionError("expected HTTP 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
            payload = json.loads(e.read())
        assert "error" in payload
        errs = payload["errors"]
        assert {x["path"] for x in errs} == {"/steps/0/op", "/steps/1"}
        assert all({"path", "message", "validator"} <= set(x) for x in errs)
    finally:
        server.shutdown()


def test_x_prefixed_annotation_keys_accepted():
    """The reserved x- annotation prefix (MIGRATION.md): stored specs may
    carry vendor/tooling keys the old compiler silently ignored; x-*
    validates cleanly and compiles (ignored), while a genuinely
    misspelled parameter still fails with a JSON-pointer path."""
    from nyuki_spark.plans.spec import compile_pipeline, validate_spec

    spec = {
        "steps": [
            {"op": "set", "field": "k", "value": "v", "x-owner": "data-team"},
            {"op": "unset", "field": "tmp", "x-comment": "cleanup"},
        ]
    }
    assert validate_spec(spec) == []
    compile_pipeline(spec)  # annotations ignored, no SpecError

    bad = {"steps": [{"op": "set", "field": "k", "valu": "typo"}]}
    errs = validate_spec(bad)
    assert [e["validator"] for e in errs] == ["additionalProperties"]
    assert errs[0]["path"] == "/steps/0/valu"


def test_progress_sse_push_during_stream(spark):
    """The websocket-parity surface (r7 next-round #5): while a streaming
    query runs, an SSE client on /progress/stream receives per-batch
    progress events pushed as they happen (>=2 during the replay), and
    the long-poll /progress?since=N cursor returns the same events."""
    import http.client

    from nyuki_spark.streaming.listener import MetricsListener

    listener = MetricsListener()
    spark.streams.addListener(listener)
    store = TemplateStore()
    server = serve(store, spark=spark, listener=listener)
    port = server.server_address[1]
    q = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 50)
        .load()
        .writeStream.format("noop")
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=90)
        conn.request("GET", "/progress/stream?max=2&timeout_s=60")
        resp = conn.getresponse()
        assert resp.status == 200
        assert resp.getheader("Content-Type") == "text/event-stream"
        body = resp.read().decode()  # server closes after max=2 events
        frames = [ln for ln in body.splitlines() if ln.startswith("data: ")]
        assert len(frames) >= 2, f"expected >=2 SSE events, got: {body!r}"
        events = [json.loads(f[len("data: "):]) for f in frames]
        for e in events:
            assert {"query_id", "batch_id", "num_input_rows", "state_rows"} <= set(e)
        # Long-poll snapshot: cursor semantics agree with what was pushed.
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/progress?since=0", timeout=30
        ) as r:
            snap = json.loads(r.read())
        assert snap["next"] >= 2
        assert len(snap["events"]) == snap["next"] - snap["since"]
        assert snap["events"][0]["batch_id"] == events[0]["batch_id"]
    finally:
        q.stop()
        spark.streams.removeListener(listener)
        server.shutdown()


def test_progress_endpoint_404_without_listener(spark):
    """No listener attached -> /progress routes are absent, CRUD intact."""
    server = serve(TemplateStore())
    port = server.server_address[1]
    try:
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(f"http://127.0.0.1:{port}/progress", timeout=10)
        assert ei.value.code == 404
    finally:
        server.shutdown()


def test_progress_param_validation(spark):
    """r8 advice: malformed query params return a structured 400 (not a
    dropped connection), and a negative `since` is clamped to 0 instead
    of Python-slicing from the end with a wrong `next` cursor."""
    from nyuki_spark.streaming.listener import MetricsListener

    listener = MetricsListener()
    server = serve(TemplateStore(), spark=spark, listener=listener)
    port = server.server_address[1]
    try:
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(
                f"http://127.0.0.1:{port}/progress?since=abc", timeout=10
            )
        assert ei.value.code == 400
        assert "error" in json.loads(ei.value.read())
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(
                f"http://127.0.0.1:{port}/progress/stream?timeout_s=x",
                timeout=10,
            )
        assert ei.value.code == 400
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/progress?since=-5", timeout=10
        ) as r:
            snap = json.loads(r.read())
        assert snap["since"] == 0 and snap["next"] == len(snap["events"])
        # since beyond the buffer clamps to the end: empty page, sane cursor.
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/progress?since=999999", timeout=10
        ) as r:
            snap = json.loads(r.read())
        assert snap["events"] == [] and snap["next"] == snap["since"]
    finally:
        server.shutdown()


def _fake_progress(batch_id: int):
    """A listener event carrying only the fields onQueryProgress reads."""
    from types import SimpleNamespace

    return SimpleNamespace(
        progress=SimpleNamespace(
            id="q", name="q", batchId=batch_id, numInputRows=1,
            stateOperators=[], durationMs={"triggerExecution": 1},
        )
    )


def test_progress_buffer_is_capped_with_absolute_cursor():
    """The listener keeps the last PROGRESS_CAP entries; `since=N` still
    means "after the N-th entry ever recorded", and a cursor older than
    the oldest kept entry resumes there."""
    from nyuki_spark.streaming.listener import PROGRESS_CAP, MetricsListener

    listener = MetricsListener()
    total = PROGRESS_CAP + 5
    for b in range(total):
        listener.onQueryProgress(_fake_progress(b))
    assert len(listener.progress) == PROGRESS_CAP
    assert listener.progress[0].batch_id == 5  # the 5 oldest were dropped
    # Cursor inside the kept range: exactly the entries after it.
    start, got = listener.events_since(total - 3)
    assert start == total - 3
    assert [p.batch_id for p in got] == [total - 3, total - 2, total - 1]
    # A client that fell behind resumes at the oldest kept entry.
    start, got = listener.events_since(2)
    assert start == 5 and len(got) == PROGRESS_CAP
    # Past the end: empty page, cursor at the recorded count.
    assert listener.events_since(total + 100) == (total, [])

    server = serve(TemplateStore(), listener=listener)
    port = server.server_address[1]
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/progress?since={total - 2}", timeout=10
        ) as r:
            snap = json.loads(r.read())
        assert snap["since"] == total - 2 and snap["next"] == total
        assert [e["batch_id"] for e in snap["events"]] == [total - 2, total - 1]
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/progress?since=0", timeout=10
        ) as r:
            snap = json.loads(r.read())
        assert snap["since"] == 5 and snap["next"] == total
        assert snap["events"][0]["batch_id"] == 5
    finally:
        server.shutdown()
    # clear() drops the kept entries; sequence numbers keep counting.
    listener.clear()
    assert listener.progress == [] and listener.events_since(0) == (total, [])


def test_progress_buffer_concurrent_appends():
    """Listener-thread appends racing cursor reads lose no sequence
    number: after 8 writers x 1500 events the cursor sits at 12000 and
    the kept page is exactly the cap."""
    import sys
    import threading

    from nyuki_spark.streaming.listener import PROGRESS_CAP, MetricsListener

    listener = MetricsListener()
    n_threads, per_thread = 8, 1500
    pages: list[tuple[int, int]] = []

    def writer():
        for b in range(per_thread):
            listener.onQueryProgress(_fake_progress(b))

    def reader():
        for _ in range(200):
            start, got = listener.events_since(0)
            pages.append((start, len(got)))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=writer) for _ in range(n_threads)]
        threads.append(threading.Thread(target=reader))
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    total = n_threads * per_thread
    assert listener.events_since(total + 1) == (total, [])
    start, got = listener.events_since(0)
    assert start == total - PROGRESS_CAP and len(got) == PROGRESS_CAP
    # The reader finished, and every page it saw was one consistent
    # snapshot: a page starts past 0 only once the cap drops entries.
    assert len(pages) == 200
    for s, n in pages:
        assert s + n <= total and n <= PROGRESS_CAP
        assert s == 0 or n == PROGRESS_CAP


def test_apply_subflow_cycle_and_unknown():
    """apply (sub-workflow invocation) resolves against the template
    registry at compile time: unknown names and cycles are SpecErrors,
    never runtime hangs; validate_spec reports unknown names with a
    JSON-pointer path when given the registry."""
    from nyuki_spark.plans.spec import compile_pipeline, validate_spec

    a = {"steps": [{"op": "apply", "template": "b"}]}
    b = {"steps": [{"op": "apply", "template": "a"}]}
    with pytest.raises(SpecError, match="cycle"):
        compile_pipeline(a, templates={"a": a, "b": b})
    with pytest.raises(SpecError, match="not one of|unknown template"):
        compile_pipeline(a, templates={})
    errs = validate_spec(a, templates={"x": {"steps": []}})
    assert [e["validator"] for e in errs] == ["enum"]
    assert errs[0]["path"] == "/steps/0/template"
    # without a registry, apply validates structurally only
    assert validate_spec(a) == []

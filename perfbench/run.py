"""nyuki_spark benchmark: run one workload against the engine's public entry
points and print one JSON result line.

    python3 perfbench/run.py --workload llm_dedup --seed 1 --seconds 15 --trace 0

Run from the repository root. Workloads (see README.md in this directory):
``llm_dedup`` and ``bus_live`` are the ones BENCHMARK.json lists;
``sql_batch`` and ``stream_replay`` run the same way but take longer than
the listed run length allows.

With ``--trace 0`` the result's metrics are the end-to-end ones; with
``--trace 1`` the per-layer ones, from a run with span wrappers, the
benchmark's streaming listener and Spark's event log switched on. Every run
also writes a full artifact (every rep time, the environment, per-id and
per-step tables) to ``perfbench/out/``.

Exits non-zero, printing no result, when the engine cannot be imported, an
A/B knob is set, or the workload is unknown.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

def _metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _setup(work_dir: str, trace: bool, tables: tuple[str, ...], data_dir: str | None, warm_table: str | None):
    """The set-up: JVM launch, get_session, table registration, warm-up
    query. Returns the session, the set-up's seconds and the mean of the
    machine-speed probes taken just before and just after it."""
    from harness import Session, host_probe

    probe_before = host_probe()
    t0 = time.perf_counter()
    session = Session(work_dir, event_log=trace)
    spark = session.start()
    if tables:
        from nyuki_spark import catalog

        catalog.register_tables(spark, data_dir, tables)
    if warm_table:
        spark.sql(f"SELECT COUNT(*) AS n FROM {warm_table}").toArrow()
    else:
        spark.range(1000).selectExpr("SUM(id) AS s").toArrow()
    setup_s = time.perf_counter() - t0
    return session, setup_s, (probe_before + host_probe()) / 2


def _run(args, work_dir: str) -> dict:
    import harness
    from closed_loop import CLOSED_WORKLOADS
    from tracing import Tracer, install_wrappers, make_listener, parse_event_log

    if args.workload not in (*CLOSED_WORKLOADS, "bus_live"):
        raise SystemExit(f"unknown workload {args.workload!r}")
    end_to_end_units, per_layer_units = _metric_units()
    pinned = harness.pin_environment(work_dir)
    load_start = os.getloadavg()
    tracer = Tracer() if args.trace else None
    if tracer:
        install_wrappers(tracer)

    closed = CLOSED_WORKLOADS.get(args.workload)
    data_dir = warm_dir = tables = warm_table = None
    if closed:
        import fixtures
        from closed_loop import WARM_SCALE, tables_for

        data_dir = fixtures.write_tables(os.path.join(work_dir, "data"), args.seed)
        warm_dir = fixtures.write_tables(os.path.join(work_dir, "warm"), args.seed, WARM_SCALE)
        tables = tuple(sorted(set(tables_for(closed.ids)) | {closed.warm_table}))
        warm_table = closed.warm_table

    session, setup_raw_s, setup_probe_s = _setup(work_dir, bool(tracer), tables, data_dir, warm_table)
    spark = session.spark
    artifact: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace}
    try:
        artifact["environment"] = harness.environment_record(ROOT, spark, pinned)
        listener = None
        if tracer and args.workload == "stream_replay":
            # Its queries start inside engine_fns; bus_live's own query
            # reports through recentProgress instead.
            listener = make_listener()
            spark.streams.addListener(listener)
        with harness.RssSampler(session.jvm_pid()) as rss:
            if closed:
                body = _closed(spark, closed, data_dir, warm_dir, args, tracer)
            else:
                body = _bus(spark, work_dir, args)
        spark.catalog.clearCache()
    finally:
        session.stop()
    metrics = {
        "setup_s": harness.at_reference_speed(setup_raw_s, setup_probe_s),
        "peak_rss_mb": rss.peak_mb,
        **body.pop("e2e"),
    }
    artifact.update(setup_raw_s=setup_raw_s, setup_probe_ms=1000 * setup_probe_s)
    progress = body.pop("progress", None) or (listener.progress if listener else [])
    windows = body.pop("windows")
    artifact.update(body)
    artifact["rss_peak_mb_parts"] = rss.peak_parts_mb
    artifact["end_to_end"] = metrics
    if tracer:
        spark_layers, job_submits = parse_event_log(session.event_log_dir, windows)
        if closed:
            from closed_loop import closed_layers

            layers = closed_layers(body["reps"], tracer, spark_layers, job_submits, progress)
        else:
            layers = _bus_layers(body, tracer, spark_layers, progress)
        get_session = tracer.durations("session.session.get_session")
        layers["totals"]["session.start_s"] = statistics.median(get_session) if get_session else 0.0
        artifact["layers"] = layers
        artifact["self_time_s"] = tracer.self_time()
        values = layers["totals"]
        units = per_layer_units
    else:
        values, units = metrics, end_to_end_units
    artifact["loadavg_start"] = list(load_start)
    artifact["loadavg_end"] = list(os.getloadavg())
    artifact.update(attempted=body["attempted"], failed=body["failed"])
    artifact["failed_ratio"] = body["failed"] / body["attempted"]
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(artifact, fh, indent=1, default=str)
    return {
        "correct": body["failed"] == 0,
        "attempted": body["attempted"],
        "failed": body["failed"],
        "metrics": {k: {"value": values.get(k, 0.0), "unit": u} for k, u in units.items()},
    }


def _closed(spark, workload, data_dir: str, warm_dir: str, args, tracer) -> dict:
    from closed_loop import closed_metrics, oracle_digests, run_closed

    expected = oracle_digests(workload.ids, data_dir)
    warm_expected = oracle_digests(workload.ids, warm_dir)
    reps = run_closed(
        spark, workload.ids, (data_dir, expected), (warm_dir, warm_expected), args.seconds, args.seed, tracer
    )
    failed = [r for r in reps if not r["ok"]]
    e2e = closed_metrics(reps)
    return {
        "e2e": {"latency_ms": e2e["latency_ms"]},
        "suite_s": e2e["suite_s"],
        "latency_raw_ms": e2e["latency_raw_ms"],
        "probe_ms": e2e["probe_ms"],
        "oracle_ids": sorted(expected),
        "reps": reps,
        "failures": [{"qid": r["qid"], "pass": r["pass"], "error": r.get("error", "digest mismatch")} for r in failed],
        "attempted": len(reps),
        "failed": len(failed),
        "windows": [(r["start_ms"], r["end_ms"], f"{r['qid']}#{r['pass']}", r.get("collect_ms", r["end_ms"])) for r in reps],
    }


def _bus(spark, work_dir: str, args) -> dict:
    from bus_live import BusRun, bus_figures

    bus = BusRun(spark, work_dir, args.seed)
    try:
        bus.start_query()
        bus.warm_up()
        start_ms = time.time() * 1000
        obs = bus.run(args.seconds)
        end_ms = time.time() * 1000
    finally:
        bus.stop()
    fig = bus_figures(obs, bus.sink_commits())
    return {
        "e2e": fig.pop("metrics"),
        **fig,
        "window_ms": (start_ms, end_ms),
        # The stream's jobs all run inside the query, none before a collect.
        "windows": [(start_ms, end_ms, "bus", start_ms)],
    }


def _bus_layers(body: dict, tracer, spark_layers: dict, progress: list[dict]) -> dict:
    from closed_loop import stream_batch_figures

    start_ms, end_ms = body["window_ms"]
    batches = [p for p in progress if start_ms <= p["start_ms"] <= end_ms]
    totals = dict(spark_layers.get("bus", {}))
    totals.update(stream_batch_figures(batches))
    runs, distinct = totals.get("python.node_runs", 0.0), totals.get("python.distinct_nodes", 0.0)
    totals["python.repeat_ratio"] = runs / distinct if distinct else 0.0
    writes = [
        (s.end - s.start) * 1000 for s in tracer.spans
        if s.name == "sink.write" and s.end and start_ms <= tracer.wall_ms(s) <= end_ms
    ]
    totals["sink.write_ms"] = statistics.median(writes) if writes else 0.0
    data = [b["rows"] for b in batches if b["rows"] > 0]
    totals["bus.rows_per_batch"] = statistics.median(data) if data else 0.0
    backlog = body["batch_end_backlog"]
    totals["bus.backlog_events"] = float(statistics.median(backlog)) if backlog else 0.0
    totals["bus.gen_late_ms"] = body["gen_late_ms_p99"]
    return {"totals": totals}


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    work_dir = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work_dir, exist_ok=True)
    try:
        result = _run(args, work_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Closed-loop workloads: one client runs registry ids one at a time.

A run makes ``WARMUP_PASSES`` untimed passes (Python workers spawn, code
generation and the JIT settle: an id's first execution in a fresh JVM takes
up to four times its later ones). Ids with an engine_fn warm up on inputs
a tenth the size (``WARM_SCALE``), which warms them as well as the full
inputs do and saves about 7 s of a 26 s warm-up pass on ``llm_dedup``; ids
that run ``engine_sql`` read the session's registered tables, so they warm
up on those. Then come timed passes until the run's
seconds are spent and at least ``MIN_TIMED_PASSES`` have run, always
finishing the pass it is in. The JIT goes on settling for several passes
(the second timed pass runs 5-20% faster than the first), so a run that
stopped after one pass on a slow machine and after two on a fast one would
measure different things. Every pass visits the ids in a seed-shuffled
order, so an ambient stall lands on single reps of many ids, and per-id
medians reject it. Before each timed execution ``harness.host_probe``
reads the machine's speed, and the reported latency is brought to a
reference speed with the probes' mean, so that it moves with the program
and not with the shared machine. Every execution is checked: ids with a
DuckDB twin against the twin's digest, the others against the first rep's
digest.
"""

from __future__ import annotations

import hashlib
import random
import statistics
import threading
import time
from dataclasses import dataclass

from harness import host_probe, at_reference_speed
from tracing import PHASES

__all__ = ["CLOSED_WORKLOADS", "oracle_digests", "run_closed", "closed_metrics", "closed_layers"]

# Seconds after which a single execution is cancelled and counted as failed.
EXEC_TIMEOUT_S = 120.0
WARMUP_PASSES = 1
WARM_SCALE = 0.1
MIN_TIMED_PASSES = 2


@dataclass(frozen=True)
class ClosedWorkload:
    ids: tuple[str, ...]
    warm_table: str


CLOSED_WORKLOADS = {
    # Planning, JVM execution, shuffle and Arrow collection; almost no Python
    # workers or streaming. The control for operator and streaming changes.
    "sql_batch": ClosedWorkload(
        ids=(
            "scan_count", "filter_pred", "agg_rollup", "agg_count_distinct",
            "join_inner_equi", "join_multiway", "join_anti_not_exists",
            "win_rank", "set_except", "subq_correlated", "str_regexp",
            "tpch_q01", "tpch_q05", "tpch_q10", "tpch_q13", "tpch_q18",
        ),
        warm_table="lineitem",
    ),
    # Python-worker stages (functions.text, operators.dedup/similarity) and
    # localCheckpoint barriers. The two capped ids and shingle_novelty read
    # the shingle table several times, so intra-query reuse shows here.
    "llm_dedup": ClosedWorkload(
        ids=(
            "llm_ngram_jaccard_capped", "llm_subset_containment_capped",
            "llm_shingle_novelty", "llm_cosine_pairs",
        ),
        warm_table="documents",
    ),
    # Replay-file writes beside streaming reads; per-micro-batch fixed cost
    # and the state store. Complete vs append, stateless vs stateful.
    "stream_replay": ClosedWorkload(
        ids=(
            "stream_tumbling_live", "stream_tumbling_live_append",
            "stream_session_live", "stream_dedup_live", "stream_router_live",
            "stream_cep_funnel_live",
        ),
        warm_table="events",
    ),
}


def tables_for(ids: tuple[str, ...]) -> tuple[str, ...]:
    """Fixture tables the ids' SQL texts reference (engine_fns load their own)."""
    from nyuki_spark.queries import REGISTRY
    from nyuki_spark.queries.registry import _infer_tables

    names: set[str] = set()
    for qid in ids:
        q = REGISTRY[qid]
        names.update(q.tables if q.tables is not None else _infer_tables(q.engine_sql, q.oracle_sql))
    return tuple(sorted(names))


def digest(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive digest of a result under the oracle's normalisation."""
    from nyuki_spark.oracle import normalize_rows

    h = hashlib.sha1("|".join(c.lower() for c in cols).encode())
    for row in sorted(normalize_rows(cols, rows)):
        h.update(("\x1f".join(row) + "\x1e").encode())
    return f"{len(rows)}:{h.hexdigest()}"


def _table_digest(tbl) -> str:
    cols = tbl.column_names
    return digest(cols, [tuple(r[c] for c in cols) for r in tbl.to_pylist()])


def oracle_digests(ids: tuple[str, ...], data_dir: str) -> dict[str, str]:
    """DuckDB twin digests, computed once per run, outside timing."""
    import duckdb

    from fixtures import TABLES
    from nyuki_spark.oracle import fetch_duckdb
    from nyuki_spark.queries import REGISTRY

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        out = {}
        for qid in ids:
            sql = REGISTRY[qid].oracle_sql
            if sql is not None:
                out[qid] = digest(*fetch_duckdb(con, sql))
        return out
    finally:
        con.close()


def _planning_ms(df) -> float:
    """analysis + optimization + planning ms from the query's tracker."""
    try:
        phases = df._jdf.queryExecution().tracker().phases()
        total = 0.0
        for name in ("analysis", "optimization", "planning"):
            opt = phases.get(name)
            if opt.isDefined():
                total += opt.get().durationMs()
        return total
    except Exception:  # py4j surface differs across Spark builds
        return 0.0


def _execute(spark, q, data_dir: str, tracer, group: str) -> dict:
    sc = spark.sparkContext
    sc.setJobGroup(group, q.id, interruptOnCancel=True)
    timer = threading.Timer(EXEC_TIMEOUT_S, sc.cancelJobGroup, args=(group,))
    timer.start()
    rec = {"qid": q.id, "start_ms": time.time() * 1000}
    try:
        t0 = time.perf_counter()
        span = tracer.begin("queries.build", "queries") if tracer else None
        try:
            df = q.engine_fn(spark, data_dir) if q.engine_fn is not None else spark.sql(q.engine_sql)
        finally:
            if tracer:
                tracer.end(span)
        t1 = time.perf_counter()
        rec["collect_ms"] = time.time() * 1000
        span = tracer.begin("queries.collect", "queries") if tracer else None
        try:
            tbl = df.toArrow()
        finally:
            if tracer:
                tracer.end(span)
        t2 = time.perf_counter()
        rec.update(seconds=t2 - t0, build_s=t1 - t0, collect_s=t2 - t1)
        if tracer:
            rec["planning_ms"] = _planning_ms(df)
        rec["digest"] = _table_digest(tbl)
    except Exception as exc:  # a failed execution is counted, not fatal
        rec.update(seconds=None, error=f"{type(exc).__name__}: {str(exc)[:300]}")
    finally:
        timer.cancel()
        sc.setLocalProperty("spark.jobGroup.id", None)
        rec["end_ms"] = time.time() * 1000
    return rec


def run_closed(
    spark, ids, data: tuple[str, dict[str, str]], warm_data: tuple[str, dict[str, str]],
    seconds: float, seed: int, tracer=None,
) -> list[dict]:
    """Warm-up passes, then timed passes until ``seconds`` are spent.
    ``data`` and ``warm_data`` are each an input directory and the DuckDB
    twin digests over it. Returns one record per execution, in run order;
    ``ok`` says whether its result matched."""
    from nyuki_spark.queries import REGISTRY

    rng = random.Random(seed)
    data_dir, expected = data[0], dict(data[1])
    warm_dir, warm_expected = warm_data[0], dict(warm_data[1])
    reps: list[dict] = []

    def one_pass(pass_no: int) -> None:
        order = list(ids)
        rng.shuffle(order)
        for qid in order:
            q = REGISTRY[qid]
            small = pass_no < WARMUP_PASSES and q.engine_fn is not None
            in_dir, want = (warm_dir, warm_expected) if small else (data_dir, expected)
            tag = f"{qid}#{pass_no}"
            timed = pass_no >= WARMUP_PASSES
            probe_s = host_probe() if timed else None
            if tracer:
                tracer.tag = tag
                span = tracer.begin("query", "query")
            rec = _execute(spark, q, in_dir, tracer, tag)
            if tracer:
                tracer.end(span)
                tracer.tag = None
            rec["pass"] = pass_no
            rec["timed"] = timed
            rec["probe_s"] = probe_s
            got = rec.get("digest")
            if got is not None and qid not in want:
                want[qid] = got  # no oracle: later reps must repeat it
            rec["ok"] = got is not None and got == want.get(qid)
            reps.append(rec)
            # Some engine_fns persist intermediates; drop them so reps stay
            # independent, as bench.py does.
            spark.catalog.clearCache()

    for pass_no in range(WARMUP_PASSES):
        one_pass(pass_no)
    start = time.perf_counter()
    pass_no = WARMUP_PASSES
    while True:
        one_pass(pass_no)
        pass_no += 1
        if pass_no - WARMUP_PASSES >= MIN_TIMED_PASSES and time.perf_counter() - start >= seconds:
            break
    return reps


def _median_by_id(reps: list[dict], key: str) -> dict[str, float]:
    by_id: dict[str, list[float]] = {}
    for r in reps:
        if r["timed"] and r.get(key) is not None:
            by_id.setdefault(r["qid"], []).append(r[key])
    return {qid: statistics.median(v) for qid, v in by_id.items()}


def closed_metrics(reps: list[dict]) -> dict[str, float]:
    """End-to-end figures of the timed passes. ``latency_raw_ms`` is the
    mean over ids of the id's median rep time; ``latency_ms`` is the same at
    the reference machine speed, from the mean of the run's probes."""
    per_id = _median_by_id(reps, "seconds")
    suite_s = sum(per_id.values())
    raw_ms = 1000 * suite_s / len(per_id)
    probe_s = statistics.mean(r["probe_s"] for r in reps if r["timed"])
    return {
        "suite_s": suite_s,
        "latency_raw_ms": raw_ms,
        "probe_ms": 1000 * probe_s,
        "latency_ms": at_reference_speed(raw_ms, probe_s),
    }


def closed_layers(
    reps: list[dict], tracer, spark_layers: dict[str, dict[str, float]], job_submits: list[float], progress: list[dict]
) -> dict:
    """Per-layer figures of the timed passes: for each metric, the sum over
    ids of the id's median over reps (one pass's worth). Also returns the
    per-id breakdown."""
    timed = [r for r in reps if r["timed"]]
    per_rep: dict[str, dict[str, float]] = {}
    self_time = tracer.self_time()
    for r in timed:
        tag = f"{r['qid']}#{r['pass']}"
        m = dict(spark_layers.get(tag, {}))
        m["queries.build_s"] = r.get("build_s") or 0.0
        m["queries.collect_s"] = r.get("collect_s") or 0.0
        m["queries.planning_ms"] = r.get("planning_ms") or 0.0
        spans = [s for s in tracer.spans if s.tag == tag and s.end]
        m["catalog.load_s"] = sum(s.end - s.start for s in spans if s.name == "catalog.catalog.load_table")
        m["catalog.load_calls"] = sum(1 for s in spans if s.name == "catalog.catalog.load_table")
        m["operators.calls"] = sum(1 for s in spans if s.layer == "operators")
        m["functions.calls"] = sum(1 for s in spans if s.layer == "functions")
        replays = [s for s in spans if s.name.endswith("replay_stream")]
        m["streaming.replay_write_s"] = sum(s.end - s.start for s in replays)
        m["streaming.replay_jobs"] = sum(
            1 for s in replays for t in job_submits
            if tracer.wall_ms(s) <= t <= tracer.wall_ms(s) + (s.end - s.start) * 1000
        )
        m["streaming.drain_s"] = sum(
            s.end - s.start for s in spans if s.name.rsplit(".", 1)[-1] in ("run_to_table", "run_append_foreach_batch")
        )
        m["sink.write_ms"] = 1000 * sum(s.end - s.start for s in spans if s.name == "sink.write")
        batches = [p for p in progress if r["start_ms"] <= p["start_ms"] <= r["end_ms"]]
        m.update(stream_batch_figures(batches))
        for layer, secs in self_time.get(tag, {}).items():
            m[f"self_s.{layer}"] = secs
        per_rep[tag] = m
    per_id: dict[str, dict[str, float]] = {}
    for r in timed:
        for k, v in per_rep[f"{r['qid']}#{r['pass']}"].items():
            per_id.setdefault(r["qid"], {}).setdefault(k, []).append(v)
    per_id_median = {qid: {k: statistics.median(v) for k, v in ms.items()} for qid, ms in per_id.items()}
    totals: dict[str, float] = {}
    for ms in per_id_median.values():
        for k, v in ms.items():
            totals[k] = totals.get(k, 0.0) + v
    runs = totals.get("python.node_runs", 0.0)
    distinct = totals.get("python.distinct_nodes", 0.0)
    totals["python.repeat_ratio"] = runs / distinct if distinct else 0.0
    return {"totals": totals, "per_id": per_id_median}


def stream_batch_figures(batches: list[dict]) -> dict[str, float]:
    """Micro-batch figures from listener progress events."""
    out = {
        "streaming.batches": float(len(batches)),
        "streaming.data_batch_ratio": 0.0,
        "streaming.batch_ms_p50": 0.0,
        "state.commit_ms": 0.0,
        "state.rows": 0.0,
        "state.memory_bytes": 0.0,
        **{f"streaming.phase_ms.{p}": 0.0 for p in PHASES},
    }
    if not batches:
        return out
    data = [b for b in batches if b["rows"] > 0] or batches
    out["streaming.data_batch_ratio"] = sum(1 for b in batches if b["rows"] > 0) / len(batches)
    out["streaming.batch_ms_p50"] = statistics.median(b["duration_ms"].get("triggerExecution", 0) for b in batches)
    for p in PHASES:
        out[f"streaming.phase_ms.{p}"] = statistics.median(b["duration_ms"].get(p, 0) for b in data)
    out["state.commit_ms"] = statistics.median(b["state_commit_ms"] for b in data)
    out["state.rows"] = float(max(b["state_rows"] for b in batches))
    out["state.memory_bytes"] = float(max(b["state_memory_bytes"] for b in batches))
    return out

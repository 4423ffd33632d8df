"""Benchmark: run ALL query suites at $SPARK_GRAFT_SF_DIR, print ONE JSON line.

Methodology mirrors BASELINE.md: warm local session, tables registered once,
per-query wall time includes Arrow collection, median of N_REPS reps,
excludes JVM startup and one warm-up query. The acceptance bar is the
BASELINE.md naive-PySpark suite total (35.6 s at sf0.1; budget <= ~71 s)
for the declared suite; TPC-H budgets are the DuckDB timings in BASELINE.md.

Round 4 extends coverage beyond the declared suite (the r3 gap: 85/147
queries had zero wall-time evidence): the ``tpch`` and ``extension``
suites are timed with the same median methodology. The headline
``metric``/``value`` pair stays ``declared_suite_total`` so BENCH_r01-r03
remain comparable; per-suite totals ride in ``suites``.

Output (stdout, single line):
  {"metric": "declared_suite_total", "value": <declared total, sec>,
   "unit": "sec", "queries": {qid: sec}, "sf": <float>,
   "suites": {"declared": s, "tpch": s, "extension": s}}
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

# 5 warm reps (round-3): r2-vs-r1 showed a uniform ~+25% drift across the
# join family with no code change — rep-count variance; medians over 5 pin it.
N_REPS = int(os.environ.get("NYUKI_BENCH_REPS", "5"))
# Extension queries include Structured-Streaming replays and LSH model fits
# (multi-second each); 3 reps keeps the whole bench inside the driver's
# window while still taking a median. Override with NYUKI_BENCH_REPS_EXT.
N_REPS_EXT = int(os.environ.get("NYUKI_BENCH_REPS_EXT", "3"))

SUITES = ("declared", "tpch", "extension")


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # BASELINE.md methodology: small shuffle partition count at bench scale
    # (AQE coalesces anyway; this removes scheduling overhead on tiny shuffles).
    os.environ.setdefault("NYUKI_SHUFFLE_PARTITIONS", "8")

    from nyuki_spark.catalog import register_tables
    from nyuki_spark.queries import REGISTRY
    from nyuki_spark.session import get_session

    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = -1.0

    load_start = os.getloadavg()
    spark = get_session("nyuki-bench", master=f"local[{cpus}]")
    register_tables(spark, sf_dir)

    # Warm-up: JIT, codegen cache, parquet footer cache.
    spark.sql("SELECT COUNT(*) AS n FROM lineitem").toArrow()

    per_query: dict[str, float] = {}
    suite_of: dict[str, str] = {}
    for qid, q in sorted(REGISTRY.items()):
        # TPC-H queries register as suite="extension", category="tpch";
        # report them as their own suite so BENCH_r{N} tracks the 14
        # adapted queries against the DuckDB budgets in BASELINE.md.
        if q.category == "tpch":
            suite_of[qid] = "tpch"
        else:
            suite_of[qid] = q.suite if q.suite in SUITES else "extension"

    def run_once(q) -> float:
        t0 = time.perf_counter()
        if q.engine_fn is not None:
            df = q.engine_fn(spark, sf_dir)
        else:
            df = spark.sql(q.engine_sql)
        df.toArrow()  # full materialisation through Arrow, like BASELINE
        return time.perf_counter() - t0

    # Declared + tpch: N_REPS reps per id, scheduled as INTERLEAVED
    # PASSES over the whole suite (r11 verdict Next #4). Consecutive
    # reps all sit inside the same seconds-scale ambient-load regime, so
    # a host spike used to shift a whole id's median — the ±20% suite
    # swings every round re-litigated. Interleaving spreads each id's
    # reps across the suite's full wall time: a spike now lands on ONE
    # rep of many ids, which per-id medians reject. Total wall cost is
    # identical; only the schedule changed.
    decl_tpch = [
        (qid, q)
        for qid, q in sorted(REGISTRY.items())
        if suite_of[qid] in ("declared", "tpch")
    ]
    rep_times: dict[str, list[float]] = {qid: [] for qid, _ in decl_tpch}
    for _pass in range(N_REPS):
        for qid, q in decl_tpch:
            rep_times[qid].append(run_once(q))
    for qid, _ in decl_tpch:
        per_query[qid] = round(statistics.median(rep_times[qid]), 4)

    # Extension suite: consecutive reps (streaming replays and model
    # fits are multi-second; interleaving would multiply their session
    # churn for no benefit — their noise is dominated by replay I/O).
    for qid, q in sorted(REGISTRY.items()):
        if suite_of[qid] not in ("declared", "tpch"):
            times = [run_once(q) for _ in range(N_REPS_EXT)]
            per_query[qid] = round(statistics.median(times), 4)

    suites = {
        s: round(sum(t for qid, t in per_query.items() if suite_of[qid] == s), 3)
        for s in SUITES
    }
    # Streaming throughput: the *_live queries replay the full events table
    # through a real Structured Streaming query (micro-batch file replay),
    # so input-rows / wall-time is end-to-end rows/sec through the state
    # store — the number BASELINE.md's streaming section tracks. The
    # *_live_append variants run the PRODUCTION output path (append mode,
    # watermark eviction, foreachBatch parquet sink) and report the same
    # metric for a complete-vs-append comparison.
    events_n = spark.table("events").count()
    streaming = {
        qid: round(events_n / t, 1)
        for qid, t in per_query.items()
        if (qid.endswith("_live") or qid.endswith("_live_append")) and t > 0
    }
    payload = {
        "metric": "declared_suite_total",
        "value": suites["declared"],
        "unit": "sec",
        "queries": per_query,
        "sf": sf,
        "suites": suites,
        "reps": {
            "declared_tpch": N_REPS,
            "declared_tpch_interleaved_passes": True,
            "extension": N_REPS_EXT,
        },
        "streaming_rows_per_sec": streaming,
        # Machine-readable contention evidence (r6 verdict #4): ambient host
        # load drifts 1.3-2x within a session on this box, so every bench
        # artifact carries the 1/5/15-min loadavg at start and end plus a
        # wall-clock stamp. A run is "uncontended" iff loadavg_start[0] < 1.
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "timestamp_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    print(json.dumps(payload))
    # The driver records only the TAIL of the stdout line, so the head of
    # the per-query map was lost from BENCH_r{1-5}.json and round-over-
    # round regression tracking only covered the ids that survived
    # truncation (r5 verdict #1). Persist the complete JSON next to the
    # repo so `BENCH_full_r{N}.json` can be committed every round.
    out_path = os.environ.get(
        "NYUKI_BENCH_FULL_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_full_latest.json"),
    )
    try:
        with open(out_path, "w") as fh:
            json.dump(payload, fh, indent=1, sort_keys=True)
    except OSError:
        pass  # read-only checkout: stdout line remains the artifact
    spark.stop()


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    main()

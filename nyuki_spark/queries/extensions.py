"""Extension queries beyond the 61 declared ones (SURVEY.md §2.9/§2.10).

These grow the engine's checked surface. ``*_live`` queries execute through
Structured Streaming for real — replay the events table as micro-batches,
run the streaming operator, drain with availableNow — and are STILL checked
against the DuckDB oracle: the streaming result of a finite replay must
equal the batch answer (stream/batch parity), so the batch-SQL oracle
applies. Approximate/nondeterministic ops carry no oracle (rows-only).
"""

from __future__ import annotations

import datetime
import shutil
import uuid
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyuki_spark.catalog import load_table
from nyuki_spark.queries.registry import register
from nyuki_spark.streaming.runner import (
    await_drain,
    run_append_foreach_batch,
    run_foreach_batch,
    run_live,
    run_to_table,
)
from nyuki_spark.streaming.windows import session_agg, sliding_agg, tumbling_agg


def _flush(
    spark: SparkSession,
    events: DataFrame,
    days: tuple[int, ...],
    types: tuple[str, ...] = ("__flush__",),
) -> list[DataFrame]:
    """Far-future flush sentinels for a watermarked replay of ``events``
    (the sentinel rule: streaming/runner.py), one frame per offset in
    ``days`` and so one extra micro-batch each (replay_stream's
    ``flush_df``). Each frame has one row per type at max(ts) + offset,
    user -1, event ids -1, -2, ...."""
    mx = events.agg(F.max("ts")).head()[0]

    def frame(d: int) -> DataFrame:
        ts = mx + datetime.timedelta(days=d)
        rows = [(-1 - i, ts, -1, t, 0.0, "{}") for i, t in enumerate(types)]
        return spark.createDataFrame(rows, events.schema)

    return [frame(d) for d in days]


def _watermarked(sdf: DataFrame) -> DataFrame:
    # Fixture ts is TIMESTAMP_NTZ; watermarks require TIMESTAMP. The
    # session runs UTC (configure_session), so the cast is value-identical.
    # The 35-day delay covers the hash-random replay disorder.
    return sdf.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark(
        "ts", "35 days"
    )


def _live(build):
    """Wrap a streaming pipeline builder into a (spark, sf_dir) callable:
    complete-mode memory sink over the 4-chunk events replay."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        return run_live(
            spark,
            load_table(spark, sf_dir, "events"),
            lambda sdf, _scratch: run_to_table(build(sdf), mode="complete"),
        )

    return fn


def _live_append(build, order_cols):
    """APPEND-mode + watermark variant of :func:`_live` (r4 VERDICT ask:
    the production path — watermark-evicted state, each result emitted
    once — had correctness tests but no wall-time evidence).

    A finite replay in append mode would hold the tail windows in state
    forever (nothing advances the watermark past them), so the replay
    appends ONE far-future sentinel row as a strictly-final micro-batch,
    advancing the watermark past every real window. The sentinel must NOT
    be filtered inside the stream: Catalyst pushes a deterministic filter
    below the EventTimeWatermark node down to the scan, so the watermark
    would never see the row (observed: watermark pinned at real-max-35d,
    zero rows emitted). Instead it flows into the aggregation, where its
    own window sits exactly ``delay`` beyond the final watermark and
    therefore never closes and never emits; the output guard filter below
    is purely defensive. The watermark delay (35 days) covers the
    hash-random replay disorder exactly like the stream-stream join; the
    emitted result then equals the batch answer and the complete-mode
    oracles apply unchanged. Sink is foreachBatch -> parquet (files, the
    path whose throughput matters), read back and pinned by run_live.
    """

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyspark.sql.types import TimestampType

        events = load_table(spark, sf_dir, "events")

        def query(sdf: DataFrame, scratch: str) -> DataFrame:
            out = run_append_foreach_batch(
                build(_watermarked(sdf)), f"{scratch}/out", f"{scratch}/ckpt"
            )
            for fld in out.schema.fields:
                if isinstance(fld.dataType, TimestampType):
                    out = out.withColumn(
                        fld.name, F.col(fld.name).cast("timestamp_ntz")
                    )
            if "event_type" in out.columns:
                out = out.where(F.col("event_type") != "__flush__")
            if "user_id" in out.columns:
                out = out.where(F.col("user_id") != -1)
            return out.orderBy(*order_cols)

        return run_live(spark, events, query, flush_df=_flush(spark, events, (80,)))

    return fn


# -- tumbling window, live ---------------------------------------------------

register(
    "stream_tumbling_live",
    engine_fn=_live(
        lambda sdf: tumbling_agg(
            sdf,
            "ts",
            "1 hour",
            ["event_type"],
            [
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("total"),
            ],
        ).orderBy("win_start", "event_type")
    ),
    oracle=(
        "SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS win_start, event_type, COUNT(*) AS n,\n"
        "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total\n"
        "FROM events GROUP BY 1, 2 ORDER BY 1, 2"
    ),
    category="streaming-live",
    suite="extension",
    doc="Structured Streaming tumbling window over a 4-micro-batch replay",
)

# -- sliding window, live ----------------------------------------------------

register(
    "stream_sliding_live",
    engine_fn=_live(
        lambda sdf: sliding_agg(
            sdf,
            "ts",
            "30 minutes",
            "5 minutes",
            ["user_id"],
            [F.count(F.lit(1)).alias("n")],
        ).orderBy("win_start", "user_id")
    ),
    # Each event belongs to 6 epoch-aligned 5-min-step windows; DuckDB
    # time_bucket's origin (2000-01-03) is a multiple of 5 min from epoch,
    # so bucket boundaries coincide with Spark's window().
    oracle=(
        "SELECT win_start, user_id, COUNT(*) AS n FROM (\n"
        "  SELECT time_bucket(INTERVAL '5 minutes', e.ts) - (k.k * INTERVAL '5 minutes') AS win_start,\n"
        "         e.user_id\n"
        "  FROM events e CROSS JOIN range(6) k(k)\n"
        ") GROUP BY win_start, user_id ORDER BY win_start, user_id"
    ),
    category="streaming-live",
    suite="extension",
    doc="Structured Streaming sliding window (30m/5m) over replay",
)

# -- session window, live ----------------------------------------------------

register(
    "stream_session_live",
    engine_fn=_live(
        lambda sdf: session_agg(
            sdf,
            "ts",
            "30 minutes",
            ["user_id"],
            [F.count(F.lit(1)).alias("n_events")],
        ).orderBy("user_id", "sess_start")
    ),
    oracle=(
        "WITH marked AS (SELECT user_id, ts, event_id, CASE WHEN ts >\n"
        "LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) + INTERVAL 30 MINUTE\n"
        "OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1 ELSE 0 END AS new_sess\n"
        "FROM events),\n"
        "sess AS (SELECT user_id, ts, event_id, SUM(new_sess) OVER\n"
        "(PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess_id FROM marked)\n"
        "SELECT user_id, MIN(ts) AS sess_start, COUNT(*) AS n_events\n"
        "FROM sess GROUP BY user_id, sess_id ORDER BY user_id, sess_start"
    ),
    category="streaming-live",
    suite="extension",
    doc="session_window() in a real streaming query vs gaps-and-islands oracle",
)

# -- streaming dedup, live ---------------------------------------------------

register(
    "stream_dedup_live",
    engine_fn=_live(
        lambda sdf: sdf.groupBy("user_id", "event_type")
        .agg(F.min("event_id").alias("first_event"))
        .orderBy("user_id", "event_type")
    ),
    oracle=(
        "SELECT user_id, event_type, MIN(event_id) AS first_event FROM events\n"
        "GROUP BY user_id, event_type ORDER BY user_id, event_type"
    ),
    category="streaming-live",
    suite="extension",
    doc="streaming first-per-key over replay (at-least-once consumer dedup)",
)


# -- append-mode (watermark-evicting) variants --------------------------------
#
# Same pipelines through the PRODUCTION output path: append mode emits each
# watermark-closed result exactly once into a foreachBatch parquet sink,
# instead of rewriting the whole aggregate state per micro-batch (complete
# mode + memory sink — the harness-bound O(state x batches) shape BASELINE.md
# flags). The flush sentinel makes the finite replay emit everything, so the
# complete-mode batch oracles verify these bit-for-bit too.

register(
    "stream_tumbling_live_append",
    engine_fn=_live_append(
        lambda sdf: tumbling_agg(
            sdf,
            "ts",
            "1 hour",
            ["event_type"],
            [
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("total"),
            ],
        ),
        ["win_start", "event_type"],
    ),
    oracle=(
        "SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS win_start, event_type, COUNT(*) AS n,\n"
        "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total\n"
        "FROM events GROUP BY 1, 2 ORDER BY 1, 2"
    ),
    category="streaming-live",
    suite="extension",
    doc="tumbling window in APPEND mode: watermark-closed windows emitted "
    "once into a foreachBatch parquet sink (production path, timed in bench)",
)

register(
    "stream_sliding_live_append",
    engine_fn=_live_append(
        lambda sdf: sliding_agg(
            sdf,
            "ts",
            "30 minutes",
            "5 minutes",
            ["user_id"],
            [F.count(F.lit(1)).alias("n")],
        ),
        ["win_start", "user_id"],
    ),
    oracle=(
        "SELECT win_start, user_id, COUNT(*) AS n FROM (\n"
        "  SELECT time_bucket(INTERVAL '5 minutes', e.ts) - (k.k * INTERVAL '5 minutes') AS win_start,\n"
        "         e.user_id\n"
        "  FROM events e CROSS JOIN range(6) k(k)\n"
        ") GROUP BY win_start, user_id ORDER BY win_start, user_id"
    ),
    category="streaming-live",
    suite="extension",
    doc="sliding window (30m/5m) in APPEND mode: each closed window emitted "
    "once — O(emitted) sink writes vs complete mode's O(state x batches)",
)

register(
    "stream_session_live_append",
    engine_fn=_live_append(
        lambda sdf: session_agg(
            sdf,
            "ts",
            "30 minutes",
            ["user_id"],
            [F.count(F.lit(1)).alias("n_events")],
        ),
        ["user_id", "sess_start"],
    ),
    oracle=(
        "WITH marked AS (SELECT user_id, ts, event_id, CASE WHEN ts >\n"
        "LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) + INTERVAL 30 MINUTE\n"
        "OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1 ELSE 0 END AS new_sess\n"
        "FROM events),\n"
        "sess AS (SELECT user_id, ts, event_id, SUM(new_sess) OVER\n"
        "(PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess_id FROM marked)\n"
        "SELECT user_id, MIN(ts) AS sess_start, COUNT(*) AS n_events\n"
        "FROM sess GROUP BY user_id, sess_id ORDER BY user_id, sess_start"
    ),
    category="streaming-live",
    suite="extension",
    doc="session windows in APPEND mode: sessions emitted once when the "
    "watermark closes them (the state-eviction path, timed in bench)",
)

register(
    "stream_dedup_live_append",
    engine_fn=_live_append(
        lambda sdf: tumbling_agg(
            sdf,
            "ts",
            "1 hour",
            ["user_id", "event_type"],
            [F.min("event_id").alias("first_event")],
        ),
        ["win_start", "user_id", "event_type"],
    ),
    oracle=(
        "SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS win_start,\n"
        "user_id, event_type, MIN(event_id) AS first_event FROM events\n"
        "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"
    ),
    category="streaming-live",
    suite="extension",
    doc="windowed first-per-key dedup in APPEND mode (the appendable form: "
    "unbounded-key dedup can only run complete/update, a windowed key set "
    "is what a watermark can close and emit exactly once)",
)


# -- stream-stream interval join, live ---------------------------------------
#
# View -> purchase attribution within one hour, as a REAL stream-stream
# inner join: both sides carry a watermark and the join carries the
# event-time range constraint, so Spark plans StreamingSymmetricHashJoin
# with keyed state on user_id and watermark-driven state eviction. The
# replay chunks are hash-partitioned (arbitrary arrival order across the
# whole 30-day span), so parity with the batch oracle requires the
# watermark delay to cover the full replay disorder — "35 days" here. In
# production against a bus the same pipeline runs with the bus's real
# lateness bound (minutes), which is when the state-eviction path earns
# its keep; the finite-replay setting exercises the identical plan with
# eviction never firing, keeping the batch oracle exact.


def _attribution_join(sdf: DataFrame, how: str = "inner", ids: bool = True):
    """View -> purchase within one hour as a stream-stream interval join
    of the watermarked replay with itself (the shared core of the three
    join ids). ``ids`` carries each side's event_id along."""
    wm = _watermarked(sdf)

    def side(event_type: str, user: str, ts: str, event_id: str) -> DataFrame:
        cols = [F.col("user_id").alias(user), F.col("ts").alias(ts)]
        if ids:
            cols.append(F.col("event_id").alias(event_id))
        return wm.filter(F.col("event_type") == event_type).select(*cols)

    views = side("view", "v_user", "view_ts", "view_id")
    buys = side("purchase", "b_user", "buy_ts", "buy_id")
    return views.join(
        buys,
        (F.col("v_user") == F.col("b_user"))
        & (F.col("buy_ts") >= F.col("view_ts"))
        & (F.col("buy_ts") <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
        how,
    )


def _stream_join_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    def query(sdf: DataFrame, _scratch: str) -> DataFrame:
        joined = _attribution_join(sdf).select(
            F.col("v_user").alias("user_id"), "view_id", "buy_id"
        )
        return run_to_table(joined, mode="append").orderBy(
            "user_id", "view_id", "buy_id"
        )

    return run_live(spark, load_table(spark, sf_dir, "events"), query)


register(
    "stream_join_live",
    engine_fn=_stream_join_fn,
    oracle=(
        "SELECT v.user_id, v.event_id AS view_id, p.event_id AS buy_id\n"
        "FROM events v JOIN events p ON v.user_id = p.user_id\n"
        "AND v.event_type = 'view' AND p.event_type = 'purchase'\n"
        "AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR\n"
        "ORDER BY v.user_id, view_id, buy_id"
    ),
    category="streaming-live",
    suite="extension",
    doc=(
        "stream-stream interval inner join (view->purchase attribution "
        "within 1h) through StreamingSymmetricHashJoin with watermarked "
        "state on both sides, checked against the batch self-join oracle"
    ),
)


# -- streaming CDC materialization, live -------------------------------------
#
# Last-write-wins upsert materialization through foreachBatch: each
# micro-batch is reduced to one row per key (argmax by event time,
# event_id tiebreak) and merged into a persisted state table. Because
# the merge keeps the GLOBAL argmax per key — an associative,
# commutative reduction — the final table is independent of how the
# replay chunks partition the data, which is what makes the batch
# oracle exact. Each batch writes a NEW state directory keyed by
# batch_id (no read-modify-overwrite of the same path), the pattern an
# exactly-once sink needs for idempotent retries; state size is
# |distinct keys|, not |events|.


def _stream_cdc_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))

    def query(sdf: DataFrame, scratch: str) -> DataFrame:
        state = {"path": None}

        def upsert(batch: DataFrame, batch_id: int) -> None:
            new = (
                batch.select("user_id", "ts", "event_id", "value")
                .withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .drop("rn")
            )
            if state["path"] is not None:
                both = spark.read.parquet(state["path"]).unionByName(new)
            else:
                both = new
            merged = (
                both.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .drop("rn")
            )
            out = f"{scratch}/state_{batch_id}"
            merged.write.mode("overwrite").parquet(out)
            state["path"] = out

        run_foreach_batch(sdf, upsert, f"{scratch}/ckpt")
        return (
            spark.read.parquet(state["path"])
            .select(
                "user_id",
                F.col("ts").alias("last_ts"),
                F.col("event_id").alias("last_event"),
                F.col("value").alias("last_value"),
            )
            .orderBy("user_id")
        )

    return run_live(spark, load_table(spark, sf_dir, "events"), query)


register(
    "stream_cdc_live",
    engine_fn=_stream_cdc_fn,
    oracle=(
        "SELECT user_id, ts AS last_ts, event_id AS last_event,\n"
        "       value AS last_value\n"
        "FROM (SELECT user_id, ts, event_id, value,\n"
        "        ROW_NUMBER() OVER (PARTITION BY user_id\n"
        "                           ORDER BY ts DESC, event_id DESC) AS rn\n"
        "      FROM events)\n"
        "WHERE rn = 1 ORDER BY user_id"
    ),
    category="streaming-live",
    suite="extension",
    doc=(
        "streaming CDC materialization: last-write-wins upsert per key "
        "through foreachBatch into batch-id-keyed state directories "
        "(idempotent-retry shape); merge is an associative argmax so the "
        "final table equals the batch answer regardless of arrival order"
    ),
)


# -- hierarchical time rollup (hypertable-style continuous aggregate) --------
#
# The scale pattern behind "continuous aggregates": aggregate raw events to
# the finest resolution ONCE (hourly), then answer every coarser resolution
# (daily here) by re-aggregating the tiny hourly table — the raw table is
# scanned once, the daily rollup reads |hours| rows, not |events|. SUM/COUNT
# re-aggregate losslessly, so the result must equal a direct daily
# aggregation of the raw table — which is exactly what the oracle computes.

def _rollup_two_level_fn(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    hourly = (
        events.groupBy(
            F.date_trunc("hour", "ts").alias("hr"),
            "event_type",
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total"),
        )
    )
    return (
        hourly.groupBy(F.date_trunc("day", "hr").alias("day"), "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.sum("total").cast("double").alias("total"),
        )
        .orderBy("day", "event_type")
    )


register(
    "stream_rollup_hierarchical",
    engine_fn=_rollup_two_level_fn,
    oracle=(
        "SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day, event_type,\n"
        "COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total\n"
        "FROM events GROUP BY 1, 2 ORDER BY 1, 2"
    ),
    category="streaming",
    suite="extension",
    doc="two-level rollup (hourly->daily) == direct daily aggregation",
)


# -- salted aggregation (skew mitigation, semantically transparent) ----------


def _salted_agg_fn(spark, sf_dir):
    from nyuki_spark.operators.skew import salted_aggregate

    events = load_table(spark, sf_dir, "events")
    out = salted_aggregate(
        events.withColumn("value_d", F.col("value").cast("decimal(18,2)")),
        keys=["event_type"],
        aggs={
            "n": ("event_id", "count"),
            "total": ("value_d", "sum"),
            "max_v": ("value", "max"),
        },
        n_salts=8,
    )
    return out.select(
        "event_type", "n", F.col("total").cast("double").alias("total"), "max_v"
    ).orderBy("event_type")


register(
    "agg_salted_skew",
    engine_fn=_salted_agg_fn,
    oracle=(
        "SELECT event_type, COUNT(*) AS n,\n"
        "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,\n"
        "MAX(value) AS max_v\n"
        "FROM events GROUP BY event_type ORDER BY event_type"
    ),
    category="aggregate",
    suite="extension",
    doc="two-phase salted aggregation == plain GROUP BY (skew-transparent)",
)


# -- native pivot (wide aggregation) -----------------------------------------


def _pivot_fn(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    types = ["click", "error", "login", "purchase", "view"]
    return (
        events.groupBy("user_id")
        .pivot("event_type", types)
        .count()
        .na.fill(0, types)
        .orderBy("user_id")
    )


register(
    "agg_pivot_native",
    engine_fn=_pivot_fn,
    oracle=(
        "SELECT user_id,\n"
        + ",\n".join(
            f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS {t}"
            for t in ["click", "error", "login", "purchase", "view"]
        )
        + "\nFROM events GROUP BY user_id ORDER BY user_id"
    ),
    category="aggregate",
    suite="extension",
    doc="native pivot (explicit value list = one pass, no value-discovery job)",
)


# -- native posexplode (0-based ordinal explode) -----------------------------

register(
    "array_posexplode",
    engine=(
        "SELECT doc_id, t.pos, t.w FROM documents\n"
        "LATERAL VIEW POSEXPLODE(SPLIT(text, ' ')) t AS pos, w\n"
        "WHERE doc_id < 3 ORDER BY doc_id, t.pos"
    ),
    oracle=(
        "SELECT doc_id, i - 1 AS pos, arr[i] AS w\n"
        "FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS arr FROM documents),\n"
        "     UNNEST(RANGE(1, LEN(arr) + 1)) AS t(i)\n"
        "WHERE doc_id < 3 ORDER BY doc_id, pos"
    ),
    category="scalar-array",
    suite="extension",
    doc="posexplode with 0-based ordinals vs UNNEST+RANGE oracle",
)


# -- JSON -> typed MapType ---------------------------------------------------

register(
    "json_to_map",
    engine=(
        "SELECT event_id, FROM_JSON(props, 'map<string,int>')['k'] AS k,\n"
        "SIZE(MAP_KEYS(FROM_JSON(props, 'map<string,int>'))) AS n_keys\n"
        "FROM events ORDER BY event_id LIMIT 50"
    ),
    oracle=(
        "SELECT event_id, CAST(props->>'$.k' AS INT) AS k,\n"
        "1 AS n_keys\n"
        "FROM events ORDER BY event_id LIMIT 50"
    ),
    category="scalar-json",
    suite="extension",
    doc="schema-less JSON payload decoded to a typed MapType at the edge",
)


# -- extended window analytics ----------------------------------------------

register(
    "win_analytic_dist",
    sql=(
        "SELECT c_custkey,\n"
        "CAST(ROUND(PERCENT_RANK() OVER w, 6) AS DOUBLE) AS pr,\n"
        "CAST(ROUND(CUME_DIST() OVER w, 6) AS DOUBLE) AS cd,\n"
        "NTH_VALUE(c_custkey, 3) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey\n"
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS third_in_seg\n"
        "FROM customer WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)\n"
        "ORDER BY c_custkey"
    ),
    category="window",
    suite="extension",
    doc="PERCENT_RANK / CUME_DIST / NTH_VALUE analytic distribution functions",
)

register(
    "win_ntile_buckets",
    sql=(
        "SELECT c_custkey,\n"
        "NTILE(10) OVER (PARTITION BY c_mktsegment"
        " ORDER BY c_acctbal DESC, c_custkey) AS decile\n"
        "FROM customer ORDER BY c_custkey"
    ),
    category="window",
    suite="extension",
    doc=(
        "NTILE decile assignment per market segment (equi-depth binning "
        "for feature bucketing); partitioned by segment so no global sort "
        "— deterministic via the custkey tiebreak"
    ),
)

register(
    "win_moving_avg",
    sql=(
        "SELECT o_orderkey,\n"
        "CAST(ROUND(AVG(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey\n"
        "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS DOUBLE) AS ma3\n"
        "FROM orders ORDER BY o_orderkey LIMIT 200"
    ),
    category="window",
    suite="extension",
    doc="bounded ROWS frame: 3-row moving average per customer",
)


# -- sorted array aggregation ------------------------------------------------

register(
    "agg_array_sorted",
    engine=(
        "SELECT user_id, ARRAY_JOIN(SORT_ARRAY(COLLECT_LIST(event_type)), ',') AS types\n"
        "FROM events WHERE user_id < 20 GROUP BY user_id ORDER BY user_id"
    ),
    oracle=(
        "SELECT user_id, ARRAY_TO_STRING(LIST_SORT(LIST(event_type)), ',') AS types\n"
        "FROM events WHERE user_id < 20 GROUP BY user_id ORDER BY user_id"
    ),
    category="aggregate",
    suite="extension",
    doc=(
        "array_agg with deterministic sort (collect_list order is undefined; "
        "sorting restores determinism). Final projection string-joins the "
        "array: array cells are unhashable in the driver's pandas "
        "canonicalizer, so every registered query must emit scalar columns "
        "(see FIXTURES.md dtype rules)."
    ),
)


# -- fuzzy matching (edit distance) ------------------------------------------

register(
    "llm_fuzzy_levenshtein",
    sql=(
        "SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,\n"
        "LEVENSHTEIN(a.p_name, b.p_name) AS dist\n"
        "FROM part a JOIN part b ON a.p_partkey < b.p_partkey\n"
        "AND a.p_partkey < 150 AND b.p_partkey < 150\n"
        "WHERE LEVENSHTEIN(a.p_name, b.p_name) <= 8\n"
        "ORDER BY dist, id_a, id_b LIMIT 50"
    ),
    category="llm-dedup",
    suite="extension",
    doc="edit-distance fuzzy matching tier (bounded id window keeps it a verification pass; scale path gates on simhash candidates)",
)


# -- headline analytics: TPC-H Q3-shaped profitability query -----------------

register(
    "tpch_q3_like",
    sql=(
        "SELECT l.l_orderkey,\n"
        "CAST(ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS DOUBLE) AS revenue,\n"
        "o.o_orderdate\n"
        "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey\n"
        "JOIN lineitem l ON l.l_orderkey = o.o_orderkey\n"
        "WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderstatus <> 'F'\n"
        "GROUP BY l.l_orderkey, o.o_orderdate\n"
        "ORDER BY revenue DESC, l.l_orderkey LIMIT 10"
    ),
    category="join",
    suite="extension",
    doc="TPC-H Q3-shaped: selective dim filter -> fact join -> agg -> top-k",
)


# -- final coverage batch ----------------------------------------------------

def _win_range_numeric_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric RANGE frame without the window: ``COUNT(*) OVER (ORDER BY
    p_size RANGE 5 PRECEDING)`` depends only on the row's p_size VALUE, so
    the unpartitioned global WindowExec (single-partition sort — the plan
    that OOMs at scale) is unnecessary. Decompose:

    1. aggregate rows per distinct p_size (bounded integer domain);
    2. each size ``s`` contributes its count to targets ``s..s+5`` — an
       explode to an equi-join key, no theta join;
    3. per-target sums are the frame counts; broadcast them back onto the
       fact rows (the distinct-size table is domain-sized, always tiny).

    Every shuffle is on the bounded p_size key; nothing is ever sorted or
    collected globally. The oracle runs the declared window form.

    NOT NULL assumption (ADVICE r3): the inner join on ``p_size == t``
    drops NULL-p_size rows, while the declared RANGE window would emit
    them as their own peer group. ``part.p_size`` is NOT NULL in the
    fixtures (and in TPC-H), so the rewrite is exact here; admitting NULLs
    would require unioning the NULL-size rows back with their own count.
    """
    part = load_table(spark, sf_dir, "part")
    sizes = part.groupBy("p_size").agg(F.count(F.lit(1)).alias("cnt"))
    contrib = sizes.select(
        F.explode(F.sequence(F.col("p_size"), F.col("p_size") + 5)).alias("t"),
        "cnt",
    )
    near = contrib.groupBy("t").agg(F.sum("cnt").alias("n_near"))
    return (
        part.join(F.broadcast(near), part.p_size == near.t)
        .select("p_partkey", F.col("n_near").cast("bigint").alias("n_near"))
        .orderBy("p_partkey")
        .limit(100)
    )


register(
    "win_range_numeric",
    engine_fn=_win_range_numeric_fn,
    oracle=(
        "SELECT p_partkey,\n"
        "COUNT(*) OVER (ORDER BY p_size RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS n_near\n"
        "FROM part ORDER BY p_partkey LIMIT 100"
    ),
    category="window",
    suite="extension",
    doc=(
        "numeric RANGE frame (peers by value distance) — engine rewrites "
        "the global window to a domain-sized aggregate + broadcast join "
        "(no single-partition WindowExec); oracle runs the window form"
    ),
)

register(
    "agg_minmax_by",
    engine=(
        "SELECT o_orderpriority,\n"
        "MAX_BY(o_orderkey, o_totalprice) AS best_order,\n"
        "MIN_BY(o_orderkey, o_totalprice) AS worst_order\n"
        "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"
    ),
    oracle=(
        "SELECT o_orderpriority,\n"
        "ARG_MAX(o_orderkey, o_totalprice) AS best_order,\n"
        "ARG_MIN(o_orderkey, o_totalprice) AS worst_order\n"
        "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"
    ),
    category="aggregate",
    suite="extension",
    doc="argmax/argmin aggregation (MAX_BY/MIN_BY vs ARG_MAX/ARG_MIN)",
)

register(
    "agg_corr_covar",
    sql=(
        "SELECT l_returnflag,\n"
        "CAST(ROUND(CORR(l_quantity, l_extendedprice), 6) AS DOUBLE) AS corr_qp,\n"
        "CAST(ROUND(COVAR_SAMP(l_quantity, l_discount), 6) AS DOUBLE) AS cov_qd\n"
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"
    ),
    category="aggregate",
    suite="extension",
    doc="bivariate statistics: correlation + sample covariance",
)

register(
    "date_diff_funcs",
    engine=(
        "SELECT o_orderkey, DATEDIFF(DATE '1995-06-01', o_orderdate) AS days_to_cut\n"
        "FROM orders ORDER BY o_orderkey LIMIT 50"
    ),
    oracle=(
        "SELECT o_orderkey, DATE_DIFF('day', o_orderdate, DATE '1995-06-01') AS days_to_cut\n"
        "FROM orders ORDER BY o_orderkey LIMIT 50"
    ),
    category="scalar-date",
    suite="extension",
    doc="date difference in days (DATEDIFF vs DATE_DIFF dialect pair)",
)

register(
    "try_cast_safe",
    # r13 (guide §1.2 — don't compute things you throw away): the former
    # engine text parsed props JSON for EVERY event row and then kept the
    # top 50 by event_id; the subquery takes the top 50 FIRST (event_id is
    # the unique order key, so the row set is identical) and parses 50
    # props instead of the whole table. TakeOrderedAndProject evaluates
    # the projection after selecting rows either way — the JSON parse and
    # TRY_CASTs now run 50 times, not |events| times.
    engine=(
        "SELECT event_id, TRY_CAST(GET_JSON_OBJECT(props, '$.k') AS INT) AS k_ok,\n"
        "TRY_CAST(event_type AS INT) AS never_int\n"
        "FROM (SELECT event_id, props, event_type FROM events\n"
        "      ORDER BY event_id LIMIT 50)\n"
        "ORDER BY event_id"
    ),
    oracle=(
        "SELECT event_id, TRY_CAST(props->>'$.k' AS INT) AS k_ok,\n"
        "TRY_CAST(event_type AS INT) AS never_int\n"
        "FROM events ORDER BY event_id LIMIT 50"
    ),
    category="scalar-cond",
    suite="extension",
    doc="TRY_CAST: malformed input -> NULL, not error (ANSI-safe ingestion)",
)


# -- storage layout: Z-order clustering key ----------------------------------


def _zvalue_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyuki_spark.sources.layout import zvalue

    orders = load_table(spark, sf_dir, "orders")
    bucketed = orders.select(
        "o_orderkey",
        (F.col("o_custkey") % 256).alias("cx"),
        (F.col("o_orderkey") % 256).alias("cy"),
    )
    return (
        bucketed.select(
            "o_orderkey", zvalue(["cx", "cy"], bits=8).alias("z")
        )
        .orderBy("z", "o_orderkey")
        .limit(200)
    )


def _zvalue_oracle() -> str:
    from nyuki_spark.sources.layout import zvalue_sql

    z = zvalue_sql(["cx", "cy"], bits=8)
    return (
        "SELECT o_orderkey, " + z + " AS z\n"
        "FROM (SELECT o_orderkey, o_custkey % 256 AS cx,\n"
        "             o_orderkey % 256 AS cy FROM orders)\n"
        "ORDER BY z, o_orderkey LIMIT 200"
    )


register(
    "layout_zvalue",
    engine_fn=_zvalue_fn,
    oracle=_zvalue_oracle(),
    category="layout",
    suite="extension",
    doc=(
        "Morton/Z-curve clustering key: bit-interleave of two bucketed "
        "dims, pure-Column shift/mask chain; the sort key zorder_by uses "
        "for multi-dimension row-group pruning"
    ),
)


# -- robust ingestion: corrupt-record-tolerant JSON parse --------------------


def _corrupt_json_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE JSON ingestion: malformed payloads land in a corrupt-
    record column instead of failing the job — the non-negotiable property
    of any 100 TB ingest (one bad record must never kill a pipeline).
    Malformation is synthesized deterministically (every 7th event loses
    its closing chars) so the oracle can replicate the split exactly.
    """
    events = load_table(spark, sf_dir, "events")
    payload = F.when(
        F.col("event_id") % 7 == 0,
        F.expr("SUBSTR(props, 1, LENGTH(props) - 2)"),
    ).otherwise(F.col("props"))
    parsed = F.from_json(
        payload,
        "k int, _corrupt string",
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
    )
    return (
        events.select("event_type", parsed.alias("p"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count(F.col("p._corrupt")).alias("n_bad"),
            F.sum(F.when(F.col("p._corrupt").isNull(), F.col("p.k"))).alias(
                "k_sum"
            ),
        )
        .orderBy("event_type")
    )


register(
    "ingest_corrupt_json",
    engine_fn=_corrupt_json_fn,
    oracle=(
        "SELECT event_type, COUNT(*) AS n_total,\n"
        "  COUNT(*) FILTER (NOT JSON_VALID(payload)) AS n_bad,\n"
        "  CAST(SUM(CASE WHEN JSON_VALID(payload)\n"
        "      THEN CAST(payload->>'$.k' AS INT) END) AS BIGINT) AS k_sum\n"
        "FROM (SELECT event_type,\n"
        "        CASE WHEN event_id % 7 = 0\n"
        "             THEN SUBSTR(props, 1, LENGTH(props) - 2)\n"
        "             ELSE props END AS payload\n"
        "      FROM events)\n"
        "GROUP BY event_type ORDER BY event_type"
    ),
    category="ingestion",
    suite="extension",
    doc=(
        "corrupt-record-tolerant JSON ingestion: PERMISSIVE from_json with "
        "a corrupt-record column; bad payloads counted, good ones parsed, "
        "job never fails"
    ),
)


# -- CDC upsert/delete merge --------------------------------------------------


def _cdc_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a CDC batch from the orders table itself (deterministic,
    oracle-replicable): keys %5==0 arrive as changes — of those, %10==0 are
    deletes, the rest upserts doubling o_totalprice — then verify the merged
    snapshot by aggregate, so every surviving row participates in the check.
    """
    from nyuki_spark.operators.cdc import upsert_snapshot

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = orders  # full snapshot: change keys DO collide -> anti-join works
    changes = (
        orders.filter(F.col("o_orderkey") % 5 == 0)
        .withColumn("is_delete", F.col("o_orderkey") % 10 == 0)
        .withColumn(
            "o_totalprice",
            F.when(F.col("is_delete"), F.col("o_totalprice")).otherwise(
                F.col("o_totalprice") * 2
            ),
        )
    )
    snap = upsert_snapshot(base, changes, ["o_orderkey"], delete_col="is_delete")
    return (
        snap.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("o_totalprice"), 4)
            .cast("double")
            .alias("price_sum"),
        )
        .orderBy("o_orderstatus")
    )


register(
    "cdc_upsert_merge",
    engine_fn=_cdc_fn,
    oracle=(
        "WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice\n"
        "              FROM orders WHERE o_orderkey % 5 <> 0),\n"
        "chg AS (SELECT o_orderkey, o_orderstatus,\n"
        "               o_totalprice * 2 AS o_totalprice\n"
        "        FROM orders WHERE o_orderkey % 5 = 0 AND o_orderkey % 10 <> 0),\n"
        "snap AS (SELECT * FROM base\n"
        "         UNION ALL SELECT * FROM chg)\n"
        "SELECT o_orderstatus, COUNT(*) AS n_rows,\n"
        "       CAST(ROUND(SUM(o_totalprice), 4) AS DOUBLE) AS price_sum\n"
        "FROM snap GROUP BY o_orderstatus ORDER BY o_orderstatus"
    ),
    category="cdc",
    suite="extension",
    doc=(
        "CDC copy-on-write merge: upserts replace, tombstones delete, "
        "untouched base survives via anti-join — snapshot verified by "
        "per-status aggregate"
    ),
)


# -- time-series gap-fill + LOCF ---------------------------------------------


def _gapfill_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyuki_spark.operators.timeseries import gapfill_locf

    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    return gapfill_locf(
        events, "user_id", "ts", "value", step="1 hour"
    ).orderBy("user_id", "h")


register(
    "ts_gapfill_locf",
    engine_fn=_gapfill_fn,
    oracle=(
        "WITH hourly AS (\n"
        "  SELECT user_id, DATE_TRUNC('hour', ts) AS h,\n"
        "         CAST(ROUND(AVG(value), 4) AS DOUBLE) AS v\n"
        "  FROM events WHERE user_id < 10 GROUP BY 1, 2\n"
        "), bounds AS (\n"
        "  SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY 1\n"
        "), grid AS (\n"
        "  SELECT user_id, UNNEST(GENERATE_SERIES(h0, h1, INTERVAL 1 HOUR)) AS h\n"
        "  FROM bounds\n"
        ")\n"
        "SELECT g.user_id, g.h, hourly.v,\n"
        "       LAST_VALUE(hourly.v IGNORE NULLS) OVER (\n"
        "         PARTITION BY g.user_id ORDER BY g.h\n"
        "         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled\n"
        "FROM grid g LEFT JOIN hourly\n"
        "  ON hourly.user_id = g.user_id AND hourly.h = g.h\n"
        "ORDER BY g.user_id, g.h"
    ),
    category="timeseries",
    suite="extension",
    doc=(
        "hypertable-style resampling: per-key dense hourly grid (sequence "
        "over each key's own span), bucket avg, LOCF gap-fill — every "
        "stage key-partitioned, no global calendar cross join"
    ),
)


# -- skew diagnosis -----------------------------------------------------------


def _skew_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew report: the 10 heaviest join/agg keys with their share of
    all rows — the measurement you take before choosing salting or AQE
    skew hints. Partial-agg'd count + distributed top-k; the full-table
    total comes from the same single pass (grouped counts summed), not a
    second scan."""
    events = load_table(spark, sf_dir, "events")
    counts = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    return (
        counts.orderBy(F.desc("n"), "user_id")
        .limit(10)
        .crossJoin(
            F.broadcast(counts.agg(F.sum("n").alias("total_rows")))
        )
        .select(
            "user_id",
            "n",
            F.round(F.col("n") * 100.0 / F.col("total_rows"), 4).alias("pct"),
        )
        .orderBy(F.desc("n"), "user_id")
    )


register(
    "skew_report",
    engine_fn=_skew_fn,
    oracle=(
        "WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1),\n"
        "t AS (SELECT SUM(n) AS total_rows FROM c)\n"
        "SELECT user_id, n, ROUND(n * 100.0 / total_rows, 4) AS pct\n"
        "FROM c, t ORDER BY n DESC, user_id LIMIT 10"
    ),
    category="diagnostics",
    suite="extension",
    doc=(
        "key-skew report: top-10 heaviest keys with row share — the "
        "pre-salting diagnostic, one aggregated pass + broadcast total"
    ),
)


# -- higher-order array functions --------------------------------------------


def _hof_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zip_with / filter / transform+aggregate over the embedding arrays —
    the JVM-side lambda surface (SparkSQL higher-order functions, Spark
    2.4+). All codegen'd Column work: the float math crosses no Arrow
    boundary, so at 100 TB this is a pure map stage."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    dot_rev = F.aggregate(
        F.zip_with(e, F.reverse(e), lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        emb.select(
            "vec_id",
            F.round(dot_rev, 4).cast("double").alias("dot_rev"),
            F.size(F.filter(e, lambda x: x > 0.2)).alias("n_big"),
            F.forall(e, lambda x: F.abs(x) <= 1.0).cast("int").alias("bounded"),
        )
        .orderBy("vec_id")
        .limit(100)
    )


register(
    "hof_array_math",
    engine_fn=_hof_fn,
    oracle=(
        "SELECT vec_id,\n"
        "  CAST(ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(embedding, LIST_REVERSE(embedding)),\n"
        "       p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), 4) AS DOUBLE) AS dot_rev,\n"
        "  LEN(LIST_FILTER(embedding, x -> x > 0.2)) AS n_big,\n"
        "  CAST(LIST_MAX(LIST_TRANSFORM(embedding, x -> ABS(x))) <= 1.0 AS INT) AS bounded\n"
        "FROM embeddings ORDER BY vec_id LIMIT 100"
    ),
    category="scalar-array",
    suite="extension",
    doc=(
        "higher-order array lambdas (zip_with/filter/forall/aggregate "
        "fold) vs DuckDB list functions — codegen'd, no UDF"
    ),
)


# -- unpivot (wide -> long) ---------------------------------------------------

register(
    "unpivot_stack",
    engine=(
        "SELECT o_orderkey, metric, val FROM (\n"
        "  SELECT o_orderkey,\n"
        "    STACK(2, 'price', CAST(o_totalprice AS DOUBLE),\n"
        "             'custkey', CAST(o_custkey AS DOUBLE)) AS (metric, val)\n"
        "  FROM orders\n"
        ") WHERE o_orderkey <= 200 ORDER BY o_orderkey, metric"
    ),
    oracle=(
        "SELECT o_orderkey, metric, val FROM (\n"
        "  SELECT o_orderkey, 'price' AS metric, CAST(o_totalprice AS DOUBLE) AS val FROM orders\n"
        "  UNION ALL\n"
        "  SELECT o_orderkey, 'custkey', CAST(o_custkey AS DOUBLE) FROM orders\n"
        ") WHERE o_orderkey <= 200 ORDER BY o_orderkey, metric"
    ),
    category="reshape",
    suite="extension",
    doc="unpivot wide->long via STACK (generator, no shuffle) vs UNION ALL oracle",
)


# -- deterministic k-sample per group ----------------------------------------


def _group_sample_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform k-per-key sample with zero RNG state: order each group by a
    salted md5 draw and keep the first k. Reproducible across runs,
    cluster sizes, and partitionings; the window is key-partitioned, so
    no stage is global."""
    from pyspark.sql import Window

    from nyuki_spark.operators.sample import hash_fraction

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        hash_fraction("doc_id", salt="pick"), "doc_id"
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "doc_id", "rn")
        .orderBy("lang", "rn")
    )


register(
    "sample_k_per_group",
    engine_fn=_group_sample_fn,
    oracle=(
        "SELECT lang, doc_id, rn FROM (\n"
        "  SELECT lang, doc_id, ROW_NUMBER() OVER (\n"
        "    PARTITION BY lang\n"
        "    ORDER BY ('0x' || SUBSTR(MD5('pick' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT\n"
        "             / 4294967296.0, doc_id) AS rn\n"
        "  FROM documents)\n"
        "WHERE rn <= 5 ORDER BY lang, rn"
    ),
    category="llm-sampling",
    suite="extension",
    doc=(
        "deterministic k-per-key sample (salted-hash order + key-local "
        "row_number) — reproducible, no RNG, no global stage"
    ),
)


# -- LATERAL correlated top-k join -------------------------------------------

register(
    "join_lateral_topk",
    engine=(
        "SELECT c.c_custkey, t.o_orderkey, t.o_totalprice\n"
        "FROM customer c, LATERAL (\n"
        "  SELECT o_orderkey, o_totalprice FROM orders\n"
        "  WHERE o_custkey = c.c_custkey\n"
        "  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t\n"
        "WHERE c.c_custkey <= 100\n"
        "ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey"
    ),
    oracle=(
        "SELECT c.c_custkey, t.o_orderkey, t.o_totalprice\n"
        "FROM customer c, LATERAL (\n"
        "  SELECT o_orderkey, o_totalprice FROM orders\n"
        "  WHERE o_custkey = c.c_custkey\n"
        "  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t\n"
        "WHERE c.c_custkey <= 100\n"
        "ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey"
    ),
    category="join",
    suite="extension",
    doc=(
        "correlated LATERAL subquery (top-2 orders per customer) — "
        "Catalyst decorrelates to a ranked join, no per-row re-execution"
    ),
)


# -- null-safe equality join --------------------------------------------------

register(
    "join_null_safe",
    engine=(
        "SELECT e1.event_id, e2.event_id AS other\n"
        "FROM (SELECT event_id, NULLIF(event_type, 'error') AS et\n"
        "      FROM events WHERE event_id < 50) e1\n"
        "JOIN (SELECT event_id, NULLIF(event_type, 'error') AS et\n"
        "      FROM events WHERE event_id >= 50 AND event_id < 100) e2\n"
        "  ON e1.et <=> e2.et\n"
        "ORDER BY e1.event_id, other"
    ),
    oracle=(
        "SELECT e1.event_id, e2.event_id AS other\n"
        "FROM (SELECT event_id, NULLIF(event_type, 'error') AS et\n"
        "      FROM events WHERE event_id < 50) e1\n"
        "JOIN (SELECT event_id, NULLIF(event_type, 'error') AS et\n"
        "      FROM events WHERE event_id >= 50 AND event_id < 100) e2\n"
        "  ON e1.et IS NOT DISTINCT FROM e2.et\n"
        "ORDER BY e1.event_id, other"
    ),
    category="join",
    suite="extension",
    doc=(
        "null-safe equality join (<=> vs IS NOT DISTINCT FROM): NULL keys "
        "match each other, still hash-joinable (no nested loop)"
    ),
)


# -- NOT IN three-valued-logic semantics -------------------------------------

_NOT_IN_BASE = (
    "SELECT CASE WHEN variant = 1 THEN 'null_poisoned' ELSE 'null_free' END AS variant,\n"
    "       n FROM (\n"
    "  SELECT 1 AS variant, COUNT(*) AS n FROM orders\n"
    "  WHERE o_orderkey <= 60 AND o_orderkey NOT IN (\n"
    "    SELECT CASE WHEN event_id % 25 = 7 THEN NULL ELSE event_id END\n"
    "    FROM events WHERE event_id < 40)\n"
    "  UNION ALL\n"
    "  SELECT 2, COUNT(*) FROM orders\n"
    "  WHERE o_orderkey <= 60 AND o_orderkey NOT IN (\n"
    "    SELECT event_id FROM events WHERE event_id < 40)\n"
    ") ORDER BY variant"
)

register(
    "subq_not_in_null",
    sql=_NOT_IN_BASE,
    category="subquery",
    suite="extension",
    doc=(
        "NOT IN three-valued logic: one NULL in the subquery empties the "
        "result (count 0) while the null-free variant anti-joins normally "
        "— the classic SQL trap, hash-proven identical to DuckDB"
    ),
)


# -- time-interval RANGE window frame ----------------------------------------

register(
    "win_range_time",
    engine=(
        "SELECT event_id,\n"
        "  COUNT(*) OVER (PARTITION BY user_id ORDER BY ts\n"
        "    RANGE BETWEEN INTERVAL '30' MINUTE PRECEDING AND CURRENT ROW) AS n_30m\n"
        "FROM events WHERE user_id < 5 ORDER BY event_id"
    ),
    oracle=(
        "SELECT event_id,\n"
        "  COUNT(*) OVER (PARTITION BY user_id ORDER BY ts\n"
        "    RANGE BETWEEN INTERVAL 30 MINUTE PRECEDING AND CURRENT ROW) AS n_30m\n"
        "FROM events WHERE user_id < 5 ORDER BY event_id"
    ),
    category="window",
    suite="extension",
    doc=(
        "event-time RANGE frame (trailing 30-minute count per key) — the "
        "sliding-window-per-event shape, key-partitioned sort only"
    ),
)


# -- time-series similarity search (activity-profile cosine) -----------------


def _ts_similar_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral similarity search: per-user hour-of-day activity profile
    (24-dim count vector) -> top-10 most-similar user pairs by cosine.

    Two stages, both scale-safe: (1) profile build — one hash agg over
    events plus a per-user dense grid (|users| x 24 rows, entity-sized not
    event-sized); (2) pair generation via LSH candidate bucketing
    (embedding_candidates_lsh: equi-join on hash-table/bucket keys, no
    all-pairs join anywhere in the plan) followed by exact cosine
    rescoring of candidates only — the llm_cosine_pairs funnel. The
    brute-force all-pairs form survives only as the DuckDB oracle, which
    doubles as the recall check: the registered query must reproduce the
    exact top-10.
    """
    events = load_table(spark, sf_dir, "events")
    counts = (
        events.select("user_id", F.hour("ts").alias("h"))
        .groupBy("user_id", "h")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    grid = (
        events.select("user_id")
        .distinct()
        .select("user_id", F.explode(F.sequence(F.lit(0), F.lit(23))).alias("h"))
    )
    prof = (
        grid.join(counts, ["user_id", "h"], "left")
        .withColumn("n", F.coalesce("n", F.lit(0)))
        .groupBy("user_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("h", "n")))
            .getField("n")
            .alias("v")
        )
    )
    # Stage 1.5 (r4): exact-duplicate collapse before pair generation —
    # identical profiles (common: replicated fixtures, bot farms, default
    # behavior cohorts) are LSH's worst case, colliding in every hash
    # table so candidates grow with the square of the duplication factor.
    # Group by the profile VALUE, pair only unique profiles, then expand
    # group pairs back to user pairs (members are bit-identical, so every
    # cross pair shares the representatives' cosine and intra-group pairs
    # sit at exactly 1.0). Members are sliced to the 11 smallest user_ids
    # per group — lossless for a top-10 ordered by (cos DESC, ua, ub),
    # bounded for mega-duplicate groups. Same funnel as llm_cosine_pairs.
    groups = prof.groupBy("v").agg(
        F.min("user_id").alias("rep_id"),
        F.slice(F.sort_array(F.collect_list("user_id")), 1, 11).alias("members"),
        F.count(F.lit(1)).alias("m"),
    ).persist()  # entity-sized; feeds 6 plan branches (pa/pb/ga/gb/intra/
    # LSH) — without the cache each branch re-runs the events aggregation
    # (observed 2.6x at sf0.1). Bench/driver clear caches between queries.
    prof = groups.select(F.col("rep_id").alias("user_id"), "v")

    # Pair generation goes through LSH bucketing (equi-join on hash keys),
    # NOT an all-pairs theta join: candidate volume scales with bucket
    # collisions, not |users|^2 — the same funnel llm_cosine_pairs uses.
    # Profiles are unit-normalised first so the cosine floor maps exactly
    # to a Euclidean radius inside approxSimilarityJoin.
    from nyuki_spark.operators.similarity import embedding_candidates_lsh

    sq_norm = F.aggregate(
        F.col("v"),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    prof = prof.withColumn("_n", F.sqrt(sq_norm)).withColumn(
        "vn", F.transform("v", lambda x: x.cast("double") / F.col("_n"))
    )
    cand = embedding_candidates_lsh(
        prof,
        sim_floor=0.5,
        id_col="user_id",
        emb_col="vn",
        num_hash_tables=8,
    )
    pa = prof.select(F.col("user_id").alias("id_a"), F.col("v").alias("va"))
    pb = prof.select(F.col("user_id").alias("id_b"), F.col("v").alias("vb"))
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.col(c),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    # One cheap probe on the cached groups table decides the plan: the
    # expansion stages exist only for duplicate-bearing corpora; on
    # dup-free data (the common fixture case) the collapse is 1:1 and the
    # r3 plan — rescore candidates, take 10 — is strictly better.
    has_dups = not groups.where(F.col("m") >= 2).isEmpty()
    ga = groups.select(F.col("rep_id").alias("id_a"), F.col("members").alias("_ma"))
    gb = groups.select(F.col("rep_id").alias("id_b"), F.col("members").alias("_mb"))
    intra = (
        groups.where(F.col("m") >= 2)
        .select(F.col("members").alias("_ms"))
        .select(F.explode("_ms").alias("_u"), "_ms")
        .select("_u", F.explode("_ms").alias("_v"))
        .where(F.col("_u") < F.col("_v"))
        .select(
            F.col("_u").alias("ua"),
            F.col("_v").alias("ub"),
            F.lit(1.0).alias("cos"),
        )
    )

    def _score(pairs: DataFrame) -> DataFrame:
        """Rescore representative pairs exactly; on duplicate-bearing data
        expand to user pairs and merge the intra-duplicate (cos 1.0)
        pairs; global top-10."""
        rep = (
            pairs.join(pa, "id_a")
            .join(pb, "id_b")
            .select(
                "id_a",
                "id_b",
                F.round(dot / (norm("va") * norm("vb")), 4)
                .cast("double")
                .alias("cos"),
            )
        )
        if not has_dups:
            return (
                rep.select(
                    F.col("id_a").alias("ua"), F.col("id_b").alias("ub"), "cos"
                )
                .orderBy(F.desc("cos"), "ua", "ub")
                .limit(10)
            )
        rep = rep.orderBy(F.desc("cos"), "id_a", "id_b").limit(100)
        # only 10 group pairs can matter for a top-10; 100 = tie headroom
        inter = (
            rep.join(ga, "id_a")
            .join(gb, "id_b")
            .select(F.explode("_ma").alias("_u"), "_mb", "cos")
            .select("_u", F.explode("_mb").alias("_v"), "cos")
            .select(
                F.least("_u", "_v").alias("ua"),
                F.greatest("_u", "_v").alias("ub"),
                "cos",
            )
        )
        return (
            inter.unionByName(intra)
            .orderBy(F.desc("cos"), "ua", "ub")
            .limit(10)
        )

    top = _score(cand).persist()
    # Recall guard (ADVICE r3): LSH recall is probabilistic. The oracle is
    # an exact all-pairs top-10, so a bucket miss — or a true top-10 pair
    # below the sim_floor=0.5 candidate cutoff — would silently hash-fail
    # on a dataset with less-correlated hour profiles than the fixtures
    # (where the 10th cosine is ~0.909). If the candidate tier yields
    # fewer than 10 pairs, or the 10th rescored cosine sits within eps of
    # the floor (meaning true pairs may hide below it), fall back to the
    # exact pair join — safe because the profile table is entity-sized
    # (|users| rows), not event-sized. The 10-row collect is the guard's
    # only driver-side cost; ``persist`` keeps the LSH tier single-pass
    # when the guard passes (the common case).
    rows = top.collect()
    eps = 0.05
    if len(rows) < 10 or min(r["cos"] for r in rows) < 0.5 + eps:
        top.unpersist()
        # Exact fallback pairs UNIQUE profiles (the collapse holds), so the
        # theta join is bounded by distinct-profile count, not user count.
        exact = pa.join(pb, F.col("id_a") < F.col("id_b"))
        return _score(exact.select("id_a", "id_b"))
    return top


register(
    "ts_similar_users",
    engine_fn=_ts_similar_fn,
    oracle=(
        "WITH u AS (SELECT DISTINCT user_id FROM events),\n"
        "g AS (SELECT user_id, t.h FROM u, UNNEST(RANGE(0, 24)) t(h)),\n"
        "c AS (SELECT user_id, EXTRACT(hour FROM ts) AS h, COUNT(*) AS n\n"
        "      FROM events GROUP BY 1, 2),\n"
        "p AS (SELECT g.user_id, LIST(COALESCE(c.n, 0) ORDER BY g.h) AS v\n"
        "      FROM g LEFT JOIN c ON c.user_id = g.user_id AND c.h = g.h GROUP BY 1),\n"
        "pr AS (SELECT a.user_id AS ua, b.user_id AS ub,\n"
        "  CAST(ROUND(\n"
        "    LIST_SUM(LIST_TRANSFORM(LIST_ZIP(a.v, b.v), p -> CAST(p[1] AS DOUBLE) * p[2]))\n"
        "    / (SQRT(LIST_SUM(LIST_TRANSFORM(a.v, x -> CAST(x AS DOUBLE) * x)))\n"
        "       * SQRT(LIST_SUM(LIST_TRANSFORM(b.v, x -> CAST(x AS DOUBLE) * x)))), 4)\n"
        "  AS DOUBLE) AS cos\n"
        "  FROM p a JOIN p b ON a.user_id < b.user_id)\n"
        "SELECT ua, ub, cos FROM pr ORDER BY cos DESC, ua, ub LIMIT 10"
    ),
    category="timeseries",
    suite="extension",
    doc=(
        "time-series similarity search: 24-dim hour-of-day activity "
        "profiles (entity-sized build) -> top-10 cosine pairs; exact "
        "pairing on the small profile table, LSH path for huge entity "
        "counts"
    ),
)


# -- ordered string aggregation ----------------------------------------------

register(
    "agg_string_concat",
    engine=(
        "SELECT r_name, CONCAT_WS(',', ARRAY_SORT(COLLECT_LIST(n_name))) AS members\n"
        "FROM nation JOIN region ON n_regionkey = r_regionkey\n"
        "GROUP BY r_name ORDER BY r_name"
    ),
    oracle=(
        "SELECT r_name, STRING_AGG(n_name, ',' ORDER BY n_name) AS members\n"
        "FROM nation JOIN region ON n_regionkey = r_regionkey\n"
        "GROUP BY r_name ORDER BY r_name"
    ),
    category="aggregate",
    suite="extension",
    doc=(
        "ordered group string concatenation (sorted collect_list + "
        "concat_ws vs STRING_AGG ORDER BY) — deterministic member lists"
    ),
)


# -- conditional/boolean aggregates ------------------------------------------

register(
    "agg_cond_bool",
    engine=(
        "SELECT event_type,\n"
        "  COUNT_IF(value > 50) AS n_big,\n"
        "  CAST(BOOL_OR(value > 99) AS INT) AS any_huge,\n"
        "  CAST(BOOL_AND(value >= 0) AS INT) AS all_nonneg\n"
        "FROM events GROUP BY event_type ORDER BY event_type"
    ),
    oracle=(
        "SELECT event_type,\n"
        "  COUNT(*) FILTER (value > 50) AS n_big,\n"
        "  CAST(BOOL_OR(value > 99) AS INT) AS any_huge,\n"
        "  CAST(BOOL_AND(value >= 0) AS INT) AS all_nonneg\n"
        "FROM events GROUP BY event_type ORDER BY event_type"
    ),
    category="aggregate",
    suite="extension",
    doc="COUNT_IF / BOOL_OR / BOOL_AND conditional aggregates (FILTER twin)",
)


# -- incremental aggregate maintenance (materialized-view delta merge) -------
#
# The 100 TB pattern behind "refresh the dashboard without rescanning the
# corpus": keep a per-key PARTIAL aggregate state table (count / decimal
# sum / min / max — all mergeable), aggregate ONLY the new delta batch,
# then merge the two small state tables. At update time the big table is
# never touched: the shuffle is |delta| + |state|, not |base|. avg is
# derived sum/count at read time (never stored — it does not merge).
# Sums ride a DECIMAL(18,2) cast so partial-merge order cannot perturb
# the result (FP sums are order-dependent; decimals are exact), which is
# also what makes the merged answer hash-equal to the oracle's direct
# full aggregation.


def _mv_incremental_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "vdec", F.col("value").cast("decimal(18,2)")
    )
    # Deterministic split: ~1/7 of rows arrive as the "new batch".
    base = ev.filter(F.col("event_id") % 7 != 0)
    delta = ev.filter(F.col("event_id") % 7 == 0)

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("vdec").alias("s"),
            F.min("vdec").alias("mn"),
            F.max("vdec").alias("mx"),
        )

    merged = (
        partial(base)
        .unionByName(partial(delta))
        .groupBy("event_type")
        .agg(
            F.sum("cnt").alias("n"),
            F.sum("s").alias("s"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
        )
    )
    return merged.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("s").cast("double").alias("total"),
        F.col("mn").cast("double").alias("vmin"),
        F.col("mx").cast("double").alias("vmax"),
        F.round(F.col("s").cast("double") / F.col("n"), 4)
        .cast("double")
        .alias("vavg"),
    ).orderBy("event_type")


register(
    "mv_incremental_agg",
    engine_fn=_mv_incremental_fn,
    oracle=(
        "SELECT event_type, COUNT(*) AS n,\n"
        "  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,\n"
        "  CAST(MIN(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS vmin,\n"
        "  CAST(MAX(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS vmax,\n"
        "  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)\n"
        "        / COUNT(*), 4) AS vavg\n"
        "FROM events GROUP BY event_type ORDER BY event_type"
    ),
    category="aggregate",
    suite="extension",
    doc=(
        "incremental materialized-view maintenance: mergeable partial "
        "state (count/decimal-sum/min/max) per key, delta batch aggregated "
        "alone and merged into the state table — update cost scales with "
        "the delta, not the base; oracle recomputes the full aggregate "
        "directly and must hash-match exactly"
    ),
)


# -- point-in-interval lookup via grid bucketing -----------------------------
#
# The scale-safe form of "which tariff band / geo range / price bracket
# does this reading fall into": a raw range-predicate join is a
# BroadcastNestedLoopJoin (every point probes every interval — the exact
# pattern the plan sweep bans). Bucketing by a grid whose cell size is >=
# the maximum interval width turns it into an EQUI-join: each interval is
# exploded to the <=2 cells it touches, each point hashes to exactly one
# cell, and each true (point, interval) pair meets in exactly that one
# cell — no dedup step needed. The residual range filter runs after the
# hash match. At 100 TB the points side streams through a broadcast hash
# join against the (tiny, exploded) interval table; nothing is quadratic.


def _range_grid_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    cell = 25.0  # > max interval width (21), so an interval spans <= 2 cells
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 37) % 450).cast("double").alias("lo"),
        (
            (F.col("s_suppkey") * 37) % 450
            + 1
            + (F.col("s_suppkey") * 13) % 20
        )
        .cast("double")
        .alias("hi"),
    )
    cells = sup.select(
        "s_suppkey",
        "lo",
        "hi",
        F.explode(
            F.sequence(
                F.floor(F.col("lo") / cell).cast("long"),
                F.floor(F.col("hi") / cell).cast("long"),
            )
        ).alias("cell"),
    )
    pts = load_table(spark, sf_dir, "events").select(
        "event_id",
        "value",
        F.floor(F.col("value") / cell).cast("long").alias("cell"),
    )
    hits = pts.join(F.broadcast(cells), "cell").filter(
        (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi"))
    )
    return (
        hits.groupBy("s_suppkey", "lo", "hi")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .orderBy("s_suppkey")
    )


register(
    "lookup_range_grid",
    engine_fn=_range_grid_fn,
    oracle=(
        "WITH iv AS (\n"
        "  SELECT s_suppkey,\n"
        "    CAST((s_suppkey * 37) % 450 AS DOUBLE) AS lo,\n"
        "    CAST((s_suppkey * 37) % 450 + 1 + (s_suppkey * 13) % 20\n"
        "         AS DOUBLE) AS hi\n"
        "  FROM supplier)\n"
        "SELECT s_suppkey, lo, hi, COUNT(*) AS n_points\n"
        "FROM iv JOIN events e ON e.value >= iv.lo AND e.value < iv.hi\n"
        "GROUP BY s_suppkey, lo, hi ORDER BY s_suppkey"
    ),
    category="join",
    suite="extension",
    doc=(
        "point-in-interval lookup join rewritten as a grid-cell equi-join "
        "(cell size >= max interval width, each pair meets in exactly one "
        "cell) — the scale-safe replacement for the nested-loop range "
        "probe; oracle is the direct range join"
    ),
)


# -- bitwise aggregates ------------------------------------------------------

register(
    "stat_agg_bitwise",
    sql=(
        "SELECT event_type,\n"
        "  BIT_AND(event_id % 256) AS all_bits,\n"
        "  BIT_OR(event_id % 256) AS any_bits,\n"
        "  BIT_XOR(event_id % 256) AS parity_bits\n"
        "FROM events GROUP BY event_type ORDER BY event_type"
    ),
    category="aggregate",
    suite="extension",
    doc=(
        "bitwise reduction aggregates (BIT_AND/OR/XOR) — flag-mask "
        "consolidation; associative/commutative so partial+final merge "
        "is exact"
    ),
)


register(
    "stat_agg_median",
    sql=(
        "SELECT event_type,\n"
        "  CAST(ROUND(MEDIAN(value), 4) AS DOUBLE) AS med_value,\n"
        "  MEDIAN(event_id) AS med_event\n"
        "FROM events GROUP BY event_type ORDER BY event_type"
    ),
    category="aggregate",
    suite="extension",
    doc=(
        "exact MEDIAN (interpolating, unlike approx_percentile) — both "
        "engines sort-and-interpolate per group; per-group sort is "
        "bounded by group size, the percentile shuffle stays keyed"
    ),
)


register(
    "stat_agg_mode",
    sql=(
        "SELECT event_type, v AS modal_bucket, c AS n FROM (\n"
        "  SELECT event_type, v, c,\n"
        "    ROW_NUMBER() OVER (PARTITION BY event_type\n"
        "                       ORDER BY c DESC, v) AS rn\n"
        "  FROM (SELECT event_type, CAST(FLOOR(value) AS INT) % 10 AS v,\n"
        "          COUNT(*) AS c\n"
        "        FROM events GROUP BY event_type, CAST(FLOOR(value) AS INT) % 10)\n"
        ") t WHERE rn = 1 ORDER BY event_type"
    ),
    category="aggregate",
    suite="extension",
    doc=(
        "deterministic statistical mode per group: count sub-aggregate + "
        "rank with an explicit value tiebreak (engines' native MODE() "
        "breaks ties arbitrarily — this form is engine-stable); the rank "
        "window runs on the value-domain-sized count table, not the rows"
    ),
)


# -- deterministic hash sampling (round 4b) ----------------------------------

register(
    "sample_hash_fraction",
    engine=(
        "SELECT o_orderstatus, COUNT(*) AS n,\n"
        "       CAST(ROUND(AVG(o_totalprice), 2) AS DOUBLE) AS avg_price\n"
        "FROM orders\n"
        "WHERE SUBSTR(MD5(CAST(o_orderkey AS STRING)), 1, 2) < '28'\n"
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"
    ),
    oracle=(
        "SELECT o_orderstatus, COUNT(*) AS n,\n"
        "       CAST(ROUND(AVG(o_totalprice), 2) AS DOUBLE) AS avg_price\n"
        "FROM orders\n"
        "WHERE SUBSTR(MD5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '28'\n"
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"
    ),
    category="sampling",
    suite="extension",
    doc=(
        "deterministic ~15.6% sample (md5(key) prefix < '28'/256): unlike "
        "TABLESAMPLE/rand(), the sample is reproducible across engines, "
        "runs, AND partitionings — the property a training-data pipeline "
        "needs for auditable subsampling; the predicate is a pure Column "
        "filter evaluated during the scan, so it composes with pushdown "
        "and costs no shuffle"
    ),
)


# -- nearest-in-time as-of join (round 4b) -----------------------------------


def _asof_nearest_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyuki_spark.operators.asof import nearest_event_asof

    events = load_table(spark, sf_dir, "events")
    out = nearest_event_asof(
        events,
        key="user_id",
        ts="ts",
        ref_predicate=F.col("event_type") == "signup",
        probe_predicate=F.col("event_type") == "purchase",
        out_col="nearest_signup_ts",
    )
    return out.select("event_id", "nearest_signup_ts").orderBy("event_id")


register(
    "ts_asof_nearest",
    engine_fn=_asof_nearest_fn,
    oracle=(
        "SELECT e.event_id,\n"
        "  (SELECT s.ts FROM events s\n"
        "    WHERE s.user_id = e.user_id AND s.event_type = 'signup'\n"
        "    ORDER BY ABS(EPOCH(s.ts) - EPOCH(e.ts)), s.ts LIMIT 1)\n"
        "    AS nearest_signup_ts\n"
        "FROM events e WHERE e.event_type = 'purchase' ORDER BY event_id"
    ),
    category="joins",
    suite="extension",
    doc=(
        "nearest-direction as-of (operators/asof.py: nearest_event_asof): "
        "one key-partitioned sort feeding backward-max + forward-min RANGE "
        "frames replaces the declared correlated ORDER BY ABS() LIMIT 1 "
        "form (nested-loop shaped after decorrelation); ties break to the "
        "earlier reference on both sides"
    ),
)


# -- stratified deterministic sampling (round 4b) ----------------------------

register(
    "sample_stratified",
    engine=(
        "SELECT o_orderstatus, o_orderkey FROM (\n"
        "  SELECT o_orderstatus, o_orderkey,\n"
        "    ROW_NUMBER() OVER (PARTITION BY o_orderstatus\n"
        "      ORDER BY MD5(CAST(o_orderkey AS STRING))) AS rn\n"
        "  FROM orders)\n"
        "WHERE rn <= 20 ORDER BY o_orderstatus, o_orderkey"
    ),
    oracle=(
        "SELECT o_orderstatus, o_orderkey FROM (\n"
        "  SELECT o_orderstatus, o_orderkey,\n"
        "    ROW_NUMBER() OVER (PARTITION BY o_orderstatus\n"
        "      ORDER BY MD5(CAST(o_orderkey AS VARCHAR))) AS rn\n"
        "  FROM orders)\n"
        "WHERE rn <= 20 ORDER BY o_orderstatus, o_orderkey"
    ),
    category="sampling",
    suite="extension",
    doc=(
        "stratified deterministic sample: exactly 20 rows per stratum, "
        "chosen by md5(key) rank so the draw is reproducible across "
        "engines, runs, and partitionings (the auditable counterpart of "
        "per-group reservoir sampling); the stratum-partitioned window "
        "needs no global sort, and at scale the rank prune folds into the "
        "window's running state via the WindowGroupLimit rewrite"
    ),
)


# -- single-scan column profiling (round 4b) ---------------------------------


def _profile_columns_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r12 rewrite of the stack()+multi-DISTINCT SQL form (results
    identical, oracle-verified): Spark plans N COUNT(DISTINCT)s as an
    Expand x(N+1) of the whole scan — 3M intermediate rows at sf0.1 —
    and because the profile also takes MIN/MAX of a STRING column the
    aggregate buffer is not mutable, so the whole thing degrades to
    SortAggregate: a full sort of the expanded 3M rows (plan excerpt in
    plans/r12/profile_columns_before.txt). Here each column is profiled
    off its own groupBy(col) rollup: the map side pre-deduplicates, the
    shuffle carries only (distinct value, partial count) pairs, and
    non_null / n_distinct / min / max all reduce over the DISTINCT
    VALUES (counts ignore the null group via FILTER; min/max ignore it
    natively) — HashAggregate end to end, no Expand, no wide sort
    (guide §2.3 aggregate-before-shuffle, §2.4). The string min/max now
    runs over l_returnflag's 3 distinct values instead of 3M expanded
    rows. Output formatting reproduces the SQL form cast-for-cast."""
    li = load_table(spark, sf_dir, "lineitem")

    def prof(col: str, fmt) -> DataFrame:
        g = li.groupBy(F.col(col).alias("v")).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        nn = F.sum(F.when(F.col("v").isNotNull(), F.col("cnt"))).cast("long")
        return g.agg(
            F.lit(col).alias("col_name"),
            F.coalesce(nn, F.lit(0)).alias("non_null"),
            F.count("v").alias("n_distinct"),
            fmt(F.min("v")).alias("min_val"),
            fmt(F.max("v")).alias("max_val"),
        )

    def dec2(c):  # CAST(CAST(x AS DECIMAL(18,2)) AS STRING), as in the SQL form
        return c.cast("decimal(18,2)").cast("string")

    def s(c):  # plain CAST(x AS STRING)
        return c.cast("string")

    out = (
        prof("l_extendedprice", dec2)
        .unionByName(prof("l_quantity", dec2))
        .unionByName(prof("l_returnflag", lambda c: c))
        .unionByName(prof("l_shipdate", s))
    )
    return out.orderBy("col_name")


register(
    "profile_columns",
    engine_fn=_profile_columns_fn,
    oracle=(
        "WITH a AS (SELECT\n"
        "    COUNT(l_extendedprice) c1, COUNT(DISTINCT l_extendedprice) d1,\n"
        "      CAST(CAST(MIN(l_extendedprice) AS DECIMAL(18,2)) AS VARCHAR) mn1,\n"
        "      CAST(CAST(MAX(l_extendedprice) AS DECIMAL(18,2)) AS VARCHAR) mx1,\n"
        "    COUNT(l_quantity) c2, COUNT(DISTINCT l_quantity) d2,\n"
        "      CAST(CAST(MIN(l_quantity) AS DECIMAL(18,2)) AS VARCHAR) mn2,\n"
        "      CAST(CAST(MAX(l_quantity) AS DECIMAL(18,2)) AS VARCHAR) mx2,\n"
        "    COUNT(l_returnflag) c3, COUNT(DISTINCT l_returnflag) d3,\n"
        "      MIN(l_returnflag) mn3, MAX(l_returnflag) mx3,\n"
        "    COUNT(l_shipdate) c4, COUNT(DISTINCT l_shipdate) d4,\n"
        "      CAST(MIN(l_shipdate) AS VARCHAR) mn4,"
        " CAST(MAX(l_shipdate) AS VARCHAR) mx4\n"
        "  FROM lineitem)\n"
        "SELECT 'l_extendedprice' AS col_name, c1 AS non_null,"
        " d1 AS n_distinct, mn1 AS min_val, mx1 AS max_val FROM a\n"
        "UNION ALL SELECT 'l_quantity', c2, d2, mn2, mx2 FROM a\n"
        "UNION ALL SELECT 'l_returnflag', c3, d3, mn3, mx3 FROM a\n"
        "UNION ALL SELECT 'l_shipdate', c4, d4, mn4, mx4 FROM a\n"
        "ORDER BY col_name"
    ),
    category="profiling",
    suite="extension",
    doc=(
        "column profiler (null counts, exact distinct cardinality, "
        "min/max) in long form: the data-quality report a pipeline runs "
        "before training ingestion; per-column groupBy rollups (map-side "
        "pre-dedup, HashAggregate end to end) replace the r4b "
        "stack()+multi-DISTINCT form whose Expand x5 degraded to a full "
        "SortAggregate over 3M expanded rows because of the string "
        "min/max (r12; every statistic reduces over the distinct values)"
    ),
)


# -- deterministic PageRank (round 4b) ---------------------------------------


def _pagerank_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-iteration damped PageRank over the customer–supplier interaction
    graph (an edge per distinct customer/supplier pair that shares an
    order), the classic distributed iterative-algorithm shape.

    Per iteration: ONE equi-join (ranks onto edge sources) + ONE hash
    aggregate (contribution sum per destination) — both key-partitioned,
    map-side-combinable, nothing global. Iteration count is compile-time
    fixed, so the whole plan is 2 shuffle rounds over narrow rows; the
    node count is the only driver scalar (bounded: one count of the
    degree table). Ranks are rounded to 12 decimals at each handoff so
    engine-dependent summation order cannot leak into the next
    iteration, and to 6 in the output — the same fp-pinning discipline
    as operators/kmeans.py.
    """
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    e1 = (
        orders.join(
            lineitem, orders.o_orderkey == lineitem.l_orderkey
        )
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
        # Edge-list-sized; referenced by the degree table and by every
        # iteration's contribution join — persist so the orders x lineitem
        # distinct isn't replayed once per reference.
        .persist()
    )
    edges = e1.unionByName(
        e1.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = deg.select(F.col("src").alias("node"), "deg")
    n = nodes.count()  # bounded driver scalar: one row per graph node
    base = F.lit(0.15) / F.lit(float(n))
    ranks = nodes.withColumn("r", F.lit(1.0 / n))
    for _ in range(2):
        contrib = (
            edges.join(
                ranks.select(
                    F.col("node").alias("src"),
                    (F.col("r") / F.col("deg")).alias("c"),
                ),
                "src",
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(contrib, nodes.node == contrib.dst, "left")
            .select(
                "node",
                "deg",
                F.round(
                    base + F.lit(0.85) * F.coalesce(F.col("s"), F.lit(0.0)), 12
                ).alias("r"),
            )
        )
    return (
        ranks.select("node", F.round("r", 6).alias("rank"))
        .orderBy(F.col("rank").desc(), "node")
        .limit(20)
    )


register(
    "net_pagerank",
    engine_fn=_pagerank_fn,
    oracle=(
        "WITH e1 AS (SELECT DISTINCT 'c:' || o_custkey AS src,"
        " 's:' || l_suppkey AS dst\n"
        "  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),\n"
        "e AS (SELECT src, dst FROM e1"
        " UNION ALL SELECT dst, src FROM e1),\n"
        "d AS (SELECT src AS node, COUNT(*) AS deg FROM e GROUP BY src),\n"
        "n AS (SELECT COUNT(*) AS n FROM d),\n"
        "r0 AS (SELECT node, deg, 1.0 / n.n AS r FROM d CROSS JOIN n),\n"
        "c1 AS (SELECT e.dst AS node, SUM(r0.r / r0.deg) AS s\n"
        "  FROM e JOIN r0 ON e.src = r0.node GROUP BY e.dst),\n"
        "r1 AS (SELECT d.node, d.deg,\n"
        "    ROUND(0.15 / n.n + 0.85 * COALESCE(c1.s, 0), 12) AS r\n"
        "  FROM d CROSS JOIN n LEFT JOIN c1 ON d.node = c1.node),\n"
        "c2 AS (SELECT e.dst AS node, SUM(r1.r / r1.deg) AS s\n"
        "  FROM e JOIN r1 ON e.src = r1.node GROUP BY e.dst),\n"
        "r2 AS (SELECT d.node,\n"
        "    ROUND(0.15 / n.n + 0.85 * COALESCE(c2.s, 0), 12) AS r\n"
        "  FROM d CROSS JOIN n LEFT JOIN c2 ON d.node = c2.node)\n"
        "SELECT node, CAST(ROUND(r, 6) AS DOUBLE) AS rank FROM r2\n"
        "ORDER BY rank DESC, node LIMIT 20"
    ),
    category="graph",
    suite="extension",
    doc=(
        "deterministic 2-iteration damped PageRank (d=0.85) over the "
        "customer-supplier co-order graph: per iteration one key-"
        "partitioned join + one partial-agg sum, rounded-handoff fp "
        "pinning — top-20 nodes bit-identical across engines"
    ),
)


# -- streaming-maintained dedup index (round 4b) -----------------------------


def _stream_neardup_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online dedup gate: the corpus streams in micro-batches and each
    batch folds its sketches into a persistent dedup INDEX — min doc_id
    per md5 fingerprint (exact tier) and per 60-bit SimHash sketch (near
    tier). Both merges are associative mins, so the index — and therefore
    every verdict — is independent of chunking and arrival order; after
    the drain, one batch pass classifies every document as exact_dup /
    near_dup / new against the index, reproducing the pure smaller-id-
    wins batch semantics (the DuckDB twin brute-forces both EXISTS).

    Scale shape: per micro-batch one narrow groupBy-min per dictionary
    (16-byte / 8-byte keys, map-side combine); the verdict pass is a
    fingerprint equi-join plus the banded SimHash candidate join
    (operators/dedup.py: simhash_chunks; pigeonhole-exact at
    Hamming <= 3). Document bodies never enter the state.
    """
    from nyuki_spark.functions.text import simhash60
    from nyuki_spark.operators.dedup import simhash_chunks

    docs = load_table(spark, sf_dir, "documents")

    def query(sdf: DataFrame, scratch: str) -> DataFrame:
        state = {"path": None}

        def fold(batch: DataFrame, batch_id: int) -> None:
            sk = batch.select(
                "doc_id",
                F.md5("text").alias("fp"),
                simhash60("text").alias("sh"),
            )
            new = (
                sk.where(F.col("fp").isNotNull())
                .groupBy("fp", "sh")
                .agg(F.min("doc_id").alias("mid"))
            )
            if state["path"] is not None:
                new = spark.read.parquet(state["path"]).unionByName(new)
            merged = new.groupBy("fp", "sh").agg(F.min("mid").alias("mid"))
            out = f"{scratch}/state_{batch_id}"
            merged.write.mode("overwrite").parquet(out)
            state["path"] = out

        run_foreach_batch(sdf, fold, f"{scratch}/ckpt")
        index = spark.read.parquet(state["path"])
        # Narrow (id, fp, sh) rows, read by both verdict tiers — persist
        # so the corpus is sketched once in the verdict pass, not twice.
        base = docs.select(
            "doc_id", F.md5("text").alias("fp"), simhash60("text").alias("sh")
        ).persist()
        exact = (
            base.join(
                index.groupBy("fp").agg(F.min("mid").alias("mid")), "fp"
            )
            .where(F.col("mid") < F.col("doc_id"))
            .select("doc_id")
            .distinct()
            .withColumn("is_exact", F.lit(True))
        )
        sk_dict = index.groupBy("sh").agg(F.min("mid").alias("mid"))
        ca = simhash_chunks(base.select("doc_id", "sh"), sketch_col="sh")
        near = (
            ca.join(
                simhash_chunks(
                    sk_dict.select(F.col("mid").alias("doc_id"), "sh"),
                    sketch_col="sh",
                ).select("band", "chunk", F.col("sh").alias("csh"),
                         F.col("id").alias("mid")),
                ["band", "chunk"],
            )
            .where(
                (F.bit_count(F.col("sh").bitwiseXOR(F.col("csh"))) <= 3)
                & (F.col("mid") < F.col("id"))
            )
            .select(F.col("id").alias("doc_id"))
            .distinct()
            .withColumn("is_near", F.lit(True))
        )
        return (
            docs.select("doc_id")
            .join(exact, "doc_id", "left")
            .join(near, "doc_id", "left")
            .select(
                "doc_id",
                F.when(F.col("is_exact"), "exact_dup")
                .when(F.col("is_near"), "near_dup")
                .otherwise("new")
                .alias("verdict"),
            )
            .orderBy("doc_id")
        )

    return run_live(spark, docs, query, n_chunks=3)


def _duck_neardup_oracle() -> str:
    # Single-source the simhash twin from the llm module (safe at
    # registration time: importing it here is idempotent).
    from nyuki_spark.queries.llm import _DUCK_SIMHASH

    return (
        "WITH sim AS (" + _DUCK_SIMHASH + "),\n"
        "d AS (SELECT doc_id, MD5(text) AS fp FROM documents)\n"
        "SELECT d.doc_id,\n"
        "  CASE WHEN EXISTS (SELECT 1 FROM d e\n"
        "         WHERE e.fp = d.fp AND e.doc_id < d.doc_id)\n"
        "         THEN 'exact_dup'\n"
        "       WHEN EXISTS (SELECT 1 FROM sim a, sim b\n"
        "         WHERE a.doc_id = d.doc_id AND b.doc_id < d.doc_id\n"
        "           AND BIT_COUNT(XOR(a.simhash, b.simhash)) <= 3)\n"
        "         THEN 'near_dup'\n"
        "       ELSE 'new' END AS verdict\n"
        "FROM d ORDER BY doc_id"
    )


register(
    "stream_neardup_live",
    engine_fn=_stream_neardup_fn,
    oracle=_duck_neardup_oracle(),
    category="streaming",
    suite="extension",
    doc=(
        "REAL Structured Streaming dedup gate: micro-batches fold min-id-"
        "per-fingerprint / per-SimHash-sketch dictionaries through "
        "foreachBatch (associative merge => chunking- and order-"
        "independent index), then one verdict pass reproduces smaller-id-"
        "wins exact/near/new classification — hash-matched against the "
        "batch brute-force oracle"
    ),
)


# -- linear interpolation resampling (round 4b) ------------------------------


def _interp_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyuki_spark.operators.timeseries import interpolate_linear

    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    return interpolate_linear(
        events, "user_id", "ts", "value", step="1 hour"
    ).orderBy("user_id", "h")


register(
    "ts_interpolate",
    engine_fn=_interp_fn,
    oracle=(
        "WITH hourly AS (\n"
        "  SELECT user_id, DATE_TRUNC('hour', ts) AS h,\n"
        "         CAST(ROUND(AVG(value), 4) AS DOUBLE) AS v\n"
        "  FROM events WHERE user_id < 10 GROUP BY 1, 2\n"
        "), bounds AS (\n"
        "  SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY 1\n"
        "), grid AS (\n"
        "  SELECT user_id, UNNEST(GENERATE_SERIES(h0, h1, INTERVAL 1 HOUR)) AS h\n"
        "  FROM bounds\n"
        "), j AS (\n"
        "  SELECT g.user_id, g.h, hourly.v,\n"
        "         ROW_NUMBER() OVER (PARTITION BY g.user_id ORDER BY g.h) AS i\n"
        "  FROM grid g LEFT JOIN hourly\n"
        "    ON hourly.user_id = g.user_id AND hourly.h = g.h\n"
        "), w AS (\n"
        "  SELECT user_id, h, v, i,\n"
        "    CAST(ROUND(LAST_VALUE(v IGNORE NULLS) OVER pw * 10000, 0)"
        " AS BIGINT) AS pv4,\n"
        "    LAST_VALUE(CASE WHEN v IS NOT NULL THEN i END IGNORE NULLS)"
        " OVER pw AS pi,\n"
        "    CAST(ROUND(FIRST_VALUE(v IGNORE NULLS) OVER nw * 10000, 0)"
        " AS BIGINT) AS nv4,\n"
        "    FIRST_VALUE(CASE WHEN v IS NOT NULL THEN i END IGNORE NULLS)"
        " OVER nw AS ni\n"
        "  FROM j WINDOW\n"
        "    pw AS (PARTITION BY user_id ORDER BY i\n"
        "           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),\n"
        "    nw AS (PARTITION BY user_id ORDER BY i\n"
        "           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)\n"
        ")\n"
        "SELECT user_id, h, v,\n"
        "  CAST(CASE WHEN v IS NOT NULL THEN v\n"
        "       ELSE (pv4 * (ni - i) + nv4 * (i - pi))"
        " / ((ni - pi) * 10000.0)\n"
        "       END AS DOUBLE) AS v_interp\n"
        "FROM w ORDER BY user_id, h"
    ),
    category="timeseries",
    suite="extension",
    doc=(
        "linear-interpolation resampling (operators/timeseries.py: "
        "interpolate_linear): dense per-key hourly grid, gaps filled by "
        "the fraction between surrounding observations using grid row "
        "indices (exact integer arithmetic, no epoch casts) — the "
        "hypertable interpolate() counterpart of ts_gapfill_locf"
    ),
)


# -- equi-width histogram profiling (round 4b) -------------------------------

_HIST_SQL = (
    "WITH b AS (SELECT MIN(l_extendedprice) AS mn,"
    " MAX(l_extendedprice) AS mx FROM lineitem)\n"
    "SELECT LEAST(CAST(FLOOR((l_extendedprice - mn) /"
    " ((mx - mn) / 10.0)) AS INT) + 1, 10) AS bucket,\n"
    "       COUNT(*) AS n,\n"
    "       CAST(ROUND(MIN(l_extendedprice), 2) AS DOUBLE) AS lo,\n"
    "       CAST(ROUND(MAX(l_extendedprice), 2) AS DOUBLE) AS hi\n"
    "FROM lineitem CROSS JOIN b\n"
    "GROUP BY bucket ORDER BY bucket"
)

register(
    "profile_histogram",
    engine=_HIST_SQL,
    oracle=_HIST_SQL,
    category="profiling",
    suite="extension",
    doc=(
        "10-bucket equi-width value histogram with data-derived bounds: "
        "one scalar min/max aggregate broadcast onto the scan, bucket id "
        "by an explicit floor formula (identical fp arithmetic in both "
        "engines — width_bucket dialects disagree at edges), one hash "
        "aggregate; two scans total, no shuffle of data rows beyond the "
        "10-row result"
    ),
)


# -- data-quality expectations report (round 4b) -----------------------------

_EXPECT_SQL = (
    "WITH li AS (SELECT COUNT(*) AS checked,\n"
    "    SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1"
    " THEN 1 ELSE 0 END) AS v_disc,\n"
    "    SUM(CASE WHEN l_quantity > 45 THEN 1 ELSE 0 END) AS v_qty,\n"
    "    SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS v_ship\n"
    "  FROM lineitem),\n"
    "fk AS (SELECT COUNT(*) AS v FROM lineitem l WHERE NOT EXISTS\n"
    "    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),\n"
    "ord AS (SELECT COUNT(*) AS checked,\n"
    "    SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS v"
    " FROM orders)\n"
    "SELECT 'lineitem.discount_in_range' AS rule, checked,\n"
    "       CAST(v_disc AS BIGINT) AS violations FROM li\n"
    "UNION ALL SELECT 'lineitem.fk_orderkey',\n"
    "    (SELECT checked FROM li), (SELECT v FROM fk)\n"
    "UNION ALL SELECT 'lineitem.quantity_le_45', checked,\n"
    "    CAST(v_qty AS BIGINT) FROM li\n"
    "UNION ALL SELECT 'lineitem.shipdate_not_null', checked,\n"
    "    CAST(v_ship AS BIGINT) FROM li\n"
    "UNION ALL SELECT 'orders.totalprice_positive', checked,\n"
    "    CAST(v AS BIGINT) FROM ord\n"
    "ORDER BY rule"
)

register(
    "profile_expectations",
    engine=_EXPECT_SQL,
    oracle=_EXPECT_SQL,
    category="profiling",
    suite="extension",
    doc=(
        "declarative data-quality expectations report (range, not-null, "
        "referential integrity, positivity) -> (rule, checked, "
        "violations) rows: the in-table rules fold into ONE conditional "
        "aggregate per table (single scan, map-side partials); the "
        "referential rule is a null-aware anti-join, never a row-wise "
        "lookup — the validation gate a pipeline runs before publishing "
        "a snapshot"
    ),
)


# -- SCD2 interval build (round 4b) ------------------------------------------

_SCD2_SQL = (
    "WITH e AS (SELECT user_id, ts, event_id, event_type FROM events\n"
    "           WHERE user_id < 5),\n"
    "s AS (SELECT user_id, ts, event_id, event_type,\n"
    "    CASE WHEN LAG(event_type) OVER (PARTITION BY user_id\n"
    "           ORDER BY ts, event_id) IS DISTINCT FROM event_type\n"
    "         THEN 1 ELSE 0 END AS chg\n"
    "  FROM e),\n"
    "g AS (SELECT user_id, ts, event_id, event_type,\n"
    "    SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id\n"
    "        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg\n"
    "  FROM s),\n"
    "iv AS (SELECT user_id, seg, event_type, MIN(ts) AS valid_from,\n"
    "           COUNT(*) AS n_events\n"
    "  FROM g GROUP BY user_id, seg, event_type)\n"
    "SELECT user_id, event_type, valid_from,\n"
    "    LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)\n"
    "        AS valid_to,\n"
    "    n_events\n"
    "FROM iv ORDER BY user_id, valid_from"
)

register(
    "scd2_intervals",
    engine=_SCD2_SQL,
    oracle=_SCD2_SQL,
    category="cdc",
    suite="extension",
    doc=(
        "slowly-changing-dimension (type 2) interval build from an event "
        "log: gaps-and-islands change detection (lag + running sum), one "
        "aggregate per state segment, validity intervals closed by "
        "lead() — every window key-partitioned, the warehouse-dimension "
        "counterpart of cdc_upsert_merge"
    ),
)


# -- funnel conversion (round 4b) --------------------------------------------

_FUNNEL_SQL = (
    "WITH su AS (SELECT user_id, MIN(ts) AS signup_ts FROM events\n"
    "            WHERE event_type = 'signup' GROUP BY user_id),\n"
    "fp AS (SELECT e.user_id, MIN(e.ts) AS fp_ts\n"
    "  FROM events e JOIN su ON su.user_id = e.user_id\n"
    "  WHERE e.event_type = 'purchase' AND e.ts >= su.signup_ts\n"
    "  GROUP BY e.user_id)\n"
    "SELECT CAST(su.signup_ts AS DATE) AS day,\n"
    "    COUNT(*) AS signups,\n"
    "    CAST(SUM(CASE WHEN fp.fp_ts IS NOT NULL\n"
    "        AND fp.fp_ts <= su.signup_ts + INTERVAL 7 DAY\n"
    "        THEN 1 ELSE 0 END) AS BIGINT) AS converted_7d\n"
    "FROM su LEFT JOIN fp ON fp.user_id = su.user_id\n"
    "GROUP BY day ORDER BY day"
)

register(
    "ts_funnel_conversion",
    engine=_FUNNEL_SQL,
    oracle=_FUNNEL_SQL,
    category="timeseries",
    suite="extension",
    doc=(
        "event-funnel conversion: first signup per user -> first "
        "subsequent purchase -> 7-day conversion rate by signup day; "
        "two key-partitioned aggregates and one equi-join — the ordered-"
        "sequence analysis pattern without any MATCH_RECOGNIZE engine "
        "dependency"
    ),
)


# -- exponentially-weighted moving average (round 4b) ------------------------


def _ewma_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA (alpha=0.3) over the time-ordered event series.

    EWMA is inherently recursive, so it runs as ONE ordered fold per key:
    sort_array(collect_list(struct)) pins the order, F.aggregate folds
    left-to-right — both engines execute the identical operation
    sequence on identical operands, so the result double is bit-exact
    with no rounding step. The per-key list is the contract's bound: the
    series must fit a task (resample first for hot keys — ts_gapfill /
    ts_interpolate are the upstream grid builders); the fold itself is a
    map-side expression after one shuffle on the key.
    """
    # NULL values are dropped BEFORE the fold, in both engine and oracle:
    # without the filter the Spark fold would RESET at the next non-null
    # (acc.isNull() branch) while DuckDB's LIST_REDUCE propagates NULL to
    # the end — parity on arbitrary data, not just non-null fixtures
    # (r4 ADVICE).
    events = load_table(spark, sf_dir, "events").where(
        (F.col("user_id") < 50) & F.col("value").isNotNull()
    )
    series = events.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("s")
    )
    ewma = F.aggregate(
        "s",
        F.lit(None).cast("double"),
        lambda acc, x: F.when(acc.isNull(), x.getField("value")).otherwise(
            F.lit(0.3) * x.getField("value") + F.lit(0.7) * acc
        ),
    )
    return series.select(
        "user_id", F.size("s").alias("n"), ewma.alias("ewma")
    ).orderBy("user_id")


register(
    "ts_ewma",
    engine_fn=_ewma_fn,
    oracle=(
        "SELECT user_id, LEN(s) AS n,\n"
        "  LIST_REDUCE(LIST_TRANSFORM(s, x -> x.value),\n"
        "    (acc, x) -> 0.3 * x + 0.7 * acc) AS ewma\n"
        "FROM (SELECT user_id,\n"
        "        LIST(struct_pack(ts := ts, event_id := event_id,"
        " value := value)\n"
        "             ORDER BY ts, event_id) AS s\n"
        "      FROM events WHERE user_id < 50 GROUP BY user_id)\n"
        "ORDER BY user_id"
    ),
    category="timeseries",
    suite="extension",
    doc=(
        "per-key EWMA (alpha=0.3): order-pinned list fold — recursive "
        "smoothing as one shuffle + a map-side expression, bit-exact "
        "across engines with no rounding"
    ),
)


# -- OHLC hourly resample (round 4b) -----------------------------------------

_OHLC_SQL = (
    "SELECT user_id, h,\n"
    "       MIN(CASE WHEN rn_a = 1 THEN value END) AS open,\n"
    "       MAX(value) AS high,\n"
    "       MIN(value) AS low,\n"
    "       MIN(CASE WHEN rn_d = 1 THEN value END) AS close,\n"
    "       COUNT(*) AS n\n"
    "FROM (SELECT user_id, DATE_TRUNC('hour', ts) AS h, value,\n"
    "        ROW_NUMBER() OVER (PARTITION BY user_id, DATE_TRUNC('hour', ts)\n"
    "            ORDER BY ts, event_id) AS rn_a,\n"
    "        ROW_NUMBER() OVER (PARTITION BY user_id, DATE_TRUNC('hour', ts)\n"
    "            ORDER BY ts DESC, event_id DESC) AS rn_d\n"
    "      FROM events WHERE user_id < 10)\n"
    "GROUP BY user_id, h ORDER BY user_id, h"
)

register(
    "ts_ohlc",
    engine=_OHLC_SQL,
    oracle=_OHLC_SQL,
    category="timeseries",
    suite="extension",
    doc=(
        "hourly OHLC resample: open/close via deterministic first/last "
        "rank (ts + event_id tiebreak), high/low as plain min/max — one "
        "window pass and one aggregate, both partitioned by "
        "(key, bucket); the market-data rollup shape"
    ),
)


# -- winsorized statistics (round 4b) ----------------------------------------


def _winsorize_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    pct = events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("p05"),
        F.expr("percentile(value, 0.95)").alias("p95"),
    )
    clipped = events.join(F.broadcast(pct), "event_type").select(
        "event_type",
        "value",
        F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95")).alias(
            "w"
        ),
    )
    return (
        clipped.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("value") < F.col("w")).cast("bigint")).alias(
                "n_clipped_low"
            ),
            F.sum((F.col("value") > F.col("w")).cast("bigint")).alias(
                "n_clipped_high"
            ),
            F.round(F.avg("w"), 4).alias("avg_winsorized"),
        )
        .orderBy("event_type")
    )


register(
    "stat_winsorize",
    engine_fn=_winsorize_fn,
    oracle=(
        "WITH pct AS (SELECT event_type,\n"
        "    QUANTILE_CONT(value, 0.05) AS p05,\n"
        "    QUANTILE_CONT(value, 0.95) AS p95\n"
        "  FROM events GROUP BY event_type)\n"
        "SELECT e.event_type, COUNT(*) AS n,\n"
        "  CAST(SUM(CASE WHEN value < p05 THEN 1 ELSE 0 END) AS BIGINT)"
        " AS n_clipped_low,\n"
        "  CAST(SUM(CASE WHEN value > p95 THEN 1 ELSE 0 END) AS BIGINT)"
        " AS n_clipped_high,\n"
        "  CAST(ROUND(AVG(LEAST(GREATEST(value, p05), p95)), 4) AS DOUBLE)"
        " AS avg_winsorized\n"
        "FROM events e JOIN pct USING (event_type)\n"
        "GROUP BY e.event_type ORDER BY e.event_type"
    ),
    category="stats",
    suite="extension",
    doc=(
        "per-group winsorized statistics: exact interpolating p05/p95 "
        "per group (tiny table) broadcast back onto the scan, values "
        "clipped JVM-side, one aggregate — outlier-robust feature "
        "normalisation without a second full shuffle"
    ),
)


# -- distribution drift (PSI) between periods (round 4b) ---------------------

_PSI_SQL = (
    "WITH b AS (SELECT MIN(value) AS mn, MAX(value) AS mx FROM events),\n"
    "bucketed AS (SELECT\n"
    "    LEAST(CAST(FLOOR((value - mn) / ((mx - mn) / 10.0)) AS INT) + 1,"
    " 10) AS bucket,\n"
    "    CASE WHEN ts < TIMESTAMP '2024-02-01 00:00:00'"
    " THEN 'ref' ELSE 'cur' END AS period\n"
    "  FROM events CROSS JOIN b),\n"
    "counts AS (SELECT bucket,\n"
    "    SUM(CASE WHEN period = 'ref' THEN 1 ELSE 0 END) AS n_ref,\n"
    "    SUM(CASE WHEN period = 'cur' THEN 1 ELSE 0 END) AS n_cur\n"
    "  FROM bucketed GROUP BY bucket),\n"
    "tot AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM counts)\n"
    "SELECT bucket, CAST(n_ref AS BIGINT) AS n_ref,\n"
    "  CAST(n_cur AS BIGINT) AS n_cur,\n"
    "  CAST(ROUND(((n_cur / t_cur) - (n_ref / t_ref))\n"
    "      * LN((n_cur / t_cur) / (n_ref / t_ref)), 6) AS DOUBLE)"
    " AS psi_term\n"
    "FROM counts CROSS JOIN tot\n"
    "WHERE n_ref > 0 AND n_cur > 0\n"
    "ORDER BY bucket"
)

register(
    "stat_psi_drift",
    engine=_PSI_SQL,
    oracle=_PSI_SQL,
    category="stats",
    suite="extension",
    doc=(
        "population-stability-index drift report between a reference and "
        "a current period: shared equi-width buckets from global bounds, "
        "one conditional aggregate for both periods (single scan), "
        "per-bucket PSI terms — the distribution-shift monitor an ML "
        "pipeline runs on every ingest; empty buckets are excluded "
        "(standard PSI practice, and it keeps LN well-defined)"
    ),
)


# -- robust anomaly detection (median absolute deviation) (round 4b) ---------

_MAD_SQL = (
    "WITH med AS (SELECT event_type, MEDIAN(value) AS med FROM events\n"
    "             GROUP BY event_type),\n"
    "mad AS (SELECT e.event_type, MEDIAN(ABS(value - med)) AS mad\n"
    "  FROM events e JOIN med USING (event_type) GROUP BY e.event_type)\n"
    "SELECT e.event_type, COUNT(*) AS n,\n"
    "  CAST(SUM(CASE WHEN ABS(value - med) > 3 * 1.4826 * mad\n"
    "      THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,\n"
    "  CAST(ROUND(MIN(3 * 1.4826 * mad), 4) AS DOUBLE) AS threshold\n"
    "FROM events e JOIN med USING (event_type) JOIN mad USING (event_type)\n"
    "GROUP BY e.event_type ORDER BY e.event_type"
)

register(
    "stat_anomaly_mad",
    engine=_MAD_SQL,
    oracle=_MAD_SQL,
    category="stats",
    suite="extension",
    doc=(
        "robust per-group anomaly detection: median absolute deviation "
        "(3 x 1.4826 x MAD ~ 3 sigma under normality) — two group-sized "
        "median aggregates broadcast back onto the scan, one conditional "
        "count; immune to the outliers it is hunting, unlike z-scores"
    ),
)


# -- weekly cohort retention (round 4b) --------------------------------------


register(
    "ts_retention_cohorts",
    engine=(
        "WITH f AS (SELECT user_id, DATE_TRUNC('week', MIN(ts)) AS cohort\n"
        "           FROM events GROUP BY user_id),\n"
        "a AS (SELECT DISTINCT e.user_id, f.cohort,\n"
        "        CAST(FLOOR(DATEDIFF(DATE_TRUNC('week', e.ts), f.cohort)"
        " / 7.0) AS INT) AS week_n\n"
        "      FROM events e JOIN f USING (user_id))\n"
        "SELECT CAST(cohort AS DATE) AS cohort, week_n,\n"
        "       COUNT(*) AS n_active\n"
        "FROM a GROUP BY cohort, week_n ORDER BY cohort, week_n"
    ),
    oracle=(
        "WITH f AS (SELECT user_id, DATE_TRUNC('week', MIN(ts)) AS cohort\n"
        "           FROM events GROUP BY user_id),\n"
        "a AS (SELECT DISTINCT e.user_id, f.cohort,\n"
        "        CAST(FLOOR(DATE_DIFF('day', f.cohort,"
        " DATE_TRUNC('week', e.ts)) / 7.0) AS INT) AS week_n\n"
        "      FROM events e JOIN f USING (user_id))\n"
        "SELECT CAST(cohort AS DATE) AS cohort, week_n,\n"
        "       COUNT(*) AS n_active\n"
        "FROM a GROUP BY cohort, week_n ORDER BY cohort, week_n"
    ),
    category="timeseries",
    suite="extension",
    doc=(
        "weekly cohort retention matrix: first-activity cohort per user, "
        "distinct (user, week) activity, active-count per (cohort, "
        "week_n) — two key-partitioned aggregates and one equi-join, "
        "output bounded by cohorts x weeks (the product-analytics "
        "staple); only the day-difference builtin differs by dialect"
    ),
)


# -- distributed bitmap distinct counting -------------------------------------

# The bitmap-index pattern for exact COUNT(DISTINCT) at scale (the
# ClickHouse/Doris groupBitmap shape, Spark 3.5+ bitmap functions): keys
# bucket into 32k-bit ranges, each (group, bucket) builds its bitmap in
# ONE partial-aggregable pass (bitmap_construct_agg is a commutative
# merge — map-side combine works), and the per-group distinct count is
# the SUM of per-bucket popcounts. Two cheap aggregates, no expand, no
# per-group set state proportional to distinct keys in one task — where
# COUNT(DISTINCT) plans an Expand + re-aggregate, the bitmap form
# shuffles fixed-width buckets. The oracle is plain COUNT(DISTINCT):
# the equality IS the correctness claim.

register(
    "profile_bitmap_distinct",
    engine=(
        "SELECT o_orderstatus,\n"
        "  CAST(SUM(bitmap_count(bm)) AS BIGINT) AS distinct_customers\n"
        "FROM (\n"
        "  SELECT o_orderstatus, bitmap_bucket_number(o_custkey) AS bkt,\n"
        "    bitmap_construct_agg(bitmap_bit_position(o_custkey)) AS bm\n"
        "  FROM orders GROUP BY 1, 2) b\n"
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"
    ),
    oracle=(
        "SELECT o_orderstatus,\n"
        "  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS distinct_customers\n"
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"
    ),
    category="profiling",
    suite="extension",
    doc=(
        "exact distinct customers per order status via the distributed "
        "bitmap pattern (bucketed bitmap_construct_agg + popcount sum) — "
        "fixed-width bucket shuffle instead of COUNT(DISTINCT)'s Expand; "
        "oracle runs the literal COUNT(DISTINCT)"
    ),
)


# -- chained stateful operators: stream-stream join -> windowed aggregate ------
#
# The multi-stateful-operator pipeline (Spark 3.4+): view->purchase
# attribution through StreamingSymmetricHashJoin feeding a watermarked
# tumbling aggregate, all in ONE append-mode streaming query — the shape
# real attribution pipelines run (join raw streams, roll up, emit each
# hour exactly once). The flush sentinel must advance the watermark
# THROUGH the event-type filters (deterministic filters get pushed below
# the EventTimeWatermark node, so a '__flush__' type would be dropped
# before the watermark sees it — the _live_append lesson); instead the
# replay appends one far-future 'view' and one far-future 'purchase' row
# for user -1: they pass the filters, advance both join inputs'
# watermarks, join only with each other, and land in a window that never
# closes — so they are never emitted, and every REAL window is.


def _stream_join_agg_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    mx = events.agg(F.max("ts")).head()[0]

    def query(sdf: DataFrame, scratch: str) -> DataFrame:
        agg = (
            _attribution_join(sdf, ids=False)
            .groupBy(F.window("buy_ts", "1 hour"))
            .agg(F.count(F.lit(1)).alias("n_attributions"))
            .select(
                F.col("window.start").alias("win_start"),
                F.col("n_attributions"),
            )
        )
        out = run_append_foreach_batch(agg, f"{scratch}/out", f"{scratch}/ckpt")
        return (
            out.where(F.col("win_start") <= F.lit(mx).cast("timestamp"))
            .withColumn("win_start", F.col("win_start").cast("timestamp_ntz"))
            .orderBy("win_start")
        )

    return run_live(
        spark,
        events,
        query,
        flush_df=_flush(spark, events, (80,), ("view", "purchase")),
    )


register(
    "stream_join_agg_live",
    engine_fn=_stream_join_agg_fn,
    oracle=(
        "SELECT CAST(DATE_TRUNC('hour', p.ts) AS TIMESTAMP) AS win_start,\n"
        "  CAST(COUNT(*) AS BIGINT) AS n_attributions\n"
        "FROM events v JOIN events p ON v.user_id = p.user_id\n"
        "AND v.event_type = 'view' AND p.event_type = 'purchase'\n"
        "AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR\n"
        "GROUP BY 1 ORDER BY 1"
    ),
    category="streaming-live",
    suite="extension",
    doc=(
        "chained stateful operators in one append-mode query: stream-"
        "stream interval join -> watermarked tumbling rollup, emitted "
        "exactly once per closed hour; typed flush sentinels advance the "
        "watermark through the event-type filters"
    ),
)


# -- salted skew-proof join ----------------------------------------------------


def _salted_join_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deviation-from-type-mean via the SALTED join (operators/skew.py:
    salted_join) — the companion to agg_salted_skew for the join side of
    skew handling: event_type has 5 values, so a plain shuffle join lands
    ~20% of the fact table on one task; salting spreads each hot key over
    16 salt buckets while the 5-row dimension replicates 16x. Row-
    identical to the plain join (the oracle runs the plain SQL). At THIS
    dim size a broadcast join wins, and AQE's skew-join split handles
    sort-merge cases — the salted form is for the remaining gap
    (non-broadcastable dims, streaming state joins, engines without AQE),
    exercised here end-to-end."""
    from nyuki_spark.operators.skew import salted_join

    events = load_table(spark, sf_dir, "events")
    dim = events.groupBy("event_type").agg(
        F.round(F.avg("value"), 6).alias("type_avg")
    )
    out = salted_join(
        events.select("event_id", "event_type", "value"), dim, "event_type"
    )
    return (
        out.select(
            "event_id",
            "event_type",
            F.round(F.col("value") - F.col("type_avg"), 6)
            .cast("double")
            .alias("dev"),
        )
        .orderBy("event_id")
        .limit(200)
    )


register(
    "skew_salted_join",
    engine_fn=_salted_join_fn,
    oracle=(
        "WITH d AS (SELECT event_type, ROUND(AVG(value), 6) AS type_avg\n"
        "  FROM events GROUP BY 1)\n"
        "SELECT e.event_id, e.event_type,\n"
        "  CAST(ROUND(e.value - d.type_avg, 6) AS DOUBLE) AS dev\n"
        "FROM events e JOIN d USING (event_type)\n"
        "ORDER BY e.event_id LIMIT 200"
    ),
    category="join",
    suite="extension",
    doc=(
        "skew-proof salted equi-join (operators/skew.py): hot fact keys "
        "hash-spread over 16 salts, 5-row dim replicated 16x — "
        "row-identical to the plain join the oracle runs"
    ),
)


# -- parquet schema evolution --------------------------------------------------


def _schema_evolution_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution ingest: an early shard written WITHOUT the value
    column and a later shard WITH it, read back as one dataset via
    parquet mergeSchema — the lake reality every long-lived pipeline
    hits (columns appear mid-history; old files must read as NULL).
    The per-type census proves column alignment: row counts span both
    shards, value facts come only from the evolved shard. Scratch files
    live under /tmp and the result is pinned (localCheckpoint) before
    cleanup, the _live_append lifetime pattern."""
    import os

    events = load_table(spark, sf_dir, "events")
    scratch = tempfile.mkdtemp(prefix="nyuki-evo-")
    try:
        base = os.path.join(scratch, "d")
        events.where(F.col("event_id") % 2 == 0).select(
            "event_id", "event_type"
        ).write.mode("overwrite").parquet(os.path.join(base, "shard=early"))
        events.where(F.col("event_id") % 2 == 1).select(
            "event_id", "event_type", "value"
        ).write.mode("overwrite").parquet(os.path.join(base, "shard=late"))
        merged = spark.read.option("mergeSchema", "true").parquet(base)
        out = (
            merged.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count("value").alias("n_value"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("value_sum"),
            )
            .orderBy("event_type")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


register(
    "scan_schema_evolution",
    engine_fn=_schema_evolution_fn,
    oracle=(
        "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,\n"
        "  CAST(SUM(CASE WHEN event_id % 2 = 1 AND value IS NOT NULL"
        " THEN 1 ELSE 0 END) AS BIGINT) AS n_value,\n"
        "  CAST(SUM(CASE WHEN event_id % 2 = 1\n"
        "    THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)"
        " AS value_sum\n"
        "FROM events GROUP BY 1 ORDER BY 1"
    ),
    category="ingestion",
    suite="extension",
    doc=(
        "parquet schema evolution: early shard without the value column "
        "+ late shard with it, read as one dataset via mergeSchema — "
        "old files surface NULLs, verified by a per-type census"
    ),
)


# -- partition pruning ----------------------------------------------------------


def _partition_pruning_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned scan: write events hive-partitioned by
    event_type, read back with a partition-key filter — the layout that
    turns a 100 TB full scan into a directory listing plus one
    partition's files. The filter lands in the scan's PartitionFilters
    (not a post-scan Filter), which the plan-sweep's companion
    behavioral test asserts; the census result is verified against the
    plain filtered aggregate the oracle runs."""
    import os

    events = load_table(spark, sf_dir, "events")
    scratch = tempfile.mkdtemp(prefix="nyuki-part-")
    try:
        base = os.path.join(scratch, "d")
        events.select(
            "event_id", "user_id", "value", "event_type"
        ).write.partitionBy("event_type").mode("overwrite").parquet(base)
        part = spark.read.parquet(base).where(
            F.col("event_type") == "purchase"
        )
        out = part.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("value_sum"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


register(
    "scan_partition_pruning",
    engine_fn=_partition_pruning_fn,
    oracle=(
        "SELECT CAST(COUNT(*) AS BIGINT) AS n,\n"
        "  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,\n"
        "  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)"
        " AS value_sum\n"
        "FROM events WHERE event_type = 'purchase'"
    ),
    category="scan",
    suite="extension",
    doc=(
        "hive-partitioned write + partition-pruned read: the "
        "event_type filter resolves to PartitionFilters (directory "
        "pruning, not row filtering) — verified against the plain "
        "filtered aggregate"
    ),
)


# -- Z-order (Morton) curve for multi-column data skipping (round 7) -----------


def _zorder_sql(dialect: str) -> str:
    """Morton z-value of the bucketized (o_custkey, o_orderdate) pair —
    the interleaved-bit clustering key behind multi-column data skipping
    (Delta/Iceberg OPTIMIZE ZORDER): sorting by z keeps BOTH columns'
    ranges tight within every file, so min/max stats prune 2-D predicate
    boxes that a single-column sort can only prune on one axis (behavioral
    proof: tests/test_layout.py). 8 bits per axis (256x256 grid); the
    16 interleave terms are static integer shift/mask arithmetic, so the
    z-values are bit-identical across engines. Spark spells shift as
    SHIFTRIGHT(x, b), DuckDB as (x >> b); '&' and the rest are shared.
    """
    def bit(col: str, b: int, pos: int) -> str:
        shifted = (
            f"SHIFTRIGHT({col}, {b})" if dialect == "spark" else f"({col} >> {b})"
        )
        return f"(({shifted} & 1) * {1 << pos})"

    terms = " + ".join(
        bit("x", b, 2 * b) + " + " + bit("y", b, 2 * b + 1) for b in range(8)
    )
    return (
        "WITH g AS (SELECT o_orderkey,\n"
        "    CAST(o_custkey % 256 AS BIGINT) AS x,\n"
        "    CAST(DAYOFYEAR(o_orderdate) % 256 AS BIGINT) AS y\n"
        "  FROM orders)\n"
        f"SELECT o_orderkey, x, y, CAST({terms} AS BIGINT) AS zval\n"
        "FROM g ORDER BY zval, o_orderkey LIMIT 100"
    )


register(
    "scan_zorder_curve",
    engine=_zorder_sql("spark"),
    oracle=_zorder_sql("duckdb"),
    category="scan",
    suite="extension",
    doc=(
        "Morton z-order clustering key over (custkey, day-of-year): 16 "
        "static shift/mask interleave terms, bit-identical across engines "
        "(the oracle-verified twin of sources/layout.py:zvalue); the "
        "layout win (per-file 2-D bounding boxes shrink on BOTH axes) is "
        "proven behaviorally in tests/test_layout.py"
    ),
)


# -- stream-stream LEFT OUTER interval join, live (round 7) ---------------------


def _stream_join_outer_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every view emits — matched
    views immediately (same state machine as stream_join_live's inner
    join), UNMATCHED views as null-extended rows only once the watermark
    passes view_ts + 1h and the state store can prove no purchase can
    still arrive (the outer-join-correctness rule Spark enforces). The
    typed flush sentinels (+80 days, one per side) advance the watermark
    past every real row so the finite replay flushes all pending outer
    rows; sentinel rows themselves join each other and are dropped by
    the view_id >= 0 filter (negative sentinel ids), mirroring the
    '__flush__' convention of the windowed replays. Oracle is the batch
    LEFT JOIN with the identical interval predicate.
    """
    events = load_table(spark, sf_dir, "events")

    def query(sdf: DataFrame, _scratch: str) -> DataFrame:
        joined = _attribution_join(sdf, "leftOuter").select(
            F.col("v_user").alias("user_id"), "view_id", "buy_id"
        )
        return (
            run_to_table(joined, mode="append")
            .where(F.col("view_id") >= 0)
            .orderBy("user_id", "view_id", "buy_id")
        )

    return run_live(
        spark,
        events,
        query,
        flush_df=_flush(spark, events, (80,), ("view", "purchase")),
    )


register(
    "stream_join_outer_live",
    engine_fn=_stream_join_outer_fn,
    oracle=(
        "SELECT v.user_id, v.event_id AS view_id, p.event_id AS buy_id\n"
        "FROM events v LEFT JOIN events p ON v.user_id = p.user_id\n"
        "AND p.event_type = 'purchase'\n"
        "AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR\n"
        "WHERE v.event_type = 'view'\n"
        "ORDER BY v.user_id, view_id, buy_id"
    ),
    category="streaming-live",
    suite="extension",
    doc=(
        "stream-stream LEFT OUTER interval join: matches emit "
        "immediately, unmatched views null-extend once the watermark "
        "closes their 1h window (flush sentinels drain the tail) — "
        "checked against the batch LEFT JOIN oracle"
    ),
)


# -- bucketed co-located join (round 8) -------------------------------------------


def _bucketed_join_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free fact-dim join via BUCKETED tables — the write-once /
    join-many co-location strategy (operators/bucketing.py): both sides
    are persisted bucketed on the join key (8 buckets, sorted), so the
    join AND the per-key aggregate read matching buckets pairwise with
    ZERO Exchange on either side (asserted plan-shape in
    tests/test_bucketing.py; at 100 TB this converts every repeated
    fact-fact join on the key from two full shuffles to a co-located
    scan). Tables are corpus-keyed and built once per corpus (the
    build-once/query-many contract of llm_knn_ivf); the query itself is
    the heavy-customer report: customers with >= 18 orders and their
    revenue. The count predicate is exact-integer, output is ordered by
    key, and the per-customer double sum is pinned at 2 dp (tens of
    exact-cent-scaled terms, far above fp noise).
    """
    import hashlib
    import os
    import tempfile

    from nyuki_spark.operators.bucketing import bucketed_join, write_bucketed

    key = hashlib.md5(f"{sf_dir}|buckets=8|v1".encode()).hexdigest()[:12]
    base = os.path.join(tempfile.gettempdir(), f"nyuki-bkt-{key}")
    t_ord = f"nyuki_bkt_orders_{key}"
    t_cst = f"nyuki_bkt_cust_{key}"
    if not (
        spark.catalog.tableExists(t_ord) and spark.catalog.tableExists(t_cst)
    ):
        orders = load_table(spark, sf_dir, "orders").withColumnRenamed(
            "o_custkey", "custkey"
        )
        cust = load_table(spark, sf_dir, "customer").withColumnRenamed(
            "c_custkey", "custkey"
        )
        write_bucketed(orders, t_ord, "custkey", f"{base}/orders")
        write_bucketed(cust, t_cst, "custkey", f"{base}/customer")
    joined = bucketed_join(spark, t_ord, t_cst, "custkey")
    return (
        joined.groupBy("custkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .where(F.col("n_orders") >= 18)
        .select(
            F.col("custkey").alias("c_custkey"),
            "c_mktsegment",
            "n_orders",
            F.col("revenue").cast("double").alias("revenue"),
        )
        .orderBy("c_custkey")
    )


register(
    "scan_bucketed_join",
    engine_fn=_bucketed_join_fn,
    oracle=(
        "SELECT o.o_custkey AS c_custkey, c.c_mktsegment,\n"
        "  CAST(COUNT(*) AS BIGINT) AS n_orders,\n"
        "  CAST(ROUND(SUM(o.o_totalprice), 2) AS DOUBLE) AS revenue\n"
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey\n"
        "GROUP BY 1, 2 HAVING COUNT(*) >= 18\n"
        "ORDER BY c_custkey"
    ),
    category="scan",
    suite="extension",
    doc=(
        "bucketed co-located join: both sides persisted bucketed+sorted "
        "on the key (write-once), join + per-key aggregate plan with "
        "zero Exchange; heavy-customer report as the verified result"
    ),
)


# -- trigger router, live (round 8) -----------------------------------------------


def _router_live_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-routed multi-pipeline replay through the REAL TriggerRouter
    (streaming/router.py start_all — one writeStream per trigger with an
    independent checkpoint, the reference's triggers-collection
    semantics): three topics map to three different pipelines (purchase
    -> cents metric, click -> raw metric, error -> unit metric), each
    draining into its own parquet sink; untriggered topics (view,
    signup) are ignored, exactly as an unmapped bus topic would be. The
    verified result is the per-route row count + exact-decimal metric
    total read back from the sinks — so the ROUTING itself (every row to
    exactly the right pipeline, none lost, none duplicated across
    checkpoints) is what the batch oracle checks. This upgrades the
    trigger-router surface from behavioral-smoke to oracle tier.
    Metrics sum DECIMAL(18,2) casts (exact, order-free) and only the
    final total casts to double.
    """
    from nyuki_spark.streaming.router import TriggerRouter

    dec = lambda c: c.cast("decimal(18,2)")  # noqa: E731
    router = TriggerRouter()
    router.add_trigger(
        "purchase",
        lambda df: df.select(
            "event_id", (dec(F.col("value")) * 100).alias("metric")
        ),
    )
    router.add_trigger(
        "click",
        lambda df: df.select("event_id", dec(F.col("value")).alias("metric")),
    )
    router.add_trigger(
        "error",
        lambda df: df.select("event_id", dec(F.lit(1)).alias("metric")),
    )

    def query(sdf: DataFrame, scratch: str) -> DataFrame:
        sink_root = f"{scratch}/sinks"

        def sink_for(topic: str):
            def _s(t: str, df: DataFrame) -> None:
                df.write.mode("append").parquet(f"{sink_root}/{t}")

            return _s

        await_drain(
            router.start_all(
                sdf, "event_type", sink_for, f"{scratch}/ckpt", available_now=True
            )
        )
        routed = None
        for t in sorted(router.triggers):
            part = spark.read.parquet(f"{sink_root}/{t}").withColumn(
                "route", F.lit(t)
            )
            routed = part if routed is None else routed.unionByName(part)
        return (
            routed.groupBy("route")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("metric").cast("double").alias("metric_total"),
            )
            .orderBy("route")
        )

    return run_live(spark, load_table(spark, sf_dir, "events"), query)


register(
    "stream_router_live",
    engine_fn=_router_live_fn,
    oracle=(
        "SELECT route, CAST(COUNT(*) AS BIGINT) AS n,\n"
        "  CAST(SUM(metric) AS DOUBLE) AS metric_total\n"
        "FROM (\n"
        "  SELECT 'click' AS route, CAST(value AS DECIMAL(18,2)) AS metric\n"
        "  FROM events WHERE event_type = 'click'\n"
        "  UNION ALL\n"
        "  SELECT 'error', CAST(1 AS DECIMAL(18,2))\n"
        "  FROM events WHERE event_type = 'error'\n"
        "  UNION ALL\n"
        "  SELECT 'purchase', CAST(value AS DECIMAL(18,2)) * 100\n"
        "  FROM events WHERE event_type = 'purchase'\n"
        ") GROUP BY route ORDER BY route"
    ),
    category="streaming-live",
    suite="extension",
    doc=(
        "trigger router over a live replay: three topic->pipeline "
        "mappings via TriggerRouter.start_all (independent checkpoints/"
        "sinks), unmapped topics dropped; per-route counts + exact-"
        "decimal metric totals verified against the batch routing oracle"
    ),
)


# -- CSV explicit-schema roundtrip (round 8) ---------------------------------------


def _csv_roundtrip_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit-schema CSV ingestion, verified END TO END: the events
    table is exported once per corpus to CSV (header, default quoting)
    and read back with a DDL schema — no inferSchema scan, the
    production contract for text feeds at scale (schema inference costs
    an extra full pass and hides drift) — then aggregated per type. The
    oracle computes the same aggregate on the original parquet, so the
    hash match proves the CSV writer/reader round-trips every value
    bit-exactly (Java's shortest-roundtrip double repr; NULLs as empty
    fields). This upgrades the CSV explicit-schema surface from
    behavioral-smoke to oracle tier.
    """
    import hashlib
    import os
    import tempfile

    from nyuki_spark.functions.fsutil import fs_exists

    key = hashlib.md5(f"{sf_dir}|csv|v1".encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"nyuki-csv-{key}")
    if not fs_exists(spark, f"{path}/_SUCCESS"):
        (
            load_table(spark, sf_dir, "events")
            .select("event_id", "event_type", "value")
            .write.mode("overwrite")
            .option("header", True)
            .csv(path)
        )
    back = (
        spark.read.schema("event_id bigint, event_type string, value double")
        .option("header", True)
        .csv(path)
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
            F.sum(F.col("value").isNull().cast("long")).alias("n_null"),
        )
        .orderBy("event_type")
    )


register(
    "scan_csv_roundtrip",
    engine_fn=_csv_roundtrip_fn,
    oracle=(
        "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,\n"
        "  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,\n"
        "  CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
        " AS n_null\n"
        "FROM events GROUP BY event_type ORDER BY event_type"
    ),
    category="scan",
    suite="extension",
    doc=(
        "explicit-DDL-schema CSV read verified end-to-end: export once, "
        "read back without inference, aggregate matches the parquet "
        "original bit-exactly (roundtrip doubles, NULL fields)"
    ),
)


def _json_roundtrip_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sibling of scan_csv_roundtrip: export once, read back
    with a DDL schema (no inference pass), aggregate — plus the nested
    hop: the ``props`` JSON string column survives the JSON-in-JSON
    encode/decode and its extracted key aggregates identically to the
    parquet original."""
    import hashlib
    import os
    import tempfile

    from nyuki_spark.functions.fsutil import fs_exists

    key = hashlib.md5(f"{sf_dir}|json|v1".encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"nyuki-json-{key}")
    if not fs_exists(spark, f"{path}/_SUCCESS"):
        (
            load_table(spark, sf_dir, "events")
            .select("event_id", "event_type", "value", "props")
            .write.mode("overwrite")
            .json(path)
        )
    back = spark.read.schema(
        "event_id bigint, event_type string, value double, props string"
    ).json(path)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
            F.sum(
                F.get_json_object(F.col("props"), "$.k").cast("long")
            ).alias("k_sum"),
        )
        .orderBy("event_type")
    )


register(
    "scan_json_roundtrip",
    engine_fn=_json_roundtrip_fn,
    oracle=(
        "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,\n"
        "  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,\n"
        "  CAST(SUM(CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT))"
        " AS BIGINT) AS k_sum\n"
        "FROM events GROUP BY event_type ORDER BY event_type"
    ),
    category="scan",
    suite="extension",
    doc=(
        "explicit-DDL-schema JSON-lines read verified end-to-end incl. "
        "the nested JSON-string column: export once, no inference, "
        "aggregates match the parquet original"
    ),
)


# -- SCD-2 interval materialization (round 9) ------------------------------------

_SCD2 = (
    # Slowly-changing-dimension type 2: per user, collapse consecutive
    # repeats of event_type (IS DISTINCT FROM handles NULLs), then close
    # each change row with the next change's timestamp — the validity
    # intervals a dimension-history materialization maintains. Two
    # windows, both PARTITIONED BY user_id (parallel, never a global
    # sort); ties broken by event_id for a total order. The dialects are
    # identical.
    "WITH o AS (SELECT user_id, event_type, ts, event_id,\n"
    "    LAG(event_type) OVER (PARTITION BY user_id\n"
    "      ORDER BY ts, event_id) AS prev\n"
    "  FROM events),\n"
    "chg AS (SELECT user_id, event_type, ts, event_id FROM o\n"
    "  WHERE prev IS DISTINCT FROM event_type),\n"
    "iv AS (SELECT user_id, event_type, ts AS valid_from, event_id,\n"
    "    LEAD(ts) OVER (PARTITION BY user_id\n"
    "      ORDER BY ts, event_id) AS valid_to\n"
    "  FROM chg)\n"
    "SELECT user_id, event_type, valid_from, valid_to,\n"
    "  valid_to IS NULL AS is_current\n"
    "FROM iv ORDER BY user_id, valid_from, event_id"
)

register(
    "mv_scd2_intervals",
    engine=_SCD2,
    oracle=_SCD2,
    category="cdc",
    suite="extension",
    doc=(
        "SCD-2 validity intervals per user: consecutive-repeat collapse "
        "(LAG ... IS DISTINCT FROM) + interval close (LEAD), both windows "
        "user-partitioned — the dimension-history materialization shape"
    ),
)


# -- ORC round-trip (round 9) ------------------------------------------------------


def _orc_roundtrip_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sibling of scan_csv_roundtrip: the columnar warehouse format
    Spark reads natively (vectorized reader, predicate pushdown, typed
    schema embedded — no DDL re-parse on read-back). Export once per
    corpus, read back, aggregate UNDER A PUSHED FILTER (value > 50 —
    the predicate reaches the OrcScan as PushedFilters, exercising the
    row-group skip path the format exists for). The oracle computes the
    same filtered aggregate on the original parquet, so the hash match
    proves the ORC writer/reader round-trips doubles and NULLs
    bit-exactly.
    """
    import hashlib
    import os
    import tempfile

    from nyuki_spark.functions.fsutil import fs_exists

    key = hashlib.md5(f"{sf_dir}|orc|v1".encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"nyuki-orc-{key}")
    if not fs_exists(spark, f"{path}/_SUCCESS"):
        (
            load_table(spark, sf_dir, "events")
            .select("event_id", "event_type", "value")
            .write.mode("overwrite")
            .orc(path)
        )
    back = spark.read.orc(path).where(F.col("value") > 50)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
        .orderBy("event_type")
    )


register(
    "scan_orc_roundtrip",
    engine_fn=_orc_roundtrip_fn,
    oracle=(
        "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,\n"
        "  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total\n"
        "FROM events WHERE value > 50\n"
        "GROUP BY event_type ORDER BY event_type"
    ),
    category="scan",
    suite="extension",
    doc=(
        "native ORC read verified end-to-end under a pushed filter: "
        "export once, read back (typed schema embedded, vectorized "
        "reader), filtered aggregate matches the parquet original "
        "bit-exactly"
    ),
)


# -- live CEP sequence detection (round 9) ---------------------------------------


def _cep_drain(sdf: DataFrame, cols, delay: str, **match) -> DataFrame:
    """The query of every live CEP id: funnel_match (streaming/stateful.py)
    over the watermarked stream ``sdf``, drained into an append memory
    sink. ``match`` goes to funnel_match (``steps`` is required);
    ``cols`` names its step1_ts, step2_ts, ... outputs. Sentinel rows are
    dropped from the drained result only, and the output is ordered by
    user, then the first step (TTL ids emit one row per epoch)."""
    from nyuki_spark.streaming.stateful import funnel_match

    value = ["value"] if match.get("value_col") else []
    sdf = sdf.select(
        F.col("ts").cast("timestamp").alias("ts"), "user_id", "event_type", *value
    ).withWatermark("ts", delay)
    res = run_to_table(funnel_match(sdf, **match), mode="append")
    return (
        res.where(F.col("user_id") >= 0)
        .select(
            "user_id",
            *(F.col(f"step{i}_ts").alias(c) for i, c in enumerate(cols, 1)),
        )
        .orderBy("user_id", cols[0])
    )


def _cep_live(cols, **match):
    """Live CEP id over the 4-chunk out-of-order replay of the events
    table, checked against a batch SQL twin — streaming CEP vs batch SQL
    parity (the query: :func:`_cep_drain`). Per user the anchor step's
    earliest event opens the pattern window, and the match is emitted
    exactly once per user when the anchor's horizon closes (event-time
    TIMER at anchor + window, fired by the watermark;
    continuous-stream-correct, not an inactivity timeout).

    A 35-day watermark delay and two flush sentinels (+80 d, +81 d), not
    one: timers are evaluated against the watermark computed at the END
    of the previous batch, so sentinel-1 advances the watermark past
    every real timer and sentinel-2's batch is where all groups fire. The
    35-day delay bounds replay disorder: every timer — earliest at
    min-event + 7 d (anchor + window, or last-event + 7 d for anchor-less
    keys) — stays ABOVE the pre-sentinel watermark because the fixture
    span is shorter than delay + window (~30 d < 42 d): no group can
    close before its data is complete. Types outside the pattern (its
    steps and ``absent``) can never match — they are dropped BEFORE
    buffering (40% of rows off the state store). The sentinel type stays
    in that IN-list on purpose: the watermark is computed from
    post-filter rows, and dropping the flush would pin it below every
    timer (the sentinel rule, streaming/runner.py).
    """
    steps = match["steps"]
    types = [t for s in steps for t in (s if isinstance(s, tuple) else (s,))]
    if match.get("absent"):
        types.append(match["absent"])

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        events = load_table(spark, sf_dir, "events")
        return run_live(
            spark,
            events,
            lambda sdf, _scratch: _cep_drain(
                sdf.where(F.col("event_type").isin(*types, "__flush__")),
                cols,
                "35 days",
                **match,
            ),
            flush_df=_flush(spark, events, (80, 81)),
        )

    return fn


# Per user, the earliest view anchors a 7-DAY pattern window; the match is
# the first click strictly after the anchor and the first purchase strictly
# after that, both inside the window. The batch oracle runs the identical
# window-bounded min-chain in SQL, like the stream-stream joins.

register(
    "stream_cep_funnel_live",
    engine_fn=_cep_live(
        ("view_ts", "click_ts", "purchase_ts"), steps=("view", "click", "purchase")
    ),
    oracle=(
        "WITH v AS (SELECT user_id, MIN(ts) AS v FROM events\n"
        "  WHERE event_type = 'view' GROUP BY 1),\n"
        "c AS (SELECT e.user_id, MIN(e.ts) AS c FROM events e\n"
        "  JOIN v ON v.user_id = e.user_id\n"
        "  WHERE e.event_type = 'click' AND e.ts > v.v\n"
        "    AND e.ts <= v.v + INTERVAL 7 DAY GROUP BY 1),\n"
        "p AS (SELECT e.user_id, MIN(e.ts) AS p FROM events e\n"
        "  JOIN c ON c.user_id = e.user_id\n"
        "  JOIN v ON v.user_id = e.user_id\n"
        "  WHERE e.event_type = 'purchase' AND e.ts > c.c\n"
        "    AND e.ts <= v.v + INTERVAL 7 DAY GROUP BY 1)\n"
        "SELECT v.user_id, CAST(v.v AS TIMESTAMP) AS view_ts,\n"
        "  CAST(c.c AS TIMESTAMP) AS click_ts,\n"
        "  CAST(p.p AS TIMESTAMP) AS purchase_ts\n"
        "FROM v JOIN c ON c.user_id = v.user_id\n"
        "JOIN p ON p.user_id = v.user_id ORDER BY v.user_id"
    ),
    category="streaming-live",
    suite="extension",
    doc=(
        "live CEP sequence detection (view -> click -> purchase "
        "min-chain inside a 7-day anchor window) via event-time-timer "
        "buffered fold in applyInPandasWithState, emitted once per "
        "user at anchor-horizon close; batch window-bounded min-chain "
        "SQL oracle — stream/batch parity"
    ),
)


# -- live CEP with negation: abandoned cart (round 10) ---------------------------


# Absence-within-window (funnel_match with ``absent``): per user, the
# earliest view anchors a 7-DAY window; the match is the first click
# strictly after the anchor AND NO purchase anywhere inside the window
# strictly after the anchor — the abandoned-cart shape, the canonical
# MATCH_RECOGNIZE negation workload. The negation can only be decided when
# the window is FINAL — an inactivity timer would fire early and emit false
# abandons whose purchase simply had not arrived. The negated type MUST
# survive the in-stream type filter (_cep_live keeps ``absent`` in it):
# dropping purchases pre-buffer would turn every completed funnel into a
# false abandon. The batch oracle is the identical window-bounded min-chain
# plus a NOT EXISTS over the negated type.

register(
    "stream_cep_abandoned_live",
    engine_fn=_cep_live(
        ("view_ts", "click_ts"), steps=("view", "click"), absent="purchase"
    ),
    oracle=(
        "WITH v AS (SELECT user_id, MIN(ts) AS v FROM events\n"
        "  WHERE event_type = 'view' GROUP BY 1),\n"
        "c AS (SELECT e.user_id, MIN(e.ts) AS c FROM events e\n"
        "  JOIN v ON v.user_id = e.user_id\n"
        "  WHERE e.event_type = 'click' AND e.ts > v.v\n"
        "    AND e.ts <= v.v + INTERVAL 7 DAY GROUP BY 1)\n"
        "SELECT v.user_id, CAST(v.v AS TIMESTAMP) AS view_ts,\n"
        "  CAST(c.c AS TIMESTAMP) AS click_ts\n"
        "FROM v JOIN c ON c.user_id = v.user_id\n"
        "WHERE NOT EXISTS (SELECT 1 FROM events p\n"
        "  WHERE p.user_id = v.user_id AND p.event_type = 'purchase'\n"
        "    AND p.ts > v.v AND p.ts <= v.v + INTERVAL 7 DAY)\n"
        "ORDER BY v.user_id"
    ),
    category="streaming-live",
    suite="extension",
    doc=(
        "live CEP negation (abandoned cart: view -> click with NO "
        "purchase inside the 7-day anchor window) via the k-step + "
        "absent funnel_match, emitted once per user at horizon close; "
        "batch twin is the min-chain + window-bounded NOT EXISTS — "
        "stream/batch parity"
    ),
)


# -- dynamic partition pruning (round 10) ----------------------------------------


def _dpp_build(spark: SparkSession, scratch: str, sf_dir: str) -> DataFrame:
    """Shared builder for the DPP demonstration (query + plan test):
    write events hive-partitioned by DAY (the 100 TB fact layout), write
    a small calendar dimension with a promo flag, then join fact to the
    FILTERED dimension on the partition column. Catalyst's dynamic
    partition pruning turns the dim-side filter into a runtime
    DynamicPruningExpression inside the fact scan's PartitionFilters —
    the fact reads only the promo days' directories, decided at RUNTIME
    from the broadcast dim (reused, so the subquery costs nothing
    extra). Static pruning (scan_partition_pruning) needs the literal in
    the query text; DPP is what saves the I/O when the day list comes
    from DATA — the join-driven case every partitioned warehouse fact
    hits.

    The dim filter is an EQUALITY on a string column, deliberately:
    PartitionPruning only injects the subquery behind a "likely
    selective" dim predicate (equality/IN/LIKE — Catalyst's
    isLikelySelective), and a bare boolean-attribute filter
    (`WHERE promo`) is NOT one — measured here: the same join with a
    boolean flag never prunes."""
    import os

    events = load_table(spark, sf_dir, "events")
    base = os.path.join(scratch, "fact")
    dim_path = os.path.join(scratch, "dim")
    events.select(
        "event_id", "user_id", "value", F.to_date("ts").alias("day")
    ).write.partitionBy("day").mode("overwrite").parquet(base)
    (
        events.select(F.to_date("ts").alias("day"))
        .distinct()
        .withColumn(
            "kind",
            F.when(
                F.dayofmonth("day") % 7 == 0, F.lit("promo")
            ).otherwise(F.lit("regular")),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(dim_path)
    )
    fact = spark.read.parquet(base)
    dim = spark.read.parquet(dim_path).where(F.col("kind") == "promo")
    return (
        fact.join(dim, "day")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("value_sum"),
        )
        .orderBy("day")
    )


def _dpp_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    scratch = tempfile.mkdtemp(prefix="nyuki-dpp-")
    try:
        return _dpp_build(spark, scratch, sf_dir).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


register(
    "scan_dynamic_partition_pruning",
    engine_fn=_dpp_fn,
    oracle=(
        "WITH d AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),\n"
        "p AS (SELECT day FROM d WHERE EXTRACT(day FROM day) % 7 = 0)\n"
        "SELECT p.day AS day, CAST(COUNT(*) AS BIGINT) AS n,\n"
        "  CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE)"
        " AS value_sum\n"
        "FROM events e JOIN p ON CAST(e.ts AS DATE) = p.day\n"
        "GROUP BY p.day ORDER BY day"
    ),
    category="scan",
    suite="extension",
    doc=(
        "dynamic partition pruning: day-partitioned fact joined to a "
        "filtered calendar dim on the partition column — the day list "
        "is decided at RUNTIME from the broadcast dim "
        "(DynamicPruningExpression in the fact scan's PartitionFilters, "
        "asserted by tests/test_plan_quality.py), verified against the "
        "plain join aggregate"
    ),
)


# -- LATERAL correlated subquery (round 10) ---------------------------------------

_LATERAL_SQL = (
    # Per-customer top-2 orders via a LATERAL correlated subquery — the
    # ANSI form of "top-k per group" that pipelines express as a
    # dependent join (DuckDB/Postgres LATERAL, Spark 3.2+ lateral
    # subquery). Catalyst rewrites the correlated LIMIT into a
    # rank-partitioned window (DomainJoin -> window), so the physical
    # plan is the same shuffle-once shape as win_topk_per_group — the
    # declarative surface is what this id locks in. Nations 0-2 bound
    # the output; the inner ORDER BY is fully deterministic
    # (o_totalprice DESC, o_orderkey).
    "SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice\n"
    "FROM customer c, LATERAL (\n"
    "  SELECT o_orderkey, o_totalprice FROM orders\n"
    "  WHERE o_custkey = c.c_custkey\n"
    "  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o\n"
    "WHERE c.c_nationkey <= 2\n"
    "ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey"
)

register(
    "subq_lateral",
    engine=_LATERAL_SQL,
    oracle=_LATERAL_SQL,
    category="subquery",
    suite="extension",
    doc=(
        "LATERAL correlated subquery (per-customer top-2 orders by "
        "price): the ANSI dependent-join surface, planned by Catalyst "
        "as a rank window — same SQL text on both engines"
    ),
)


# -- live CEP, 4-step chain (round 10) --------------------------------------------


# 4-step chain (signup -> view -> click -> purchase min-chain inside the
# 7-day anchor window): funnel_match's k-step generalization end-to-end on
# a REAL chain longer than the fixed arity-3 the operator had before
# round 10.

register(
    "stream_cep_kstep_live",
    engine_fn=_cep_live(
        ("signup_ts", "view_ts", "click_ts", "purchase_ts"),
        steps=("signup", "view", "click", "purchase"),
    ),
    oracle=(
        "WITH s AS (SELECT user_id, MIN(ts) AS s FROM events\n"
        "  WHERE event_type = 'signup' GROUP BY 1),\n"
        "v AS (SELECT e.user_id, MIN(e.ts) AS v FROM events e\n"
        "  JOIN s ON s.user_id = e.user_id\n"
        "  WHERE e.event_type = 'view' AND e.ts > s.s\n"
        "    AND e.ts <= s.s + INTERVAL 7 DAY GROUP BY 1),\n"
        "c AS (SELECT e.user_id, MIN(e.ts) AS c FROM events e\n"
        "  JOIN v ON v.user_id = e.user_id\n"
        "  JOIN s ON s.user_id = e.user_id\n"
        "  WHERE e.event_type = 'click' AND e.ts > v.v\n"
        "    AND e.ts <= s.s + INTERVAL 7 DAY GROUP BY 1),\n"
        "p AS (SELECT e.user_id, MIN(e.ts) AS p FROM events e\n"
        "  JOIN c ON c.user_id = e.user_id\n"
        "  JOIN s ON s.user_id = e.user_id\n"
        "  WHERE e.event_type = 'purchase' AND e.ts > c.c\n"
        "    AND e.ts <= s.s + INTERVAL 7 DAY GROUP BY 1)\n"
        "SELECT s.user_id, CAST(s.s AS TIMESTAMP) AS signup_ts,\n"
        "  CAST(v.v AS TIMESTAMP) AS view_ts,\n"
        "  CAST(c.c AS TIMESTAMP) AS click_ts,\n"
        "  CAST(p.p AS TIMESTAMP) AS purchase_ts\n"
        "FROM s JOIN v ON v.user_id = s.user_id\n"
        "JOIN c ON c.user_id = s.user_id\n"
        "JOIN p ON p.user_id = s.user_id ORDER BY s.user_id"
    ),
    category="streaming-live",
    suite="extension",
    doc=(
        "live 4-step CEP chain (signup -> view -> click -> purchase "
        "min-chain in a 7-day anchor window) via the generalized k-step "
        "funnel_match; window-bounded min-chain SQL twin — stream/batch "
        "parity at arity 4"
    ),
)


# -- CBO statistics-fed join reorder (round 11) -------------------------------------


def _cbo_join_reorder_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based-optimizer demonstration (r10 verdict Next #4/#5 —
    SURVEY §4's planned ANALYZE tier): registers the three join tables
    as EXTERNAL catalog tables over the same parquet (no copy), runs
    `ANALYZE TABLE ... COMPUTE STATISTICS FOR ALL COLUMNS`, then plans a
    deliberately badly-ordered 3-way join (fact first) under
    spark.sql.cbo.enabled + joinReorder.enabled. Measured effect at
    sf0.01, asserted in tests/test_plan_quality.py: WITHOUT stats
    Catalyst joins left-to-right — (orders JOIN customer) JOIN nation —
    and estimates the root at ~1 TiB; WITH stats the reorderer puts the
    selective dimension pair first — (customer JOIN nation) JOIN
    orders — and the root estimate collapses to rowCount=1. AQE's
    runtime re-planning cannot do this (it only demotes/coalesces an
    already-ordered join tree); on a real 100 TB star schema the
    stats-fed reorder is the difference between shuffling the fact
    table once and twice. Confs are restored and catalog entries
    dropped after materialization; the result itself is the revenue
    census the twin recomputes."""
    tag = uuid.uuid4().hex[:8]
    names = {t: f"cbo_{t}_{tag}" for t in ("nation", "customer", "orders")}
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.cbo.enabled",
            "spark.sql.cbo.joinReorder.enabled",
            "spark.sql.cbo.planStats.enabled",
        )
    }
    try:
        for t, n in names.items():
            spark.sql(
                f"CREATE TABLE {n} USING parquet"
                f" LOCATION '{sf_dir}/{t}.parquet'"
            )
            spark.sql(f"ANALYZE TABLE {n} COMPUTE STATISTICS FOR ALL COLUMNS")
        for k in saved:
            spark.conf.set(k, "true")
        res = spark.sql(
            # Deliberately fact-first FROM order: the reorderer, not the
            # written order, must pick the join tree.
            f"SELECT n.n_name,\n"
            f"  CAST(COUNT(*) AS BIGINT) AS n_orders,\n"
            f"  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))"
            f" AS DOUBLE) AS revenue\n"
            f"FROM {names['orders']} o\n"
            f"JOIN {names['customer']} c ON o.o_custkey = c.c_custkey\n"
            f"JOIN {names['nation']} n ON c.c_nationkey = n.n_nationkey\n"
            f"WHERE n.n_regionkey <= 1\n"
            f"GROUP BY n.n_name ORDER BY n.n_name"
        ).cache()
        res.count()  # materialize under CBO confs, before restore/drop
        return res
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        for n in names.values():
            try:
                spark.sql(f"DROP TABLE IF EXISTS {n}")
            except Exception:
                pass


register(
    "plan_cbo_join_reorder",
    engine_fn=_cbo_join_reorder_fn,
    oracle=(
        "SELECT n.n_name, CAST(COUNT(*) AS BIGINT) AS n_orders,\n"
        "  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)"
        " AS revenue\n"
        "FROM orders o\n"
        "JOIN customer c ON o.o_custkey = c.c_custkey\n"
        "JOIN nation n ON c.c_nationkey = n.n_nationkey\n"
        "WHERE n.n_regionkey <= 1\n"
        "GROUP BY n.n_name ORDER BY n.n_name"
    ),
    category="planning",
    suite="extension",
    doc=(
        "ANALYZE TABLE column stats + CBO join reorder: fact-first "
        "3-way join rewritten by the cost-based reorderer to join the "
        "selective dimension pair first (plan asserted in "
        "tests/test_plan_quality.py); exact DECIMAL revenue census"
    ),
)


# -- live CEP with per-step quantifiers (round 11) ---------------------------------


# The Flink-CEP/MATCH_RECOGNIZE ``A{m,}`` class (r10 verdict Next #3):
# ``view{3,} -> click{2,}`` per user inside the 7-day anchor window. The
# anchor is the user's earliest view; the view step is SATISFIED at the 3rd
# view in the window, the click step at the 2nd click strictly after that —
# funnel_match's greedy-earliest order-statistic semantics, which the batch
# twin re-derives as window-bounded ROW_NUMBER order statistics (rn = m).
# State stays window-bounded (quantifiers change which buffered row
# satisfies a step, not what is buffered).

register(
    "stream_cep_quantified_live",
    engine_fn=_cep_live(
        ("view3_ts", "click2_ts"), steps=("view", "click"), min_counts=(3, 2)
    ),
    oracle=(
        "WITH a AS (SELECT user_id, MIN(ts) AS anchor FROM events\n"
        "  WHERE event_type = 'view' GROUP BY 1),\n"
        "v AS (SELECT user_id, ts FROM (\n"
        "  SELECT e.user_id, e.ts,\n"
        "    ROW_NUMBER() OVER (PARTITION BY e.user_id ORDER BY e.ts)"
        " AS rn\n"
        "  FROM events e JOIN a ON a.user_id = e.user_id\n"
        "  WHERE e.event_type = 'view' AND e.ts >= a.anchor\n"
        "    AND e.ts <= a.anchor + INTERVAL 7 DAY) t WHERE rn = 3),\n"
        "c AS (SELECT user_id, ts FROM (\n"
        "  SELECT e.user_id, e.ts,\n"
        "    ROW_NUMBER() OVER (PARTITION BY e.user_id ORDER BY e.ts)"
        " AS rn\n"
        "  FROM events e JOIN v ON v.user_id = e.user_id\n"
        "  JOIN a ON a.user_id = e.user_id\n"
        "  WHERE e.event_type = 'click' AND e.ts > v.ts\n"
        "    AND e.ts <= a.anchor + INTERVAL 7 DAY) t WHERE rn = 2)\n"
        "SELECT a.user_id, CAST(v.ts AS TIMESTAMP) AS view3_ts,\n"
        "  CAST(c.ts AS TIMESTAMP) AS click2_ts\n"
        "FROM a JOIN v ON v.user_id = a.user_id\n"
        "JOIN c ON c.user_id = a.user_id ORDER BY a.user_id"
    ),
    category="streaming-live",
    suite="extension",
    doc=(
        "live quantified CEP (view{3,} -> click{2,} in a 7-day anchor "
        "window — the A{m,} MATCH_RECOGNIZE class) via funnel_match "
        "per-step min_counts; order-statistic SQL twin (ROW_NUMBER "
        "rn = m), stream/batch parity"
    ),
)


# -- live CEP with alternation (round 11) -------------------------------------------


# ALTERNATION — the `A -> (B|C) -> D` MATCH_RECOGNIZE class (listed
# inexpressible in the r10 verdict): signup -> (view|click) -> purchase
# inside the 7-day anchor window. A step given to funnel_match as a tuple
# of types matches the EARLIEST event of any of them, so the batch twin is
# the same min-chain SQL with `event_type IN (...)` on the alternated step.

register(
    "stream_cep_alternation_live",
    engine_fn=_cep_live(
        ("signup_ts", "engage_ts", "purchase_ts"),
        steps=("signup", ("view", "click"), "purchase"),
    ),
    oracle=(
        "WITH a AS (SELECT user_id, MIN(ts) AS s FROM events\n"
        "  WHERE event_type = 'signup' GROUP BY 1),\n"
        "m AS (SELECT e.user_id, MIN(e.ts) AS m FROM events e\n"
        "  JOIN a ON a.user_id = e.user_id\n"
        "  WHERE e.event_type IN ('view', 'click') AND e.ts > a.s\n"
        "    AND e.ts <= a.s + INTERVAL 7 DAY GROUP BY 1),\n"
        "p AS (SELECT e.user_id, MIN(e.ts) AS p FROM events e\n"
        "  JOIN m ON m.user_id = e.user_id\n"
        "  JOIN a ON a.user_id = e.user_id\n"
        "  WHERE e.event_type = 'purchase' AND e.ts > m.m\n"
        "    AND e.ts <= a.s + INTERVAL 7 DAY GROUP BY 1)\n"
        "SELECT a.user_id, CAST(a.s AS TIMESTAMP) AS signup_ts,\n"
        "  CAST(m.m AS TIMESTAMP) AS engage_ts,\n"
        "  CAST(p.p AS TIMESTAMP) AS purchase_ts\n"
        "FROM a JOIN m ON m.user_id = a.user_id\n"
        "JOIN p ON p.user_id = a.user_id ORDER BY a.user_id"
    ),
    category="streaming-live",
    suite="extension",
    doc=(
        "live CEP alternation (signup -> (view|click) -> purchase in a "
        "7-day anchor window — the (B|C) MATCH_RECOGNIZE class) via "
        "funnel_match type-set steps; min-chain twin with IN-list on "
        "the alternated step, stream/batch parity"
    ),
)


# -- as-of join with tolerance (round 10) ------------------------------------------


def _asof_tolerance_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a MAX-GAP TOLERANCE: each purchase matches the
    user's most recent strictly-earlier click only if it is within 1
    hour; otherwise the purchase stays unmatched (NULL) — the kdb
    `aj`-with-tolerance / pandas merge_asof(tolerance=...) surface the
    plain as-of (join_asof_emulated) cannot express. Implemented as the
    standard union + window rewrite, but with a RANGE frame on the
    microsecond epoch ending at -1 us: the frame boundary IS the
    strictly-earlier predicate, so a click sharing the purchase's exact
    timestamp is excluded identically to the oracle's `c.ts < p.ts`
    (a ROWS frame would include same-timestamp rows and diverge).
    Output is the per-day match census + mean matched gap."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    from pyspark.sql.window import Window

    tagged = ev.select(
        "user_id",
        # ts is TIMESTAMP_NTZ; unix_micros needs TIMESTAMP — the session
        # is pinned UTC (configure_session), so the cast is the identity
        # epoch DuckDB's EPOCH_US computes.
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_type",
        F.col("ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    lastc = tagged.withColumn(
        "last_click_us",
        F.max(F.when(F.col("event_type") == "click", F.col("us"))).over(w),
    )
    purch = lastc.where(F.col("event_type") == "purchase").select(
        F.to_date("ts").alias("day"),
        (F.col("us") - F.col("last_click_us")).alias("gap_us"),
    )
    return (
        purch.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            # when/otherwise, not a bare boolean cast: a day where EVERY
            # purchase lacks a prior click makes all comparisons NULL,
            # and SUM(all-NULL) is NULL while the oracle's CASE emits 0
            # (caught at sf0.001, where such days exist).
            F.sum(
                F.when(F.col("gap_us") <= 3_600_000_000, 1).otherwise(0)
            ).cast("long").alias("n_matched"),
            F.round(
                F.avg(
                    F.when(
                        F.col("gap_us") <= 3_600_000_000, F.col("gap_us")
                    )
                )
                / 1e6,
                6,
            )
            .cast("double")
            .alias("avg_gap_sec"),
        )
        .orderBy("day")
    )


register(
    "ts_asof_tolerance",
    engine_fn=_asof_tolerance_fn,
    oracle=(
        "WITH p AS (SELECT user_id, ts, CAST(ts AS DATE) AS day\n"
        "  FROM events WHERE event_type = 'purchase'),\n"
        "m AS (SELECT p.day,\n"
        "    (SELECT MAX(EPOCH_US(c.ts)) FROM events c\n"
        "      WHERE c.user_id = p.user_id AND c.event_type = 'click'\n"
        "        AND c.ts < p.ts) AS lc_us,\n"
        "    EPOCH_US(p.ts) AS p_us\n"
        "  FROM p)\n"
        "SELECT day, CAST(COUNT(*) AS BIGINT) AS n_purchases,\n"
        "  CAST(SUM(CASE WHEN p_us - lc_us <= 3600000000 THEN 1\n"
        "    ELSE 0 END) AS BIGINT) AS n_matched,\n"
        "  CAST(ROUND(AVG(CASE WHEN p_us - lc_us <= 3600000000\n"
        "    THEN p_us - lc_us END) / 1e6, 6) AS DOUBLE) AS avg_gap_sec\n"
        "FROM m GROUP BY day ORDER BY day"
    ),
    category="timeseries",
    suite="extension",
    doc=(
        "as-of join with 1-hour tolerance (purchase -> most recent "
        "strictly-earlier click): union + window rewrite with a RANGE "
        "frame ending at -1 us so the frame boundary IS the "
        "strictly-earlier predicate; per-day match census vs a "
        "correlated-subquery twin"
    ),
)


# -- live CEP with bounded quantifiers A{m,n} (round 12) ----------------------------


# BOUNDED-quantifier CEP — the full ``A{m,n}`` MATCH_RECOGNIZE class (r11
# verdict Next #2): ``view{2,4} -> click{1,3}`` per user inside the 7-day
# anchor window, VETO semantics (funnel_match max_counts): a step's
# occurrence count over its eligibility interval — [anchor, hi] for the
# anchor step, (prev_satisfaction, hi] after — must satisfy
# m <= count <= n or the whole match fails. A pure window count is
# order-insensitive, so out-of-order arrival cannot flip a veto. The batch
# twin re-derives both the order-statistic satisfaction times (ROW_NUMBER
# rn = m) and the interval counts (COUNT(*) OVER the same partition) in
# SQL. State stays window-bounded (bounds change whether a match EMITS, not
# what is buffered).

register(
    "stream_cep_bounded_live",
    engine_fn=_cep_live(
        ("view2_ts", "click_ts"),
        steps=("view", "click"),
        min_counts=(2, 1),
        max_counts=(4, 3),
    ),
    oracle=(
        "WITH a AS (SELECT user_id, MIN(ts) AS anchor FROM events\n"
        "  WHERE event_type = 'view' GROUP BY 1),\n"
        "vs AS (SELECT e.user_id, e.ts,\n"
        "    ROW_NUMBER() OVER (PARTITION BY e.user_id ORDER BY e.ts)"
        " AS rn,\n"
        "    COUNT(*) OVER (PARTITION BY e.user_id) AS cnt\n"
        "  FROM events e JOIN a ON a.user_id = e.user_id\n"
        "  WHERE e.event_type = 'view' AND e.ts >= a.anchor\n"
        "    AND e.ts <= a.anchor + INTERVAL 7 DAY),\n"
        "v AS (SELECT user_id, ts FROM vs WHERE rn = 2 AND cnt <= 4),\n"
        "cs AS (SELECT e.user_id, e.ts,\n"
        "    ROW_NUMBER() OVER (PARTITION BY e.user_id ORDER BY e.ts)"
        " AS rn,\n"
        "    COUNT(*) OVER (PARTITION BY e.user_id) AS cnt\n"
        "  FROM events e JOIN v ON v.user_id = e.user_id\n"
        "  JOIN a ON a.user_id = e.user_id\n"
        "  WHERE e.event_type = 'click' AND e.ts > v.ts\n"
        "    AND e.ts <= a.anchor + INTERVAL 7 DAY),\n"
        "c AS (SELECT user_id, ts FROM cs WHERE rn = 1 AND cnt <= 3)\n"
        "SELECT a.user_id, CAST(v.ts AS TIMESTAMP) AS view2_ts,\n"
        "  CAST(c.ts AS TIMESTAMP) AS click_ts\n"
        "FROM a JOIN v ON v.user_id = a.user_id\n"
        "JOIN c ON c.user_id = a.user_id ORDER BY a.user_id"
    ),
    category="streaming-live",
    suite="extension",
    doc=(
        "live bounded-quantifier CEP (view{2,4} -> click{1,3} in a "
        "7-day anchor window — the full A{m,n} MATCH_RECOGNIZE class, "
        "veto semantics) via funnel_match min_counts+max_counts; "
        "order-statistic + interval-count SQL twin, stream/batch parity"
    ),
)


# -- live CEP with tombstone TTL epochs (round 12) ----------------------------------


def _cep_ttl_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live CEP with a TOMBSTONE TTL (r11 verdict Next #5): view -> click
    inside a 2-DAY anchor window, ``tombstone_ttl_us`` = 6 days — the
    bounded-state mode for recurring keys. Per user the earliest view
    anchors epoch 1; when the horizon (anchor + 2d) closes the outcome is
    emitted once and the key tombstones; the tombstone expires at
    horizon + 6d and the NEXT view strictly after that deadline anchors
    epoch 2 — so one user emits up to 4 rows over the 30-day fixture, one
    per epoch, exactly the exactly-once-per-key-within-TTL contract
    funnel_match documents.

    Epoch boundaries are event-time-exact (stateful.py r12: next-epoch
    events buffer INSIDE the standing tombstone while the watermark lags
    the deadline), so the batch twin can unroll the epochs (anchor_e+1 =
    first view after anchor_e + window + TTL, 4 epochs covers the 30-day
    span) and match exactly. Mid-stream timers are what make TTL
    observable at all, so this id uses the EVENT-TIME-ORDERED replay
    (replay_stream ``order_col``, 16 chunks, 1-day watermark delay,
    sentinels at +5 d and +6 d): horizons and deadlines pass while the
    stream is still running — TTL(6d) > delay(1d) + chunk span(~2d) keeps
    every epoch hand-off on the tombstone path (the deployment rule the
    operator docstring states). The type filter runs before the replay,
    so nothing filters the stream."""
    events = load_table(spark, sf_dir, "events")
    return run_live(
        spark,
        events.where(F.col("event_type").isin("view", "click")),
        lambda sdf, _scratch: _cep_drain(
            sdf,
            ("view_ts", "click_ts"),
            "1 day",
            steps=("view", "click"),
            within_us=2 * 86_400_000_000,
            tombstone_ttl_us=6 * 86_400_000_000,
        ),
        n_chunks=16,
        flush_df=_flush(spark, events, (5, 6)),
        order_col="ts",
    )


def _ttl_epoch_ctes(n_epochs: int = 4) -> str:
    """Unrolled TTL-epoch CTE chain (window 2d + TTL 6d = 8d stride):
    anchor_e is the first view strictly after anchor_{e-1}'s deadline,
    match_e the first click inside (anchor_e, anchor_e + 2d]. Every
    anchor CTE is AS MATERIALIZED — each is referenced twice (its match
    and the next epoch), and DuckDB re-inlines plain CTEs at every
    reference, which makes an unrolled chain cost 2^epochs."""
    parts = [
        "a1 AS MATERIALIZED (SELECT user_id, MIN(ts) AS a FROM events\n"
        "  WHERE event_type = 'view' GROUP BY 1)"
    ]
    for e in range(1, n_epochs + 1):
        if e > 1:
            parts.append(
                f"a{e} AS MATERIALIZED (SELECT e.user_id, MIN(e.ts) AS a\n"
                f"  FROM events e JOIN a{e - 1} ON a{e - 1}.user_id = e.user_id\n"
                f"  WHERE e.event_type = 'view'\n"
                f"    AND e.ts > a{e - 1}.a + INTERVAL 8 DAY GROUP BY 1)"
            )
        parts.append(
            f"m{e} AS (SELECT e.user_id, a{e}.a AS v, MIN(e.ts) AS c\n"
            f"  FROM events e JOIN a{e} ON a{e}.user_id = e.user_id\n"
            f"  WHERE e.event_type = 'click' AND e.ts > a{e}.a\n"
            f"    AND e.ts <= a{e}.a + INTERVAL 2 DAY GROUP BY 1, 2)"
        )
    union = "\nUNION ALL ".join(f"SELECT * FROM m{e}" for e in range(1, n_epochs + 1))
    return (
        "WITH " + ",\n".join(parts) + "\n"
        "SELECT user_id, CAST(v AS TIMESTAMP) AS view_ts,\n"
        "  CAST(c AS TIMESTAMP) AS click_ts FROM (\n"
        + union
        + ")\nORDER BY user_id, view_ts"
    )


register(
    "stream_cep_ttl_live",
    engine_fn=_cep_ttl_fn,
    oracle=_ttl_epoch_ctes(4),
    category="streaming-live",
    suite="extension",
    doc=(
        "live CEP with tombstone TTL (view -> click, 2-day window, "
        "6-day TTL): per-user epochs over the event-time-ordered "
        "replay, one emission per epoch (exactly-once-per-key-within-"
        "TTL); unrolled 4-epoch MATERIALIZED-CTE SQL twin — epoch "
        "boundaries are event-time-exact by construction"
    ),
)


# -- live CEP with cross-step value predicates (round 12) ---------------------------


# CROSS-STEP VALUE PREDICATES — the class the r11 docstring declared out of
# scope ("genuinely need a backtracking matcher"), delivered in r12:
# ``view -> click -> purchase`` with click.value > view.value AND
# purchase.value > click.value (strict value escalation) inside the 7-day
# anchor window. The window stays anchored at the earliest view
# (exactly-once finality untouched); the reported chain is the
# LEXICOGRAPHICALLY EARLIEST (t1, t2, t3) satisfying both predicates, found
# by funnel_match's window-bounded DFS — when the earliest candidate for a
# step admits no valid continuation the matcher backtracks to the next. The
# twin is the exact relational rendering of that search: a 3-way self-join
# over the window with the predicates, ranked by (t1, t2, t3), rn = 1 — so
# every backtracking decision is hash-verified. State stays window-bounded
# (the buffer gains an 8-byte value per event).

register(
    "stream_cep_valuechain_live",
    engine_fn=_cep_live(
        ("view_ts", "click_ts", "purchase_ts"),
        steps=("view", "click", "purchase"),
        value_col="value",
        cross_predicates=((2, ">", 1), (3, ">", 2)),
    ),
    oracle=(
        "WITH a AS (SELECT user_id, MIN(ts) AS anchor FROM events\n"
        "  WHERE event_type = 'view' GROUP BY 1),\n"
        "ch AS (SELECT v.user_id, v.ts AS t1, c.ts AS t2, p.ts AS t3,\n"
        "    ROW_NUMBER() OVER (PARTITION BY v.user_id\n"
        "      ORDER BY v.ts, c.ts, p.ts) AS rn\n"
        "  FROM events v\n"
        "  JOIN a ON a.user_id = v.user_id\n"
        "  JOIN events c ON c.user_id = v.user_id\n"
        "  JOIN events p ON p.user_id = v.user_id\n"
        "  WHERE v.event_type = 'view' AND v.ts >= a.anchor\n"
        "    AND v.ts <= a.anchor + INTERVAL 7 DAY\n"
        "    AND c.event_type = 'click' AND c.ts > v.ts\n"
        "    AND c.ts <= a.anchor + INTERVAL 7 DAY\n"
        "    AND p.event_type = 'purchase' AND p.ts > c.ts\n"
        "    AND p.ts <= a.anchor + INTERVAL 7 DAY\n"
        "    AND c.value > v.value AND p.value > c.value)\n"
        "SELECT user_id, CAST(t1 AS TIMESTAMP) AS view_ts,\n"
        "  CAST(t2 AS TIMESTAMP) AS click_ts,\n"
        "  CAST(t3 AS TIMESTAMP) AS purchase_ts\n"
        "FROM ch WHERE rn = 1 ORDER BY user_id"
    ),
    category="streaming-live",
    suite="extension",
    doc=(
        "live CEP with cross-step value predicates (view -> click -> "
        "purchase, strictly escalating value, 7-day window) via "
        "funnel_match's window-bounded backtracking DFS — "
        "lexicographically-earliest satisfying chain; twin is the 3-way "
        "self-join ranked by (t1,t2,t3), rn=1 — every backtracking "
        "decision hash-verified"
    ),
)

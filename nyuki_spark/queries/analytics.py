"""Round-5 analytics extensions: distributed linear algebra, graph
structure, and event attribution.

Same contract as every other registry module: each query has a Spark
engine side built for the 100 TB plan shape and a DuckDB oracle twin
that computes the identical values, so the driver's hash comparison is
the correctness gate. FP-order-dependent sums are pinned with explicit
rounds on BOTH sides (the operators/kmeans.py discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nyuki_spark.catalog import load_table
from nyuki_spark.operators.graph import triangle_summary
from nyuki_spark.operators.linalg import gram_upper
from nyuki_spark.operators.rank import one_group
from nyuki_spark.queries.registry import SWEEP_INTERMEDIATES, register


# -- distributed Gram / covariance matrix ------------------------------------


def _gram_covariance_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space second-moment (Gram) matrix — the input to PCA
    whitening, covariance drift checks, and ZCA decorrelation in
    training-data pipelines.

    Plan: the treeAggregate shape. Each Arrow batch computes its partial
    64x64 Gram with one BLAS matmul (``V.T @ V``) inside ``mapInPandas``
    and emits it as 4096 narrow (i, j, partial) rows; the only shuffle
    is the 4096-key partial-sum aggregate, whose volume is
    O(partitions x d^2), INDEPENDENT of row count. At 100 TB the model
    side stays a constant few-MB reduce while the scan stays map-only —
    the same reason count-style aggregates scale. A per-row explode
    (rows x d^2) would shuffle 4096x the data volume; a driver-side
    collect would not be distributed at all.

    FP: partials are float64 BLAS sums; cross-engine order differences
    are ~1e-13 relative, pinned by the 6-dp round on both sides. The
    mechanics live in operators/linalg.py (gram_upper), where the
    partitioning-invariance property test drives them directly.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("v")
    )
    return gram_upper(emb, dims=64)


register(
    "llm_gram_covariance",
    engine_fn=_gram_covariance_fn,
    oracle=(
        "SELECT i.i AS i, j.j AS j,\n"
        "  CAST(ROUND(SUM(v[i.i] * v[j.j]), 6) AS DOUBLE) AS gram\n"
        "FROM (SELECT embedding::DOUBLE[] AS v FROM embeddings),\n"
        "  UNNEST(GENERATE_SERIES(1, 64)) i(i),\n"
        "  UNNEST(GENERATE_SERIES(1, 64)) j(j)\n"
        "WHERE i.i <= j.j GROUP BY i.i, j.j ORDER BY i, j"
    ),
    category="llm-similarity",
    suite="extension",
    doc=(
        "distributed 64x64 Gram matrix for PCA/whitening: per-batch BLAS "
        "partial via mapInPandas, one O(d^2)-key shuffle independent of "
        "row count (the treeAggregate shape)"
    ),
)


# -- degree-ordered triangle counting ----------------------------------------


def _supplier_backbone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strong-tie supplier graph: distinct supplier pairs sharing >= the
    95th-percentile number of DISTINCT orders. One pair-dedup + one
    partial-agg shuffle for pair counts; the exact-percentile threshold
    is a 1-row broadcast. The (l_orderkey, l_suppkey) dedup BEFORE the
    self-join (r5 verdict) makes the edge weight "shared orders" exactly
    — a supplier with several lines in one order would otherwise inflate
    its pair counts quadratically — and cuts the self-join fanout from
    lines-per-order to suppliers-per-order, the stage that dominated
    net_triangles/net_assortativity at sf1. Co-occurrence graphs densify
    with data volume (at sf0.01 the raw supplier graph is already
    complete), so downstream graph algorithms run on the thresholded
    backbone, keeping their joins proportional to strong edges only.
    Returned columns: u < v, one row per edge.

    The edge list is pinned (lazily: the caller's first action fills it).
    Every graph id reads it from 2+ plan branches (degree table,
    orientation, wedge join, closing semi-join...), and unpinned each
    branch replays the lineitem self-join (measured 2.4x on net_triangles
    at sf0.1)."""
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    # Pair generation: ONE shuffle (per-order supplier set, collect_set
    # dedups lines for free) + a map-side explode of the C(s, 2) pairs.
    # r13 (VERDICT #3, guide §4.2): the explode was a nested-transform
    # HOF — Spark never codegens HOF lambdas, so it ran interpreted with
    # an array slice + struct boxing per pair, the dominant stage of all
    # 9 net_* ids. The Arrow stage enumerates the same pairs vectorized:
    # rows are grouped by set size, each size's upper-triangle index
    # template gathers the whole batch's pairs in two numpy takes. The
    # sorted set gives u < v directly, so the emitted (u, v) multiset —
    # and every downstream count — is identical.
    per_order = lineitem.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_suppkey")).alias("ss")
    )
    supp_type = lineitem.schema["l_suppkey"].dataType

    from pyspark.sql.types import StructField, StructType

    pair_schema = StructType(
        [StructField("u", supp_type), StructField("v", supp_type)]
    )

    def _pair_rows(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            col = pdf["ss"]
            n_rows = len(col)
            if n_rows == 0:
                yield pd.DataFrame({"u": [], "v": []})
                continue
            arrs = [np.asarray(a, dtype=np.int64) for a in col]
            lens = np.fromiter(
                (a.size for a in arrs), dtype=np.int64, count=n_rows
            )
            flat = (
                np.concatenate(arrs) if lens.sum() else np.empty(0, np.int64)
            )
            off = np.zeros(n_rows, dtype=np.int64)
            np.cumsum(lens[:-1], out=off[1:])
            us, vs = [], []
            for s in np.unique(lens):
                if s < 2:
                    continue
                ii, jj = np.triu_indices(int(s), k=1)
                base = off[lens == s]
                us.append(flat[(base[:, None] + ii[None, :]).ravel()])
                vs.append(flat[(base[:, None] + jj[None, :]).ravel()])
            if us:
                yield pd.DataFrame(
                    {"u": np.concatenate(us), "v": np.concatenate(vs)}
                )
            else:
                yield pd.DataFrame({"u": [], "v": []})

    pair_cnt = (
        per_order.select("ss")
        .mapInPandas(_pair_rows, pair_schema)
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    thresh = pair_cnt.agg(
        F.expr("percentile(cnt, 0.95)").alias("t")
    )  # 1-row exact percentile, broadcast below
    return (
        pair_cnt.crossJoin(F.broadcast(thresh))
        .where(F.col("cnt") >= F.col("t"))
        .select("u", "v")
        .localCheckpoint(eager=False)
    )


# The same CTE prefix, shared by every backbone-graph oracle twin.
_BACKBONE_SQL = (
    "os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),\n"
    "pc AS (\n"
    "  SELECT a.l_suppkey AS u, b.l_suppkey AS v, COUNT(*) AS cnt\n"
    "  FROM os a JOIN os b\n"
    "    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey\n"
    "  GROUP BY 1, 2),\n"
    "t AS (SELECT QUANTILE_CONT(cnt, 0.95) AS t FROM pc),\n"
    "bb AS (SELECT u, v FROM pc CROSS JOIN t WHERE cnt >= t.t)"
)


def _triangles_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global graph-structure statistics — node/edge/wedge/triangle
    counts and the global clustering coefficient — over the strong-tie
    supplier backbone (supplier pairs sharing >= the 95th-percentile
    number of orders).

    Two classic scale techniques, both visible in the plan:

    - **Backbone thresholding**: raw co-order pair counts are ONE
      partial-agg shuffle; the exact-percentile threshold is a 1-row
      broadcast. Co-occurrence graphs densify with data volume (at
      sf0.01 the raw supplier graph is already complete), so counting
      triangles on the raw graph is O(n^3); thresholding first keeps
      the triangle join proportional to strong edges only.
    - **Degree-ordered orientation** (the MapReduce triangle-counting
      trick, Suri & Vassilvitskii WWW'11): each undirected edge is
      oriented from the lower-(deg, node) endpoint to the higher, so
      every triangle is counted exactly once AND the wedge join fans
      out from each node in at most out-degree pairs — bounded by
      O(sqrt(|E|)) per node regardless of hub skew, where orienting by
      raw id would square the hub degree.

    Wedges join on the shared source; the closing edge is a semi-join
    back to the oriented edge set. All joins are key-partitioned
    equi-joins over narrow (int, int) rows. ``n_wedges`` is the TOTAL
    wedge count sum C(deg, 2) (so clustering = 3T/W is the standard
    transitivity, <= 1); the oriented wedge set only FINDS triangles
    (r5 advice — the oriented count triple-counted the denominator).
    The summary is ONE lazy plan (four 1-row aggregates merged by 1-row
    broadcast crossJoins) over the pinned backbone: the edge list —
    referenced by the degree table, orientation, wedge join, and closing
    semi-join — materializes once on first action instead of replaying
    the lineitem self-join per branch (measured 2.4x at sf0.1).
    """
    backbone = _supplier_backbone(spark, sf_dir)
    return triangle_summary(backbone)


register(
    "net_triangles",
    engine_fn=_triangles_fn,
    oracle=(
        "WITH " + _BACKBONE_SQL + ",\n"
        "und AS (SELECT u, v FROM bb UNION ALL SELECT v, u FROM bb),\n"
        "d AS (SELECT u, COUNT(*) AS deg FROM und GROUP BY u),\n"
        "o AS (SELECT und.u AS s, und.v AS t, dv.deg AS dt FROM und\n"
        "  JOIN d du ON und.u = du.u JOIN d dv ON und.v = dv.u\n"
        "  WHERE du.deg < dv.deg"
        " OR (du.deg = dv.deg AND und.u < und.v)),\n"
        "w AS (SELECT e1.t AS a, e2.t AS b FROM o e1 JOIN o e2\n"
        "  ON e1.s = e2.s AND (e1.dt < e2.dt"
        " OR (e1.dt = e2.dt AND e1.t < e2.t))),\n"
        "tri AS (SELECT * FROM w WHERE EXISTS\n"
        "  (SELECT 1 FROM o WHERE o.s = w.a AND o.t = w.b)),\n"
        "tw AS (SELECT CAST(COALESCE(SUM(deg * (deg - 1) // 2), 0)"
        " AS BIGINT) AS n_wedges FROM d)\n"
        "SELECT (SELECT COUNT(*) FROM d) AS n_nodes,\n"
        "  (SELECT COUNT(*) FROM bb) AS n_edges,\n"
        "  (SELECT n_wedges FROM tw) AS n_wedges,\n"
        "  (SELECT COUNT(*) FROM tri) AS n_triangles,\n"
        "  CAST(CASE WHEN (SELECT n_wedges FROM tw) = 0 THEN 0\n"
        "    ELSE ROUND(3.0 * (SELECT COUNT(*) FROM tri)\n"
        "      / (SELECT n_wedges FROM tw), 6) END AS DOUBLE)"
        " AS clustering"
    ),
    category="graph",
    suite="extension",
    doc=(
        "strong-tie backbone (95th-pct distinct-shared-order count) + "
        "degree-ordered triangle counting (Suri-Vassilvitskii tuple-order "
        "orientation bounds wedge fanout under hub skew, no rank window); "
        "global clustering coefficient 3T / sum C(deg,2)"
    ),
)


# -- grouped OLS regression ---------------------------------------------------

register(
    "stat_regression",
    engine=(
        "SELECT event_type,\n"
        "  CAST(COUNT(*) AS BIGINT) AS n,\n"
        "  CAST(ROUND(REGR_SLOPE(value, HOUR(ts)), 6) AS DOUBLE)"
        " AS slope,\n"
        "  CAST(ROUND(REGR_INTERCEPT(value, HOUR(ts)), 6) AS DOUBLE)"
        " AS intercept,\n"
        "  CAST(ROUND(REGR_R2(value, HOUR(ts)), 6) AS DOUBLE) AS r2\n"
        "FROM events WHERE value IS NOT NULL\n"
        "GROUP BY event_type ORDER BY event_type"
    ),
    oracle=(
        "SELECT event_type,\n"
        "  COUNT(*) AS n,\n"
        "  CAST(ROUND(REGR_SLOPE(value, HOUR(ts)), 6) AS DOUBLE)"
        " AS slope,\n"
        "  CAST(ROUND(REGR_INTERCEPT(value, HOUR(ts)), 6) AS DOUBLE)"
        " AS intercept,\n"
        "  CAST(ROUND(REGR_R2(value, HOUR(ts)), 6) AS DOUBLE) AS r2\n"
        "FROM events WHERE value IS NOT NULL\n"
        "GROUP BY event_type ORDER BY event_type"
    ),
    category="statistics",
    suite="extension",
    doc=(
        "per-group closed-form OLS (value ~ hour-of-day): REGR_SLOPE/"
        "INTERCEPT/R2 are single-pass partial-aggregable moments — one "
        "key-partitioned shuffle, no iterative solver"
    ),
)


# -- last-touch attribution ---------------------------------------------------


def _attr_last_touch_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-style last-touch attribution: each purchase is credited
    to the user's most recent preceding click/view within 7 days, else
    'direct'.

    Plan: ONE shuffle. Touches and purchases stay in the same scan;
    a single user-partitioned window ordered by (ts, kind, event_id)
    carries the last non-null touch forward (``F.last(ignorenulls)``),
    so the as-of lookup costs a sort within each user partition instead
    of a range join. Ties at identical timestamps order touches before
    purchases, then by event_id — deterministic on both engines. The
    channel rollup is a 3-key partial aggregate.
    """
    ev = load_table(spark, sf_dir, "events")
    tagged = ev.where(
        F.col("event_type").isin("click", "view", "purchase")
    ).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        F.when(F.col("event_type") != "purchase", F.col("event_type")).alias(
            "touch_type"
        ),
        F.when(F.col("event_type") != "purchase", F.col("ts")).alias(
            "touch_ts"
        ),
        (F.col("event_type") == "purchase").cast("int").alias("is_purchase"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_purchase", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    attributed = (
        tagged.withColumn(
            "last_touch", F.last("touch_type", ignorenulls=True).over(w)
        )
        .withColumn("last_ts", F.last("touch_ts", ignorenulls=True).over(w))
        .where(F.col("event_type") == "purchase")
        .select(
            F.when(
                F.col("last_ts")
                >= F.col("ts") - F.expr("INTERVAL 7 DAYS"),
                F.col("last_touch"),
            )
            .otherwise(F.lit("direct"))
            .alias("channel"),
            "value",
        )
    )
    return (
        attributed.groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 2).cast("double").alias("revenue"),
        )
        .orderBy("channel")
    )


register(
    "ts_attr_last_touch",
    engine_fn=_attr_last_touch_fn,
    oracle=(
        "WITH tagged AS (\n"
        "  SELECT user_id, ts, event_id, event_type, value,\n"
        "    CASE WHEN event_type <> 'purchase' THEN event_type END"
        " AS touch_type,\n"
        "    CASE WHEN event_type <> 'purchase' THEN ts END AS touch_ts,\n"
        "    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"
        " AS is_purchase\n"
        "  FROM events WHERE event_type IN ('click', 'view', 'purchase')),\n"
        "attr AS (\n"
        "  SELECT event_type, ts, value,\n"
        "    LAST_VALUE(touch_type IGNORE NULLS) OVER w AS last_touch,\n"
        "    LAST_VALUE(touch_ts IGNORE NULLS) OVER w AS last_ts\n"
        "  FROM tagged\n"
        "  WINDOW w AS (PARTITION BY user_id"
        " ORDER BY ts, is_purchase, event_id\n"
        "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))\n"
        "SELECT COALESCE(CASE WHEN last_ts >= ts - INTERVAL 7 DAY\n"
        "    THEN last_touch END, 'direct') AS channel,\n"
        "  COUNT(*) AS n_purchases,\n"
        "  CAST(ROUND(SUM(value), 2) AS DOUBLE) AS revenue\n"
        "FROM attr WHERE event_type = 'purchase'\n"
        "GROUP BY 1 ORDER BY 1"
    ),
    category="timeseries",
    suite="extension",
    doc=(
        "last-touch attribution (7-day lookback, else 'direct'): one "
        "user-partitioned carry-forward window instead of a purchase x "
        "touch range join; deterministic tie order (ts, kind, event_id)"
    ),
)


# -- winnowing document fingerprints -----------------------------------------


def _winnowing_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03 —
    the MOSS plagiarism-detection selector): hash every k-gram, slide a
    w-hash window, keep each window's minimum hash; the distinct kept
    hashes are the document's fingerprint set. Guarantees any shared
    substring of length >= k+w-1 contributes at least one common
    fingerprint, at ~2/(w+1) the density of full k-gram shingling.

    Plan: NO higher-order functions anywhere — Spark evaluates HOF
    lambdas with interpreted per-element expressions (outside
    whole-stage codegen), and slicing a computed array inside a
    transform re-evaluates the whole upstream array per element (the
    first draft was O(n^3) per doc that way; the HOF-fold rewrite was
    still 12 s at sf0.1). Instead: explode character positions in the
    scan stage (codegen, text column dropped in the same stage), then
    ONE doc-partitioned sort serves both window passes — the k-gram
    hash as a dot product of LEADs (c*B^4 + lead(c,1)*B^3 + ... — the
    un-modded polynomial peaks at 255 * sum(B^t) ~ 7.6e10, safely
    inside int64, and mod-at-end equals DuckDB's stepwise-mod fold
    because mod distributes), and the w-window minimum as a ROWS frame.
    The rollup (count/sum/min/max over distinct minima) is a partial
    aggregate. At 100 TB this is the map-side sketch stage of the dedup
    funnel: one narrow digest row per document, the natural join key
    for candidate pairing.
    """
    k, w, big_b, big_m = 5, 4, 131, 2147483647
    docs = load_table(spark, sf_dir, "documents").where(
        F.length("text") >= k + w - 1
    )

    from pyspark.sql.functions import pandas_udf

    # r13 (VERDICT #4, guide §4.2 — the simhash playbook): the former
    # plan exploded one row PER CHARACTER (~1.5M rows at sf0.1) into a
    # doc-partitioned sort feeding two window passes (k-gram LEAD dot
    # product + w-frame min) and a distinct aggregate. The whole
    # fingerprint is per-document and integer-exact, so it now runs as
    # one Arrow batch stage: text crosses the boundary once per doc and
    # numpy does the same ops vectorized — ord() == Spark ascii() (both
    # the first code point), the un-modded polynomial peaks at
    # 255 * sum(131^t) ~ 7.6e10 (inside int64; mod-at-end == DuckDB's
    # stepwise-mod fold because mod distributes), sliding-window min over
    # the same w hashes, np.unique == the distinct aggregate, and the
    # digest sum peaks well inside int64 (< 600 minima * 2^31). No
    # explode, no Exchange, no Sort: scan -> ArrowEvalPython -> orderBy.
    @pandas_udf(
        "struct<n_fp:int,fp_digest:bigint,min_fp:bigint,max_fp:bigint>"
    )
    def _winnow(texts):  # pd.Series of string -> pd.Series of struct
        import numpy as np
        import pandas as pd

        weights = big_b ** np.arange(k - 1, -1, -1, dtype=np.int64)
        swv = np.lib.stride_tricks.sliding_window_view
        n_fp, digest, mn, mx = [], [], [], []
        for text in texts:
            codes = np.fromiter(map(ord, text), dtype=np.int64, count=len(text))
            h = (swv(codes, k) @ weights) % big_m
            m = swv(h, w).min(axis=1)
            fp = np.unique(m)
            n_fp.append(len(fp))
            digest.append(int(fp.sum()) % big_m)
            mn.append(int(fp[0]))
            mx.append(int(fp[-1]))
        return pd.DataFrame(
            {
                "n_fp": np.asarray(n_fp, dtype=np.int32),
                "fp_digest": np.asarray(digest, dtype=np.int64),
                "min_fp": np.asarray(mn, dtype=np.int64),
                "max_fp": np.asarray(mx, dtype=np.int64),
            }
        )

    return (
        docs.select("doc_id", _winnow(F.col("text")).alias("s"))
        .select(
            "doc_id",
            F.col("s.n_fp").alias("n_fp"),
            F.col("s.fp_digest").alias("fp_digest"),
            F.col("s.min_fp").alias("min_fp"),
            F.col("s.max_fp").alias("max_fp"),
        )
        .orderBy("doc_id")
    )


register(
    "llm_winnowing",
    engine_fn=_winnowing_fn,
    oracle=(
        "WITH base AS (\n"
        "  SELECT doc_id, text,\n"
        "    LIST_TRANSFORM(GENERATE_SERIES(1, LEN(text)),\n"
        "      i -> CAST(ASCII(SUBSTR(text, i, 1)) AS BIGINT)) AS codes\n"
        "  FROM documents WHERE LEN(text) >= 8),\n"
        "h AS (\n"
        "  SELECT doc_id,\n"
        "    LIST_TRANSFORM(GENERATE_SERIES(1, LEN(text) - 4),\n"
        "      i -> LIST_REDUCE(LIST_SLICE(codes, i, i + 4),\n"
        "        (a, c) -> (a * 131 + c) % 2147483647)) AS hashes\n"
        "  FROM base),\n"
        "m AS (\n"
        "  SELECT doc_id,\n"
        "    LIST_DISTINCT(LIST_TRANSFORM(\n"
        "      GENERATE_SERIES(1, LEN(hashes) - 3),\n"
        "      j -> LIST_AGGREGATE(LIST_SLICE(hashes, j, j + 3), 'min')))"
        " AS fp\n"
        "  FROM h)\n"
        "SELECT doc_id, CAST(LEN(fp) AS INT) AS n_fp,\n"
        "  LIST_REDUCE(fp, (a, x) -> a + x) % 2147483647 AS fp_digest,\n"
        "  LIST_AGGREGATE(fp, 'min') AS min_fp,\n"
        "  LIST_AGGREGATE(fp, 'max') AS max_fp\n"
        "FROM m ORDER BY doc_id"
    ),
    category="llm-dedup",
    suite="extension",
    doc=(
        "winnowing fingerprints (MOSS selector, k=5 w=4): rolling "
        "polynomial k-gram hashes + window minima, all per-row JVM array "
        "expressions — map-only sketch stage of the dedup funnel"
    ),
)


# -- CUSUM changepoint detection ---------------------------------------------


def _cusum_changepoint_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection (Page 1954): per event_type, the
    running sum of deviations from the series mean; the |CUSUM| maximum
    marks the most likely level-shift point. The monitoring primitive
    behind drift alarms on metric streams.

    Plan: the group mean is a key-partitioned aggregate broadcast back
    onto the rows (small: one row per event_type); the running sum is a
    group-partitioned ROWS window ordered by (ts, event_id) —
    deterministic under timestamp ties; the argmax is a partial
    max_by-style aggregate over (|cusum|, ts, event_id) structs, so ties
    break identically on both engines. Two shuffles total, both on
    event_type; nothing global.
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull()
    )
    means = ev.groupBy("event_type").agg(F.avg("value").alias("mu"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cusum = (
        ev.join(F.broadcast(means), "event_type")
        .withColumn(
            "cusum", F.round(F.sum(F.col("value") - F.col("mu")).over(w), 6)
        )
        .select("event_type", "ts", "event_id", "cusum")
    )
    return (
        cusum.groupBy("event_type")
        .agg(
            F.max(
                F.struct(
                    F.abs(F.col("cusum")).alias("a"),
                    F.col("ts").alias("ts"),
                    F.col("event_id").alias("eid"),
                    F.col("cusum").alias("c"),
                )
            ).alias("m")
        )
        .select(
            "event_type",
            F.col("m.ts").alias("change_ts"),
            F.round(F.col("m.a"), 6).cast("double").alias("max_abs_cusum"),
            F.round(F.col("m.c"), 6).cast("double").alias("cusum_at_max"),
        )
        .orderBy("event_type")
    )


register(
    "ts_cusum_changepoint",
    engine_fn=_cusum_changepoint_fn,
    oracle=(
        "WITH base AS (\n"
        "  SELECT event_type, ts, event_id, value,\n"
        "    AVG(value) OVER (PARTITION BY event_type) AS mu\n"
        "  FROM events WHERE value IS NOT NULL),\n"
        "c AS (\n"
        "  SELECT event_type, ts, event_id,\n"
        "    ROUND(SUM(value - mu) OVER (PARTITION BY event_type\n"
        "      ORDER BY ts, event_id\n"
        "      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)"
        " AS cusum\n"
        "  FROM base)\n"
        "SELECT event_type, ts AS change_ts,\n"
        "  CAST(ROUND(ABS(cusum), 6) AS DOUBLE) AS max_abs_cusum,\n"
        "  CAST(ROUND(cusum, 6) AS DOUBLE) AS cusum_at_max\n"
        "FROM c\n"
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type\n"
        "  ORDER BY ABS(cusum) DESC, ts DESC, event_id DESC) = 1\n"
        "ORDER BY event_type"
    ),
    category="timeseries",
    suite="extension",
    doc=(
        "CUSUM changepoint per metric group: broadcast group mean, one "
        "group-partitioned running-sum window, struct-argmax rollup with "
        "deterministic (ts, event_id) tie order"
    ),
)


# -- BM25 retrieval scoring ---------------------------------------------------


def _bm25_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (Robertson-Sparck Jones) document scoring for a fixed
    3-term query — the lexical-retrieval half of a RAG stack, next to
    the dense kNN tier.

    Plan: ONE token explode collapses immediately to per-doc statistics
    (doc length + per-query-term term frequencies as conditional sums in
    the SAME aggregate — no per-term join). The corpus model (N, avgdl,
    per-term df) derives from that doc-stats table with two 1-row/3-row
    aggregates, broadcast back; the score is a pure column expression
    and top-10 is TakeOrderedAndProject (k-row heaps, no global sort).
    Everything after the explode is key-partitioned by doc_id — the
    shape that holds when the corpus is 100 TB and the query list grows
    to thousands of terms (terms pivot to rows, same two broadcasts).
    """
    k1, b = 1.2, 0.75
    terms = ["hash", "join", "vector"]
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("tok"),
    ).where(F.length("tok") > 0)
    stats = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.sum((F.col("tok") == t).cast("long")).alias(f"tf_{t}")
            for t in terms
        ],
    )
    model = stats.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("long")).alias(f"df_{t}")
            for t in terms
        ],
    )

    def term_score(t):
        tf = F.col(f"tf_{t}")
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"df_{t}") + 0.5)
            / (F.col(f"df_{t}") + 0.5)
        )
        return idf * tf * (k1 + 1) / (
            tf + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
        )

    scored = stats.crossJoin(F.broadcast(model)).select(
        "doc_id",
        F.round(sum(term_score(t) for t in terms), 4)
        .cast("double")
        .alias("bm25"),
    )
    return scored.orderBy(F.col("bm25").desc(), "doc_id").limit(10)


register(
    "llm_rank_bm25",
    engine_fn=_bm25_fn,
    oracle=(
        "WITH toks AS (\n"
        "  SELECT doc_id, UNNEST(STRING_SPLIT_REGEX(LOWER(text),"
        " '[^a-z]+')) AS tok\n"
        "  FROM documents),\n"
        "stats AS (\n"
        "  SELECT doc_id, COUNT(*) AS dl,\n"
        "    SUM(CASE WHEN tok = 'hash' THEN 1 ELSE 0 END) AS tf_hash,\n"
        "    SUM(CASE WHEN tok = 'join' THEN 1 ELSE 0 END) AS tf_join,\n"
        "    SUM(CASE WHEN tok = 'vector' THEN 1 ELSE 0 END) AS tf_vector\n"
        "  FROM toks WHERE LEN(tok) > 0 GROUP BY doc_id),\n"
        "model AS (\n"
        "  SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl,\n"
        "    SUM(CASE WHEN tf_hash > 0 THEN 1 ELSE 0 END) AS df_hash,\n"
        "    SUM(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS df_join,\n"
        "    SUM(CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END) AS df_vector\n"
        "  FROM stats)\n"
        "SELECT doc_id, CAST(ROUND(\n"
        "    LN(1 + (n_docs - df_hash + 0.5) / (df_hash + 0.5))\n"
        "      * tf_hash * 2.2 / (tf_hash + 1.2 * (0.25 + 0.75 * dl / avgdl))\n"
        "  + LN(1 + (n_docs - df_join + 0.5) / (df_join + 0.5))\n"
        "      * tf_join * 2.2 / (tf_join + 1.2 * (0.25 + 0.75 * dl / avgdl))\n"
        "  + LN(1 + (n_docs - df_vector + 0.5) / (df_vector + 0.5))\n"
        "      * tf_vector * 2.2 / (tf_vector + 1.2 * (0.25 + 0.75 * dl"
        " / avgdl)), 4) AS DOUBLE) AS bm25\n"
        "FROM stats CROSS JOIN model\n"
        "ORDER BY bm25 DESC, doc_id LIMIT 10"
    ),
    category="llm-text",
    suite="extension",
    doc=(
        "BM25 top-10 (k1=1.2, b=0.75, 3-term query): one token explode "
        "-> per-doc conditional-sum stats, 1-row corpus model broadcast, "
        "TakeOrderedAndProject top-k"
    ),
)


# -- MMR diverse rerank -------------------------------------------------------


def _mmr_rerank_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance rerank (Carbonell & Goldstein,
    SIGIR'98): from the top-20 cosine candidates for one query vector,
    select 3 results that trade relevance against redundancy —
    mmr(d) = 0.7 * rel(d) - 0.3 * max sim(d, already-selected).
    The diversity pass every dense-retrieval serving stack runs after
    ANN.

    Plan shape for 100 TB: the EXPENSIVE stage is the relevance top-N
    cut, and it is TakeOrderedAndProject over a broadcast-query scored
    scan (k-row heaps per partition, no global sort). Everything after
    operates on the N=20 candidate rows — localCheckpoint pins them so
    the three fixed selection steps (tiny self-joins) do not re-run the
    corpus scan per reference. Selection is expressed as chained
    DataFrame steps, not a driver loop over collect(): the per-step
    argmax is an orderBy(score desc, vec_id).limit(1) on 20-row data.
    Scores and sims are rounded to 4 dp BEFORE every argmax with a
    vec_id tiebreak, so selection is engine-stable.
    """
    lam = 0.7
    emb = load_table(spark, sf_dir, "embeddings")

    def with_norm(df, vcol, out):
        v = F.col(vcol)
        n = F.sqrt(
            F.aggregate(
                F.transform(v, lambda x: x * x),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        )
        return df.withColumn(out, n)

    q = with_norm(
        emb.where(F.col("vec_id") == 0).select(
            F.col("embedding").cast("array<double>").alias("qv")
        ),
        "qv",
        "nq",
    )
    pool = with_norm(
        emb.where(F.col("vec_id") >= 10).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        ),
        "v",
        "nv",
    )
    dot_q = F.aggregate(
        F.zip_with("v", "qv", lambda x, y: x * y),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    cand = (
        pool.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "v",
            "nv",
            F.round(dot_q / (F.col("nv") * F.col("nq")), 4).alias("rel"),
        )
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(20)
        .localCheckpoint()  # 20 rows: pin so steps below never rescan
    )
    c1 = cand.select(
        F.col("vec_id").alias("a"),
        F.col("v").alias("va"),
        F.col("nv").alias("na"),
    )
    c2 = cand.select(
        F.col("vec_id").alias("b"),
        F.col("v").alias("vb"),
        F.col("nv").alias("nb"),
    )
    dot_ab = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    sims = (
        c1.crossJoin(c2)
        .where(F.col("a") != F.col("b"))
        .select(
            "a",
            "b",
            F.round(dot_ab / (F.col("na") * F.col("nb")), 4).alias("sim"),
        )
    )
    rel = cand.select("vec_id", "rel")
    s1 = rel.orderBy(F.col("rel").desc(), "vec_id").limit(1)
    sel1 = s1.select(F.col("vec_id").alias("sel"))
    step2 = (
        rel.join(sel1, rel.vec_id == sel1.sel, "anti")
        .join(
            sims.join(
                sel1, sims.b == sel1.sel
            ).select(F.col("a").alias("vec_id"), "sim"),
            "vec_id",
        )
        .select(
            "vec_id",
            F.round(lam * F.col("rel") - (1 - lam) * F.col("sim"), 4).alias(
                "score"
            ),
        )
    )
    s2 = step2.orderBy(F.col("score").desc(), "vec_id").limit(1)
    sel12 = sel1.unionByName(s2.select(F.col("vec_id").alias("sel")))
    step3 = (
        rel.join(sel12, rel.vec_id == sel12.sel, "anti")
        .join(
            sims.join(sel12, sims.b == sel12.sel)
            .groupBy("a")
            .agg(F.max("sim").alias("msim"))
            .select(F.col("a").alias("vec_id"), "msim"),
            "vec_id",
        )
        .select(
            "vec_id",
            F.round(lam * F.col("rel") - (1 - lam) * F.col("msim"), 4).alias(
                "score"
            ),
        )
    )
    s3 = step3.orderBy(F.col("score").desc(), "vec_id").limit(1)
    out1 = s1.select(
        F.lit(1).alias("rank"),
        "vec_id",
        F.round(lam * F.col("rel"), 4).cast("double").alias("score"),
    )
    out2 = s2.select(
        F.lit(2).alias("rank"), "vec_id", F.col("score").cast("double")
    )
    out3 = s3.select(
        F.lit(3).alias("rank"), "vec_id", F.col("score").cast("double")
    )
    return out1.unionByName(out2).unionByName(out3).orderBy("rank")


register(
    "llm_mmr_rerank",
    engine_fn=_mmr_rerank_fn,
    oracle=(
        "WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings"
        " WHERE vec_id = 0),\n"
        "pool AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"
        " WHERE vec_id >= 10),\n"
        "cand AS (\n"
        "  SELECT vec_id, v, ROUND(\n"
        "    LIST_REDUCE(LIST_TRANSFORM(GENERATE_SERIES(1, 64),"
        " i -> v[i] * qv[i]), (a, x) -> a + x)\n"
        "    / (SQRT(LIST_REDUCE(LIST_TRANSFORM(GENERATE_SERIES(1, 64),"
        " i -> v[i] * v[i]), (a, x) -> a + x))\n"
        "     * SQRT(LIST_REDUCE(LIST_TRANSFORM(GENERATE_SERIES(1, 64),"
        " i -> qv[i] * qv[i]), (a, x) -> a + x))), 4) AS rel\n"
        "  FROM pool CROSS JOIN q ORDER BY rel DESC, vec_id LIMIT 20),\n"
        "sims AS (\n"
        "  SELECT c1.vec_id AS a, c2.vec_id AS b, ROUND(\n"
        "    LIST_REDUCE(LIST_TRANSFORM(GENERATE_SERIES(1, 64),"
        " i -> c1.v[i] * c2.v[i]), (x, y) -> x + y)\n"
        "    / (SQRT(LIST_REDUCE(LIST_TRANSFORM(GENERATE_SERIES(1, 64),"
        " i -> c1.v[i] * c1.v[i]), (x, y) -> x + y))\n"
        "     * SQRT(LIST_REDUCE(LIST_TRANSFORM(GENERATE_SERIES(1, 64),"
        " i -> c2.v[i] * c2.v[i]), (x, y) -> x + y))), 4) AS sim\n"
        "  FROM cand c1 CROSS JOIN cand c2 WHERE c1.vec_id <> c2.vec_id),\n"
        "s1 AS (SELECT vec_id, rel FROM cand ORDER BY rel DESC, vec_id"
        " LIMIT 1),\n"
        "s2 AS (\n"
        "  SELECT c.vec_id,\n"
        "    ROUND(0.7 * c.rel - 0.3 * s.sim, 4) AS score\n"
        "  FROM cand c JOIN sims s ON s.a = c.vec_id\n"
        "    AND s.b = (SELECT vec_id FROM s1)\n"
        "  WHERE c.vec_id <> (SELECT vec_id FROM s1)\n"
        "  ORDER BY score DESC, c.vec_id LIMIT 1),\n"
        "s3 AS (\n"
        "  SELECT c.vec_id,\n"
        "    ROUND(0.7 * c.rel - 0.3 * MAX(s.sim), 4) AS score\n"
        "  FROM cand c JOIN sims s ON s.a = c.vec_id\n"
        "    AND s.b IN ((SELECT vec_id FROM s1), (SELECT vec_id FROM s2))\n"
        "  WHERE c.vec_id NOT IN ((SELECT vec_id FROM s1),"
        " (SELECT vec_id FROM s2))\n"
        "  GROUP BY c.vec_id, c.rel\n"
        "  ORDER BY score DESC, c.vec_id LIMIT 1)\n"
        "SELECT 1 AS rank, vec_id,"
        " CAST(ROUND(0.7 * rel, 4) AS DOUBLE) AS score FROM s1\n"
        "UNION ALL SELECT 2, vec_id, CAST(score AS DOUBLE) FROM s2\n"
        "UNION ALL SELECT 3, vec_id, CAST(score AS DOUBLE) FROM s3\n"
        "ORDER BY rank"
    ),
    category="llm-similarity",
    suite="extension",
    doc=(
        "MMR diverse rerank (lambda=0.7, top-20 -> 3): TakeOrdered "
        "relevance cut + localCheckpoint-pinned candidate set; fixed "
        "chained selection steps, rounded-before-argmax determinism"
    ),
)


# -- common-neighbor link prediction -----------------------------------------


def _common_neighbors_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the supplier backbone: for NON-adjacent node
    pairs, the common-neighbor count and Jaccard coefficient
    |N(u) n N(v)| / |N(u) u N(v)| — the classic similarity features for
    recommending absent edges (Liben-Nowell & Kleinberg, CIKM'03).

    Plan: candidate pairs come from the wedge join (two edges sharing a
    midpoint) — disjoint node pairs NEVER meet, the same bounded-fanout
    principle as the dedup band joins; known edges are removed with an
    anti equi-join; degrees join in key-partitioned. Top-20 by
    (jaccard, common, pair) is TakeOrderedAndProject. At 100 TB wedge
    fanout is the cost driver — it is bounded by per-node degree on the
    THRESHOLDED backbone, and hub salting would bolt on exactly as in
    operators/rank.py if a hub survived thresholding.

    One lazy plan over the pinned backbone (r5 advice: the old eager
    collect+createDataFrame hid the plan from the registry sweep): the
    edge list materializes once on first action and feeds the
    wedge/anti/degree fan-out.
    """
    backbone = _supplier_backbone(spark, sf_dir)
    und = backbone.unionByName(
        backbone.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    e1 = und.select(F.col("u").alias("x"), F.col("v").alias("a"))
    e2 = und.select(F.col("u").alias("x"), F.col("v").alias("b"))
    wedges = (
        e1.join(e2, "x")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    cand = wedges.join(
        backbone,
        (wedges.a == backbone.u) & (wedges.b == backbone.v),
        "anti",
    )
    scored = (
        cand.join(deg.select(F.col("u").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("u").alias("b"), F.col("deg").alias("db")), "b")
        .select(
            "a",
            "b",
            "common",
            F.round(
                F.col("common")
                / (F.col("da") + F.col("db") - F.col("common")),
                6,
            )
            .cast("double")
            .alias("jaccard"),
        )
    )
    return (
        scored.orderBy(
            F.col("jaccard").desc(), F.col("common").desc(), "a", "b"
        )
        .limit(20)
        .select(
            F.col("a").cast("long"),
            F.col("b").cast("long"),
            F.col("common").cast("long"),
            F.col("jaccard").cast("double"),
        )
    )


register(
    "net_common_neighbors",
    engine_fn=_common_neighbors_fn,
    oracle=(
        "WITH " + _BACKBONE_SQL + ",\n"
        "und AS (SELECT u, v FROM bb UNION ALL SELECT v, u FROM bb),\n"
        "d AS (SELECT u, COUNT(*) AS deg FROM und GROUP BY u),\n"
        "w AS (\n"
        "  SELECT e1.v AS a, e2.v AS b, COUNT(*) AS common\n"
        "  FROM und e1 JOIN und e2 ON e1.u = e2.u AND e1.v < e2.v\n"
        "  GROUP BY 1, 2),\n"
        "cand AS (\n"
        "  SELECT a, b, common FROM w\n"
        "  WHERE NOT EXISTS (SELECT 1 FROM bb"
        " WHERE bb.u = w.a AND bb.v = w.b))\n"
        "SELECT a, b, common,\n"
        "  CAST(ROUND(common::DOUBLE / (da.deg + db.deg - common), 6)"
        " AS DOUBLE) AS jaccard\n"
        "FROM cand JOIN d da ON cand.a = da.u JOIN d db ON cand.b = db.u\n"
        "ORDER BY jaccard DESC, common DESC, a, b LIMIT 20"
    ),
    category="graph",
    suite="extension",
    doc=(
        "common-neighbor / Jaccard link prediction on the strong-tie "
        "backbone: wedge join (disjoint pairs never meet) + anti-join on "
        "known edges, TakeOrdered top-20"
    ),
)


# -- deterministic weighted sampling -----------------------------------------


def _weighted_sample_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis & Spirakis,
    IPL'06 A-ES): each item draws key = u^(1/w) from a uniform u; the
    top-k keys ARE a weighted sample without replacement. The mixture-
    weighting primitive of training-data pipelines (sample documents
    proportional to length here), with two twists that make it an
    ENGINE-GRADE operator: u comes from a polynomial hash of the doc id
    (not rand()), so the sample is reproducible across engines, runs,
    AND partitionings — the sample_hash_fraction discipline; and top-k
    is TakeOrderedAndProject, so no global sort materializes.

    The A-ES key survives distribution because selection is a simple
    per-row score + top-k: no sequential scan, no rejection loop —
    exactly what a 1000-executor cluster can do in one map + one k-row
    reduce. Keys are rounded to 10 dp before ranking (pow() may differ
    in the last ulp across libm implementations), doc_id breaks ties.
    """
    big_b, big_m = 131, 2147483647
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", F.md5(F.col("doc_id").cast("string")).alias("hx")
    )
    # Polynomial hash of the 32 md5 hex chars as 32 STATIC column
    # expressions (pow-mod constants precomputed in Python): pure
    # whole-stage-codegen projection — no HOF interpretation, no explode,
    # no shuffle before the k-row TakeOrdered. Per-term mod keeps every
    # intermediate inside int64.
    powers = {p: pow(big_b, 32 - p, big_m) for p in range(1, 33)}
    h = sum(
        (
            F.ascii(F.col("hx").substr(F.lit(p), F.lit(1))).cast("long")
            * powers[p]
        )
        % big_m
        for p in range(1, 33)
    ) % big_m
    u = (h + 0.5) / big_m  # uniform in (0, 1), never 0
    key = F.round(F.pow(u, 1.0 / F.col("n_chars")), 10)
    return (
        docs.select("doc_id", "n_chars", key.alias("k"))
        .orderBy(F.col("k").desc(), "doc_id")
        .limit(50)
        .select("doc_id", "n_chars", F.col("k").cast("double").alias("aes_key"))
    )


register(
    "sample_weighted_aes",
    engine_fn=_weighted_sample_fn,
    oracle=(
        "WITH h AS (\n"
        "  SELECT doc_id, n_chars,\n"
        "    LIST_REDUCE(LIST_TRANSFORM(GENERATE_SERIES(1, 32),\n"
        "      p -> (CAST(ASCII(SUBSTR(MD5(doc_id::VARCHAR), p, 1))"
        " AS BIGINT)\n"
        "            * [351420769, 1691162110, 127660669, 1591095988, 1864555329, 1030599553, 319334266, 1117162002, 1139645295, 385738696, 593092748, 1496290875, 749107290, 612259559, 1103005068, 549389049, 1758245338, 587176893, 906097538, 301990864, 477702417, 1167549934, 254807669, 460949235, 2003465299, 884122890, 2072267652, 294499921, 2248091, 17161, 131, 1][p])"
        " % 2147483647\n"
        "      ), (a, x) -> (a + x) % 2147483647) AS h\n"
        "  FROM documents)\n"
        "SELECT doc_id, n_chars,\n"
        "  CAST(ROUND(POW((h + 0.5) / 2147483647,"
        " 1.0 / n_chars), 10) AS DOUBLE) AS aes_key\n"
        "FROM h ORDER BY aes_key DESC, doc_id LIMIT 50"
    ),
    category="sampling",
    suite="extension",
    doc=(
        "weighted sampling without replacement (A-ES key u^(1/w), "
        "w = doc length): engine-portable hash uniform, rounded keys, "
        "TakeOrdered top-k — reproducible across engines and partitionings"
    ),
)


# -- Benford first-digit profile ----------------------------------------------

register(
    "stat_benford",
    engine=(
        # PARTITION BY PMOD(HASH(digit),1): constant-0 but non-foldable —
        # the 9-row total window stays deliberately single-group without
        # the empty-spec WindowExec warning (one_group, operators/rank.py).
        "SELECT digit,\n"
        "  CAST(COUNT(*) AS BIGINT) AS n,\n"
        "  CAST(ROUND(COUNT(*) / SUM(COUNT(*)) OVER"
        " (PARTITION BY PMOD(HASH(digit), 1)), 6) AS DOUBLE)"
        " AS observed,\n"
        "  CAST(ROUND(LOG10(1.0 + 1.0 / digit), 6) AS DOUBLE)"
        " AS benford,\n"
        "  CAST(ROUND(POW(COUNT(*) / SUM(COUNT(*)) OVER"
        " (PARTITION BY PMOD(HASH(digit), 1))"
        " - LOG10(1.0 + 1.0 / digit), 2)\n"
        "    / LOG10(1.0 + 1.0 / digit), 6) AS DOUBLE) AS chi2_term\n"
        "FROM (\n"
        "  SELECT CAST(FLOOR(value / POW(10, FLOOR(LOG10(value)))) AS INT)"
        " AS digit\n"
        "  FROM events WHERE value > 0)\n"
        "GROUP BY digit ORDER BY digit"
    ),
    oracle=(
        "SELECT digit,\n"
        "  COUNT(*) AS n,\n"
        "  CAST(ROUND(COUNT(*) / SUM(COUNT(*)) OVER (), 6) AS DOUBLE)"
        " AS observed,\n"
        "  CAST(ROUND(LOG10(1.0 + 1.0 / digit), 6) AS DOUBLE)"
        " AS benford,\n"
        "  CAST(ROUND(POW(COUNT(*) / SUM(COUNT(*)) OVER ()"
        " - LOG10(1.0 + 1.0 / digit), 2)\n"
        "    / LOG10(1.0 + 1.0 / digit), 6) AS DOUBLE) AS chi2_term\n"
        "FROM (\n"
        "  SELECT CAST(FLOOR(value / POW(10, FLOOR(LOG10(value)))) AS INT)"
        " AS digit\n"
        "  FROM events WHERE value > 0)\n"
        "GROUP BY digit ORDER BY digit"
    ),
    category="statistics",
    suite="extension",
    doc=(
        "Benford first-significant-digit profile with per-digit chi-square "
        "terms (fraud/data-quality screen): map-side digit extraction, one "
        "9-key aggregate; the OVER () total is a 9-row window"
    ),
)


# -- two-sample Kolmogorov-Smirnov -------------------------------------------


def _ks_test_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between the click and
    purchase value distributions: D = max |F1(x) - F2(x)| over the
    pooled sample — the rank-based cousin of stat_psi_drift that needs
    no binning assumptions.

    The running CDFs are the scale problem: a single ORDER BY value
    window funnels every distinct value through one partition. This
    plan is TWO-PHASE (the operators/rank.py discipline): per-bucket
    counts first (32 equi-width buckets from 1-row broadcast bounds,
    explicit floor formula — identical fp arithmetic on both engines,
    no width_bucket dialect drift), bucket-level prefix offsets over the
    32-row bucket table (the ONLY single-partition step — bounded by
    the bucket count, never data rows), then within-bucket running sums
    ordered by value with the offset added. CDF ratios are exact
    integer-over-integer doubles, so no rounding is needed before the
    final 6-dp pin on D.
    """
    n_b = 32
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
        & F.col("value").isNotNull()
    )
    cnt = ev.groupBy("value").agg(
        F.sum((F.col("event_type") == "click").cast("long")).alias("c1"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("c2"),
    )
    bounds = cnt.agg(
        F.min("value").alias("mn"), F.max("value").alias("mx")
    )
    bucketed = cnt.crossJoin(F.broadcast(bounds)).select(
        "value",
        "c1",
        "c2",
        # Degenerate-span guard (r5 advice): when every value is equal the
        # bucket width is 0 and the division yields NULL/NaN buckets; put
        # everything in bucket 0 instead so the running CDFs still meet
        # and D = 0 exactly — matching the oracle's unbucketed CDF.
        F.when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(
            F.least(
                F.lit(n_b - 1),
                F.floor(
                    (F.col("value") - F.col("mn"))
                    / ((F.col("mx") - F.col("mn")) / n_b)
                ),
            )
        )
        .cast("int")
        .alias("b"),
    )
    bcnt = bucketed.groupBy("b").agg(
        F.sum("c1").alias("t1"), F.sum("c2").alias("t2")
    )
    wb = Window.partitionBy(one_group("b")).orderBy("b").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = bcnt.select(
        "b",
        F.coalesce(F.sum("t1").over(wb), F.lit(0)).alias("o1"),
        F.coalesce(F.sum("t2").over(wb), F.lit(0)).alias("o2"),
    )
    totals = bcnt.agg(
        F.sum("t1").alias("n1"), F.sum("t2").alias("n2")
    )
    wv = (
        Window.partitionBy("b")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = (
        bucketed.join(F.broadcast(offs), "b")
        .crossJoin(F.broadcast(totals))
        .select(
            "n1",
            "n2",
            F.round(
                F.abs(
                    (F.col("o1") + F.sum("c1").over(wv))
                    / F.col("n1").cast("double")
                    - (F.col("o2") + F.sum("c2").over(wv))
                    / F.col("n2").cast("double")
                ),
                6,
            ).alias("d"),
        )
    )
    return d.groupBy("n1", "n2").agg(
        F.max("d").cast("double").alias("ks_d")
    )


register(
    "stat_ks_test",
    engine_fn=_ks_test_fn,
    oracle=(
        "WITH p AS (\n"
        "  SELECT value, event_type = 'click' AS is1 FROM events\n"
        "  WHERE event_type IN ('click', 'purchase')"
        " AND value IS NOT NULL),\n"
        "g AS (\n"
        "  SELECT value,\n"
        "    SUM(CASE WHEN is1 THEN 1 ELSE 0 END) AS c1,\n"
        "    SUM(CASE WHEN is1 THEN 0 ELSE 1 END) AS c2\n"
        "  FROM p GROUP BY value),\n"
        "r AS (\n"
        "  SELECT SUM(c1) OVER (ORDER BY value) AS r1,\n"
        "         SUM(c2) OVER (ORDER BY value) AS r2 FROM g),\n"
        "t AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,\n"
        "      CAST(SUM(c2) AS BIGINT) AS n2 FROM g)\n"
        "SELECT n1, n2,\n"
        "  CAST(MAX(ROUND(ABS(r1 / CAST(n1 AS DOUBLE)"
        " - r2 / CAST(n2 AS DOUBLE)), 6)) AS DOUBLE) AS ks_d\n"
        "FROM r CROSS JOIN t GROUP BY n1, n2"
    ),
    category="statistics",
    suite="extension",
    doc=(
        "two-sample KS distance (click vs purchase values): two-phase "
        "running CDF — 32-bucket partial counts, bounded bucket-offset "
        "merge, within-bucket windows; no global ORDER BY funnel"
    ),
)


# -- Welch's unequal-variance two-sample t-test ------------------------------

# Single-pass partial-aggregable moments (COUNT/AVG/VAR_SAMP are all
# map-side-combinable), then pure scalar arithmetic: the A/B-test
# companion to stat_ks_test's distribution distance. Identical SQL text
# runs on both engines (shared syntax), so the only cross-engine
# divergence is low-order aggregation-order fp, pinned by ROUND 6.
_WELCH_SQL = (
    "SELECT CAST(n1 AS BIGINT) AS n_click, CAST(n2 AS BIGINT)"
    " AS n_purchase,\n"
    "  CAST(ROUND(m1 - m2, 6) AS DOUBLE) AS mean_diff,\n"
    "  CAST(ROUND((m1 - m2) / SQRT(v1 / n1 + v2 / n2), 6) AS DOUBLE)"
    " AS t_stat,\n"
    "  CAST(ROUND(POWER(v1 / n1 + v2 / n2, 2)\n"
    "    / (POWER(v1 / n1, 2) / (n1 - 1)"
    " + POWER(v2 / n2, 2) / (n2 - 1)), 6) AS DOUBLE) AS welch_df\n"
    "FROM (\n"
    "  SELECT COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n1,\n"
    "    COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n2,\n"
    "    AVG(CASE WHEN event_type = 'click' THEN value END) AS m1,\n"
    "    AVG(CASE WHEN event_type = 'purchase' THEN value END) AS m2,\n"
    "    VAR_SAMP(CASE WHEN event_type = 'click' THEN value END) AS v1,\n"
    "    VAR_SAMP(CASE WHEN event_type = 'purchase' THEN value END) AS v2\n"
    "  FROM events\n"
    "  WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')\n"
    ") m"
)

register(
    "stat_welch_ttest",
    _WELCH_SQL,
    category="statistics",
    suite="extension",
    doc=(
        "Welch's unequal-variance two-sample t (click vs purchase "
        "values) + Welch-Satterthwaite df: one partial-aggregable "
        "moment pass, scalar arithmetic after — the A/B-test companion "
        "to stat_ks_test"
    ),
)


# -- k-core peeling ----------------------------------------------------------


def _kcore_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round k-core peel of the strong-tie supplier backbone: rounds
    of "drop every node with degree < k, restrict edges to survivors",
    with k = the median initial degree (1-row broadcast, the
    backbone-threshold pattern). Fixed iteration count like
    net_pagerank — each round is ONE key aggregate + two semi-joins, so
    the plan is 3 bounded shuffle rounds over narrow rows; the classic
    iterative-peeling shape for finding the dense engagement core of a
    co-occurrence graph. Output: surviving nodes with their degree in
    the peeled subgraph.

    Each round's edge list is lazily localCheckpoint'd: round r+1
    references round r TWICE (degree aggregate + restriction), so an
    unpinned chain re-evaluates every earlier round per reference —
    2^rounds subtree growth (measured 20 s at sf0.01; pinned: ~2 s).
    """
    backbone = _supplier_backbone(spark, sf_dir)
    und = backbone.unionByName(
        backbone.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg0 = und.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    kthr = deg0.agg(F.expr("percentile(deg, 0.5)").alias("k"))
    edges = und
    for _ in range(3):
        deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
        keep = (
            deg.crossJoin(F.broadcast(kthr))
            .where(F.col("deg") >= F.col("k"))
            .select("u")
        )
        edges = edges.join(keep, "u", "semi").join(
            keep.select(F.col("u").alias("v")), "v", "semi"
        ).localCheckpoint(eager=False)
    return (
        edges.groupBy("u")
        .agg(F.count(F.lit(1)).alias("deg"))
        .orderBy("u")
    )


register(
    "net_kcore",
    engine_fn=_kcore_fn,
    oracle=(
        "WITH " + _BACKBONE_SQL + ",\n"
        "e0 AS (SELECT u, v FROM bb UNION ALL SELECT v, u FROM bb),\n"
        "d0 AS (SELECT u, COUNT(*) AS deg FROM e0 GROUP BY u),\n"
        "kt AS (SELECT QUANTILE_CONT(deg, 0.5) AS k FROM d0),\n"
        "kp0 AS (SELECT u FROM d0 CROSS JOIN kt WHERE deg >= k),\n"
        "e1 AS (SELECT * FROM e0 WHERE u IN (SELECT u FROM kp0)"
        " AND v IN (SELECT u FROM kp0)),\n"
        "d1 AS (SELECT u, COUNT(*) AS deg FROM e1 GROUP BY u),\n"
        "kp1 AS (SELECT u FROM d1 CROSS JOIN kt WHERE deg >= k),\n"
        "e2 AS (SELECT * FROM e1 WHERE u IN (SELECT u FROM kp1)"
        " AND v IN (SELECT u FROM kp1)),\n"
        "d2 AS (SELECT u, COUNT(*) AS deg FROM e2 GROUP BY u),\n"
        "kp2 AS (SELECT u FROM d2 CROSS JOIN kt WHERE deg >= k),\n"
        "e3 AS (SELECT * FROM e2 WHERE u IN (SELECT u FROM kp2)"
        " AND v IN (SELECT u FROM kp2))\n"
        "SELECT u, COUNT(*) AS deg FROM e3 GROUP BY u ORDER BY u"
    ),
    category="graph",
    suite="extension",
    doc=(
        "3-round k-core peel (k = median initial degree) of the strong-tie "
        "backbone: per-round degree aggregate + semi-join restriction, "
        "fixed iterations like net_pagerank — the dense-core extraction "
        "shape"
    ),
)


# -- Holt linear-trend smoothing ---------------------------------------------


def _holt_trend_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's double exponential smoothing (level + trend) per user —
    the forecasting step up from ts_ewma: l' = a*x + (1-a)(l+b),
    b' = g*(l'-l) + (1-g)*b, one-step forecast l+b.

    Recursive like EWMA, so it runs as ONE ordered fold per key with a
    STRUCT accumulator: sort_array(collect_list) pins order, the fold
    starts from {l: v1, b: 0} and consumes the tail. The DuckDB twin is
    a recursive CTE with the same per-step arithmetic (its LIST_REDUCE
    mutates struct-accumulator fields in place — see the oracle note),
    so both engines execute the identical operation sequence on
    identical operands and the doubles are bit-exact, no rounding. The
    per-key list is the contract's bound (resample hot keys first);
    the fold itself is a map-side expression after one key shuffle.
    """
    a, g = 0.5, 0.3
    events = load_table(spark, sf_dir, "events").where(
        (F.col("user_id") < 50) & F.col("value").isNotNull()
    )
    series = events.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("s")
    )

    def step(acc, x):
        lvl = a * x.getField("value") + (1 - a) * (
            acc.getField("l") + acc.getField("b")
        )
        return F.struct(
            lvl.alias("l"),
            (
                g * (lvl - acc.getField("l"))
                + (1 - g) * acc.getField("b")
            ).alias("b"),
        )

    init = F.struct(
        F.element_at("s", 1).getField("value").alias("l"),
        F.lit(0.0).alias("b"),
    )
    fold = F.aggregate(
        F.slice("s", 2, F.size("s") - 1), init, step
    )
    return series.select(
        "user_id",
        F.size("s").alias("n"),
        fold.getField("l").alias("level"),
        fold.getField("b").alias("trend"),
        (fold.getField("l") + fold.getField("b")).alias("forecast"),
    ).orderBy("user_id")


register(
    "ts_holt_trend",
    engine_fn=_holt_trend_fn,
    oracle=(
        # DuckDB 1.0 LIST_REDUCE with a STRUCT accumulator updates fields
        # in place between field evaluations (fold([1,2,3], b -> b + l)
        # returns 7, not 4) — so the twin is a recursive CTE running the
        # IDENTICAL per-step arithmetic, which stays bit-exact.
        "WITH RECURSIVE ranked AS (\n"
        "  SELECT user_id, CAST(value AS DOUBLE) AS v,\n"
        "    ROW_NUMBER() OVER (PARTITION BY user_id"
        " ORDER BY ts, event_id) AS rn,\n"
        "    COUNT(*) OVER (PARTITION BY user_id) AS n\n"
        "  FROM events WHERE user_id < 50 AND value IS NOT NULL),\n"
        "h AS (\n"
        "  SELECT user_id, n, 1 AS i, v AS l, CAST(0.0 AS DOUBLE) AS b\n"
        "  FROM ranked WHERE rn = 1\n"
        "  UNION ALL\n"
        "  SELECT h.user_id, h.n, h.i + 1,\n"
        "    0.5 * r.v + 0.5 * (h.l + h.b),\n"
        "    0.3 * (0.5 * r.v + 0.5 * (h.l + h.b) - h.l) + 0.7 * h.b\n"
        "  FROM h JOIN ranked r ON r.user_id = h.user_id"
        " AND r.rn = h.i + 1)\n"
        "SELECT user_id, CAST(n AS INT) AS n, l AS level, b AS trend,\n"
        "  l + b AS forecast\n"
        "FROM h WHERE i = n ORDER BY user_id"
    ),
    category="timeseries",
    suite="extension",
    doc=(
        "Holt double exponential smoothing (level+trend, a=0.5 g=0.3): "
        "order-pinned struct-accumulator fold, bit-exact across engines "
        "— one key shuffle + map-side expression"
    ),
)


# -- Cramér's V association ---------------------------------------------------

register(
    "stat_cramers_v",
    engine=(
        "WITH obs AS (\n"
        "  SELECT event_type AS et, CAST(FLOOR(HOUR(ts) / 6.0) AS INT) AS hb,\n"
        "    COUNT(*) AS o\n"
        "  FROM events GROUP BY 1, 2),\n"
        "tot AS (SELECT SUM(o) AS n FROM obs),\n"
        "rows_ AS (SELECT et, SUM(o) AS r FROM obs GROUP BY et),\n"
        "cols_ AS (SELECT hb, SUM(o) AS c FROM obs GROUP BY hb),\n"
        "chi AS (\n"
        "  SELECT SUM(POW(o - r * c / CAST(n AS DOUBLE), 2)\n"
        "    / (r * c / CAST(n AS DOUBLE))) AS chi2,\n"
        "    MAX(n) AS n,\n"
        "    COUNT(DISTINCT et) AS nr, COUNT(DISTINCT hb) AS nc\n"
        "  FROM obs JOIN rows_ USING (et) JOIN cols_ USING (hb)"
        " CROSS JOIN tot)\n"
        "SELECT CAST(ROUND(chi2, 6) AS DOUBLE) AS chi2,\n"
        "  CAST(n AS BIGINT) AS n,\n"
        "  CAST(ROUND(SQRT(chi2 / (n * (LEAST(nr, nc) - 1))), 6)"
        " AS DOUBLE) AS cramers_v\n"
        "FROM chi"
    ),
    oracle=(
        "WITH obs AS (\n"
        "  SELECT event_type AS et, CAST(FLOOR(HOUR(ts) / 6.0) AS INT) AS hb,\n"
        "    COUNT(*) AS o\n"
        "  FROM events GROUP BY 1, 2),\n"
        "tot AS (SELECT SUM(o) AS n FROM obs),\n"
        "rows_ AS (SELECT et, SUM(o) AS r FROM obs GROUP BY et),\n"
        "cols_ AS (SELECT hb, SUM(o) AS c FROM obs GROUP BY hb),\n"
        "chi AS (\n"
        "  SELECT SUM(POW(o - r * c / CAST(n AS DOUBLE), 2)\n"
        "    / (r * c / CAST(n AS DOUBLE))) AS chi2,\n"
        "    MAX(n) AS n,\n"
        "    COUNT(DISTINCT et) AS nr, COUNT(DISTINCT hb) AS nc\n"
        "  FROM obs JOIN rows_ USING (et) JOIN cols_ USING (hb)"
        " CROSS JOIN tot)\n"
        "SELECT CAST(ROUND(chi2, 6) AS DOUBLE) AS chi2,\n"
        "  CAST(n AS BIGINT) AS n,\n"
        "  CAST(ROUND(SQRT(chi2 / (n * (LEAST(nr, nc) - 1))), 6)"
        " AS DOUBLE) AS cramers_v\n"
        "FROM chi"
    ),
    category="statistics",
    suite="extension",
    doc=(
        "Cramér's V association (event type x 6h day-part): contingency "
        "cells are one partial aggregate; marginals re-aggregate the "
        "CELL table (category-bounded), never the scan; chi-square and V "
        "close the 1-row rollup"
    ),
)


# -- session split by gap AND max length --------------------------------------

register(
    "ts_session_maxlen",
    engine=(
        "WITH marked AS (\n"
        "  SELECT user_id, ts, event_id,\n"
        "    CASE WHEN ts > LAG(ts) OVER w + INTERVAL '30' MINUTE\n"
        "      OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_gap\n"
        "  FROM events WHERE user_id < 40\n"
        "  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),\n"
        "g AS (\n"
        "  SELECT user_id, ts, event_id,\n"
        "    SUM(new_gap) OVER (PARTITION BY user_id"
        " ORDER BY ts, event_id\n"
        "      ROWS UNBOUNDED PRECEDING) AS gap_sess,\n"
        "    UNIX_MICROS(CAST(ts AS TIMESTAMP)) AS us\n"
        "  FROM marked),\n"
        "s AS (\n"
        "  SELECT user_id, ts, gap_sess,\n"
        "    CAST(FLOOR((us - MIN(us) OVER"
        " (PARTITION BY user_id, gap_sess))\n"
        "      / 7200000000.0) AS INT) AS chunk\n"
        "  FROM g)\n"
        "SELECT user_id, CAST(gap_sess AS BIGINT) AS gap_sess, chunk,\n"
        "  COUNT(*) AS n_events, MIN(ts) AS start_ts, MAX(ts) AS end_ts\n"
        "FROM s GROUP BY user_id, gap_sess, chunk\n"
        "ORDER BY user_id, gap_sess, chunk"
    ),
    oracle=(
        "WITH marked AS (\n"
        "  SELECT user_id, ts, event_id,\n"
        "    CASE WHEN ts > LAG(ts) OVER w + INTERVAL 30 MINUTE\n"
        "      OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_gap\n"
        "  FROM events WHERE user_id < 40\n"
        "  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),\n"
        "g AS (\n"
        "  SELECT user_id, ts, event_id,\n"
        "    SUM(new_gap) OVER (PARTITION BY user_id"
        " ORDER BY ts, event_id\n"
        "      ROWS UNBOUNDED PRECEDING) AS gap_sess,\n"
        "    EPOCH_US(ts) AS us\n"
        "  FROM marked),\n"
        "s AS (\n"
        "  SELECT user_id, ts, gap_sess,\n"
        "    CAST(FLOOR((us - MIN(us) OVER"
        " (PARTITION BY user_id, gap_sess))\n"
        "      / 7200000000.0) AS INT) AS chunk\n"
        "  FROM g)\n"
        "SELECT user_id, CAST(gap_sess AS BIGINT) AS gap_sess, chunk,\n"
        "  COUNT(*) AS n_events, MIN(ts) AS start_ts, MAX(ts) AS end_ts\n"
        "FROM s GROUP BY user_id, gap_sess, chunk\n"
        "ORDER BY user_id, gap_sess, chunk"
    ),
    category="timeseries",
    suite="extension",
    doc=(
        "sessionization with BOTH a 30-min inactivity gap and a 2-hour "
        "max-length cap: gaps-and-islands pass, then fixed-offset "
        "re-chunking from each session start in integer microseconds — "
        "two windows over one user-partitioned sort, no iteration"
    ),
)


# -- hard-negative mining -----------------------------------------------------


def _hard_negatives_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each of the 10
    query vectors, the top-3 most-similar pool vectors with a DIFFERENT
    label — the negatives that actually teach the model something
    (maximally confusable under the current embedding).

    Same plan as llm_knn_multi (10-row query broadcast, JVM-side folds,
    salted two-phase per-query top-k) plus the label-mismatch predicate
    evaluated at the broadcast join — at 100 TB the label filter prunes
    before any ranking state accumulates, and the salt keeps every
    window partition small.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    norm = lambda c: F.aggregate(  # noqa: E731 — local fold helper
        F.transform(c, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    qs = (
        emb.where(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("label").alias("qlabel"),
            F.col("embedding").cast("array<double>").alias("qv"),
        )
        .withColumn("nq", F.sqrt(norm(F.col("qv"))))
    )
    pool = (
        emb.where(F.col("vec_id") >= 10)
        .select(
            "vec_id",
            "label",
            F.col("embedding").cast("array<double>").alias("v"),
        )
        .withColumn("nv", F.sqrt(norm(F.col("v"))))
    )
    dot = F.aggregate(
        F.zip_with("v", "qv", lambda x, y: x * y),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    scored = (
        pool.crossJoin(F.broadcast(qs))
        .where(F.col("label") != F.col("qlabel"))
        .select(
            "qid",
            "vec_id",
            "label",
            F.round(dot / (F.col("nv") * F.col("nq")), 4).alias("sim"),
        )
    )
    w1 = Window.partitionBy("qid", F.pmod(F.col("vec_id"), F.lit(32))).orderBy(
        F.col("sim").desc(), "vec_id"
    )
    w2 = Window.partitionBy("qid").orderBy(F.col("sim").desc(), "vec_id")
    return (
        scored.withColumn("r1", F.row_number().over(w1))
        .where(F.col("r1") <= 3)
        .withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= 3)
        .select("qid", "vec_id", "label", F.col("sim").cast("double"))
        .orderBy("qid", F.col("sim").desc(), "vec_id")
    )


register(
    "llm_hard_negatives",
    engine_fn=_hard_negatives_fn,
    oracle=(
        "WITH q AS (SELECT vec_id AS qid, label AS qlabel,"
        " embedding::DOUBLE[] AS qv\n"
        "  FROM embeddings WHERE vec_id < 10),\n"
        "p AS (SELECT vec_id, label, embedding::DOUBLE[] AS v\n"
        "  FROM embeddings WHERE vec_id >= 10),\n"
        "s AS (SELECT qid, vec_id, label, ROUND(\n"
        "  LIST_REDUCE(LIST_TRANSFORM(GENERATE_SERIES(1, 64),"
        " i -> v[i] * qv[i]), (a, x) -> a + x)\n"
        "  / (SQRT(LIST_REDUCE(LIST_TRANSFORM(GENERATE_SERIES(1, 64),"
        " i -> v[i] * v[i]), (a, x) -> a + x))\n"
        "   * SQRT(LIST_REDUCE(LIST_TRANSFORM(GENERATE_SERIES(1, 64),"
        " i -> qv[i] * qv[i]), (a, x) -> a + x))), 4) AS sim\n"
        "  FROM p CROSS JOIN q WHERE p.label <> q.qlabel)\n"
        "SELECT qid, vec_id, label, CAST(sim AS DOUBLE) AS sim FROM s\n"
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY qid"
        " ORDER BY sim DESC, vec_id) <= 3\n"
        "ORDER BY qid, sim DESC, vec_id"
    ),
    category="llm-similarity",
    suite="extension",
    doc=(
        "hard-negative mining: top-3 most-similar different-label vectors "
        "per query — label filter at the broadcast join, salted two-phase "
        "top-k (the llm_knn_multi plan)"
    ),
)


# -- autocorrelation function -------------------------------------------------

register(
    "ts_acf",
    engine=(
        "WITH h AS (\n"
        "  SELECT event_type, DATE_TRUNC('hour', ts) AS hr,\n"
        "    ROUND(AVG(value), 6) AS m\n"
        "  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),\n"
        "l AS (\n"
        "  SELECT event_type, m,\n"
        "    LEAD(m, 1) OVER w AS m1, LEAD(m, 2) OVER w AS m2,\n"
        "    LEAD(m, 3) OVER w AS m3\n"
        "  FROM h WINDOW w AS (PARTITION BY event_type ORDER BY hr))\n"
        "SELECT event_type,\n"
        "  CAST(COUNT(m1) AS BIGINT) AS n1,\n"
        "  CAST(ROUND(CORR(m, m1), 6) AS DOUBLE) AS acf1,\n"
        "  CAST(ROUND(CORR(m, m2), 6) AS DOUBLE) AS acf2,\n"
        "  CAST(ROUND(CORR(m, m3), 6) AS DOUBLE) AS acf3\n"
        "FROM l GROUP BY event_type ORDER BY event_type"
    ),
    oracle=(
        "WITH h AS (\n"
        "  SELECT event_type, DATE_TRUNC('hour', ts) AS hr,\n"
        "    ROUND(AVG(value), 6) AS m\n"
        "  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),\n"
        "l AS (\n"
        "  SELECT event_type, m,\n"
        "    LEAD(m, 1) OVER w AS m1, LEAD(m, 2) OVER w AS m2,\n"
        "    LEAD(m, 3) OVER w AS m3\n"
        "  FROM h WINDOW w AS (PARTITION BY event_type ORDER BY hr))\n"
        "SELECT event_type,\n"
        "  COUNT(m1) AS n1,\n"
        "  CAST(ROUND(CORR(m, m1), 6) AS DOUBLE) AS acf1,\n"
        "  CAST(ROUND(CORR(m, m2), 6) AS DOUBLE) AS acf2,\n"
        "  CAST(ROUND(CORR(m, m3), 6) AS DOUBLE) AS acf3\n"
        "FROM l GROUP BY event_type ORDER BY event_type"
    ),
    category="timeseries",
    suite="extension",
    doc=(
        "autocorrelation at lags 1-3 of the hourly mean series per metric "
        "group (seasonality diagnostic): hourly rollup, type-partitioned "
        "LEADs, CORR partial aggregates — two key shuffles, nothing global"
    ),
)


# -- k-anonymity audit --------------------------------------------------------

register(
    "stat_k_anonymity",
    engine=(
        "WITH g AS (\n"
        "  SELECT c_nationkey, c_mktsegment, COUNT(*) AS sz\n"
        "  FROM customer GROUP BY 1, 2)\n"
        "SELECT k,\n"
        "  CAST(SUM(CASE WHEN sz < k THEN 1 ELSE 0 END) AS BIGINT)"
        " AS groups_below_k,\n"
        "  CAST(SUM(CASE WHEN sz < k THEN sz ELSE 0 END) AS BIGINT)"
        " AS records_at_risk,\n"
        "  CAST(MIN(sz) AS BIGINT) AS min_group,\n"
        "  CAST(COUNT(*) AS BIGINT) AS n_groups\n"
        "FROM g CROSS JOIN (SELECT explode(array(2, 5, 10)) AS k)\n"
        "GROUP BY k ORDER BY k"
    ),
    oracle=(
        "WITH g AS (\n"
        "  SELECT c_nationkey, c_mktsegment, COUNT(*) AS sz\n"
        "  FROM customer GROUP BY 1, 2)\n"
        "SELECT k,\n"
        "  CAST(SUM(CASE WHEN sz < k THEN 1 ELSE 0 END) AS BIGINT)"
        " AS groups_below_k,\n"
        "  CAST(SUM(CASE WHEN sz < k THEN sz ELSE 0 END) AS BIGINT)"
        " AS records_at_risk,\n"
        "  MIN(sz) AS min_group,\n"
        "  COUNT(*) AS n_groups\n"
        "FROM g CROSS JOIN (SELECT UNNEST([2, 5, 10]) AS k)\n"
        "GROUP BY k ORDER BY k"
    ),
    category="statistics",
    suite="extension",
    doc=(
        "k-anonymity audit over (nation, segment) quasi-identifiers: one "
        "QI-group aggregate, 3-row k grid cross join over the "
        "group-bounded table — re-identification risk report at k=2/5/10"
    ),
)


# -- chunk-to-document embedding pooling --------------------------------------


def _chunk_pool_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-to-document embedding pooling: mean of the chunk vectors
    per parent document followed by L2 normalization — how RAG stacks
    collapse passage embeddings into one retrievable document vector.
    Chunk->parent here is the synthetic map vec_id % 100 (the fixture
    has no explicit chunk table).

    Plan: posexplode puts (doc, dim, value) in the scan stage (map-only,
    narrow rows); the mean is ONE (doc, dim)-key partial aggregate; the
    L2 norm re-aggregates the d-per-doc pooled table (doc-bounded, tiny)
    and broadcasts back by doc key. Output is long format — one row per
    (doc, dim) — which keeps every cell a scalar for the driver's
    hash compare and is also the layout a columnar store wants. Pooled
    means are rounded to 6 dp BEFORE the norm on both engines, so the
    unit vector derives from identical inputs.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        (F.col("vec_id") % 100).alias("doc_id"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "i", "x"
        ),
    )
    pooled = emb.groupBy("doc_id", "i").agg(
        F.round(F.avg("x"), 6).alias("pooled")
    )
    norms = pooled.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("pooled") * F.col("pooled"))).alias("nrm")
    )
    return (
        pooled.join(norms, "doc_id")
        .select(
            "doc_id",
            (F.col("i") + 1).alias("dim"),
            "pooled",
            F.round(F.col("pooled") / F.col("nrm"), 6)
            .cast("double")
            .alias("unit"),
        )
        .orderBy("doc_id", "dim")
    )


register(
    "llm_doc_pool",
    engine_fn=_chunk_pool_fn,
    oracle=(
        "WITH c AS (\n"
        "  SELECT vec_id % 100 AS doc_id, i.i AS dim,\n"
        "    (embedding::DOUBLE[])[i.i] AS x\n"
        "  FROM embeddings, UNNEST(GENERATE_SERIES(1, 64)) i(i)),\n"
        "p AS (\n"
        "  SELECT doc_id, dim, ROUND(AVG(x), 6) AS pooled\n"
        "  FROM c GROUP BY doc_id, dim),\n"
        "n AS (\n"
        "  SELECT doc_id, SQRT(SUM(pooled * pooled)) AS nrm\n"
        "  FROM p GROUP BY doc_id)\n"
        "SELECT doc_id, dim, pooled,\n"
        "  CAST(ROUND(pooled / nrm, 6) AS DOUBLE) AS unit\n"
        "FROM p JOIN n USING (doc_id) ORDER BY doc_id, dim"
    ),
    category="llm-similarity",
    suite="extension",
    doc=(
        "chunk-to-doc mean pooling + L2 normalize (long format): "
        "posexplode in the scan stage, one (doc,dim) partial aggregate, "
        "doc-bounded norm join — round-before-norm fp pinning"
    ),
)


# -- degree assortativity ----------------------------------------------------


def _assortativity_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the strong-tie backbone: the Pearson
    correlation of endpoint degrees over all edge stubs (Newman 2002) —
    positive means hubs link hubs (social-graph shape), negative means
    hub-and-spoke (infrastructure shape). Completes the graph-structure
    panel next to net_triangles / net_common_neighbors.

    Plan: degrees are one key aggregate on the edge list; each
    symmetric stub joins its two endpoint degrees by key; CORR is a
    single-pass partial-aggregable moment. Everything is bounded by the
    thresholded edge list, which ``_supplier_backbone`` pins: the
    degree aggregate and the stub joins both read it, and unpinned its
    _pair_rows stage ran twice (sf0.1, unpinned -> pinned, four rounds:
    4.75 -> 2.13, 3.94 -> 1.90, 4.06 -> 2.31, 3.50 -> 1.93 s).
    """
    backbone = _supplier_backbone(spark, sf_dir)
    und = backbone.unionByName(
        backbone.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    stubs = (
        und.join(deg, "u")
        .join(
            deg.select(F.col("u").alias("v"), F.col("deg").alias("deg_v")),
            "v",
        )
        .select(F.col("deg").alias("du"), F.col("deg_v").alias("dv"))
    )
    return stubs.agg(
        (F.count(F.lit(1)) / 2).cast("long").alias("n_edges"),
        F.round(F.corr("du", "dv"), 6).cast("double").alias("assortativity"),
    )


register(
    "net_assortativity",
    engine_fn=_assortativity_fn,
    oracle=(
        "WITH " + _BACKBONE_SQL + ",\n"
        "und AS (SELECT u, v FROM bb UNION ALL SELECT v, u FROM bb),\n"
        "d AS (SELECT u, COUNT(*) AS deg FROM und GROUP BY u),\n"
        "stubs AS (\n"
        "  SELECT du.deg AS du, dv.deg AS dv FROM und\n"
        "  JOIN d du ON und.u = du.u JOIN d dv ON und.v = dv.u)\n"
        "SELECT CAST(COUNT(*) / 2 AS BIGINT) AS n_edges,\n"
        "  CAST(ROUND(CORR(du, dv), 6) AS DOUBLE) AS assortativity\n"
        "FROM stubs"
    ),
    category="graph",
    suite="extension",
    doc=(
        "degree assortativity (Newman 2002) of the strong-tie backbone: "
        "degree aggregate + two key joins on edge stubs, single-pass "
        "CORR moments"
    ),
)


# -- Theil-Sen robust trend ---------------------------------------------------

# Median-of-pairwise-slopes per metric group: the outlier-robust trend
# estimator (Theil 1950 / Sen 1968) next to stat_regression's OLS. The
# pair stage is bounded by the HOURLY ROLLUP's length (time-range^2, not
# data volume — resample first is the contract, like ts_acf), and hourly
# means are rounded to 6 dp BEFORE the slope arithmetic so both engines
# difference identical operands; the median interpolates identical
# sorted multisets.

def _theilsen_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r12 rewrite of the declared SQL form (results identical, oracle-
    verified): the old plan materialized every pairwise slope as a ROW —
    a self-join expanding the hourly rollup to ~2.3M pair rows PER GROUP,
    shuffled into a 5-partition exact PERCENTILE (one task per
    event_type holding millions of doubles). Here only the HOURLY rollup
    shuffles (time-range-bounded, ~11k rows at sf0.1) and the n^2 slope
    enumeration + exact median run vectorized in numpy inside one
    grouped-map task per event_type — same group-level parallelism, 3
    orders of magnitude fewer shuffled rows (guide §2.3/§4.2).

    FP identity with the SQL form is preserved operation-for-operation:
    hourly means are ROUND(.,6)-pinned in Spark before crossing to
    Python; slope = double(v_b - v_a) / (double(bigint epoch_b -
    epoch_a) / 3600.0) in that exact order; the median interpolates
    lower + (upper-lower)*0.5 like Spark PERCENTILE / DuckDB
    QUANTILE_CONT (np.median's (a+b)/2 can differ by one ulp)."""
    import numpy as np
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    h = (
        ev.where(F.col("value").isNotNull())
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.round(F.avg("value"), 6).cast("double").alias("v"))
        .select("event_type", F.col("hr").cast("bigint").alias("s"), "v")
    )

    def _median_slopes(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {
                    "event_type": pd.Series([], dtype=object),
                    "n_pairs": pd.Series([], dtype="int64"),
                    "med": pd.Series([], dtype="float64"),
                }
            )
        order = np.argsort(pdf["s"].to_numpy())
        s = pdf["s"].to_numpy()[order]  # int64 epoch seconds, hr-unique
        v = pdf["v"].to_numpy()[order]
        iu, ju = np.triu_indices(n, k=1)
        slope = (v[ju] - v[iu]) / ((s[ju] - s[iu]).astype(np.float64) / 3600.0)
        sl = np.sort(slope)
        m = len(sl)
        if m % 2 == 1:
            med = float(sl[m // 2])
        else:
            lo, hi = float(sl[m // 2 - 1]), float(sl[m // 2])
            med = lo + (hi - lo) * 0.5
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_pairs": [m],
                "med": [med],
            }
        )

    out = h.groupBy("event_type").applyInPandas(
        _median_slopes, "event_type string, n_pairs long, med double"
    )
    return out.select(
        "event_type",
        "n_pairs",
        F.round("med", 6).cast("double").alias("theil_sen_slope"),
    ).orderBy("event_type")


register(
    "ts_theilsen_trend",
    engine_fn=_theilsen_fn,
    oracle=(
        "WITH h AS (\n"
        "  SELECT event_type, DATE_TRUNC('hour', ts) AS hr,\n"
        "    CAST(ROUND(AVG(value), 6) AS DOUBLE) AS v\n"
        "  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),\n"
        "p AS (\n"
        "  SELECT a.event_type,\n"
        "    (b.v - a.v) / (CAST(EPOCH(b.hr)"
        " - EPOCH(a.hr) AS DOUBLE) / 3600.0) AS slope\n"
        "  FROM h a JOIN h b\n"
        "    ON a.event_type = b.event_type AND a.hr < b.hr)\n"
        "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,\n"
        "  CAST(ROUND(QUANTILE_CONT(slope, 0.5), 6) AS DOUBLE)"
        " AS theil_sen_slope\n"
        "FROM p GROUP BY event_type ORDER BY event_type"
    ),
    category="timeseries",
    suite="extension",
    doc=(
        "Theil-Sen robust trend per metric group: median of pairwise "
        "slopes over the hourly-mean series — pair count bounded by "
        "time-range^2 (resample-first contract), means rounded before "
        "differencing for cross-engine slope identity"
    ),
)


# -- day-of-week seasonal profile ---------------------------------------------

# Weekly seasonality index per metric group: per-(type, weekday) mean vs
# the type's overall mean. Two partial-aggregable passes + a 5-row
# broadcast join; weekday numbering normalized to Monday=0 on both
# engines (Spark DAYOFWEEK is 1=Sunday, DuckDB's is 0=Sunday).

register(
    "ts_dow_profile",
    engine=(
        "WITH d AS (\n"
        "  SELECT event_type, (DAYOFWEEK(ts) + 5) % 7 AS dow, value\n"
        "  FROM events WHERE value IS NOT NULL),\n"
        "g AS (SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS n,\n"
        "      AVG(value) AS dow_avg FROM d GROUP BY 1, 2),\n"
        "t AS (SELECT event_type, AVG(value) AS type_avg FROM d"
        " GROUP BY 1)\n"
        "SELECT g.event_type, g.dow, g.n,\n"
        "  CAST(ROUND(g.dow_avg, 6) AS DOUBLE) AS dow_avg,\n"
        "  CAST(ROUND(g.dow_avg / t.type_avg, 6) AS DOUBLE)"
        " AS seasonal_index\n"
        "FROM g JOIN t ON g.event_type = t.event_type\n"
        "ORDER BY g.event_type, g.dow"
    ),
    oracle=(
        "WITH d AS (\n"
        "  SELECT event_type, (DAYOFWEEK(ts) + 6) % 7 AS dow, value\n"
        "  FROM events WHERE value IS NOT NULL),\n"
        "g AS (SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS n,\n"
        "      AVG(value) AS dow_avg FROM d GROUP BY 1, 2),\n"
        "t AS (SELECT event_type, AVG(value) AS type_avg FROM d"
        " GROUP BY 1)\n"
        "SELECT g.event_type, CAST(g.dow AS BIGINT) AS dow, g.n,\n"
        "  CAST(ROUND(g.dow_avg, 6) AS DOUBLE) AS dow_avg,\n"
        "  CAST(ROUND(g.dow_avg / t.type_avg, 6) AS DOUBLE)"
        " AS seasonal_index\n"
        "FROM g JOIN t ON g.event_type = t.event_type\n"
        "ORDER BY g.event_type, g.dow"
    ),
    category="timeseries",
    suite="extension",
    doc=(
        "day-of-week seasonal profile per metric group (Monday=0): "
        "per-(type, dow) mean and seasonal index vs the type mean — two "
        "partial aggregates + a type-count-bounded join"
    ),
)


# -- Gini concentration of customer spend -------------------------------------


def _gini_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer spend — the revenue-concentration
    audit (how top-heavy is the customer base). Uses the closed-form
    rank formula G = 2*sum(rank*x) / (n*sum(x)) - (n+1)/n over spend
    ranked ascending, with the global rank produced by
    operators/rank.py's TWO-PHASE bucketed row-number (no global sort,
    no SinglePartition funnel at scale); per-customer spend is rounded
    to 2 dp BEFORE ranking so both engines rank identical values, and
    (spend, custkey) makes the order total. The final statistic is a
    ratio of partial-aggregable sums, so sub-ulp aggregation-order
    noise vanishes under the 6-dp round."""
    from nyuki_spark.operators.rank import global_row_number

    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("x")
    )
    ranked = global_row_number(spend, "x", ["o_custkey"], out="rn")
    return ranked.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("x"), 2).cast("double").alias("total_spend"),
        F.round(
            F.lit(2.0) * F.sum(F.col("rn") * F.col("x"))
            / (F.count(F.lit(1)) * F.sum("x"))
            - (F.count(F.lit(1)) + F.lit(1.0)) / F.count(F.lit(1)),
            6,
        )
        .cast("double")
        .alias("gini"),
    )


register(
    "stat_gini_spend",
    engine_fn=_gini_fn,
    oracle=(
        "WITH s AS (SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS x\n"
        "           FROM orders GROUP BY 1),\n"
        "r AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x, o_custkey) AS rn"
        " FROM s)\n"
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,\n"
        "  CAST(ROUND(SUM(x), 2) AS DOUBLE) AS total_spend,\n"
        "  CAST(ROUND(2.0 * SUM(rn * x) / (COUNT(*) * SUM(x))\n"
        "    - (COUNT(*) + 1.0) / COUNT(*), 6) AS DOUBLE) AS gini\n"
        "FROM r"
    ),
    category="statistics",
    suite="extension",
    doc=(
        "Gini coefficient of per-customer spend via the rank closed form "
        "— global rank from the two-phase bucketed row-number "
        "(operators/rank.py), no global sort; revenue-concentration audit"
    ),
)


# -- burst detection over hourly event counts ---------------------------------

# Trailing-window z-score burst detector: an hour is a burst when its
# count exceeds the prior 24 full hours' mean by > 3 sigma. The frame
# moments are INTEGER window sums (SUM(n), SUM(n*n), COUNT — exact in
# any accumulation order), so mu/sd/z derive from bit-identical operands
# on both engines and the z > 3 cut is safe at the boundary — the same
# exact-integer discipline as stat_ks_test's CDF counts.

register(
    "ts_burst_zscore",
    engine=(
        "WITH h AS (\n"
        "  SELECT event_type, DATE_TRUNC('hour', ts) AS hr,\n"
        "    CAST(COUNT(*) AS BIGINT) AS n\n"
        "  FROM events GROUP BY 1, 2),\n"
        "w AS (\n"
        "  SELECT event_type, hr, n,\n"
        "    SUM(n) OVER fr AS s1, SUM(n * n) OVER fr AS s2,\n"
        "    COUNT(*) OVER fr AS wn\n"
        "  FROM h\n"
        "  WINDOW fr AS (PARTITION BY event_type ORDER BY hr\n"
        "    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))\n"
        "SELECT event_type, hr, n,\n"
        "  CAST(ROUND((n - CAST(s1 AS DOUBLE) / wn)\n"
        "    / SQRT((s2 - CAST(s1 AS DOUBLE) * s1 / wn) / (wn - 1)), 6)"
        " AS DOUBLE) AS z\n"
        "FROM w\n"
        "WHERE wn = 24 AND s2 * wn > s1 * s1\n"
        "  AND (n - CAST(s1 AS DOUBLE) / wn)\n"
        "    / SQRT((s2 - CAST(s1 AS DOUBLE) * s1 / wn) / (wn - 1)) > 3\n"
        "ORDER BY event_type, hr"
    ),
    oracle=(
        "WITH h AS (\n"
        "  SELECT event_type, DATE_TRUNC('hour', ts) AS hr,\n"
        "    CAST(COUNT(*) AS BIGINT) AS n\n"
        "  FROM events GROUP BY 1, 2),\n"
        "w AS (\n"
        "  SELECT event_type, hr, n,\n"
        "    CAST(SUM(n) OVER fr AS BIGINT) AS s1,\n"
        "    CAST(SUM(n * n) OVER fr AS BIGINT) AS s2,\n"
        "    COUNT(*) OVER fr AS wn\n"
        "  FROM h\n"
        "  WINDOW fr AS (PARTITION BY event_type ORDER BY hr\n"
        "    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))\n"
        "SELECT event_type, hr, n,\n"
        "  CAST(ROUND((n - CAST(s1 AS DOUBLE) / wn)\n"
        "    / SQRT((s2 - CAST(s1 AS DOUBLE) * s1 / wn) / (wn - 1)), 6)"
        " AS DOUBLE) AS z\n"
        "FROM w\n"
        "WHERE wn = 24 AND s2 * wn > s1 * s1\n"
        "  AND (n - CAST(s1 AS DOUBLE) / wn)\n"
        "    / SQRT((s2 - CAST(s1 AS DOUBLE) * s1 / wn) / (wn - 1)) > 3\n"
        "ORDER BY event_type, hr"
    ),
    category="timeseries",
    suite="extension",
    doc=(
        "trailing-24h z-score burst detection on hourly counts per type: "
        "integer window moments (exact in any order) make the 3-sigma "
        "cut engine-stable; type-partitioned ROWS frames, no global sort"
    ),
)


# -- Mann-Whitney U rank-sum test ----------------------------------------------


def _mann_whitney_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Mann-Whitney U test (click vs purchase values): the
    rank-sum companion to stat_ks_test's CDF distance and
    stat_welch_ttest's mean test — the nonparametric A/B workhorse.

    Scale shape is stat_ks_test's TWO-PHASE rank: per-distinct-value
    counts first (one partial-agg shuffle), 32 equi-width buckets from a
    1-row broadcast bounds row, bucket-level prefix offsets over the
    32-row bucket table (the only single-partition step — bounded by the
    bucket count), then within-bucket running sums. Tie-averaged ranks
    come from the exclusive running total: avg_rank(v) = cum_before(v)
    + (c(v) + 1)/2 — an exact x.5 double, so R1 = sum(c1 * avg_rank),
    U, and the tie term sum(c^3 - c) are all exact-integer-operand
    arithmetic in any accumulation order; only the final z is rounded.
    """
    n_b = 32
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
        & F.col("value").isNotNull()
    )
    cnt = ev.groupBy("value").agg(
        F.sum((F.col("event_type") == "click").cast("long")).alias("c1"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("c2"),
    )
    bounds = cnt.agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
    bucketed = cnt.crossJoin(F.broadcast(bounds)).select(
        "value",
        "c1",
        "c2",
        (F.col("c1") + F.col("c2")).alias("c"),
        F.when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(
            F.least(
                F.lit(n_b - 1),
                F.floor(
                    (F.col("value") - F.col("mn"))
                    / ((F.col("mx") - F.col("mn")) / n_b)
                ),
            )
        )
        .cast("int")
        .alias("b"),
    )
    bcnt = bucketed.groupBy("b").agg(F.sum("c").alias("t"))
    wb = Window.partitionBy(one_group("b")).orderBy("b").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = bcnt.select(
        "b", F.coalesce(F.sum("t").over(wb), F.lit(0)).alias("off")
    )
    wv = (
        Window.partitionBy("b")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = (
        bucketed.join(F.broadcast(offs), "b")
        .select(
            "c1",
            "c2",
            "c",
            (
                F.col("off")
                + F.coalesce(F.sum("c").over(wv), F.lit(0))
                + (F.col("c") + 1) / 2.0
            ).alias("avg_rank"),
        )
    )
    s = ranked.agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.sum(F.col("c1") * F.col("avg_rank")).alias("r1"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c")).alias("tie"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    nn = n1 + n2
    u1 = F.col("r1") - n1 * (n1 + 1) / 2.0
    var = (
        n1 * n2 / 12.0
        * ((nn + 1) - F.col("tie") / (nn * (nn - F.lit(1.0))))
    )
    return s.select(
        n1.cast("long").alias("n1"),
        n2.cast("long").alias("n2"),
        u1.cast("double").alias("u1"),
        F.round((u1 - n1 * n2 / 2.0) / F.sqrt(var), 6)
        .cast("double")
        .alias("z"),
    )


register(
    "stat_mann_whitney",
    engine_fn=_mann_whitney_fn,
    oracle=(
        "WITH p AS (\n"
        "  SELECT value, event_type = 'click' AS is1 FROM events\n"
        "  WHERE event_type IN ('click', 'purchase')"
        " AND value IS NOT NULL),\n"
        "g AS (\n"
        "  SELECT value,\n"
        "    SUM(CASE WHEN is1 THEN 1 ELSE 0 END) AS c1,\n"
        "    SUM(CASE WHEN is1 THEN 0 ELSE 1 END) AS c2\n"
        "  FROM p GROUP BY value),\n"
        "r AS (\n"
        "  SELECT c1, c2, c1 + c2 AS c,\n"
        "    COALESCE(SUM(c1 + c2) OVER (ORDER BY value\n"
        "      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)\n"
        "      + (c1 + c2 + 1) / 2.0 AS avg_rank\n"
        "  FROM g),\n"
        "s AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2,\n"
        "  SUM(c1 * avg_rank) AS r1,\n"
        "  SUM(c * c * c - c) AS tie FROM r)\n"
        "SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,\n"
        "  CAST(r1 - n1 * (n1 + 1) / 2.0 AS DOUBLE) AS u1,\n"
        "  CAST(ROUND((r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0)\n"
        "    / SQRT(n1 * n2 / 12.0 * ((n1 + n2 + 1)\n"
        "      - tie / ((n1 + n2) * (n1 + n2 - 1.0)))), 6) AS DOUBLE)"
        " AS z\n"
        "FROM s"
    ),
    category="statistics",
    suite="extension",
    doc=(
        "Mann-Whitney U rank-sum test (click vs purchase): two-phase "
        "tie-averaged ranks (32-bucket partials + bounded offset merge), "
        "exact-integer rank arithmetic, tie-corrected normal z"
    ),
)


# -- Poisson bootstrap confidence interval -------------------------------------

# Cumulative Poisson(1) CDF thresholds for the inverse-CDF weight draw:
# P(X <= k) for k = 0..7; a uniform u maps to the smallest k with
# u < cdf[k] (else 8). Literal doubles, identical on both engines.
_POIS1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
    0.9999897508033253,
)


def _bootstrap_ci_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for mean order price — THE
    resampling method that distributes: classical bootstrap needs n draws
    from n rows (a global shuffle per replicate), while Poisson bootstrap
    gives every row an independent Poisson(1) weight per replicate, so
    all 32 replicates are ONE map-side pass + a 32-key partial aggregate,
    embarrassingly parallel at any scale.

    Determinism + parity: the uniform is a pure-arithmetic LCG hash of
    (o_orderkey, rep) — identical BIGINT math on both engines (the
    orderkey is folded mod 2^32 first so the product stays under 2^63;
    a production run over wider keys would swap in xxhash64) — mapped
    through literal Poisson(1) CDF thresholds. Weighted sums run over
    integer CENTS (exact in any accumulation order); each replicate mean
    is rounded to 6 dp before the order statistics, so the sorted
    replicate vector is bit-identical cross-engine. The 93.75% CI is the
    2nd/31st order statistic of 32 replicate means (no interpolated
    percentile — order statistics can't drift)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    reps = orders.select(
        "o_orderkey",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("rep"),
    )
    h = F.pmod(
        F.pmod(F.col("o_orderkey"), F.lit(4294967296))
        * F.lit(1103515245)
        + F.col("rep") * F.lit(40503)
        + F.lit(12345),
        F.lit(4294967296),
    )
    u = h / F.lit(4294967296.0)
    w = F.when(u < _POIS1_CDF[0], 0)
    for k, c in enumerate(_POIS1_CDF[1:], start=1):
        w = w.when(u < c, k)
    w = w.otherwise(8).cast("long")
    per_rep = (
        reps.select("rep", (w * F.col("cents")).alias("wx"), w.alias("w"))
        .groupBy("rep")
        .agg(
            F.round(F.sum("wx") / (F.lit(100.0) * F.sum("w")), 6).alias(
                "mean"
            )
        )
    )
    means = F.sort_array(F.collect_list("mean"))
    return per_rep.agg(
        F.count(F.lit(1)).alias("n_reps"),
        F.round(F.avg("mean"), 6).cast("double").alias("boot_mean"),
        F.element_at(means, 2).cast("double").alias("ci_lo"),
        F.element_at(means, 31).cast("double").alias("ci_hi"),
    )


register(
    "stat_bootstrap_ci",
    engine_fn=_bootstrap_ci_fn,
    oracle=(
        "WITH o AS (SELECT o_orderkey,\n"
        "    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents"
        " FROM orders),\n"
        "r AS (SELECT o_orderkey, cents, i AS rep\n"
        "  FROM o, UNNEST(RANGE(0, 32)) AS t(i)),\n"
        "v AS (SELECT rep, cents,\n"
        "    (((o_orderkey % 4294967296) * 1103515245\n"
        "      + rep * 40503 + 12345) % 4294967296)"
        " / 4294967296.0 AS u\n"
        "  FROM r),\n"
        "k AS (SELECT rep, cents, CASE\n"
        "    WHEN u < 0.36787944117144233 THEN 0\n"
        "    WHEN u < 0.7357588823428847 THEN 1\n"
        "    WHEN u < 0.9196986029286058 THEN 2\n"
        "    WHEN u < 0.9810118431238462 THEN 3\n"
        "    WHEN u < 0.9963401531726563 THEN 4\n"
        "    WHEN u < 0.9994058151824183 THEN 5\n"
        "    WHEN u < 0.9999167588507119 THEN 6\n"
        "    WHEN u < 0.9999897508033253 THEN 7\n"
        "    ELSE 8 END AS w\n"
        "  FROM v),\n"
        "m AS (SELECT rep,\n"
        "    ROUND(SUM(w * cents) / (100.0 * SUM(w)), 6) AS mean\n"
        "  FROM k GROUP BY rep)\n"
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_reps,\n"
        "  CAST(ROUND(AVG(mean), 6) AS DOUBLE) AS boot_mean,\n"
        "  CAST(LIST_SORT(LIST(mean))[2] AS DOUBLE) AS ci_lo,\n"
        "  CAST(LIST_SORT(LIST(mean))[31] AS DOUBLE) AS ci_hi\n"
        "FROM m"
    ),
    category="statistics",
    suite="extension",
    doc=(
        "Poisson-bootstrap CI for mean order price: per-(row, rep) "
        "Poisson(1) weights from a deterministic LCG hash — 32 "
        "replicates in one map pass + a 32-key partial aggregate (no "
        "per-replicate shuffle); integer-cents sums, order-statistic CI"
    ),
)


# -- additive trend/seasonal/residual decomposition ----------------------------

# STL-style additive decomposition of the daily count series per metric
# group: trend = centered 7-day moving average (full frames only, so the
# edge days drop out), seasonal = day-of-week mean of the detrended
# series, residual = the rest. Cross-engine determinism is all integer
# discipline: the window carries the INTEGER 7-day sum s (exact in any
# accumulation order), trend = s/7.0 is one correctly-rounded division,
# and the seasonal mean is algebraically collapsed to
# (7*SUM(n) - SUM(s)) / (7.0 * COUNT(*)) — exact BIGINT operands, one
# division — instead of AVG(n - s/7.0), whose order-dependent double
# accumulation flipped a 6-dp boundary in testing. Weekday numbering is
# normalized to Monday=0 (Spark DAYOFWEEK is 1=Sunday, DuckDB's is
# 0=Sunday — the ts_dow_profile recipe). All windows are
# type-partitioned ROWS frames over the daily ROLLUP (resample-first
# contract, like ts_acf) — no global sort, no single-partition funnel.

_STL_SELECT = (
    "SELECT t.event_type, CAST(t.day AS DATE) AS day, t.n,\n"
    "  CAST(ROUND(t.s / 7.0, 6) AS DOUBLE) AS trend,\n"
    "  CAST(s.seasonal AS DOUBLE) AS seasonal,\n"
    "  CAST(ROUND(t.n - t.s / 7.0 - s.seasonal, 6) AS DOUBLE)"
    " AS residual\n"
    "FROM t JOIN s ON t.event_type = s.event_type AND {dow_t} = s.dow\n"
    "WHERE t.s IS NOT NULL\n"
    "ORDER BY t.event_type, t.day"
)

_STL_BODY = (
    "WITH d AS (\n"
    "  SELECT event_type, DATE_TRUNC('day', ts) AS day,\n"
    "    CAST(COUNT(*) AS BIGINT) AS n\n"
    "  FROM events GROUP BY 1, 2),\n"
    "t AS (\n"
    "  SELECT event_type, day, n,\n"
    "    CASE WHEN COUNT(*) OVER fr = 7\n"
    "      THEN CAST(SUM(n) OVER fr AS BIGINT) END AS s\n"
    "  FROM d\n"
    "  WINDOW fr AS (PARTITION BY event_type ORDER BY day\n"
    "    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),\n"
    "s AS (\n"
    "  SELECT event_type, {dow} AS dow,\n"
    "    ROUND((7.0 * SUM(n) - SUM(s)) / (7.0 * COUNT(*)), 6)"
    " AS seasonal\n"
    "  FROM t WHERE s IS NOT NULL GROUP BY 1, 2)\n"
)

register(
    "ts_stl_decompose",
    engine=(
        _STL_BODY.format(dow="(DAYOFWEEK(day) + 5) % 7")
        + _STL_SELECT.format(dow_t="(DAYOFWEEK(t.day) + 5) % 7")
    ),
    oracle=(
        _STL_BODY.format(dow="(DAYOFWEEK(day) + 6) % 7")
        + _STL_SELECT.format(dow_t="(DAYOFWEEK(t.day) + 6) % 7")
    ),
    category="timeseries",
    suite="extension",
    doc=(
        "STL-style additive decomposition of daily counts per type: "
        "centered 7-day MA trend (exact integer sums), Monday=0 "
        "day-of-week seasonal means, 6-dp-pinned residuals — "
        "type-partitioned ROWS frames over the daily rollup"
    ),
)


# -- KMV distinct sketch -------------------------------------------------------


def _kmv_distinct_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct sketch (Bar-Yossef et al. RANDOM'02) of
    users per event type, next to the exact count — the MERGEABLE
    distinct estimator whose sketch union is just "k smallest of the
    parts' k-smallest", i.e. a partial-aggregable top-k: the pattern a
    100 TB pipeline uses where exact COUNT(DISTINCT)'s Expand shuffle
    won't fly and HyperLogLog's register layout isn't portable across
    engines. Unlike HLL this sketch is DETERMINISTIC given the hash, so
    the estimate itself is oracle-checkable bit-for-bit: the hash is the
    repo's portable 60-bit md5 (functions.text.token_hash60 recipe —
    identical in Spark and DuckDB), the k-th minimum is found by a
    type-partitioned row_number (parallel across groups; two-phase at
    scale like operators/rank.py), and the estimate (k-1)/hk with hk
    normalized by 2^60 divides exactly-representable operands (63*2^60
    has 6 significant bits). Groups with fewer than k distinct hashes
    report the exact sketch size."""
    k = 64
    ev = load_table(spark, sf_dir, "events")
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    dh = ev.select("event_type", h.alias("h")).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    per = (
        dh.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .groupBy("event_type")
        .agg(F.max("h").alias("hk"), F.count(F.lit(1)).alias("kk"))
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    est = F.when(F.col("kk") < k, F.col("kk").cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(2**60) / F.col("hk")
    )
    return (
        per.join(exact, "event_type")
        .select(
            "event_type",
            "exact_distinct",
            F.round(est, 4).cast("double").alias("kmv_estimate"),
        )
        .orderBy("event_type")
    )


register(
    "stat_kmv_distinct",
    engine_fn=_kmv_distinct_fn,
    oracle=(
        "WITH dh AS (\n"
        "  SELECT DISTINCT event_type,\n"
        "    ('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 15))"
        "::BIGINT AS h\n"
        "  FROM events),\n"
        "tk AS (\n"
        "  SELECT event_type, h FROM dh\n"
        "  QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type"
        " ORDER BY h) <= 64),\n"
        "p AS (SELECT event_type, MAX(h) AS hk, COUNT(*) AS kk"
        " FROM tk GROUP BY 1),\n"
        "e AS (SELECT event_type, COUNT(DISTINCT user_id)"
        " AS exact_distinct FROM events GROUP BY 1)\n"
        "SELECT p.event_type,\n"
        "  CAST(e.exact_distinct AS BIGINT) AS exact_distinct,\n"
        "  CAST(ROUND(CASE WHEN kk < 64 THEN CAST(kk AS DOUBLE)\n"
        "    ELSE 63.0 * 1152921504606846976 / hk END, 4) AS DOUBLE)"
        " AS kmv_estimate\n"
        "FROM p JOIN e USING (event_type) ORDER BY p.event_type"
    ),
    category="statistics",
    suite="extension",
    doc=(
        "k-minimum-values distinct sketch per event type vs the exact "
        "count: portable 60-bit md5 hash, type-partitioned k-th minimum, "
        "deterministic (k-1)/hk estimate — the mergeable distinct "
        "estimator (sketch union = top-k of partial top-k's), "
        "hash-verified bit-for-bit unlike HLL"
    ),
)


# -- mergeable fixed-bucket quantile sketch (round 7) ---------------------------

# Equi-width histogram quantiles: the simplest MERGEABLE quantile sketch
# (per-partition bucket counts combine by addition — the property t-digest
# / KLL buy with more machinery, here bought with a fixed 128-bucket grid
# over the global value range). The ESTIMATE itself is the verified
# artifact: both engines derive identical bucket ids (exact MIN/MAX
# bounds, same FLOOR arithmetic), identical integer cumulative counts,
# and hence identical p50/p95/p99 bucket edges — hash-verified, unlike a
# seeded t-digest. Error is bounded by one bucket width; at 100 TB the
# sketch is one (type, 128)-cell aggregate, map-side combinable.
_QSKETCH_SQL = (
    "WITH v AS (SELECT event_type, value FROM events"
    " WHERE value IS NOT NULL),\n"
    "bounds AS (SELECT MIN(value) AS mn, MAX(value) AS mx FROM v),\n"
    "b AS (SELECT event_type,\n"
    "    CAST(LEAST(127, FLOOR((value - mn) / ((mx - mn) / 128.0)))"
    " AS INT) AS bk,\n"
    "    COUNT(*) AS n\n"
    "  FROM v CROSS JOIN bounds GROUP BY 1, 2),\n"
    "c AS (SELECT event_type, bk,\n"
    "    SUM(n) OVER (PARTITION BY event_type ORDER BY bk) AS cum,\n"
    "    SUM(n) OVER (PARTITION BY event_type) AS tot\n"
    "  FROM b),\n"
    "q AS (SELECT event_type,\n"
    "    CAST(MIN(tot) AS BIGINT) AS n_rows,\n"
    "    MIN(CASE WHEN cum >= 0.50 * tot THEN bk END) AS b50,\n"
    "    MIN(CASE WHEN cum >= 0.95 * tot THEN bk END) AS b95,\n"
    "    MIN(CASE WHEN cum >= 0.99 * tot THEN bk END) AS b99\n"
    "  FROM c GROUP BY 1)\n"
    "SELECT event_type, n_rows,\n"
    "  CAST(ROUND(mn + (b50 + 1) * ((mx - mn) / 128.0), 6) AS DOUBLE)"
    " AS p50_est,\n"
    "  CAST(ROUND(mn + (b95 + 1) * ((mx - mn) / 128.0), 6) AS DOUBLE)"
    " AS p95_est,\n"
    "  CAST(ROUND(mn + (b99 + 1) * ((mx - mn) / 128.0), 6) AS DOUBLE)"
    " AS p99_est\n"
    "FROM q CROSS JOIN bounds ORDER BY event_type"
)

register(
    "stat_quantile_sketch",
    engine=_QSKETCH_SQL,
    oracle=_QSKETCH_SQL,
    category="statistics",
    suite="extension",
    doc=(
        "mergeable 128-bucket histogram quantile sketch (p50/p95/p99 "
        "bucket-edge estimates per event type): partial counts combine by "
        "addition, bounds via the 1-row scalar-bounds broadcast, estimate "
        "deterministic and hash-verified (unlike seeded t-digest)"
    ),
)


# -- rolling correlation of two metric series ----------------------------------

# Trailing-24h Pearson correlation between hourly click and purchase
# counts: the co-movement monitor next to ts_burst_zscore's univariate
# spike detector. One conditional aggregate builds the joint hourly
# series (no self-join), and every window moment (n, Σx, Σy, Σxy, Σx²,
# Σy²) is an INTEGER sum — exact in any accumulation order — so the
# correlation is derived from bit-identical operands on both engines and
# the 6-dp round is a formality. Full 24-row frames only; zero-variance
# frames are excluded on both sides (same guard discipline as
# ts_burst_zscore).

_ROLLCORR_SQL = (
    "WITH h AS (\n"
    "  SELECT DATE_TRUNC('hour', ts) AS hr,\n"
    "    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)"
    " AS BIGINT) AS x,\n"
    "    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)"
    " AS BIGINT) AS y\n"
    "  FROM events GROUP BY 1),\n"
    "w AS (\n"
    "  SELECT hr,\n"
    "    COUNT(*) OVER fr AS n,\n"
    "    CAST(SUM(x) OVER fr AS BIGINT) AS sx,\n"
    "    CAST(SUM(y) OVER fr AS BIGINT) AS sy,\n"
    "    CAST(SUM(x * y) OVER fr AS BIGINT) AS sxy,\n"
    "    CAST(SUM(x * x) OVER fr AS BIGINT) AS sxx,\n"
    "    CAST(SUM(y * y) OVER fr AS BIGINT) AS syy\n"
    "  FROM h\n"
    "  WINDOW fr AS (ORDER BY hr"
    " ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))\n"
    "SELECT hr,\n"
    "  CAST(ROUND((n * sxy - sx * sy)\n"
    "    / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)"
    " * (n * syy - sy * sy)), 6) AS DOUBLE) AS roll_corr\n"
    "FROM w\n"
    "WHERE n = 24 AND n * sxx > sx * sx AND n * syy > sy * sy\n"
    "ORDER BY hr"
)

register(
    "ts_rolling_corr",
    # Engine-side only: the deliberate single-group frame over the hourly
    # rollup gets a non-foldable constant partition (one_group shape) so
    # WindowExec's spec is non-empty — no warning, same 24-row frames.
    # DuckDB has no PMOD, so the oracle keeps the literal form.
    engine=_ROLLCORR_SQL.replace(
        "WINDOW fr AS (ORDER BY hr",
        "WINDOW fr AS (PARTITION BY PMOD(HASH(hr), 1) ORDER BY hr",
    ),
    oracle=_ROLLCORR_SQL,
    category="timeseries",
    suite="extension",
    doc=(
        "trailing-24h Pearson correlation between hourly click and "
        "purchase counts: conditional aggregate joint series (no "
        "self-join), exact integer window moments, engine-stable ratio. "
        "NOTE: the hourly rollup is one global series, so the frame "
        "window is a bounded single partition (time-range rows, not "
        "data rows — the resample-first contract of ts_acf)"
    ),
)


# -- per-user behavioral entropy -----------------------------------------------

# Shannon entropy of each user's event-type mix: the behavioral-
# diversity score (bots score ~0, organic users near log2(5)).
# Counts are exact integers; each term p*log2(p) is computed from
# identical operands on both engines and the <= 5-term sum's
# accumulation-order noise (~1 ulp) vanishes under the 6-dp round.

_UENTROPY_SQL = (
    "WITH c AS (\n"
    "  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n\n"
    "  FROM events GROUP BY 1, 2),\n"
    "t AS (SELECT user_id, CAST(SUM(n) AS BIGINT) AS tot FROM c"
    " GROUP BY 1)\n"
    "SELECT c.user_id, t.tot AS n_events,\n"
    "  CAST(COUNT(*) AS BIGINT) AS n_types,\n"
    "  CAST(ROUND(-SUM(CASE WHEN c.n = t.tot THEN 0.0\n"
    "    ELSE (CAST(c.n AS DOUBLE) / t.tot)"
    " * LOG2(CAST(c.n AS DOUBLE) / t.tot) END), 6) AS DOUBLE)"
    " AS entropy\n"
    "FROM c JOIN t ON c.user_id = t.user_id\n"
    "GROUP BY c.user_id, t.tot\n"
    "ORDER BY c.user_id LIMIT 100"
)

register(
    "stat_user_entropy",
    engine=_UENTROPY_SQL,
    oracle=_UENTROPY_SQL,
    category="statistics",
    suite="extension",
    doc=(
        "Shannon entropy of each user's event-type mix (behavioral "
        "diversity / bot score): two partial aggregates + a per-user "
        "key join, exact integer counts, 6-dp-pinned <= 5-term entropy"
    ),
)


# -- Herfindahl-Hirschman market concentration ----------------------------------

# HHI per nation: sum of squared customer spend shares x 10000 — the
# antitrust-style concentration index next to stat_gini_spend's
# inequality curve. Integer-cents spend sums (exact in any accumulation
# order) make every share a division of bit-identical operands; the
# per-nation share-square sum is a partial-aggregable double pinned at
# 6 dp. Two key joins (orders->customer->nation), all partial
# aggregates, no window.

_HHI_SQL = (
    "WITH s AS (\n"
    "  SELECT c.c_nationkey, o.o_custkey,\n"
    "    CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))"
    " AS BIGINT) AS cents\n"
    "  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey\n"
    "  GROUP BY 1, 2),\n"
    "t AS (SELECT c_nationkey, CAST(SUM(cents) AS BIGINT) AS tot,\n"
    "      CAST(COUNT(*) AS BIGINT) AS n_cust FROM s GROUP BY 1)\n"
    "SELECT n.n_name, t.n_cust,\n"
    "  CAST(ROUND(SUM((CAST(s.cents AS DOUBLE) / t.tot)\n"
    "    * (CAST(s.cents AS DOUBLE) / t.tot)) * 10000, 6) AS DOUBLE)"
    " AS hhi\n"
    "FROM s JOIN t ON s.c_nationkey = t.c_nationkey\n"
    "JOIN nation n ON s.c_nationkey = n.n_nationkey\n"
    "GROUP BY n.n_name, t.n_cust\n"
    "ORDER BY n.n_name"
)

register(
    "stat_hhi_concentration",
    engine=_HHI_SQL,
    oracle=_HHI_SQL,
    category="statistics",
    suite="extension",
    doc=(
        "Herfindahl-Hirschman concentration of customer spend per "
        "nation: integer-cents spend sums, share squares from "
        "bit-identical operands, two key joins + partial aggregates"
    ),
)


# -- week-over-week growth ------------------------------------------------------

# WoW change per metric group: weekly integer counts (DATE_TRUNC('week')
# is Monday-anchored on both engines), LAG over the type-partitioned
# weekly rollup, growth from exact integer operands. The dashboard
# staple next to ts_dow_profile.

_WOW_SQL = (
    "WITH w AS (\n"
    "  SELECT event_type, DATE_TRUNC('week', ts) AS wk,\n"
    "    CAST(COUNT(*) AS BIGINT) AS n\n"
    "  FROM events GROUP BY 1, 2)\n"
    "SELECT event_type, CAST(wk AS DATE) AS week_start, n,\n"
    "  LAG(n) OVER (PARTITION BY event_type ORDER BY wk) AS prev_n,\n"
    "  CAST(ROUND((n - LAG(n) OVER (PARTITION BY event_type"
    " ORDER BY wk))\n"
    "    / CAST(LAG(n) OVER (PARTITION BY event_type ORDER BY wk)"
    " AS DOUBLE), 6) AS DOUBLE) AS wow_change\n"
    "FROM w ORDER BY event_type, wk"
)

register(
    "ts_wow_change",
    engine=_WOW_SQL,
    oracle=_WOW_SQL,
    category="timeseries",
    suite="extension",
    doc=(
        "week-over-week growth per metric group: Monday-anchored weekly "
        "integer counts, type-partitioned LAG, exact-operand ratios"
    ),
)


# -- five-number summary / IQR outlier profile ----------------------------------

# Boxplot statistics per metric group: exact-interpolation quartiles
# (Spark PERCENTILE == DuckDB QUANTILE_CONT, the ts_theilsen_trend
# pairing), IQR fences from those quartiles, and outlier counts from
# exact comparisons of 2-dp fixture values against 6-dp-pinned fences.
# One partial-aggregable pass for the quantiles + one broadcast-joined
# counting pass — the dashboard distribution panel.

register(
    "stat_boxplot_iqr",
    engine=(
        "WITH q AS (\n"
        "  SELECT event_type,\n"
        "    CAST(ROUND(PERCENTILE(value, 0.25), 6) AS DOUBLE) AS q1,\n"
        "    CAST(ROUND(PERCENTILE(value, 0.5), 6) AS DOUBLE)"
        " AS median,\n"
        "    CAST(ROUND(PERCENTILE(value, 0.75), 6) AS DOUBLE) AS q3\n"
        "  FROM events WHERE value IS NOT NULL GROUP BY 1)\n"
        "SELECT e.event_type, q.q1, q.median, q.q3,\n"
        "  CAST(ROUND(q.q3 - q.q1, 6) AS DOUBLE) AS iqr,\n"
        "  CAST(SUM(CASE WHEN e.value < q.q1 - 1.5 * (q.q3 - q.q1)\n"
        "    OR e.value > q.q3 + 1.5 * (q.q3 - q.q1) THEN 1 ELSE 0 END)"
        " AS BIGINT) AS n_outliers,\n"
        "  CAST(COUNT(*) AS BIGINT) AS n\n"
        "FROM events e JOIN q ON e.event_type = q.event_type\n"
        "WHERE e.value IS NOT NULL\n"
        "GROUP BY e.event_type, q.q1, q.median, q.q3\n"
        "ORDER BY e.event_type"
    ),
    oracle=(
        "WITH q AS (\n"
        "  SELECT event_type,\n"
        "    CAST(ROUND(QUANTILE_CONT(value, 0.25), 6) AS DOUBLE) AS q1,\n"
        "    CAST(ROUND(QUANTILE_CONT(value, 0.5), 6) AS DOUBLE)"
        " AS median,\n"
        "    CAST(ROUND(QUANTILE_CONT(value, 0.75), 6) AS DOUBLE) AS q3\n"
        "  FROM events WHERE value IS NOT NULL GROUP BY 1)\n"
        "SELECT e.event_type, q.q1, q.median, q.q3,\n"
        "  CAST(ROUND(q.q3 - q.q1, 6) AS DOUBLE) AS iqr,\n"
        "  CAST(SUM(CASE WHEN e.value < q.q1 - 1.5 * (q.q3 - q.q1)\n"
        "    OR e.value > q.q3 + 1.5 * (q.q3 - q.q1) THEN 1 ELSE 0 END)"
        " AS BIGINT) AS n_outliers,\n"
        "  CAST(COUNT(*) AS BIGINT) AS n\n"
        "FROM events e JOIN q ON e.event_type = q.event_type\n"
        "WHERE e.value IS NOT NULL\n"
        "GROUP BY e.event_type, q.q1, q.median, q.q3\n"
        "ORDER BY e.event_type"
    ),
    category="statistics",
    suite="extension",
    doc=(
        "boxplot five-number summary + IQR outlier counts per metric "
        "group: exact-interpolation quartiles (PERCENTILE vs "
        "QUANTILE_CONT), 6-dp-pinned fences, type-bounded quartile join"
    ),
)


# -- degree distribution of the strong-tie backbone -----------------------------


def _degree_dist_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the supplier backbone: node count per
    degree — the first diagnostic of any co-occurrence graph (hub
    detection, power-law sanity, orientation-bound checks for the
    triangle counter). Degree table is one partial aggregate over the
    (pinned) edge list; the distribution is a second
    ~|distinct degrees|-key aggregate."""
    backbone = _supplier_backbone(spark, sf_dir)
    und = backbone.unionByName(
        backbone.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    return (
        deg.groupBy("deg")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("deg")
    )


register(
    "net_degree_dist",
    engine_fn=_degree_dist_fn,
    oracle=(
        "WITH " + _BACKBONE_SQL + ",\n"
        "und AS (SELECT u, v FROM bb UNION ALL SELECT v, u FROM bb),\n"
        "d AS (SELECT u, COUNT(*) AS deg FROM und GROUP BY u)\n"
        "SELECT CAST(deg AS BIGINT) AS deg,\n"
        "  CAST(COUNT(*) AS BIGINT) AS n_nodes\n"
        "FROM d GROUP BY deg ORDER BY deg"
    ),
    category="graph",
    suite="extension",
    doc=(
        "degree distribution of the strong-tie backbone: two partial "
        "aggregates over the pinned edge list — hub/power-law "
        "diagnostic for the graph panel"
    ),
)


# -- seasonal-naive forecast evaluation (round 7) -------------------------------

# The baseline every forecasting pipeline is judged against: forecast(d) =
# actual(d - 7 observations) per event type (weekly seasonality), scored
# on the last 14 days. Per-day sMAPE terms instead of an aggregated score:
# every output value is scalar arithmetic on two integers — no
# order-dependent fp aggregation anywhere, so the twin is bit-exact.
# LAG(7) counts OBSERVED days (the fixture's daily series is dense; a
# sparse series would re-index first — ts_stl_decompose's contract).
_SEASONAL_NAIVE_SQL = (
    "WITH d AS (SELECT event_type, CAST(DATE_TRUNC('day', ts) AS DATE)"
    " AS day,\n"
    "    CAST(COUNT(*) AS BIGINT) AS n\n"
    "  FROM events GROUP BY 1, 2),\n"
    "l AS (SELECT event_type, day, n,\n"
    "    LAG(n, 7) OVER (PARTITION BY event_type ORDER BY day) AS fc,\n"
    "    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day DESC)"
    " AS rn\n"
    "  FROM d)\n"
    "SELECT event_type, day, n AS actual, CAST(fc AS BIGINT) AS forecast,\n"
    "  CAST(ROUND(2.0 * ABS(n - fc) / (n + fc), 6) AS DOUBLE)"
    " AS smape_term\n"
    "FROM l WHERE rn <= 14 AND fc IS NOT NULL\n"
    "ORDER BY event_type, day"
)

register(
    "ts_seasonal_naive",
    engine=_SEASONAL_NAIVE_SQL,
    oracle=_SEASONAL_NAIVE_SQL,
    category="timeseries",
    suite="extension",
    doc=(
        "seasonal-naive (lag-7) forecast vs actuals with per-day sMAPE "
        "terms over the last 14 days per event type: one daily rollup + "
        "type-partitioned LAG — the baseline score every forecaster must "
        "beat; exact-integer operands, no order-dependent aggregation"
    ),
)


# -- Page one-sided CUSUM alarms (round 7) --------------------------------------


def _page_cusum_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM changepoint detector on the daily count series per
    event type: s_d = max(0, s_{d-1} + (n_d - mu)), alarm when s exceeds
    mu/2 — the sustained-upward-shift monitor (Page 1954) that a
    point-in-time z-score (ts_burst_zscore) cannot replace.

    CUSUM is inherently SEQUENTIAL (each s depends on the previous), so
    it cannot be a window frame; but the series is the DAILY ROLLUP —
    time-range-bounded, ~40 rows per type — so each type's series
    collapses to one array and the recursion runs as an order-pinned
    aggregate fold over it (the same resample-first contract as ts_acf:
    the corpus-sized pass is the rollup, the sequential part is
    domain-sized). The DuckDB twin executes the identical recursion as a
    recursive CTE stepping rn -> rn+1, so every s is derived from the
    same left-to-right operation sequence — bit-identical before the
    6-dp round. mu is AVG of integers (exact sum, one division —
    order-independent on both engines).
    """
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_trunc("day", "ts").cast("date").alias("day"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    m = d.groupBy("event_type").agg(F.avg("n").alias("mu"))
    series = (
        d.groupBy("event_type")
        .agg(F.array_sort(F.collect_list(F.struct("day", "n"))).alias("ser"))
        .join(m, "event_type")
    )
    # Sequential fold: accumulator carries (last s, all s values so far).
    folded = series.select(
        "event_type",
        "mu",
        F.col("ser.day").alias("days"),
        F.aggregate(
            F.col("ser.n"),
            F.struct(
                F.lit(0.0).alias("s"),
                F.array().cast("array<double>").alias("out"),
            ),
            lambda acc, n: F.struct(
                F.greatest(F.lit(0.0), acc.s + (n - F.col("mu"))).alias("s"),
                F.concat(
                    acc.out,
                    F.array(
                        F.greatest(F.lit(0.0), acc.s + (n - F.col("mu")))
                    ),
                ).alias("out"),
            ),
            lambda acc: acc.out,
        ).alias("cusums"),
    )
    return (
        folded.select(
            "event_type",
            "mu",
            F.posexplode(F.arrays_zip("days", "cusums")).alias("_i", "z"),
        )
        .select(
            "event_type",
            F.col("z.days").alias("day"),
            F.round(F.col("z.cusums"), 6).cast("double").alias("cusum"),
            (F.col("z.cusums") > 0.5 * F.col("mu")).alias("alarm"),
        )
        .orderBy("event_type", "day")
    )


register(
    "ts_page_cusum",
    engine_fn=_page_cusum_fn,
    oracle=(
        "WITH RECURSIVE d AS (\n"
        "  SELECT event_type, CAST(DATE_TRUNC('day', ts) AS DATE) AS day,\n"
        "    COUNT(*) AS n,\n"
        "    ROW_NUMBER() OVER (PARTITION BY event_type\n"
        "      ORDER BY CAST(DATE_TRUNC('day', ts) AS DATE)) AS rn\n"
        "  FROM events GROUP BY 1, 2),\n"
        "m AS (SELECT event_type, AVG(n) AS mu FROM d GROUP BY 1),\n"
        "c AS (\n"
        "  SELECT d.event_type, d.rn, d.day,\n"
        "    GREATEST(0.0, d.n - m.mu) AS s, m.mu\n"
        "  FROM d JOIN m USING (event_type) WHERE d.rn = 1\n"
        "  UNION ALL\n"
        "  SELECT d.event_type, d.rn, d.day,\n"
        "    GREATEST(0.0, c.s + (d.n - c.mu)) AS s, c.mu\n"
        "  FROM c JOIN d ON d.event_type = c.event_type"
        " AND d.rn = c.rn + 1)\n"
        "SELECT event_type, day,\n"
        "  CAST(ROUND(s, 6) AS DOUBLE) AS cusum, s > 0.5 * mu AS alarm\n"
        "FROM c ORDER BY event_type, day"
    ),
    category="timeseries",
    suite="extension",
    doc=(
        "one-sided CUSUM changepoint detection per event type (Page "
        "1954): corpus pass = daily rollup; the inherently-sequential "
        "recursion folds over the time-range-bounded series, twin = "
        "recursive CTE stepping the same sequence — bit-identical"
    ),
)


# -- Adamic-Adar link prediction (round 8) -------------------------------------


def _adamic_adar_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction on the strong-tie supplier backbone:
    for NON-adjacent pairs, AA(a,b) = sum over common neighbors z of
    1/ln(deg(z)) — the common-neighbor count reweighted so that sharing
    a RARE neighbor says more than sharing a hub (Adamic & Adar, Social
    Networks 2003). Same plan skeleton as net_common_neighbors: wedge
    join (disjoint pairs never meet), midpoint degree joined in BEFORE
    the pair aggregate so each wedge carries its own 1/ln(deg) term,
    anti-join removes known edges, TakeOrdered top-20. The per-pair sum
    has at most min-degree terms (bounded by backbone degree); both
    engines sum doubles in arbitrary order but terms are O(1) counts of
    magnitude ~1, so the 6-dp pin is far above the fp noise floor.
    """
    backbone = _supplier_backbone(spark, sf_dir)
    und = backbone.unionByName(
        backbone.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    e1 = und.select(F.col("u").alias("x"), F.col("v").alias("a"))
    e2 = und.select(F.col("u").alias("x"), F.col("v").alias("b"))
    wedges = (
        e1.join(e2, "x")
        .where(F.col("a") < F.col("b"))
        .join(deg.select(F.col("u").alias("x"), "deg"), "x")
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.sum(F.lit(1.0) / F.log(F.col("deg"))).alias("aa_raw"),
        )
    )
    cand = wedges.join(
        backbone,
        (wedges.a == backbone.u) & (wedges.b == backbone.v),
        "anti",
    )
    return (
        cand.select(
            "a",
            "b",
            "common",
            F.round("aa_raw", 6).cast("double").alias("adamic_adar"),
        )
        .orderBy(F.col("adamic_adar").desc(), F.col("common").desc(), "a", "b")
        .limit(20)
    )


register(
    "net_adamic_adar",
    engine_fn=_adamic_adar_fn,
    oracle=(
        "WITH " + _BACKBONE_SQL + ",\n"
        "und AS (SELECT u, v FROM bb UNION ALL SELECT v, u FROM bb),\n"
        "d AS (SELECT u, COUNT(*) AS deg FROM und GROUP BY u),\n"
        "w AS (\n"
        "  SELECT e1.v AS a, e2.v AS b, COUNT(*) AS common,\n"
        "    SUM(1.0 / LN(dd.deg)) AS aa_raw\n"
        "  FROM und e1 JOIN und e2 ON e1.u = e2.u AND e1.v < e2.v\n"
        "  JOIN d dd ON dd.u = e1.u\n"
        "  GROUP BY 1, 2),\n"
        "cand AS (\n"
        "  SELECT a, b, common, aa_raw FROM w\n"
        "  WHERE NOT EXISTS (SELECT 1 FROM bb"
        " WHERE bb.u = w.a AND bb.v = w.b))\n"
        "SELECT a, b, common,\n"
        "  CAST(ROUND(aa_raw, 6) AS DOUBLE) AS adamic_adar\n"
        "FROM cand\n"
        "ORDER BY adamic_adar DESC, common DESC, a, b LIMIT 20"
    ),
    category="graph",
    suite="extension",
    doc=(
        "Adamic-Adar link prediction on the strong-tie backbone: wedge "
        "join with midpoint-degree reweighting (1/ln deg), anti-join on "
        "known edges, TakeOrdered top-20"
    ),
)


# -- Mann-Kendall trend test (round 8) ------------------------------------------


def _mann_kendall_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall non-parametric trend test per event type (Mann 1945,
    Kendall 1975) over the daily mean-value series — the
    distribution-free "is this metric drifting?" test a monitoring
    pipeline runs on every KPI. S = sum over day pairs i<j of
    sign(m_j - m_i) is EXACT integers (no fp order dependence at all);
    tau = S / (n(n-1)/2) and the tie-corrected normal approximation
    z = (S -/+ 1)/sqrt((n(n-1)(2n+5) - sum t(t-1)(2t+5))/18) divide/root
    exact integers, so both engines compute bit-identical doubles before
    the 6-dp pin. Corpus pass = the daily rollup; the pair join runs
    over the time-range-bounded series (n days ^2 per type), the same
    domain-bounded-recursion posture as ts_acf/ts_page_cusum.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("value").isNotNull())
        .groupBy("event_type", F.date_trunc("day", "ts").alias("d"))
        .agg(F.round(F.avg("value"), 6).alias("m"))
    )
    d1 = daily.select(
        "event_type", F.col("d").alias("d1"), F.col("m").alias("m1")
    )
    d2 = daily.select(
        "event_type", F.col("d").alias("d2"), F.col("m").alias("m2")
    )
    s = (
        d1.join(d2, "event_type")
        .where(F.col("d1") < F.col("d2"))
        .groupBy("event_type")
        .agg(
            F.sum(F.signum(F.col("m2") - F.col("m1")).cast("long")).alias("s")
        )
    )
    n = daily.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    ties = (
        daily.groupBy("event_type", "m")
        .agg(F.count(F.lit(1)).alias("t"))
        .where(F.col("t") > 1)
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tt")
        )
    )
    var_s = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tt")
    ) / F.lit(18.0)
    return (
        s.join(n, "event_type")
        .join(ties, "event_type", "left")
        .withColumn("tt", F.coalesce("tt", F.lit(0)))
        .withColumn("var_s", var_s)
        .select(
            "event_type",
            "n",
            F.col("s").cast("long").alias("s"),
            F.round(
                F.col("s") / (F.col("n") * (F.col("n") - 1) / F.lit(2.0)), 6
            )
            .cast("double")
            .alias("tau"),
            F.round(
                F.when(
                    F.col("s") > 0, (F.col("s") - 1) / F.sqrt("var_s")
                )
                .when(F.col("s") < 0, (F.col("s") + 1) / F.sqrt("var_s"))
                .otherwise(F.lit(0.0)),
                6,
            )
            .cast("double")
            .alias("z"),
        )
        .orderBy("event_type")
    )


register(
    "ts_mann_kendall",
    engine_fn=_mann_kendall_fn,
    oracle=(
        "WITH daily AS (\n"
        "  SELECT event_type, DATE_TRUNC('day', ts) AS d,\n"
        "    ROUND(AVG(value), 6) AS m\n"
        "  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),\n"
        "s AS (SELECT a.event_type,\n"
        "        CAST(SUM(SIGN(b.m - a.m)) AS BIGINT) AS s\n"
        "      FROM daily a JOIN daily b\n"
        "        ON a.event_type = b.event_type AND a.d < b.d\n"
        "      GROUP BY 1),\n"
        "n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n\n"
        "      FROM daily GROUP BY 1),\n"
        "tt AS (SELECT event_type,\n"
        "         CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tt\n"
        "       FROM (SELECT event_type, m, COUNT(*) AS t FROM daily\n"
        "             GROUP BY 1, 2) q\n"
        "       WHERE t > 1 GROUP BY 1)\n"
        "SELECT s.event_type, n.n, s.s,\n"
        "  CAST(ROUND(s.s / (n.n * (n.n - 1) / 2.0), 6) AS DOUBLE) AS tau,\n"
        "  CAST(ROUND(CASE\n"
        "    WHEN s.s > 0 THEN (s.s - 1) / SQRT((n.n * (n.n - 1)"
        " * (2 * n.n + 5) - COALESCE(tt.tt, 0)) / 18.0)\n"
        "    WHEN s.s < 0 THEN (s.s + 1) / SQRT((n.n * (n.n - 1)"
        " * (2 * n.n + 5) - COALESCE(tt.tt, 0)) / 18.0)\n"
        "    ELSE 0.0 END, 6) AS DOUBLE) AS z\n"
        "FROM s JOIN n USING (event_type)\n"
        "LEFT JOIN tt USING (event_type)\n"
        "ORDER BY s.event_type"
    ),
    category="timeseries",
    suite="extension",
    doc=(
        "Mann-Kendall trend test per event type (exact-integer S, tau, "
        "tie-corrected z) over the daily mean series: corpus pass = "
        "daily rollup, pair join bounded by time range squared"
    ),
)


# -- Jensen-Shannon drift (round 8) ---------------------------------------------


def _jensen_shannon_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence report between the reference and
    current cohorts' value distributions (even vs odd user_id — an
    A/B-cohort drift check populated at every SF, unlike a date split) —
    the bounded, symmetric sibling of stat_psi_drift (JS is finite even when a bucket empties
    on one side, where PSI/KL blow up; it is the drift metric of choice
    when new data can open new buckets). Same single-scan shape as PSI:
    shared equi-width buckets from global bounds (1-row broadcast), one
    conditional aggregate for both periods, then PER-BUCKET terms
    js_term = 0.5 p ln(p/m) + 0.5 q ln(q/m), m = (p+q)/2 — emitting the
    terms (not the fp-order-dependent global sum) keeps the hash compare
    deterministic, and the caller's sum is one k-row fold. NULL values
    are excluded like every sibling drift/stat query (r8 advice: a NULL
    bucket deflates every probability by the null mass and is not part
    of the value distribution being compared).
    """
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    b = ev.agg(
        F.min("value").alias("mn"), F.max("value").alias("mx")
    )
    bucketed = ev.crossJoin(F.broadcast(b)).select(
        F.least(
            (
                F.floor(
                    (F.col("value") - F.col("mn"))
                    / ((F.col("mx") - F.col("mn")) / F.lit(10.0))
                )
            ).cast("int")
            + 1,
            F.lit(10),
        ).alias("bucket"),
        F.when(F.col("user_id") % 2 == 0, "ref")
        .otherwise("cur")
        .alias("period"),
    )
    counts = bucketed.groupBy("bucket").agg(
        F.sum(F.when(F.col("period") == "ref", 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("period") == "cur", 1).otherwise(0)).alias("n_cur"),
    )
    tot = counts.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    p = F.col("n_ref") / F.col("t_ref")
    q = F.col("n_cur") / F.col("t_cur")
    m = (p + q) / F.lit(2.0)
    term = F.when(F.col("n_ref") > 0, F.lit(0.5) * p * F.log(p / m)).otherwise(
        F.lit(0.0)
    ) + F.when(F.col("n_cur") > 0, F.lit(0.5) * q * F.log(q / m)).otherwise(
        F.lit(0.0)
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.col("n_ref").cast("long").alias("n_ref"),
            F.col("n_cur").cast("long").alias("n_cur"),
            F.round(term, 6).cast("double").alias("js_term"),
        )
        .orderBy("bucket")
    )


register(
    "stat_jensen_shannon",
    engine_fn=_jensen_shannon_fn,
    oracle=(
        "WITH b AS (SELECT MIN(value) AS mn, MAX(value) AS mx FROM events),\n"
        "bucketed AS (SELECT\n"
        "    LEAST(CAST(FLOOR((value - mn) / ((mx - mn) / 10.0)) AS INT)"
        " + 1, 10) AS bucket,\n"
        "    CASE WHEN user_id % 2 = 0 THEN 'ref'"
        " ELSE 'cur' END AS period\n"
        "  FROM events CROSS JOIN b WHERE value IS NOT NULL),\n"
        "counts AS (SELECT bucket,\n"
        "    SUM(CASE WHEN period = 'ref' THEN 1 ELSE 0 END) AS n_ref,\n"
        "    SUM(CASE WHEN period = 'cur' THEN 1 ELSE 0 END) AS n_cur\n"
        "  FROM bucketed GROUP BY bucket),\n"
        "tot AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur"
        " FROM counts)\n"
        "SELECT bucket, CAST(n_ref AS BIGINT) AS n_ref,\n"
        "  CAST(n_cur AS BIGINT) AS n_cur,\n"
        "  CAST(ROUND(\n"
        "    CASE WHEN n_ref > 0 THEN 0.5 * (n_ref / t_ref)"
        " * LN((n_ref / t_ref) / (((n_ref / t_ref) + (n_cur / t_cur))"
        " / 2.0)) ELSE 0.0 END\n"
        "    + CASE WHEN n_cur > 0 THEN 0.5 * (n_cur / t_cur)"
        " * LN((n_cur / t_cur) / (((n_ref / t_ref) + (n_cur / t_cur))"
        " / 2.0)) ELSE 0.0 END, 6) AS DOUBLE) AS js_term\n"
        "FROM counts CROSS JOIN tot\n"
        "ORDER BY bucket"
    ),
    category="stats",
    suite="extension",
    doc=(
        "Jensen-Shannon drift report (per-bucket terms, ref vs current "
        "period): single-scan conditional aggregate over shared "
        "equi-width buckets, finite even where PSI diverges"
    ),
)


# -- Spearman rank correlation (round 8) -----------------------------------------


def _spearman_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between the daily mean values of two
    event series (click vs purchase) — the monotone-association check
    that is robust where Pearson (ts_rolling_corr) assumes linearity.
    Exact-arithmetic construction: average-tie ranks come from a
    bounded self-join (r(x) = #\\{y < x\\} + (#\\{y = x\\} + 1)/2 — no
    window, no one_group), so every rank is a dyadic rational; the five
    Pearson sums over ranks are exact in float64 (halves/quarters well
    under 2^53), making rho = (n S_xy - S_x S_y) /
    (sqrt(n S_xx - S_x^2) sqrt(n S_yy - S_y^2)) bit-identical across
    engines before the 6-dp pin. Corpus pass = the daily rollup; the
    rank join is days^2, time-range-bounded.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.where(
            F.col("value").isNotNull()
            & F.col("event_type").isin("click", "purchase")
        )
        .groupBy("event_type", F.date_trunc("day", "ts").alias("d"))
        .agg(F.round(F.avg("value"), 6).alias("m"))
    )
    wide = (
        daily.groupBy("d")
        .pivot("event_type", ["click", "purchase"])
        .agg(F.first("m"))
        .where(F.col("click").isNotNull() & F.col("purchase").isNotNull())
        .select("d", F.col("click").alias("x"), F.col("purchase").alias("y"))
    )

    def rank_of(col: str, out: str):
        a = wide.select(F.col("d"), F.col(col).alias("v"))
        b = wide.select(F.col(col).alias("w"))
        return (
            a.crossJoin(b)
            .groupBy("d")
            .agg(
                (
                    F.sum((F.col("w") < F.col("v")).cast("long"))
                    + (F.sum((F.col("w") == F.col("v")).cast("long")) + 1)
                    / F.lit(2.0)
                ).alias(out)
            )
        )

    ranked = (
        wide.select("d")
        .join(rank_of("x", "rx"), "d")
        .join(rank_of("y", "ry"), "d")
    )
    sums = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
    )
    rho = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return sums.select(
        F.col("n").cast("long").alias("n_days"),
        F.round(rho, 6).cast("double").alias("spearman_rho"),
    )


register(
    "stat_spearman",
    engine_fn=_spearman_fn,
    oracle=(
        "WITH daily AS (\n"
        "  SELECT event_type, DATE_TRUNC('day', ts) AS d,\n"
        "    ROUND(AVG(value), 6) AS m\n"
        "  FROM events WHERE value IS NOT NULL\n"
        "    AND event_type IN ('click', 'purchase') GROUP BY 1, 2),\n"
        "wide AS (\n"
        "  SELECT c.d, c.m AS x, p.m AS y\n"
        "  FROM (SELECT d, m FROM daily WHERE event_type = 'click') c\n"
        "  JOIN (SELECT d, m FROM daily WHERE event_type = 'purchase') p\n"
        "    USING (d)),\n"
        "rk AS (\n"
        "  SELECT a.d,\n"
        "    (SELECT COUNT(*) FROM wide b WHERE b.x < a.x)\n"
        "      + ((SELECT COUNT(*) FROM wide b WHERE b.x = a.x) + 1) / 2.0"
        " AS rx,\n"
        "    (SELECT COUNT(*) FROM wide b WHERE b.y < a.y)\n"
        "      + ((SELECT COUNT(*) FROM wide b WHERE b.y = a.y) + 1) / 2.0"
        " AS ry\n"
        "  FROM wide a),\n"
        "s AS (SELECT COUNT(*) AS n, SUM(rx) AS sx, SUM(ry) AS sy,\n"
        "        SUM(rx * ry) AS sxy, SUM(rx * rx) AS sxx,\n"
        "        SUM(ry * ry) AS syy FROM rk)\n"
        "SELECT CAST(n AS BIGINT) AS n_days,\n"
        "  CAST(ROUND((n * sxy - sx * sy)\n"
        "    / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)), 6)"
        " AS DOUBLE) AS spearman_rho\n"
        "FROM s"
    ),
    category="stats",
    suite="extension",
    doc=(
        "Spearman rank correlation of click vs purchase daily means: "
        "average-tie ranks via bounded self-join (exact dyadic "
        "rationals), five exact Pearson sums, one pinned rho"
    ),
)


# -- Holt-Winters additive smoothing (round 8) -----------------------------------


def _holt_winters_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (level + trend + 7-day seasonality;
    alpha=0.5, beta=0.3, gamma=0.2) one-step-ahead fit over the daily
    count series per event type — the seasonal upgrade of ts_holt_trend
    and the forecasting backbone of capacity planning on weekly-cycled
    traffic. Triple-coupled recursion (l, b, and a 7-slot seasonal ring)
    is inherently sequential, so it runs as the order-pinned aggregate
    fold over the time-range-bounded daily series (ts_page_cusum
    contract: the corpus-sized pass is the rollup). Init is exact
    integer arithmetic (l0 = y1, b0 = 0, s_i = y_i - y1), every step is
    the identical left-to-right expression sequence the recursive-CTE
    twin executes, so l/b/s/yhat are bit-identical across engines
    before the 6-dp pin. Types with < 8 days emit nothing (no seasonal
    ring to seed).
    """
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_trunc("day", "ts").cast("date").alias("day"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    series = (
        d.groupBy("event_type")
        .agg(F.array_sort(F.collect_list(F.struct("day", "n"))).alias("ser"))
        .where(F.size("ser") >= 8)
    )
    ys = F.transform(F.col("ser.n"), lambda x: x.cast("double"))
    y1 = F.element_at(ys, 1)
    prepped = series.select(
        "event_type",
        F.col("ser.day").alias("days"),
        ys.alias("ys"),
        F.transform(F.slice(ys, 1, 7), lambda y: y - y1).alias("s0"),
        y1.alias("l0"),
    )
    s1 = lambda acc: F.element_at(acc.s, 1)  # noqa: E731 — oldest season slot
    lnew = lambda acc, y: (  # noqa: E731
        F.lit(0.5) * (y - s1(acc)) + F.lit(0.5) * (acc.l + acc.b)
    )
    folded = prepped.select(
        "event_type",
        F.slice(F.col("days"), 8, F.size("days") - 7).alias("days_out"),
        F.slice(F.col("ys"), 8, F.size("ys") - 7).alias("ys_out"),
        F.aggregate(
            F.slice(F.col("ys"), 8, F.size("ys") - 7),
            F.struct(
                F.col("l0").alias("l"),
                F.lit(0.0).alias("b"),
                F.col("s0").alias("s"),
                F.array().cast("array<double>").alias("out"),
            ),
            lambda acc, y: F.struct(
                lnew(acc, y).alias("l"),
                (
                    F.lit(0.3) * (lnew(acc, y) - acc.l) + F.lit(0.7) * acc.b
                ).alias("b"),
                F.concat(
                    F.slice(acc.s, 2, 6),
                    F.array(
                        F.lit(0.2) * (y - lnew(acc, y))
                        + F.lit(0.8) * s1(acc)
                    ),
                ).alias("s"),
                F.concat(
                    acc.out, F.array(acc.l + acc.b + s1(acc))
                ).alias("out"),
            ),
            lambda acc: acc.out,
        ).alias("yhats"),
    )
    z = F.posexplode(F.arrays_zip("days_out", "ys_out", "yhats"))
    return (
        folded.select("event_type", z.alias("_i", "z"))
        .select(
            "event_type",
            F.col("z.days_out").alias("day"),
            F.col("z.ys_out").cast("long").alias("y"),
            F.round(F.col("z.yhats"), 6).cast("double").alias("yhat"),
            F.round(F.col("z.ys_out") - F.col("z.yhats"), 6)
            .cast("double")
            .alias("resid"),
        )
        .orderBy("event_type", "day")
    )


_HW_LNEW = "0.5 * (s.y - r.s1) + 0.5 * (r.l + r.b)"

register(
    "ts_holt_winters",
    engine_fn=_holt_winters_fn,
    oracle=(
        "WITH RECURSIVE d AS (\n"
        "  SELECT event_type, CAST(DATE_TRUNC('day', ts) AS DATE) AS day,\n"
        "    COUNT(*) AS n FROM events GROUP BY 1, 2),\n"
        "ser AS (SELECT event_type, day, CAST(n AS DOUBLE) AS y,\n"
        "  ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn\n"
        "  FROM d),\n"
        "init AS (\n"
        "  SELECT event_type, 7 AS rn,\n"
        # CAST the b seed: a bare 0.0 literal is DECIMAL(1,1) in DuckDB
        # and the recursive UNION then runs the whole trend recursion in
        # 1-dp decimal arithmetic (b8 = -3.2 instead of -3.15).
        "    MAX(CASE WHEN rn = 1 THEN y END) AS l,"
        " CAST(0.0 AS DOUBLE) AS b,\n"
        + "".join(
            f"    MAX(CASE WHEN rn = {i} THEN y END)"
            " - MAX(CASE WHEN rn = 1 THEN y END) AS s{},\n".format(i).format()
            for i in range(1, 8)
        )
        + "    CAST(NULL AS DATE) AS day, CAST(NULL AS DOUBLE) AS y,\n"
        "    CAST(NULL AS DOUBLE) AS yhat\n"
        "  FROM ser WHERE rn <= 7 GROUP BY event_type\n"
        "  HAVING COUNT(*) = 7),\n"
        "rec AS (\n"
        "  SELECT * FROM init\n"
        "  UNION ALL\n"
        "  SELECT r.event_type, s.rn,\n"
        f"    {_HW_LNEW} AS l,\n"
        f"    0.3 * (({_HW_LNEW}) - r.l) + 0.7 * r.b AS b,\n"
        "    r.s2 AS s1, r.s3 AS s2, r.s4 AS s3, r.s5 AS s4,\n"
        "    r.s6 AS s5, r.s7 AS s6,\n"
        f"    0.2 * (s.y - ({_HW_LNEW})) + 0.8 * r.s1 AS s7,\n"
        "    s.day, s.y, r.l + r.b + r.s1 AS yhat\n"
        "  FROM rec r JOIN ser s\n"
        "    ON s.event_type = r.event_type AND s.rn = r.rn + 1)\n"
        "SELECT event_type, day, CAST(y AS BIGINT) AS y,\n"
        "  CAST(ROUND(yhat, 6) AS DOUBLE) AS yhat,\n"
        "  CAST(ROUND(y - yhat, 6) AS DOUBLE) AS resid\n"
        "FROM rec WHERE rn >= 8 ORDER BY event_type, day"
    ),
    category="timeseries",
    suite="extension",
    doc=(
        "additive Holt-Winters fit (level+trend+7-day season) per event "
        "type: inherently-sequential triple recursion folded over the "
        "domain-bounded daily series, bit-identical vs a recursive-CTE "
        "twin stepping the same expressions"
    ),
)


# -- local clustering coefficient (round 8) ---------------------------------------


def _local_clustering_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient on the strong-tie backbone:
    lcc(v) = 2 T(v) / (deg(v) (deg(v)-1)) where T(v) counts edges
    between v's neighbors — the node-level companion of net_triangles'
    GLOBAL coefficient (Watts & Strogatz 1998), the feature that
    separates hub-of-a-clique from hub-of-a-star in graph-shaped
    curation (e.g. spotting link farms in a crawl graph). Plan: wedge
    join per midpoint (bounded by backbone degree), closure check is an
    equi-join against the edge list, then exact-integer division — no
    floats until the pinned ratio. Nodes of degree < 2 are excluded
    (lcc undefined).
    """
    backbone = _supplier_backbone(spark, sf_dir)
    und = backbone.unionByName(
        backbone.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    e1 = und.select(F.col("u").alias("x"), F.col("v").alias("a"))
    e2 = und.select(F.col("u").alias("x"), F.col("v").alias("b"))
    wedges = e1.join(e2, "x").where(F.col("a") < F.col("b"))
    tri = (
        wedges.join(
            backbone,
            (wedges.a == backbone.u) & (wedges.b == backbone.v),
            "semi",
        )
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    return (
        deg.where(F.col("deg") >= 2)
        .join(tri, deg.u == tri.x, "left")
        .select(
            F.col("u").alias("node"),
            F.col("deg").cast("long").alias("deg"),
            F.coalesce(F.col("t"), F.lit(0)).cast("long").alias("tri"),
            F.round(
                F.lit(2.0) * F.coalesce(F.col("t"), F.lit(0))
                / (F.col("deg") * (F.col("deg") - 1)),
                6,
            )
            .cast("double")
            .alias("lcc"),
        )
        .orderBy("node")
    )


register(
    "net_local_clustering",
    engine_fn=_local_clustering_fn,
    oracle=(
        "WITH " + _BACKBONE_SQL + ",\n"
        "und AS (SELECT u, v FROM bb UNION ALL SELECT v, u FROM bb),\n"
        "d AS (SELECT u, COUNT(*) AS deg FROM und GROUP BY u),\n"
        "tri AS (\n"
        "  SELECT e1.u AS x, COUNT(*) AS t\n"
        "  FROM und e1 JOIN und e2 ON e1.u = e2.u AND e1.v < e2.v\n"
        "  WHERE EXISTS (SELECT 1 FROM bb"
        " WHERE bb.u = e1.v AND bb.v = e2.v)\n"
        "  GROUP BY 1)\n"
        "SELECT d.u AS node, CAST(d.deg AS BIGINT) AS deg,\n"
        "  CAST(COALESCE(tri.t, 0) AS BIGINT) AS tri,\n"
        "  CAST(ROUND(2.0 * COALESCE(tri.t, 0)"
        " / (d.deg * (d.deg - 1)), 6) AS DOUBLE) AS lcc\n"
        "FROM d LEFT JOIN tri ON tri.x = d.u\n"
        "WHERE d.deg >= 2 ORDER BY node"
    ),
    category="graph",
    suite="extension",
    doc=(
        "per-node local clustering coefficient on the strong-tie "
        "backbone: wedge join + edge-closure semi-join, exact-integer "
        "triangle/degree counts to the pinned ratio"
    ),
)


# -- Wilcoxon signed-rank test (round 8) ------------------------------------------


def _wilcoxon_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on the PAIRED daily means of click vs
    purchase values (Wilcoxon 1945) — the non-parametric paired
    counterpart of stat_welch_ttest, asking "is one series
    systematically above the other, day by day?" without normality.
    Same exact-arithmetic construction as stat_spearman: average-tie
    ranks of |d| come from a bounded self-join over the daily rollup
    (dyadic-rational ranks, exact sums in float64), W+ sums the ranks
    of positive differences, and the tie-corrected normal approximation
    z = (W+ - n(n+1)/4) / sqrt(n(n+1)(2n+1)/24 - sum t(t^3-t)/48... )
    divides exact values — bit-identical across engines before the
    6-dp pin. Zero differences are dropped (standard practice).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.where(
            F.col("value").isNotNull()
            & F.col("event_type").isin("click", "purchase")
        )
        .groupBy("event_type", F.date_trunc("day", "ts").alias("d"))
        .agg(F.round(F.avg("value"), 6).alias("m"))
    )
    wide = (
        daily.groupBy("d")
        .pivot("event_type", ["click", "purchase"])
        .agg(F.first("m"))
        .where(F.col("click").isNotNull() & F.col("purchase").isNotNull())
        .select(
            "d", (F.col("click") - F.col("purchase")).alias("diff")
        )
        .where(F.col("diff") != 0)
        .select("d", "diff", F.abs("diff").alias("ad"))
    )
    a = wide.select("d", "diff", F.col("ad").alias("v"))
    b = wide.select(F.col("ad").alias("w"))
    ranked = (
        a.crossJoin(b)
        .groupBy("d", "diff")
        .agg(
            (
                F.sum((F.col("w") < F.col("v")).cast("long"))
                + (F.sum((F.col("w") == F.col("v")).cast("long")) + 1)
                / F.lit(2.0)
            ).alias("r")
        )
    )
    ties = (
        wide.groupBy("ad")
        .agg(F.count(F.lit(1)).alias("t"))
        .where(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * F.col("t") * F.col("t") - F.col("t")
                ),
                F.lit(0),
            ).alias("tcorr")
        )
    )
    sums = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("diff") > 0, F.col("r")).otherwise(0.0)).alias(
            "w_plus"
        ),
    )
    n = F.col("n")
    var = (
        n * (n + 1) * (2 * n + 1) / F.lit(24.0)
        - F.col("tcorr") / F.lit(48.0)
    )
    return sums.crossJoin(F.broadcast(ties)).select(
        n.cast("long").alias("n"),
        F.col("w_plus").cast("double").alias("w_plus"),
        F.round(
            (F.col("w_plus") - n * (n + 1) / F.lit(4.0)) / F.sqrt(var), 6
        )
        .cast("double")
        .alias("z"),
    )


register(
    "stat_wilcoxon_signed",
    engine_fn=_wilcoxon_fn,
    oracle=(
        "WITH daily AS (\n"
        "  SELECT event_type, DATE_TRUNC('day', ts) AS d,\n"
        "    ROUND(AVG(value), 6) AS m\n"
        "  FROM events WHERE value IS NOT NULL\n"
        "    AND event_type IN ('click', 'purchase') GROUP BY 1, 2),\n"
        "wide AS (\n"
        "  SELECT c.d, c.m - p.m AS diff, ABS(c.m - p.m) AS ad\n"
        "  FROM (SELECT d, m FROM daily WHERE event_type = 'click') c\n"
        "  JOIN (SELECT d, m FROM daily WHERE event_type = 'purchase') p\n"
        "    USING (d)\n"
        "  WHERE c.m - p.m <> 0),\n"
        "rk AS (\n"
        "  SELECT a.d, a.diff,\n"
        "    (SELECT COUNT(*) FROM wide b WHERE b.ad < a.ad)\n"
        "      + ((SELECT COUNT(*) FROM wide b WHERE b.ad = a.ad) + 1)"
        " / 2.0 AS r\n"
        "  FROM wide a),\n"
        "tc AS (SELECT COALESCE(CAST(SUM(t * t * t - t) AS BIGINT), 0)"
        " AS tcorr\n"
        "  FROM (SELECT ad, COUNT(*) AS t FROM wide GROUP BY 1) q"
        " WHERE t > 1),\n"
        "s AS (SELECT COUNT(*) AS n,\n"
        "        SUM(CASE WHEN diff > 0 THEN r ELSE 0.0 END) AS w_plus\n"
        "      FROM rk)\n"
        "SELECT CAST(s.n AS BIGINT) AS n,\n"
        "  CAST(s.w_plus AS DOUBLE) AS w_plus,\n"
        "  CAST(ROUND((s.w_plus - s.n * (s.n + 1) / 4.0)\n"
        "    / SQRT(s.n * (s.n + 1) * (2 * s.n + 1) / 24.0"
        " - tc.tcorr / 48.0), 6) AS DOUBLE) AS z\n"
        "FROM s CROSS JOIN tc"
    ),
    category="stats",
    suite="extension",
    doc=(
        "Wilcoxon signed-rank test on paired click/purchase daily means: "
        "average-tie |d| ranks via bounded self-join (exact dyadic "
        "rationals), tie-corrected z, zero diffs dropped"
    ),
)


# -- partition modularity (round 8) ------------------------------------------------


def _modularity_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the NATION partition over the strong-tie
    supplier backbone: Q = sum_c (e_c/m - (d_c/2m)^2) — does supplier
    nationality explain the co-order community structure? The
    partition-quality score every community detector optimizes (Newman &
    Girvan 2004), here evaluated for a GIVEN labelling, which is the
    exact-arithmetic form: intra-community edge counts e_c, community
    degree sums d_c, and edge total m are all integers from two
    equi-joins + aggregates; only the final per-community terms divide.
    Emitted per community (term pinned at 6 dp) with the global Q as a
    last 'ALL' row, so the hash check covers every intermediate, not
    just the scalar.
    """
    backbone = _supplier_backbone(spark, sf_dir)
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("node"), F.col("s_nationkey").alias("c")
    )
    cu = supp.select(F.col("node").alias("u"), F.col("c").alias("cu"))
    cv = supp.select(F.col("node").alias("v"), F.col("c").alias("cv"))
    lab = backbone.join(cu, "u").join(cv, "v")
    m = lab.agg(F.count(F.lit(1)).alias("m"))
    e_c = (
        lab.where(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("c"))
        .agg(F.count(F.lit(1)).alias("e_c"))
    )
    und = lab.select(F.col("cu").alias("c")).unionByName(
        lab.select(F.col("cv").alias("c"))
    )
    d_c = und.groupBy("c").agg(F.count(F.lit(1)).alias("d_c"))
    term = F.col("e_c") / F.col("m") - F.pow(
        F.col("d_c") / (F.lit(2.0) * F.col("m")), F.lit(2.0)
    )
    per = (
        d_c.join(e_c, "c", "left")
        .withColumn("e_c", F.coalesce("e_c", F.lit(0)))
        .crossJoin(F.broadcast(m))
        .select(
            F.col("c").cast("string").alias("community"),
            F.col("e_c").cast("long").alias("intra_edges"),
            F.col("d_c").cast("long").alias("degree_sum"),
            F.round(term, 6).cast("double").alias("q_term"),
        )
    )
    total = per.agg(
        F.lit("ALL").alias("community"),
        F.sum("intra_edges").alias("intra_edges"),
        F.sum("degree_sum").alias("degree_sum"),
        F.round(F.sum(F.col("q_term")), 6).cast("double").alias("q_term"),
    )
    return per.unionByName(total).orderBy("community")


register(
    "net_modularity",
    engine_fn=_modularity_fn,
    oracle=(
        "WITH " + _BACKBONE_SQL + ",\n"
        "lab AS (SELECT bb.u, bb.v, su.s_nationkey AS cu,\n"
        "    sv.s_nationkey AS cv\n"
        "  FROM bb JOIN supplier su ON su.s_suppkey = bb.u\n"
        "  JOIN supplier sv ON sv.s_suppkey = bb.v),\n"
        "m AS (SELECT COUNT(*) AS m FROM lab),\n"
        "ec AS (SELECT cu AS c, COUNT(*) AS e_c FROM lab\n"
        "  WHERE cu = cv GROUP BY 1),\n"
        "dc AS (SELECT c, COUNT(*) AS d_c FROM (\n"
        "  SELECT cu AS c FROM lab UNION ALL SELECT cv FROM lab)\n"
        "  GROUP BY 1),\n"
        "per AS (SELECT CAST(dc.c AS VARCHAR) AS community,\n"
        "    CAST(COALESCE(ec.e_c, 0) AS BIGINT) AS intra_edges,\n"
        "    CAST(dc.d_c AS BIGINT) AS degree_sum,\n"
        "    CAST(ROUND(COALESCE(ec.e_c, 0) / CAST(m.m AS DOUBLE)\n"
        "      - POW(dc.d_c / (2.0 * m.m), 2.0), 6) AS DOUBLE) AS q_term\n"
        "  FROM dc LEFT JOIN ec ON ec.c = dc.c CROSS JOIN m)\n"
        "SELECT community, intra_edges, degree_sum, q_term FROM per\n"
        "UNION ALL\n"
        "SELECT 'ALL', CAST(SUM(intra_edges) AS BIGINT),\n"
        "  CAST(SUM(degree_sum) AS BIGINT),\n"
        "  CAST(ROUND(SUM(q_term), 6) AS DOUBLE) FROM per\n"
        "ORDER BY community"
    ),
    category="graph",
    suite="extension",
    doc=(
        "Newman modularity of the nation partition over the supplier "
        "backbone: exact integer edge/degree counts per community, "
        "pinned per-community terms + global Q"
    ),
)


# -- digit-law audit (round 9) --------------------------

register(
    "stat_benford_digits",
    engine=(
        # First-significant-digit census of order totals vs Benford's law.
        # The digit comes from the decimal's STRING form (strip everything
        # outside [1-9], take the first char): exact on both engines,
        # immune to the log10-at-a-power-boundary ulp trap that a
        # floor(value/10^floor(log10 v)) extraction would hit. Single
        # scan + 9-row aggregate; each output value is one division or a
        # closed-form log — no fp-order-dependent sums anywhere.
        "WITH d AS (SELECT CAST(SUBSTRING(REGEXP_REPLACE(\n"
        "    CAST(o_totalprice AS STRING), '[^1-9]', ''), 1, 1) AS INT)\n"
        "    AS digit FROM orders),\n"
        "c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1),\n"
        "t AS (SELECT SUM(n) AS tot FROM c)\n"
        "SELECT digit, CAST(n AS BIGINT) AS n,\n"
        "  CAST(ROUND(n / tot, 6) AS DOUBLE) AS obs_frac,\n"
        "  CAST(ROUND(LOG10(1.0 + 1.0 / digit), 6) AS DOUBLE)\n"
        "    AS benford_frac,\n"
        "  CAST(ROUND(n / tot - LOG10(1.0 + 1.0 / digit), 6) AS DOUBLE)\n"
        "    AS dev\n"
        "FROM c CROSS JOIN t ORDER BY digit"
    ),
    oracle=(
        "WITH d AS (SELECT CAST(SUBSTRING(REGEXP_REPLACE(\n"
        "    CAST(o_totalprice AS VARCHAR), '[^1-9]', '', 'g'), 1, 1)\n"
        "    AS INT) AS digit FROM orders),\n"
        "c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1),\n"
        "t AS (SELECT SUM(n) AS tot FROM c)\n"
        "SELECT digit, CAST(n AS BIGINT) AS n,\n"
        "  CAST(ROUND(n / CAST(tot AS DOUBLE), 6) AS DOUBLE) AS obs_frac,\n"
        "  CAST(ROUND(LOG10(1.0 + 1.0 / digit), 6) AS DOUBLE)\n"
        "    AS benford_frac,\n"
        "  CAST(ROUND(n / CAST(tot AS DOUBLE) - LOG10(1.0 + 1.0 / digit), 6)\n"
        "    AS DOUBLE) AS dev\n"
        "FROM c CROSS JOIN t ORDER BY digit"
    ),
    category="stats",
    suite="extension",
    doc=(
        "first-significant-digit census of order totals vs Benford's law "
        "(string-form digit extraction, exact on both engines): the "
        "fraud/synthetic-data smell test as a single scan + 9-row "
        "aggregate"
    ),
)


# -- top eigenvector by power iteration (round 9) -------------------------------


def _power_iter_oracle(steps: int = 8) -> str:
    """Unrolled DuckDB twin of 8 power-iteration steps over the 6-dp
    Gram matrix. Every sum is a LIST_REDUCE over an ORDER BY-pinned
    list — DuckDB's strictly sequential fold, matching the engine's
    plain Python accumulation loop bit for bit (the llm_knn_lsh
    cumsum-parity technique); iterations run UNROUNDED, one ROUND at
    the end."""
    parts = [
        # MATERIALIZED: DuckDB inlines plain CTEs, so without it the
        # corpus-sized gram aggregate re-runs inside every one of the 8
        # unrolled steps (measured 61.9 s -> the materialized form runs
        # the scan once).
        "WITH g AS MATERIALIZED (SELECT i.i AS i, j.j AS j,\n"
        "    CAST(ROUND(SUM(v[i.i] * v[j.j]), 6) AS DOUBLE) AS gram\n"
        "  FROM (SELECT embedding::DOUBLE[] AS v FROM embeddings),\n"
        "    UNNEST(GENERATE_SERIES(1, 64)) i(i),\n"
        "    UNNEST(GENERATE_SERIES(1, 64)) j(j)\n"
        "  WHERE i.i <= j.j GROUP BY i.i, j.j),\n"
        "gf AS MATERIALIZED (SELECT i, j, gram FROM g\n"
        "  UNION ALL SELECT j, i, gram FROM g WHERE i < j),\n"
        "v0 AS (SELECT i, CAST(0.125 AS DOUBLE) AS val\n"
        "  FROM GENERATE_SERIES(1, 64) t(i))"
    ]
    # Step CTEs MATERIALIZED: w{t} is referenced by both n{t} and v{t},
    # so plain CTEs re-inline the whole prefix chain at every step — a
    # 2^steps blowup (9.05 s at sf0.01 for 8 steps; materialized:
    # ~0.2 s — found while building the 16-step llm_pca2_basis twin,
    # where the same shape cost 106 s).
    for t in range(1, steps + 1):
        parts.append(
            f",\nw{t} AS MATERIALIZED (SELECT gf.i AS i,\n"
            f"    LIST_REDUCE(LIST(gf.gram * v{t - 1}.val ORDER BY gf.j),\n"
            "      (a, b) -> a + b) AS w\n"
            f"  FROM gf JOIN v{t - 1} ON v{t - 1}.i = gf.j GROUP BY gf.i),\n"
            f"n{t} AS MATERIALIZED (SELECT SQRT(LIST_REDUCE(\n"
            f"    LIST(w * w ORDER BY i),\n"
            f"    (a, b) -> a + b)) AS nrm FROM w{t}),\n"
            f"v{t} AS MATERIALIZED (SELECT i, w / nrm AS val\n"
            f"  FROM w{t} CROSS JOIN n{t})"
        )
    parts.append(
        f"\nSELECT v{steps}.i AS dim,\n"
        f"  CAST(ROUND(v{steps}.val, 6) AS DOUBLE) AS component,\n"
        f"  CAST(ROUND(n{steps}.nrm, 6) AS DOUBLE) AS eigenvalue\n"
        f"FROM v{steps} CROSS JOIN n{steps} ORDER BY dim"
    )
    return "".join(parts)


def _top_eigvec_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Principal direction of the embedding corpus — the top eigenvector
    of the 64x64 Gram matrix by 8 fixed power-iteration steps, plus its
    Rayleigh-quotient eigenvalue (|G v| of the final step). The leading
    eigenpair is the workhorse spectral diagnostic of an embedding
    pipeline: anisotropy checks, drift direction between snapshots, the
    first step of PCA whitening.

    Scale shape: the ONLY corpus-sized work is the distributed Gram pass
    (operators/linalg.py:gram_upper — per-batch BLAS partials, one
    O(d^2)-key shuffle independent of row count); the iteration then
    runs on the driver over the d x d model (a 2080-row collect, the
    kmeans-centroid-sized hop). FP parity with the oracle is by
    construction, not tolerance: both engines iterate UNROUNDED from
    the same 6-dp Gram entries and v0 = 0.125 exactly, every inner sum
    strictly sequential in the same index order (Python accumulation
    loop == DuckDB ORDER BY-pinned LIST_REDUCE — the established
    cumsum-parity technique), so the doubles are bit-identical and one
    final 6-dp round lands on both sides.
    """
    import math

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("v")
    )
    rows = gram_upper(emb, dims=64).collect()
    d = 64
    G = [[0.0] * d for _ in range(d)]
    for r in rows:
        G[r["i"] - 1][r["j"] - 1] = r["gram"]
        G[r["j"] - 1][r["i"] - 1] = r["gram"]
    v = [0.125] * d
    nrm = 0.0
    for _ in range(8):
        w = []
        for i in range(d):
            acc = 0.0
            for j in range(d):
                acc += G[i][j] * v[j]
            w.append(acc)
        s = 0.0
        for x in w:
            s += x * x
        nrm = math.sqrt(s)
        v = [x / nrm for x in w]
    out = spark.createDataFrame(
        [(i + 1, v[i], nrm) for i in range(d)], "dim int, c double, e double"
    )
    return out.select(
        "dim",
        F.round("c", 6).cast("double").alias("component"),
        F.round("e", 6).cast("double").alias("eigenvalue"),
    ).orderBy("dim")


register(
    "llm_top_eigvec",
    engine_fn=_top_eigvec_fn,
    oracle=_power_iter_oracle(8),
    category="llm-similarity",
    suite="extension",
    doc=(
        "top eigenpair of the embedding Gram matrix by 8 power-iteration "
        "steps: distributed d^2-key Gram pass + driver-side iteration on "
        "the d x d model, bit-identical to an unrolled DuckDB twin via "
        "order-pinned sequential folds"
    ),
)

SWEEP_INTERMEDIATES["llm_top_eigvec"] = _gram_covariance_fn

# -- inter-rater agreement (round 9) ------------------------------------------

register(
    "stat_cohens_kappa",
    engine=(
        # Cohen's kappa between two INDEPENDENT quality raters over the
        # corpus: rater A is the frozen-weights LR classifier
        # (llm_quality_lr's exact feature/score text, keep at 0.5) and
        # rater B a one-feature stopword-fraction rule (>= 0.08 — the
        # "looks like running English prose" heuristic). Kappa is the
        # agreement-beyond-chance audit every labeling/filtering pipeline
        # runs before trusting a cheap filter as a proxy for an expensive
        # one. One map pass + one 4-cell conditional aggregate; po/pe/kappa
        # derive from exact BIGINT cell counts, so the only fp in play is
        # the final division (pinned at 6 dp on both engines). pe = 1
        # (degenerate marginals) yields NULL kappa on both sides.
        "WITH f AS (\n"
        "  SELECT\n"
        "    SIZE(SPLIT(text, ' ')) AS n,\n"
        "    (LENGTH(text) - (SIZE(SPLIT(text, ' ')) - 1))\n"
        "      / CAST(SIZE(SPLIT(text, ' ')) AS DOUBLE) AS mean_len,\n"
        "    SIZE(ARRAY_DISTINCT(SPLIT(text, ' ')))\n"
        "      / CAST(SIZE(SPLIT(text, ' ')) AS DOUBLE) AS dr,\n"
        "    SIZE(FILTER(SPLIT(text, ' '), t -> t IN\n"
        "      ('the', 'a', 'and', 'of', 'to', 'in', 'is')))\n"
        "      / CAST(SIZE(SPLIT(text, ' ')) AS DOUBLE) AS sf\n"
        "  FROM documents WHERE text IS NOT NULL),\n"
        "r AS (SELECT\n"
        "    ROUND(1.0 / (1.0 + EXP(-(0.02 * n + 0.8 * mean_len\n"
        "      + 3.0 * dr - 6.0 * sf - 4.0))), 4) >= 0.5 AS a,\n"
        "    sf >= 0.08 AS b\n"
        "  FROM f),\n"
        "c AS (SELECT\n"
        "    SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS n11,\n"
        "    SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS n10,\n"
        "    SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS n01,\n"
        "    SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS n00\n"
        "  FROM r),\n"
        "k AS (SELECT n11, n10, n01, n00,\n"
        "    CAST(n11 + n10 + n01 + n00 AS DOUBLE) AS nt,\n"
        "    (n11 + n00) / CAST(n11 + n10 + n01 + n00 AS DOUBLE) AS po,\n"
        "    ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))\n"
        "      / POW(CAST(n11 + n10 + n01 + n00 AS DOUBLE), 2.0) AS pe\n"
        "  FROM c)\n"
        "SELECT CAST(n11 AS BIGINT) AS n11, CAST(n10 AS BIGINT) AS n10,\n"
        "  CAST(n01 AS BIGINT) AS n01, CAST(n00 AS BIGINT) AS n00,\n"
        "  CAST(ROUND(po, 6) AS DOUBLE) AS po,\n"
        "  CAST(ROUND(pe, 6) AS DOUBLE) AS pe,\n"
        "  CASE WHEN pe >= 1.0 THEN CAST(NULL AS DOUBLE)\n"
        "    ELSE CAST(ROUND((po - pe) / (1.0 - pe), 6) AS DOUBLE)\n"
        "  END AS kappa\n"
        "FROM k"
    ),
    oracle=(
        "WITH f AS (\n"
        "  SELECT\n"
        "    LEN(STRING_SPLIT(text, ' ')) AS n,\n"
        "    (LENGTH(text) - (LEN(STRING_SPLIT(text, ' ')) - 1))\n"
        "      / CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE) AS mean_len,\n"
        "    LEN(LIST_DISTINCT(STRING_SPLIT(text, ' ')))\n"
        "      / CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE) AS dr,\n"
        "    LEN(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t IN\n"
        "      ('the', 'a', 'and', 'of', 'to', 'in', 'is')))\n"
        "      / CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE) AS sf\n"
        "  FROM documents WHERE text IS NOT NULL),\n"
        "r AS (SELECT\n"
        "    ROUND(1.0 / (1.0 + EXP(-(0.02 * n + 0.8 * mean_len\n"
        "      + 3.0 * dr - 6.0 * sf - 4.0))), 4) >= 0.5 AS a,\n"
        "    sf >= 0.08 AS b\n"
        "  FROM f),\n"
        "c AS (SELECT\n"
        "    SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS n11,\n"
        "    SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS n10,\n"
        "    SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS n01,\n"
        "    SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS n00\n"
        "  FROM r),\n"
        "k AS (SELECT n11, n10, n01, n00,\n"
        "    (n11 + n00) / CAST(n11 + n10 + n01 + n00 AS DOUBLE) AS po,\n"
        "    ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))\n"
        "      / POW(CAST(n11 + n10 + n01 + n00 AS DOUBLE), 2.0) AS pe\n"
        "  FROM c)\n"
        "SELECT CAST(n11 AS BIGINT) AS n11, CAST(n10 AS BIGINT) AS n10,\n"
        "  CAST(n01 AS BIGINT) AS n01, CAST(n00 AS BIGINT) AS n00,\n"
        "  CAST(ROUND(po, 6) AS DOUBLE) AS po,\n"
        "  CAST(ROUND(pe, 6) AS DOUBLE) AS pe,\n"
        "  CASE WHEN pe >= 1.0 THEN CAST(NULL AS DOUBLE)\n"
        "    ELSE CAST(ROUND((po - pe) / (1.0 - pe), 6) AS DOUBLE)\n"
        "  END AS kappa\n"
        "FROM k"
    ),
    category="stats",
    suite="extension",
    doc=(
        "Cohen's kappa agreement between the frozen-LR quality classifier "
        "and a one-feature stopword heuristic: single scan into a 4-cell "
        "conditional aggregate, po/pe/kappa from exact integer cells"
    ),
)


# -- deflated power iteration: top-2 PCA basis (round 9) -----------------------


def _pca2_oracle(steps: int = 8) -> str:
    """Unrolled DuckDB twin of :func:`_pca2_fn`: the llm_top_eigvec
    8-step power iteration, then HOTELLING DEFLATION (G' = G - l1 v1 v1^T
    with the unrounded l1/v1) and 8 more steps on G'. Every inner sum is
    the ORDER BY-pinned LIST_REDUCE sequential fold, so the doubles are
    bit-identical to the engine's Python accumulation loops."""
    parts = [
        "WITH g AS MATERIALIZED (SELECT i.i AS i, j.j AS j,\n"
        "    CAST(ROUND(SUM(v[i.i] * v[j.j]), 6) AS DOUBLE) AS gram\n"
        "  FROM (SELECT embedding::DOUBLE[] AS v FROM embeddings),\n"
        "    UNNEST(GENERATE_SERIES(1, 64)) i(i),\n"
        "    UNNEST(GENERATE_SERIES(1, 64)) j(j)\n"
        "  WHERE i.i <= j.j GROUP BY i.i, j.j),\n"
        "gf AS MATERIALIZED (SELECT i, j, gram FROM g\n"
        "  UNION ALL SELECT j, i, gram FROM g WHERE i < j),\n"
        "v0 AS (SELECT i, CAST(0.125 AS DOUBLE) AS val\n"
        "  FROM GENERATE_SERIES(1, 64) t(i))"
    ]
    # Every step CTE is MATERIALIZED: w{t} is referenced twice (n{t} and
    # v{t}), so plain CTEs re-inline the whole prefix chain at each of
    # the 16 steps — a 2^16 blowup (measured: 106 s at sf0.01; linear
    # materialized form: <1 s).
    for t in range(1, steps + 1):
        parts.append(
            f",\nw{t} AS MATERIALIZED (SELECT gf.i AS i,\n"
            f"    LIST_REDUCE(LIST(gf.gram * v{t - 1}.val ORDER BY gf.j),\n"
            "      (a, b) -> a + b) AS w\n"
            f"  FROM gf JOIN v{t - 1} ON v{t - 1}.i = gf.j GROUP BY gf.i),\n"
            f"n{t} AS MATERIALIZED (SELECT SQRT(LIST_REDUCE(\n"
            f"    LIST(w * w ORDER BY i),\n"
            f"    (a, b) -> a + b)) AS nrm FROM w{t}),\n"
            f"v{t} AS MATERIALIZED (SELECT i, w / nrm AS val\n"
            f"  FROM w{t} CROSS JOIN n{t})"
        )
    parts.append(
        f",\ngd AS MATERIALIZED (SELECT gf.i, gf.j,\n"
        f"    gf.gram - n{steps}.nrm * a.val * b.val AS gram\n"
        f"  FROM gf JOIN v{steps} a ON a.i = gf.i\n"
        f"  JOIN v{steps} b ON b.i = gf.j CROSS JOIN n{steps}),\n"
        "u0 AS (SELECT i, CAST(0.125 AS DOUBLE) AS val\n"
        "  FROM GENERATE_SERIES(1, 64) t(i))"
    )
    # Second chain: each multiply is RE-ORTHOGONALIZED against v{steps}
    # (p{t} = v1 . w, then w - p*v1) before normalizing — without it,
    # an under-converged v1 leaves top-eigenvector mass in the deflated
    # matrix and the "second" component drifts back toward the first
    # (observed at sf0.001, where the spectrum is near-degenerate).
    for t in range(1, steps + 1):
        parts.append(
            f",\nx{t} AS MATERIALIZED (SELECT gd.i AS i,\n"
            f"    LIST_REDUCE(LIST(gd.gram * u{t - 1}.val ORDER BY gd.j),\n"
            "      (a, b) -> a + b) AS w\n"
            f"  FROM gd JOIN u{t - 1} ON u{t - 1}.i = gd.j GROUP BY gd.i),\n"
            f"p{t} AS MATERIALIZED (SELECT LIST_REDUCE(\n"
            f"    LIST(v{steps}.val * x{t}.w ORDER BY x{t}.i),\n"
            "      (a, b) -> a + b) AS p\n"
            f"  FROM x{t} JOIN v{steps} ON v{steps}.i = x{t}.i),\n"
            f"y{t} AS MATERIALIZED (SELECT x{t}.i AS i,\n"
            f"    x{t}.w - p{t}.p * v{steps}.val AS w\n"
            f"  FROM x{t} JOIN v{steps} ON v{steps}.i = x{t}.i\n"
            f"  CROSS JOIN p{t}),\n"
            f"m{t} AS MATERIALIZED (SELECT SQRT(LIST_REDUCE(\n"
            f"    LIST(w * w ORDER BY i),\n"
            f"    (a, b) -> a + b)) AS nrm FROM y{t}),\n"
            f"u{t} AS MATERIALIZED (SELECT i, w / nrm AS val\n"
            f"  FROM y{t} CROSS JOIN m{t})"
        )
    parts.append(
        f"\nSELECT v{steps}.i AS dim,\n"
        f"  CAST(ROUND(v{steps}.val, 6) AS DOUBLE) AS pc1,\n"
        f"  CAST(ROUND(u{steps}.val, 6) AS DOUBLE) AS pc2,\n"
        f"  CAST(ROUND(n{steps}.nrm, 6) AS DOUBLE) AS eigenvalue1,\n"
        f"  CAST(ROUND(m{steps}.nrm, 6) AS DOUBLE) AS eigenvalue2\n"
        f"FROM v{steps} JOIN u{steps} ON u{steps}.i = v{steps}.i\n"
        f"CROSS JOIN n{steps} CROSS JOIN m{steps} ORDER BY dim"
    )
    return "".join(parts)


def _pca2_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 PCA basis of the embedding corpus: llm_top_eigvec's 8-step
    power iteration for (l1, v1), Hotelling deflation
    G' = G - l1 v1 v1^T, 8 more steps on G' for (l2, v2) — the 2-D
    projection basis behind every embedding-space scatter/drift plot and
    the smallest non-trivial PCA whitener.

    Same scale contract as llm_top_eigvec: the corpus-sized work is ONE
    distributed Gram pass (O(d^2)-key shuffle, row-count independent);
    both iterations and the rank-1 deflation run on the driver over the
    64x64 model. FP parity with the unrolled DuckDB twin is by
    construction: unrounded iterates from 6-dp Gram entries, every inner
    sum a strictly sequential fold in index order, deflation arithmetic
    written in the same left-associated order on both sides, one final
    6-dp round.
    """
    import math

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("v")
    )
    rows = gram_upper(emb, dims=64).collect()
    d = 64
    G = [[0.0] * d for _ in range(d)]
    for r in rows:
        G[r["i"] - 1][r["j"] - 1] = r["gram"]
        G[r["j"] - 1][r["i"] - 1] = r["gram"]

    def power8(
        M: list[list[float]], ortho: list[float] | None = None
    ) -> tuple[list[float], float]:
        v = [0.125] * d
        nrm = 0.0
        for _ in range(8):
            w = []
            for i in range(d):
                acc = 0.0
                for j in range(d):
                    acc += M[i][j] * v[j]
                w.append(acc)
            if ortho is not None:
                # Re-orthogonalize against the first component every
                # step: an under-converged v1 leaves top-eigenvector
                # mass in the deflated matrix, and without this the
                # "second" direction drifts back toward the first
                # (near-degenerate spectra — seen at sf0.001).
                p = 0.0
                for i in range(d):
                    p += ortho[i] * w[i]
                w = [w[i] - p * ortho[i] for i in range(d)]
            s = 0.0
            for x in w:
                s += x * x
            nrm = math.sqrt(s)
            v = [x / nrm for x in w]
        return v, nrm

    v1, l1 = power8(G)
    Gd = [
        [G[i][j] - l1 * v1[i] * v1[j] for j in range(d)] for i in range(d)
    ]
    v2, l2 = power8(Gd, ortho=v1)
    out = spark.createDataFrame(
        [(i + 1, v1[i], v2[i], l1, l2) for i in range(d)],
        "dim int, c1 double, c2 double, e1 double, e2 double",
    )
    return out.select(
        "dim",
        F.round("c1", 6).cast("double").alias("pc1"),
        F.round("c2", 6).cast("double").alias("pc2"),
        F.round("e1", 6).cast("double").alias("eigenvalue1"),
        F.round("e2", 6).cast("double").alias("eigenvalue2"),
    ).orderBy("dim")


register(
    "llm_pca2_basis",
    engine_fn=_pca2_fn,
    oracle=_pca2_oracle(8),
    category="llm-similarity",
    suite="extension",
    doc=(
        "top-2 PCA basis by deflated power iteration: one distributed "
        "Gram pass + driver-side 8+8 steps with Hotelling deflation, "
        "bit-identical to an unrolled DuckDB twin via order-pinned "
        "sequential folds"
    ),
)

SWEEP_INTERMEDIATES["llm_pca2_basis"] = _gram_covariance_fn


# -- SAX symbolization (round 9) ------------------------------------------------

_SAX_SQL = (
    # SAX (Lin et al., DMKD 2007) over the daily mean series: z-normalize
    # against the series' own mean/stddev (1-row broadcast), then cut at
    # the equiprobable N(0,1) breakpoints for alphabet size 4
    # (-0.6745, 0, 0.6745). The symbol string is what similarity mining,
    # motif discovery, and anomaly grammars consume instead of raw
    # floats. Aggregations fold over the DAY-bounded rollup (time-range
    # rows, never data rows — the resample-first contract shared by
    # every ts_* query). Degenerate flat series (stddev 0) yields NULL z
    # and the sentinel '_' on both engines.
    "WITH d AS (SELECT CAST(ts AS DATE) AS day, AVG(value) AS m\n"
    "  FROM events WHERE value IS NOT NULL GROUP BY 1),\n"
    "s AS (SELECT AVG(m) AS mu, STDDEV_POP(m) AS sigma FROM d)\n"
    "SELECT day,\n"
    "  CAST(ROUND(m, 6) AS DOUBLE) AS day_mean,\n"
    "  CAST(ROUND((m - mu) / NULLIF(sigma, 0), 6) AS DOUBLE) AS z,\n"
    "  CASE WHEN sigma = 0 THEN '_'\n"
    "    WHEN (m - mu) / sigma < -0.6745 THEN 'a'\n"
    "    WHEN (m - mu) / sigma < 0 THEN 'b'\n"
    "    WHEN (m - mu) / sigma < 0.6745 THEN 'c'\n"
    "    ELSE 'd' END AS sax\n"
    "FROM d CROSS JOIN s ORDER BY day"
)

register(
    "ts_sax_symbols",
    engine=_SAX_SQL,
    oracle=_SAX_SQL,
    category="timeseries",
    suite="extension",
    doc=(
        "SAX symbolization of the daily mean series (alphabet 4, "
        "equiprobable N(0,1) breakpoints): one rollup + 1-row "
        "mean/stddev broadcast, symbols from the z-score cuts"
    ),
)


# -- differential-privacy noisy release (round 9; seedable round 10) -------------


def _dp_counts_sql(dialect: str, seed: str = "") -> str:
    """Laplace-mechanism count-release SQL (epsilon = 1, sensitivity 1
    for a per-row partition count) in either dialect, parameterized by a
    release ``seed`` mixed into the MD5 draw: u from the first 8 hex
    chars of MD5(seed || ':' || lang) (u = (x + 0.5) / 2^32, never
    exactly 0/0.5/1), noise = -sign(u - 0.5) * ln(1 - 2|u - 0.5|).

    This is a BENCHMARK TWIN of the DP release shape, NOT a privacy
    mechanism: with a known (or empty) seed the noise is a public
    deterministic function of the group key, so anyone can recompute and
    subtract it — and n_true is emitted alongside for the correctness
    gate, which a real release must drop. Real DP requires the seed to
    be secret, high-entropy, and fresh per release; the seed parameter
    exists so both engines can verify the mechanism at ANY seed value
    (the registry pins a non-default one)."""
    mix = f"'{seed}:' || lang" if dialect == "duckdb" else None
    if dialect == "spark":
        u_expr = (
            f"(CONV(SUBSTRING(MD5(CONCAT('{seed}:', lang)), 1, 8),"
            " 16, 10) + 0.5)\n      / 4294967296.0"
        )
    else:
        u_expr = (
            f"(('0x' || SUBSTR(MD5({mix}), 1, 8))::BIGINT + 0.5)\n"
            "      / 4294967296.0"
        )
    return (
        "WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),\n"
        "u AS (SELECT lang, n,\n"
        f"    {u_expr} AS u\n"
        "  FROM c)\n"
        "SELECT lang, CAST(n AS BIGINT) AS n_true,\n"
        "  CAST(ROUND(n + (CASE WHEN u < 0.5 THEN 1.0 ELSE -1.0 END)\n"
        "    * LN(1.0 - 2.0 * ABS(u - 0.5)), 6) AS DOUBLE) AS n_noisy,\n"
        "  CAST(1.0 AS DOUBLE) AS epsilon\n"
        "FROM u ORDER BY lang"
    )


register(
    "stat_dp_counts",
    # Non-default seed: proves the mechanism is seedable end-to-end (the
    # r9 verdict's finding was that the documented "swap the seed per
    # release" posture was inexpressible — no seed input existed at all).
    engine=_dp_counts_sql("spark", seed="release-r10"),
    oracle=_dp_counts_sql("duckdb", seed="release-r10"),
    category="stats",
    suite="extension",
    doc=(
        "Laplace-mechanism DP count-release SHAPE per language (eps=1): "
        "seed-parameterized inverse-CDF noise from the md5-uniform draw, "
        "hash-verified at a non-default seed; a deterministic benchmark "
        "twin, NOT a privacy mechanism (a real release needs a secret "
        "fresh seed and must drop n_true)"
    ),
)


# -- SAX motif census (round 9) ---------------------------------------------------

_SAX_WORDS_SQL = (
    # Motif discovery over the SAX stream (Lin et al.'s original use):
    # slide a 3-day window over the symbol sequence (LEAD chains over the
    # day-bounded series), count each 3-letter SAX word, and report words
    # seen more than once — repeated words ARE the motifs, the thing
    # anomaly grammars and seasonality miners consume. All aggregation is
    # over the daily rollup; the word census is at most |alphabet|^3 = 64
    # keys. Ragged tail windows (fewer than 3 days) are dropped by the
    # LEAD IS NOT NULL guard on both engines.
    "WITH d AS (SELECT CAST(ts AS DATE) AS day, AVG(value) AS m\n"
    "  FROM events WHERE value IS NOT NULL GROUP BY 1),\n"
    "s AS (SELECT AVG(m) AS mu, STDDEV_POP(m) AS sigma FROM d),\n"
    "sym AS (SELECT day,\n"
    "    CASE WHEN sigma = 0 THEN '_'\n"
    "      WHEN (m - mu) / sigma < -0.6745 THEN 'a'\n"
    "      WHEN (m - mu) / sigma < 0 THEN 'b'\n"
    "      WHEN (m - mu) / sigma < 0.6745 THEN 'c'\n"
    "      ELSE 'd' END AS sax\n"
    "  FROM d CROSS JOIN s),\n"
    "w AS (SELECT day,\n"
    "    sax || LEAD(sax, 1) OVER (ORDER BY day)\n"
    "        || LEAD(sax, 2) OVER (ORDER BY day) AS word,\n"
    "    LEAD(sax, 2) OVER (ORDER BY day) AS guard\n"
    "  FROM sym)\n"
    "SELECT word, CAST(COUNT(*) AS BIGINT) AS n,\n"
    "  MIN(day) AS first_day, MAX(day) AS last_day\n"
    "FROM w WHERE guard IS NOT NULL GROUP BY word HAVING COUNT(*) > 1\n"
    "ORDER BY n DESC, word"
)

# Engine dialect: the LEAD chain runs under the one_group constant
# partition (PMOD(HASH(day), 1) — operators/rank.py:one_group's SQL form)
# so the WindowExec spec is non-empty and the plan sweep can see the
# single group is INTENTIONAL (the series is global by definition and the
# window input is the day-bounded rollup, never data rows).
_SAX_WORDS_ENGINE = _SAX_WORDS_SQL.replace(
    "OVER (ORDER BY day)", "OVER (PARTITION BY PMOD(HASH(day), 1) ORDER BY day)"
)

register(
    "ts_sax_motifs",
    engine=_SAX_WORDS_ENGINE,
    oracle=_SAX_WORDS_SQL,
    category="timeseries",
    suite="extension",
    doc=(
        "SAX motif census: 3-day symbol words via LEAD chains over the "
        "daily rollup, repeated words reported with their span — the "
        "motif-discovery consumer of ts_sax_symbols"
    ),
)


# -- Kendall rank correlation (round 10) ------------------------------------------

_KENDALL_SQL = (
    # Kendall's tau-b between the daily mean values of the click and
    # purchase series — the pair-counting rank association next to
    # stat_spearman (rank-transform) and ts_rolling_corr (Pearson).
    # Concordant/discordant/tied pairs over the DAY-bounded rollup
    # (time-range^2 pairs, never data rows — the ts_theilsen_trend
    # contract); daily means are rounded to 6 dp BEFORE comparison so
    # both engines order identical operands. tau-b's tie correction
    # divides by sqrt((nc+nd+tx)(nc+nd+ty)) — exact integer cells into
    # one float division, bit-identical across engines.
    "WITH daily AS (\n"
    "  SELECT event_type, DATE_TRUNC('day', ts) AS d,\n"
    "    CAST(ROUND(AVG(value), 6) AS DOUBLE) AS m\n"
    "  FROM events WHERE value IS NOT NULL\n"
    "    AND event_type IN ('click', 'purchase') GROUP BY 1, 2),\n"
    "wide AS (\n"
    "  SELECT c.d, c.m AS x, p.m AS y\n"
    "  FROM (SELECT d, m FROM daily WHERE event_type = 'click') c\n"
    "  JOIN (SELECT d, m FROM daily WHERE event_type = 'purchase') p\n"
    "    USING (d)),\n"
    "p AS (SELECT a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2\n"
    "  FROM wide a JOIN wide b ON a.d < b.d),\n"
    "c AS (SELECT\n"
    "    SUM(CASE WHEN (x1 < x2 AND y1 < y2)\n"
    "          OR (x1 > x2 AND y1 > y2) THEN 1 ELSE 0 END) AS nc,\n"
    "    SUM(CASE WHEN (x1 < x2 AND y1 > y2)\n"
    "          OR (x1 > x2 AND y1 < y2) THEN 1 ELSE 0 END) AS nd,\n"
    "    SUM(CASE WHEN x1 = x2 AND y1 <> y2 THEN 1 ELSE 0 END) AS tx,\n"
    "    SUM(CASE WHEN y1 = y2 AND x1 <> x2 THEN 1 ELSE 0 END) AS ty,\n"
    "    COUNT(*) AS np FROM p)\n"
    "SELECT CAST(np AS BIGINT) AS n_pairs,\n"
    "  CAST(nc AS BIGINT) AS n_concordant,\n"
    "  CAST(nd AS BIGINT) AS n_discordant,\n"
    "  CAST(tx AS BIGINT) AS ties_x, CAST(ty AS BIGINT) AS ties_y,\n"
    "  CAST(ROUND((nc - nd) / SQRT(CAST((nc + nd + tx) AS DOUBLE)\n"
    "    * CAST((nc + nd + ty) AS DOUBLE)), 6) AS DOUBLE) AS tau_b\n"
    "FROM c"
)

register(
    "stat_kendall_tau",
    engine=_KENDALL_SQL,
    oracle=_KENDALL_SQL,
    category="stats",
    suite="extension",
    doc=(
        "Kendall tau-b between the click and purchase daily-mean "
        "series: concordant/discordant pair census over the day-bounded "
        "rollup (time-range^2 pairs), exact integer cells, tie-corrected "
        "denominator"
    ),
)


# -- Levene variance-homogeneity test (round 10) -----------------------------------

_LEVENE_SQL = (
    # Levene's test for equal variances of `value` across event types —
    # the precondition check the two-sample location tests
    # (stat_welch_ttest, stat_mann_whitney) pair with. Mean-centered
    # variant: z_ij = |x_ij - mean_i| with the group mean rounded to
    # 6 dp before the absolute deviation (the stat_spearman operand-
    # pinning trick), W = ((N-k)/(k-1)) * sum_i n_i (zbar_i - zbar)^2
    # / sum_ij (z_ij - zbar_i)^2. Three partial-aggregable passes and a
    # k-row join (k = event types) — no window, no pair stage.
    "WITH x AS (SELECT event_type AS g, value AS v FROM events\n"
    "  WHERE value IS NOT NULL),\n"
    "gm AS (SELECT g, CAST(ROUND(AVG(v), 6) AS DOUBLE) AS mu,\n"
    "    COUNT(*) AS n FROM x GROUP BY g),\n"
    "z AS (SELECT x.g, ABS(x.v - gm.mu) AS z FROM x JOIN gm USING (g)),\n"
    "zg AS (SELECT g, AVG(z) AS zbar_g, COUNT(*) AS n,\n"
    "    SUM(z * z) AS szz, SUM(z) AS sz FROM z GROUP BY g),\n"
    "tot AS (SELECT SUM(sz) / SUM(n) AS zbar, SUM(n) AS nn,\n"
    "    COUNT(*) AS k FROM zg),\n"
    "parts AS (SELECT\n"
    "    SUM(zg.n * (zg.zbar_g - tot.zbar) * (zg.zbar_g - tot.zbar))\n"
    "      AS between_ss,\n"
    "    SUM(zg.szz - zg.n * zg.zbar_g * zg.zbar_g) AS within_ss,\n"
    "    MAX(tot.nn) AS nn, MAX(tot.k) AS k\n"
    "  FROM zg CROSS JOIN tot)\n"
    "SELECT CAST(nn AS BIGINT) AS n_rows, CAST(k AS BIGINT) AS n_groups,\n"
    "  CAST(ROUND((nn - k) * between_ss\n"
    "    / ((k - 1) * within_ss), 4) AS DOUBLE) AS levene_w\n"
    "FROM parts"
)

register(
    "stat_levene",
    engine=_LEVENE_SQL,
    oracle=_LEVENE_SQL,
    category="stats",
    suite="extension",
    doc=(
        "Levene variance-homogeneity W across event types (mean-centered "
        "variant): group means rounded before the absolute deviations, "
        "three partial-aggregable passes + a k-row join — no window, "
        "4-dp pinned statistic"
    ),
)


# -- Wald-Wolfowitz runs test (round 10) --------------------------------------------

_RUNS_SQL = (
    # Runs test for randomness of the daily mean series around its
    # median: days above/below the median form a +/- sequence; too few
    # runs means trending, too many means oscillation. R = 1 + number of
    # sign changes (LAG over the day-bounded rollup), z-scored against
    # the exact null mean/variance for (n1, n2). Median via the
    # PERCENTILE == QUANTILE_CONT identity (ts_theilsen_trend); days
    # exactly AT the (rounded) median are dropped, per the classical
    # construction. All windows run over time-range rows only.
    "WITH d AS (SELECT DATE_TRUNC('day', ts) AS day,\n"
    "    CAST(ROUND(AVG(value), 6) AS DOUBLE) AS m\n"
    "  FROM events WHERE value IS NOT NULL GROUP BY 1),\n"
    "md AS (SELECT CAST(ROUND({MEDIAN}(m), 6) AS DOUBLE) AS med FROM d),\n"
    "s AS (SELECT day, CASE WHEN m > med THEN 1 ELSE -1 END AS sgn\n"
    "  FROM d CROSS JOIN md WHERE m <> med),\n"
    "r AS (SELECT sgn, LAG(sgn) OVER ({PART}ORDER BY day) AS prev FROM s),\n"
    "c AS (SELECT\n"
    "    SUM(CASE WHEN prev IS NULL OR sgn <> prev THEN 1 ELSE 0 END)\n"
    "      AS runs,\n"
    "    SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS n1,\n"
    "    SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS n2\n"
    "  FROM r),\n"
    "k AS (SELECT runs, n1, n2,\n"
    "    1.0 + 2.0 * n1 * n2 / (n1 + n2) AS mu,\n"
    "    2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)\n"
    "      / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0)) AS var\n"
    "  FROM c)\n"
    "SELECT CAST(runs AS BIGINT) AS n_runs, CAST(n1 AS BIGINT) AS n_above,\n"
    "  CAST(n2 AS BIGINT) AS n_below,\n"
    "  CAST(ROUND(mu, 6) AS DOUBLE) AS expected_runs,\n"
    "  CAST(ROUND((runs - mu) / SQRT(var), 6) AS DOUBLE) AS z\n"
    "FROM k"
)

register(
    "stat_runs_test",
    # Engine dialect: Spark median via PERCENTILE(m, 0.5) (the
    # QUANTILE_CONT identity), LAG under the one_group constant
    # partition (series is global by definition; input is the
    # day-bounded rollup — ts_sax_motifs precedent).
    engine=_RUNS_SQL.replace("{MEDIAN}(m)", "PERCENTILE(m, 0.5)").replace(
        "{PART}", "PARTITION BY PMOD(HASH(sgn), 1) "
    ),
    oracle=_RUNS_SQL.replace("{MEDIAN}(m)", "MEDIAN(m)").replace(
        "{PART}", ""
    ),
    category="stats",
    suite="extension",
    doc=(
        "Wald-Wolfowitz runs test on the daily mean series vs its "
        "median: sign-change count via LAG over the day-bounded rollup, "
        "z-scored against the exact (n1,n2) null — trend/oscillation "
        "randomness check"
    ),
)


# -- maximum drawdown (round 10) -----------------------------------------------------

_DRAWDOWN_SQL = (
    # Maximum drawdown of cumulative purchase revenue: running total
    # over the daily rollup, running peak, drawdown = peak - cum; report
    # the deepest point with its peak/trough days. The operational
    # "worst run" metric for any cumulative KPI. Running SUM/MAX are
    # sequential folds over the day-bounded series in BOTH engines
    # (same order => bit-identical doubles before the 6-dp pin).
    "WITH d AS (SELECT DATE_TRUNC('day', ts) AS day,\n"
    "    SUM(value) AS rev\n"
    "  FROM events WHERE value IS NOT NULL AND event_type = 'purchase'\n"
    "  GROUP BY 1),\n"
    "c AS (SELECT day,\n"
    "    SUM(rev) OVER ({PART}ORDER BY day\n"
    "      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum\n"
    "  FROM d),\n"
    "p AS (SELECT day, cum,\n"
    "    MAX(cum) OVER ({PART}ORDER BY day\n"
    "      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak\n"
    "  FROM c)\n"
    # CAST AS DATE: Spark DATE_TRUNC returns a timestamp, DuckDB's
    # returns a date — pin the output type identically (the
    # ts_stl_decompose convention).
    "SELECT CAST(day AS DATE) AS trough_day,\n"
    "  CAST(ROUND(cum, 6) AS DOUBLE) AS cum_at_trough,\n"
    "  CAST(ROUND(peak, 6) AS DOUBLE) AS peak_before,\n"
    "  CAST(ROUND(peak - cum, 6) AS DOUBLE) AS max_drawdown\n"
    # Order by the ROUNDED drawdown: the raw doubles carry partial-sum
    # ulp noise from the per-day revenue aggregate, and an unrounded
    # ORDER BY could pick different trough days across engines on a
    # near-tie; the 6-dp pin + day tiebreak is fully deterministic.
    "FROM p ORDER BY ROUND(peak - cum, 6) DESC, day LIMIT 1"
)

register(
    "ts_drawdown",
    engine=_DRAWDOWN_SQL.replace(
        "{PART}", "PARTITION BY PMOD(HASH(day), 1) "
    ),
    oracle=_DRAWDOWN_SQL.replace("{PART}", ""),
    category="timeseries",
    suite="extension",
    doc=(
        "maximum drawdown of cumulative purchase revenue: running "
        "sum + running peak over the daily rollup (one_group windows "
        "on time-range rows), deepest trough reported with its peak"
    ),
)


# -- STL residual anomaly flags (round 10) --------------------------------------

_STL_ANOM_TAIL = (
    # Consumer of the ts_stl_decompose residuals: z-score each day's
    # residual against its TYPE's residual distribution and report the
    # anomalous days (|z| >= 2) — seasonality-aware anomaly detection,
    # the thing a raw-value z-score (ts_burst_zscore) gets wrong on
    # strongly weekly series. Residuals are 6-dp pinned BEFORE the
    # moment pass (identical operands on both engines); the per-type
    # moment table is k rows joined back broadcast-style.
    "r AS (SELECT t.event_type, CAST(t.day AS DATE) AS day,\n"
    "    CAST(ROUND(t.n - t.s / 7.0 - s.seasonal, 6) AS DOUBLE)"
    " AS resid\n"
    "  FROM t JOIN s ON t.event_type = s.event_type\n"
    "    AND {dow_t} = s.dow\n"
    "  WHERE t.s IS NOT NULL),\n"
    "m AS (SELECT event_type, AVG(resid) AS mu,\n"
    "    STDDEV_POP(resid) AS sigma FROM r GROUP BY 1)\n"
    "SELECT r.event_type, r.day, r.resid,\n"
    "  CAST(ROUND((r.resid - m.mu) / m.sigma, 4) AS DOUBLE) AS z\n"
    "FROM r JOIN m ON r.event_type = m.event_type\n"
    "WHERE m.sigma > 0 AND ABS((r.resid - m.mu) / m.sigma) >= 2.0\n"
    "ORDER BY r.event_type, r.day"
)

register(
    "ts_anomaly_stl_residual",
    engine=(
        _STL_BODY.format(dow="(DAYOFWEEK(day) + 5) % 7")
        + ", "
        + _STL_ANOM_TAIL.format(dow_t="(DAYOFWEEK(t.day) + 5) % 7")
    ),
    oracle=(
        _STL_BODY.format(dow="(DAYOFWEEK(day) + 6) % 7")
        + ", "
        + _STL_ANOM_TAIL.format(dow_t="(DAYOFWEEK(t.day) + 6) % 7")
    ),
    category="timeseries",
    suite="extension",
    doc=(
        "seasonality-aware anomaly days: z-score of the STL residual "
        "per type (6-dp pinned residuals, k-row moment join), |z| >= 2 "
        "flagged — the decomposition consumer next to ts_burst_zscore"
    ),
)


# -- Benjamini-Hochberg FDR correction (round 10) ---------------------------------

_BH_SQL = (
    # Multiple-testing correction over the per-type location tests: for
    # each event type, a Welch z of its `value` distribution against
    # the pooled REST, two-sided p via the Abramowitz-Stegun 26.2.17
    # normal-CDF polynomial (pure EXP/arithmetic — identical on both
    # engines), then Benjamini-Hochberg: rank the m p-values ascending
    # and adjust p_adj(i) = min_{j >= i} (p(j) * m / j), the step-up
    # running minimum from the bottom, capped at 1. The family is the
    # k-row TYPE census, so every window folds over k rows. This is the
    # governance pass any metric sweep runs before claiming per-segment
    # effects.
    "WITH s AS (SELECT event_type AS g, COUNT(*) AS n, AVG(value) AS mu,\n"
    "    VAR_SAMP(value) AS v FROM events WHERE value IS NOT NULL\n"
    "  GROUP BY 1),\n"
    "tot AS (SELECT SUM(n) AS n_all, SUM(n * mu) / SUM(n) AS mu_all,\n"
    "    (SUM(v * (n - 1)) + SUM(n * mu * mu)\n"
    "      - SUM(n) * POW(SUM(n * mu) / SUM(n), 2)) / (SUM(n) - 1)\n"
    "      AS v_all\n"
    "  FROM s),\n"
    # Complement (rest-of-corpus) moments from the sufficient statistics
    # — no second scan.
    "w AS (SELECT s.g, s.n, s.mu, s.v,\n"
    "    tot.n_all - s.n AS n2,\n"
    "    (tot.n_all * tot.mu_all - s.n * s.mu) / (tot.n_all - s.n)"
    " AS mu2,\n"
    "    ((tot.v_all * (tot.n_all - 1) + tot.n_all * tot.mu_all"
    " * tot.mu_all)\n"
    "      - (s.v * (s.n - 1) + s.n * s.mu * s.mu)\n"
    "      - (tot.n_all - s.n) * POW((tot.n_all * tot.mu_all"
    " - s.n * s.mu)\n"
    "        / (tot.n_all - s.n), 2)) / (tot.n_all - s.n - 1) AS v2\n"
    "  FROM s CROSS JOIN tot),\n"
    "z AS (SELECT g, ABS((mu - mu2) / SQRT(v / n + v2 / n2)) AS az\n"
    "  FROM w),\n"
    # Two-sided p = 2 * (1 - Phi(|z|)), Phi via A&S 26.2.17 (5-term).
    "p AS (SELECT g, az,\n"
    "    2.0 * (EXP(-az * az / 2.0) / SQRT(2.0 * PI())) * (\n"
    "      0.319381530 * (1.0 / (1.0 + 0.2316419 * az))\n"
    "      - 0.356563782 * POW(1.0 / (1.0 + 0.2316419 * az), 2)\n"
    "      + 1.781477937 * POW(1.0 / (1.0 + 0.2316419 * az), 3)\n"
    "      - 1.821255978 * POW(1.0 / (1.0 + 0.2316419 * az), 4)\n"
    "      + 1.330274429 * POW(1.0 / (1.0 + 0.2316419 * az), 5))"
    " AS pval\n"
    "  FROM p0),\n"
    "r AS (SELECT g, az, pval,\n"
    "    ROW_NUMBER() OVER ({PART}ORDER BY pval, g) AS rk,\n"
    "    COUNT(*) OVER ({CPART}) AS m\n"
    "  FROM p),\n"
    "adj AS (SELECT g, az, pval, rk, m,\n"
    "    MIN(pval * m / rk) OVER ({PART}ORDER BY rk\n"
    "      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS p_min\n"
    "  FROM r)\n"
    "SELECT g AS event_type, CAST(ROUND(az, 6) AS DOUBLE) AS abs_z,\n"
    "  CAST(ROUND(pval, 6) AS DOUBLE) AS p_value,\n"
    "  CAST(ROUND(LEAST(p_min, 1.0), 6) AS DOUBLE) AS p_adj,\n"
    "  LEAST(p_min, 1.0) < 0.05 AS reject_fdr05\n"
    "FROM adj ORDER BY event_type"
)

register(
    "stat_bh_fdr",
    engine=_BH_SQL.replace("FROM p0", "FROM z").replace(
        "{PART}", "PARTITION BY PMOD(HASH(g), 1) "
    ).replace("{CPART}", "PARTITION BY PMOD(HASH(g), 1)"),
    oracle=_BH_SQL.replace("FROM p0", "FROM z").replace(
        "{PART}", ""
    ).replace("{CPART}", ""),
    category="stats",
    suite="extension",
    doc=(
        "Benjamini-Hochberg FDR over per-type Welch z tests (each type "
        "vs the pooled rest, complement moments from sufficient stats — "
        "one scan): A&S normal-CDF polynomial p-values, step-up running "
        "minimum over the k-row family census"
    ),
)


# -- Bollinger band breakouts (round 10) --------------------------------------------

_BOLLINGER_SQL = (
    # Bollinger-band breakout days per metric group: trailing mean +/- 2
    # sample stddev over the 7 PRECEDING OBSERVED DAYS of the daily
    # count series, flag days outside the band. Stated precisely (r10
    # ADVICE): the frame is ROWS over observed days, so a gap in the
    # rollup stretches the lookback past 7 calendar days — the standard
    # trading-days convention (markets skip weekends; Bollinger's own
    # formulation is over observed bars). A strict-calendar variant
    # would densify with a day spine first; this fixture's series is
    # gap-free at sf>=0.01, where the two coincide. All-integer
    # discipline: the window carries only
    # the integer sums S and SS over the full 7-row frame, and the
    # breakout test (n - S/7)^2 > 4 * var is cleared of denominators to
    # 3*(7n - S)^2 > 14*(7*SS - S^2) — EXACT BIGINT comparison on both
    # engines, no float boundary to flip (the ts_stl_decompose integer
    # trick). The reported band edges are display-only doubles.
    # Overflow bound: 14 * 7 * SS needs SS * 98 < 2^63, i.e. daily
    # counts up to ~3e8 — comfortable for any real per-type daily
    # rollup; beyond that, promote to DECIMAL(38,0) on both engines.
    "WITH d AS (SELECT event_type, DATE_TRUNC('day', ts) AS day,\n"
    "    CAST(COUNT(*) AS BIGINT) AS n\n"
    "  FROM events GROUP BY 1, 2),\n"
    "w AS (SELECT event_type, day, n,\n"
    "    CASE WHEN COUNT(*) OVER fr = 7 THEN SUM(n) OVER fr END AS s,\n"
    "    CASE WHEN COUNT(*) OVER fr = 7 THEN SUM(n * n) OVER fr END"
    " AS ss\n"
    "  FROM d\n"
    "  WINDOW fr AS (PARTITION BY event_type ORDER BY day\n"
    "    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))\n"
    # The band WIDTH is reported as the EXACT integer variance
    # numerator (42 * var_samp = 7*SS - S^2), not a rounded sqrt: a
    # 6-dp ROUND of the identical sigma double tie-broke differently
    # across engines on this very fixture (5.6987885 -> .788 vs .789 —
    # Spark rounds the binary double via BigDecimal, DuckDB rounds the
    # scaled decimal), and an irrational can't be operand-pinned.
    # band_mid = S/7 is safe: x/7 scaled by 1e6 never lands exactly on
    # .5 (the 142857 repetend), so its ROUND is tie-free.
    "SELECT event_type, CAST(day AS DATE) AS day, n,\n"
    "  CAST(ROUND(s / 7.0, 6) AS DOUBLE) AS band_mid,\n"
    "  CAST(7 * ss - s * s AS BIGINT) AS var_num_x42\n"
    "FROM w WHERE s IS NOT NULL\n"
    "  AND 3 * (7 * n - s) * (7 * n - s) > 14 * (7 * ss - s * s)\n"
    "ORDER BY event_type, day"
)

register(
    "ts_bollinger_breakout",
    engine=_BOLLINGER_SQL,
    oracle=_BOLLINGER_SQL,
    category="timeseries",
    suite="extension",
    doc=(
        "Bollinger trailing-band breakouts (7 preceding OBSERVED days — "
        "trading-days convention) on daily counts per type: integer "
        "window sums, denominator-cleared EXACT breakout test (no float "
        "boundary), band edges as display doubles"
    ),
)


# -- forecast accuracy of the seasonal-naive baseline (round 10) --------------------

_FORECAST_ACC_SQL = (
    # Forecast-accuracy scorecard for the seasonal-naive baseline
    # (forecast(d) = actual(d - 7)) on the daily count series per type:
    # WAPE = sum|err| / sum|actual| and sMAPE = mean(2|err| /
    # (|f| + |a|)) — the two scale-free error metrics every forecast
    # eval reports. All-integer error cells (counts), LAG(7) over the
    # type-partitioned day rollup; divisions are exact-int-operand
    # singles. The first 7 days per type have no forecast and drop.
    "WITH d AS (SELECT event_type, DATE_TRUNC('day', ts) AS day,\n"
    "    CAST(COUNT(*) AS BIGINT) AS n\n"
    "  FROM events GROUP BY 1, 2),\n"
    "f AS (SELECT event_type, day, n,\n"
    "    LAG(n, 7) OVER (PARTITION BY event_type ORDER BY day) AS fc\n"
    "  FROM d),\n"
    "e AS (SELECT event_type, n, fc, ABS(n - fc) AS ae FROM f\n"
    "  WHERE fc IS NOT NULL)\n"
    "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,\n"
    "  CAST(SUM(ae) AS BIGINT) AS abs_err_sum,\n"
    "  CAST(ROUND(SUM(ae) / CAST(SUM(n) AS DOUBLE), 6) AS DOUBLE)"
    " AS wape,\n"
    "  CAST(ROUND(AVG(2.0 * ae / (n + fc)), 6) AS DOUBLE) AS smape\n"
    "FROM e GROUP BY event_type ORDER BY event_type"
)

register(
    "ts_forecast_accuracy",
    engine=_FORECAST_ACC_SQL,
    oracle=_FORECAST_ACC_SQL,
    category="timeseries",
    suite="extension",
    doc=(
        "WAPE + sMAPE scorecard of the seasonal-naive baseline "
        "(LAG-7 forecast) on daily counts per type: exact integer "
        "error cells, two scale-free accuracy metrics"
    ),
)


# -- chi-square goodness of fit (round 10) ------------------------------------------

_CHISQ_GOF_SQL = (
    # Chi-square goodness-of-fit of each type's day-of-week event
    # distribution against uniform (the "is traffic flat across the
    # week" check behind ts_dow_profile's seasonal index). Exact
    # integer observed cells; chi2 = sum (O - N/7)^2 / (N/7) is
    # algebraically cleared to (7 * sum(O^2) - N^2) / N — exact BIGINT
    # numerator, ONE division, bit-identical across engines. The
    # statistic and df are reported; the p-value needs the incomplete
    # gamma (not expressible identically in both SQL dialects) and is
    # the caller's table lookup, as with stat_ks_test. df is the
    # CONSTANT 6 (7 uniform cells - 1): the cleared statistic already
    # charges empty weekdays their full (0 - N/7)^2/(N/7) term, so a
    # COUNT-of-observed-groups df would understate and make the
    # (chi2, df) pair statistically inconsistent for sparse types
    # (r10 ADVICE).
    "WITH d AS (SELECT event_type,\n"
    "    {dow} AS dow, COUNT(*) AS o\n"
    "  FROM events GROUP BY 1, 2),\n"
    "s AS (SELECT event_type, SUM(o) AS n, SUM(o * o) AS ss\n"
    "  FROM d GROUP BY 1)\n"
    "SELECT event_type, CAST(n AS BIGINT) AS n_events,\n"
    "  CAST(6 AS BIGINT) AS df,\n"
    "  CAST(ROUND((7.0 * ss - CAST(n AS DOUBLE) * n) / n, 6)"
    " AS DOUBLE) AS chi2\n"
    "FROM s ORDER BY event_type"
)

register(
    "stat_chisq_gof",
    engine=_CHISQ_GOF_SQL.format(dow="(DAYOFWEEK(ts) + 5) % 7"),
    oracle=_CHISQ_GOF_SQL.format(dow="(DAYOFWEEK(ts) + 6) % 7"),
    category="stats",
    suite="extension",
    doc=(
        "chi-square goodness-of-fit of day-of-week traffic vs uniform "
        "per type: exact integer cells, denominator-cleared statistic "
        "(one division), df = constant 6 (all 7 uniform cells, empty "
        "weekdays included) — p-value is the caller's table lookup "
        "like stat_ks_test"
    ),
)

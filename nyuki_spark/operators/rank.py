"""Scalable global (un-partitioned) window ranking.

A global ``ROW_NUMBER() OVER (ORDER BY ...)`` makes Spark's WindowExec move
every row to ONE partition ("Moving all data to a single partition" warning)
— the round-1 plan for ``win_rank`` and a guaranteed OOM/bottleneck at
100 TB. This module executes the same semantics in two balanced phases, the
same way the engine rewrote as-of joins:

- :func:`global_row_number` — split the sort-key domain into buckets at
  approxQuantile split points (computed once, embedded as plan LITERALS —
  crucial: ``repartitionByRange`` re-samples its boundaries on every
  evaluation, so two plan branches over the same lineage can disagree;
  literal splits cannot), rank locally per bucket (a window PARTITIONED by
  bucket id, so every WindowExec group is ~|rows|/n_buckets), then add
  cumulative bucket-size offsets (an n_buckets-row side table, broadcast
  back). Buckets are contiguous ranges of the total order and equal keys
  share a bucket, so local-rank + offset == global row number exactly.

- :func:`key_rank` — RANK/DENSE_RANK over a *low-cardinality* key need no
  per-row global sort at all: aggregate to the distinct-key level (partial
  map-side agg), rank the tiny key table (single-partition window over
  #distinct rows — that smallness is the point), broadcast-join back.

- :func:`ntile_from_rn` — NTILE(k) is pure arithmetic once the global row
  number and total count are known: the first ``n % k`` tiles take
  ``n//k + 1`` rows, the rest ``n//k``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nyuki_spark.operators.estimate import size_estimate

__all__ = [
    "global_row_number",
    "global_running_sum",
    "key_rank",
    "ntile_from_rn",
    "one_group",
]


def one_group(col: Column | str) -> Column:
    """A constant-0 window partition key Catalyst cannot fold away.

    ``partitionBy(lit(0))`` says "single group on purpose", but
    ConstantFolding strips foldable partition expressions, leaving an
    EMPTY spec — WindowExec then logs its move-all-data warning for a
    window that is k-row-bounded by design (the one warning in the r6
    full-registry run). Spark 4 also simplifies non-nullable
    ``hash(c) * 0``, so the expression must depend on a column in a way
    no rule folds: ``pmod(hash(c), 1)`` is 0 for every row, never null
    (hash of NULL is the seed), and survives optimization. Same plan
    shape, non-empty spec, no warning — and the registry plan sweep now
    REJECTS any empty-partition WindowExec statically
    (tests/test_plan_registry_sweep.py), so a regression cannot land.
    """
    return F.pmod(F.hash(col), F.lit(1))

# One range bucket per this many input bytes when num_buckets="auto". 32 MB
# keeps every per-bucket window sort comfortably in one task's memory.
_BYTES_PER_BUCKET = 32 << 20


def _auto_buckets(df: DataFrame, cap: int = 32) -> int:
    """Bucket count from Catalyst's size estimate — no job is run.

    Small inputs get 1 bucket, which degenerates the two-phase plan into
    the plain single-partition window — at a few MB that IS the fastest
    plan (r3 verdict: win_rank paid 2.3x over naive at sf0.1 purely in
    bucketing machinery). The estimate comes from file sizes for scans and
    propagated stats elsewhere; anything unknown or huge falls back to the
    cap, which is the safe direction (over-bucketing costs a little
    latency, under-bucketing OOMs).
    """
    size = size_estimate(df)
    if size is None or size >= cap * _BYTES_PER_BUCKET:
        return cap
    return max(1, -(-size // _BYTES_PER_BUCKET))


def global_row_number(
    df: DataFrame,
    sort_col: str,
    tiebreak_cols: list[str] | None = None,
    ascending: bool = True,
    out: str = "rn",
    num_buckets: int | None = None,
    rel_err: float = 0.001,
    attach_total: str | None = None,
) -> DataFrame:
    """Exact global ROW_NUMBER over (sort_col, *tiebreak_cols), no global sort.

    ``sort_col`` must be numeric non-null (it feeds approxQuantile);
    ``tiebreak_cols`` (ascending) must make the order total for a
    deterministic result — same contract as SQL ROW_NUMBER.

    ``num_buckets=None`` sizes the bucket count from Catalyst's input-size
    estimate (see :func:`_auto_buckets`); pass an int to pin it. With one
    bucket the approxQuantile pass is skipped entirely.

    Known limitation (r4 code review): the offsets branch self-joins two
    views of the same tagged lineage; on some non-file-backed inputs
    (e.g. a bare ``spark.range`` projection) Catalyst's dedup of the two
    branches can fail with INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND. All
    registry uses are file-backed scans, which are unaffected; for
    synthetic inputs, write to parquet first or ``localCheckpoint()``.
    """
    if num_buckets is None:
        num_buckets = _auto_buckets(df)
    probs = [i / num_buckets for i in range(1, num_buckets)]
    splits = sorted(set(df.stat.approxQuantile(sort_col, probs, rel_err))) if probs else []
    sarr = F.array(*[F.lit(s) for s in splits])
    v = F.col(sort_col)
    # Deterministic bucket id = how many split points precede this value in
    # the requested order; equal values always share a bucket.
    pid = F.size(F.filter(sarr, lambda s: (v > s) if ascending else (v < s)))
    order = [v.asc() if ascending else v.desc()] + [
        F.col(c).asc() for c in (tiebreak_cols or [])
    ]
    tagged = df.withColumn("_pid", pid)
    # Balanced window: every _pid group holds ~|rows|/num_buckets rows.
    w = Window.partitionBy("_pid").orderBy(*order)
    local = tagged.withColumn("_lrn", F.row_number().over(w))
    # Offsets: cumulative sizes of the preceding buckets. This window spans
    # num_buckets rows total — trivially single-node; the one_group
    # partition declares that on purpose (a partitionless window would
    # emit Spark's move-all-data-to-one-partition warning for a k-row merge).
    cw = (
        Window.partitionBy(one_group("_pid"))
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = tagged.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n")).withColumn(
        "_off", F.coalesce(F.sum("_n").over(cw), F.lit(0))
    )
    if attach_total:
        # Total row count for free off the k-row bucket table — callers
        # needing it (NTILE arithmetic) would otherwise pay a whole extra
        # count() job over the full input.
        tot_w = Window.partitionBy(one_group("_pid")).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        offsets = offsets.withColumn(attach_total, F.sum("_n").over(tot_w))
    keep = ["_pid", "_off"] + ([attach_total] if attach_total else [])
    return (
        local.join(F.broadcast(offsets.select(*keep)), "_pid")
        .withColumn(out, (F.col("_lrn") + F.col("_off")).cast("int"))
        .drop("_pid", "_lrn", "_off")
    )


def global_running_sum(
    df: DataFrame,
    sort_col: str,
    val_col: str,
    out: str = "csum",
    num_buckets: int | None = None,
    rel_err: float = 0.001,
) -> DataFrame:
    """Exact inclusive running ``SUM(val_col) OVER (ORDER BY sort_col)``
    with no global sort — the :func:`global_row_number` decomposition
    applied to a prefix SUM: range-bucket on approxQuantile literals,
    windowed sum per bucket (every WindowExec group ~|rows|/n_buckets),
    then add each bucket's cumulative predecessor total (an
    n_buckets-row side table merged under a one_group window, broadcast
    back). ``sort_col`` must be numeric, non-null, and UNIQUE (id
    columns) — a row-wise prefix sum needs a total order. ``val_col``
    must be integral for the result to be engine-order-independent
    (integer addition is associative; a float prefix sum would encode
    the bucket structure in its rounding).

    Small inputs (one bucket) take the plain one_group window — at a few
    MB that IS the fastest plan (the win_rank r3 lesson); callers'
    sweep allowlist entries should note both shapes.
    """
    if num_buckets is None:
        num_buckets = _auto_buckets(df)
    v = F.col(sort_col)
    if num_buckets == 1:
        w = (
            Window.partitionBy(one_group(sort_col))
            .orderBy(sort_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return df.withColumn(out, F.sum(val_col).over(w))
    probs = [i / num_buckets for i in range(1, num_buckets)]
    splits = sorted(set(df.stat.approxQuantile(sort_col, probs, rel_err)))
    sarr = F.array(*[F.lit(s) for s in splits])
    pid = F.size(F.filter(sarr, lambda s: v > s))
    tagged = df.withColumn("_pid", pid)
    w = (
        Window.partitionBy("_pid")
        .orderBy(sort_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = tagged.withColumn("_lcs", F.sum(val_col).over(w))
    cw = (
        Window.partitionBy(one_group("_pid"))
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        tagged.groupBy("_pid")
        .agg(F.sum(val_col).alias("_s"))
        .withColumn("_off", F.coalesce(F.sum("_s").over(cw), F.lit(0)))
    )
    return (
        local.join(F.broadcast(offsets.select("_pid", "_off")), "_pid")
        .withColumn(out, F.col("_lcs") + F.col("_off"))
        .drop("_pid", "_lcs", "_off")
    )


def key_rank(
    df: DataFrame,
    key_col: str,
    rank_out: str = "rk",
    dense_out: str = "drk",
    stats_df: DataFrame | None = None,
) -> DataFrame:
    """Attach global RANK/DENSE_RANK over ``key_col`` via a distinct-key table.

    Correct for any key cardinality; efficient when distinct(key) fits a
    broadcast (segments, categories, labels, dates — the usual RANK keys).
    The single-partition window here covers #distinct(key) rows — that
    smallness is the design; one_group partitioning declares it intentional.
    """
    kw = Window.partitionBy(one_group(key_col)).orderBy(key_col)
    # Key counts only need (key_col): let callers pass the cheap upstream
    # relation (a bare scan) so this branch doesn't re-execute whatever
    # expensive lineage produced ``df`` (e.g. a full ranking pipeline).
    keys = (
        (stats_df if stats_df is not None else df)
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn(dense_out, F.row_number().over(kw))
        .withColumn(
            rank_out,
            (F.coalesce(F.sum("_n").over(kw.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)) + 1).cast("int"),
        )
        .select(key_col, rank_out, dense_out)
    )
    return df.join(F.broadcast(keys), key_col)


def ntile_from_rn(rn: Column, total: int | Column, k: int) -> Column:
    """NTILE(k) as arithmetic on a global row number ``rn`` (1-based).

    ``total`` may be a Python int or a Column (e.g. the ``attach_total``
    output of :func:`global_row_number` — saves the separate count job).
    """
    if isinstance(total, int):
        q, r = divmod(total, k)
        if q == 0:  # fewer rows than tiles: tile == rn
            return rn.cast("int")
        big = r * (q + 1)  # rows covered by the (q+1)-sized leading tiles
        return (
            F.when(rn <= big, F.ceil(rn / (q + 1))).otherwise(
                r + F.ceil((rn - big) / q)
            )
        ).cast("int")
    q = F.floor(total / k)
    r = total % k
    big = r * (q + 1)
    return (
        F.when(q == 0, rn)
        .when(rn <= big, F.ceil(rn / (q + 1)))
        .otherwise(r + F.ceil((rn - big) / q))
    ).cast("int")

"""Deduplication family for LLM-data pipelines (SURVEY.md §2.10).

Four tiers, cheapest first — a 100 TB corpus runs them as a funnel:

1. **Exact** (`exact_dedup_groups`): hash-groupBy on a content fingerprint.
   One shuffle on the md5 key with map-side partial aggregation; AQE
   handles the (rare) skew of a massively-duplicated boilerplate doc.
2. **SimHash** (`simhash_pairs`): 60-bit sketch per doc (pure Column math,
   computed during the scan), then candidate pairs at small Hamming
   distance. Candidate generation here is banded like classic simhash
   dedup: split the 60 bits into ``bands`` chunks, equi-join on any equal
   chunk (a dup pair at Hamming <= bands-1 must share one chunk — the
   pigeonhole guarantee), then verify the true distance. Equi-join ->
   shuffle-hash/SMJ, never a cross join.
3. **MinHash + LSH** (`minhash_neardup_pairs`): shingle sets -> MLlib
   MinHashLSH ``approxSimilarityJoin`` (band-bucket equi-join under the
   hood). Approximate-recall tier; seeded, so deterministic per run.
4. **Exact n-gram Jaccard** (`ngram_jaccard_pairs`): the ground truth the
   approximate tiers are measured against. Shingle-explode + self-join on
   shingle + count ratio. Quadratic in the worst case — at scale it runs
   only on LSH-candidate pairs (pass ``candidates``).

Embedding-space near-dup (`embedding_neardup_pairs`) closes the family:
cosine similarity over ``array<float>`` columns, JVM-side fold (zip_with +
aggregate), exact over all pairs or LSH-pruned.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nyuki_spark.functions.text import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_P,
    fingerprint_md5,
    simhash60,
    word_ngram_array,
    word_ngrams,
)
from nyuki_spark.operators.estimate import size_estimate

__all__ = [
    "exact_dedup_groups",
    "exact_dedup_keep_first",
    "simhash_chunks",
    "simhash_sketches",
    "simhash_pairs",
    "minhash_band_pairs",
    "minhash_neardup_pairs",
    "ngram_jaccard_pairs",
    "containment_pairs",
    "embedding_neardup_pairs",
]


def exact_dedup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", normalize: bool = False
) -> DataFrame:
    """Duplicate groups: (keep_id, dupes) for every text seen >1 times.

    Grouping on the md5 fingerprint, not the raw text, keeps shuffle rows
    small (16 bytes vs document bodies) — the difference between a cheap
    and an impossible shuffle at 100 TB.
    """
    return (
        df.select(F.col(id_col), fingerprint_md5(text_col, normalize).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dupes"))
        .where(F.col("dupes") > 1)
        .select("keep_id", "dupes")
    )


def exact_dedup_keep_first(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", normalize: bool = False
) -> DataFrame:
    """The corpus with exact duplicates removed (lowest id wins).

    Window-free formulation: min-id per fingerprint then semi-join back —
    two narrow shuffles on the 16-byte key, no sort, no per-group state.
    """
    keep = (
        df.select(F.col(id_col), fingerprint_md5(text_col, normalize).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


def simhash_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 4,
    sketch_col: str | None = None,
) -> DataFrame:
    """(id, sh, band, chunk) rows — ``bands`` per document — the build
    side of every banded SimHash candidate join (within-corpus pairs,
    cross-shard ingestion checks, the streaming dedup index). Docs with
    NULL text carry a NULL sketch and never match a band key. Pass
    ``sketch_col`` to band a precomputed 60-bit sketch instead of
    hashing ``text_col``.
    """
    width = 60 // bands
    sketch = F.col(sketch_col) if sketch_col else simhash60(text_col)
    sh = df.select(F.col(id_col).alias("id"), sketch.alias("sh"))
    return sh.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("sh", b * width)
                        .bitwiseAND((1 << width) - 1)
                        .alias("chunk"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bc"),
    ).select("id", "sh", "bc.band", "bc.chunk")


def simhash_sketches(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, sh): the per-document 60-bit sketch table that
    :func:`simhash_pairs` pins before its band self-join. Callers outside
    the operator use it to show the plan sweep the pre-pin stage."""
    return df.select(F.col(id_col).alias("id"), simhash60(text_col).alias("sh"))


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 4,
) -> DataFrame:
    """Candidate near-dup pairs by SimHash banding, verified by true
    Hamming distance: (id_a, id_b, hamming), id_a < id_b.

    ``bands`` must be > max_hamming for the pigeonhole guarantee (a pair
    within max_hamming differs in <= max_hamming bands, so at least one of
    bands > max_hamming chunks is identical).
    """
    assert bands > max_hamming, "need bands > max_hamming for exact recall"
    # Materialize the (id, sketch) table ONCE before the band self-join
    # (r12, guide §2.4): the join broadcasts one side, so without this both
    # sides re-run the full tokenize -> md5 -> Arrow-vote pipeline (the
    # plan showed the ArrowEvalPython chain twice). The sketch table is two
    # longs per unique doc — localCheckpoint is block-manager-sized at any
    # corpus scale and also truncates lineage for downstream CC loops.
    sh_tbl = simhash_sketches(df, id_col, text_col).localCheckpoint()
    chunks = simhash_chunks(sh_tbl, id_col="id", bands=bands, sketch_col="sh")
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias("hamming"),
        )
        .distinct()
    )
    return cand.where(F.col("hamming") <= max_hamming)


def minhash_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    num_hash_tables: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
) -> DataFrame:
    """Approximate Jaccard near-dup pairs via MLlib MinHashLSH:
    (id_a, id_b, jaccard_est), id_a < id_b, est >= threshold.

    Shingles are hashed into a sparse indicator vector (2^20 dims) —
    MinHashLSH wants Vector input. The vector is built JVM-side by
    ``HashingTF(binary=True)`` over the shingle set (no Python UDF in the
    path: Arrow cannot carry VectorUDT, so a pandas_udf is impossible, and
    a row-wise ``F.udf`` pays per-row Python dispatch — the r3 wart).
    approxSimilarityJoin expands each side by num_hash_tables band keys
    and equi-joins: candidate volume scales with collisions, not with
    |corpus|^2.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    dims = 1 << 20
    shingled = (
        word_ngrams(df, n=n, id_col=id_col, text_col=text_col)
        .groupBy(id_col)
        .agg(F.collect_set("shingle").alias("shingles"))
    )
    htf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=dims, binary=True
    )
    vecs = htf.transform(shingled).select(F.col(id_col).alias("id"), "features")
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=seed
    )
    model = lsh.fit(vecs)
    joined = model.approxSimilarityJoin(vecs, vecs, 1.0 - threshold, distCol="jdist")
    return (
        joined.where(F.col("datasetA.id") < F.col("datasetB.id"))
        .select(
            F.col("datasetA.id").alias("id_a"),
            F.col("datasetB.id").alias("id_b"),
            F.round(1.0 - F.col("jdist"), 4).alias("jaccard_est"),
        )
        .orderBy("id_a", "id_b")
    )


def _pair_shared_counts(
    pairs: DataFrame, sh: DataFrame, id_col: str, length_ok=None
) -> DataFrame:
    """Exact |shingles(a) ∩ shingles(b)| for an explicit candidate-pair
    list: (id_a, id_b, na, nb, shared), where ``sh`` is a
    ``word_ngrams(..., with_size=True)`` table and na/nb are the two
    documents' shingle counts it carries.

    Cost is |pairs| x shingles-per-doc — proportional to the candidate
    list, never to per-shingle pair fanout. Pairs with an empty
    intersection drop out (inner join), which is fine for every caller:
    thresholds are > 0. This is the verification stage of the funnel; the
    shingle self-join only ever has to NOMINATE pairs. ``length_ok(na,
    nb)``, when given, drops pairs whose sizes alone rule them out.

    The candidate list is normalized first (r7 advice): pairs are swapped
    to id_a < id_b, self-pairs dropped, and duplicates collapsed — an
    unnormalized list ((b, a), (x, x), or repeats) would otherwise emit
    contract-violating rows or double-counted intersections. The
    dropDuplicates shuffle is on the candidate list, the small side of
    the funnel by construction.
    """
    norm = (
        pairs.select(
            F.least(F.col("id_a"), F.col("id_b")).alias("id_a"),
            F.greatest(F.col("id_a"), F.col("id_b")).alias("id_b"),
        )
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sh_a = sh.select(F.col(id_col).alias("id_a"), "shingle", F.col("ns").alias("na"))
    sh_b = sh.select(F.col(id_col).alias("id_b"), "shingle", F.col("ns").alias("nb"))
    joined = norm.join(sh_a, "id_a").join(sh_b, ["id_b", "shingle"])
    if length_ok is not None:
        joined = joined.where(length_ok(F.col("na"), F.col("nb")))
    return joined.groupBy("id_a", "id_b", "na", "nb").agg(
        F.count(F.lit(1)).alias("shared")
    )


def _self_join_counts(
    sh: DataFrame, id_col: str, length_ok=None, name: str = "shared"
) -> DataFrame:
    """Shingle self-join: (id_a, id_b, na, nb, <name>) over ALL pairs
    sharing >= 1 shingle of ``sh``. The sizes ride along as group keys
    (they are functions of the ids), so no size aggregate or size join
    is needed downstream; ``length_ok(na, nb)`` joins into the join
    condition. Quadratic in per-shingle document frequency, so callers at
    scale go through :func:`_capped_shared_counts` unless the corpus is
    known skew-free.
    """
    a, b = sh.alias("a"), sh.alias("b")
    cond = (F.col("a.shingle") == F.col("b.shingle")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    if length_ok is not None:
        cond = cond & length_ok(F.col("a.ns"), F.col("b.ns"))
    return (
        a.join(b, cond)
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.ns").alias("na"),
            F.col("b.ns").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias(name))
    )


def _capped_shared_counts(
    sh: DataFrame,
    id_col: str,
    df_cap: int,
    bound_pred,
    length_ok=None,
    require_lossless: bool = False,
) -> DataFrame:
    """df-capped nomination + lossless upper-bound prefilter + exact hot
    verification: (id_a, id_b, na, nb, shared), exact for every pair
    surviving ``bound_pred``.

    Shared by every set-overlap metric that is MONOTONE in ``shared``
    (Jaccard, containment, overlap coefficient, Dice): nomination runs the
    shingle self-join on cold shingles only (document frequency <= df_cap,
    bounding per-shingle fanout at C(df_cap, 2)); a pair's true shared
    count is at most s_cold + min(hot_a, hot_b) (it cannot share more hot
    shingles than either side HAS), so ``bound_pred(_smax, na, nb)`` —
    the metric's threshold test evaluated at that upper bound — discards
    pairs losslessly before the exact hot-intersection count runs on the
    few survivors. A true pair is missed only when EVERY shared shingle is
    corpus-hot, i.e. the pair is indistinguishable from boilerplate
    overlap.

    **Adaptive fall-through (r8 verdict #1):** the hot-key census is the
    funnel's own first aggregate, so its emptiness is known for one cheap
    job. When NO shingle exceeds ``df_cap`` — every shingle is cold — the
    capped funnel is the plain self-join plus pure overhead (hot/cold
    split, bound prefilter, hot verification of an empty set), so this
    falls through to :func:`_self_join_counts`, which is identical by
    definition. Under skew (census non-empty) the capped stages run
    exactly as before.

    ``require_lossless=True`` (r8 advice): callers for whom the capped
    output MUST equal the exact uncapped truth — e.g. the ground-truth
    tier of a dedup evaluation — raise instead of silently capping when
    hot keys exist. On such corpora the operator must either raise
    ``df_cap`` above the max true-cluster shingle frequency or accept the
    uncapped cost; an audit metric that silently drops truth pairs
    inflates the precision of the tier it is supposed to measure.

    ``bound_pred(smax, na, nb) -> Column[boolean]`` must be monotone
    non-decreasing in its first argument for the prefilter to be lossless.
    """
    # Pinned lazily: the emptiness probe is the census's first read and
    # fills the pin, so a skew-free corpus pays no job for pinning (an
    # eager pin cost one of its own), and the skewed branch's anti and
    # semi joins read the pin instead of recomputing the census. Isolated
    # A/B on sf0.1 plus 1000 boilerplate documents (df_cap=50), in-JVM
    # medians of two batches of 7 and 8 rounds, lazy / eager / unpinned:
    # Jaccard 3.38, 3.24 / 3.51, 3.39 / 3.98, 3.34 s; containment 3.79,
    # 3.50 / 3.77, 3.60 / 4.02, 3.75 s. Skew-free, the three are flat.
    hot_keys = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > df_cap)
        .select("shingle")
        .localCheckpoint(eager=False)
    )
    if hot_keys.isEmpty():
        return _self_join_counts(sh, id_col, length_ok)
    if require_lossless:
        hot = hot_keys.limit(5).collect()
        raise ValueError(
            f"require_lossless: {len(hot)}+ shingle(s) exceed df_cap="
            f"{df_cap} (e.g. {hot[0]['shingle']!r}); the capped funnel "
            "could drop true pairs whose overlap is carried entirely by "
            "hot shingles. Raise df_cap above the max true-cluster "
            "shingle document frequency, or run uncapped."
        )
    cold = sh.join(hot_keys, "shingle", "left_anti")
    hot = sh.join(hot_keys, "shingle", "left_semi")
    s_cold = _self_join_counts(cold, id_col, length_ok, "s_cold")
    hcnt = hot.groupBy(id_col).agg(F.count(F.lit(1)).alias("h"))
    ha = hcnt.select(F.col(id_col).alias("id_a"), F.col("h").alias("ha"))
    hb = hcnt.select(F.col(id_col).alias("id_b"), F.col("h").alias("hb"))
    bounded = (
        s_cold.join(ha, "id_a", "left")
        .join(hb, "id_b", "left")
        .withColumn(
            "_smax",
            F.col("s_cold")
            + F.least(
                F.coalesce(F.col("ha"), F.lit(0)),
                F.coalesce(F.col("hb"), F.lit(0)),
            ),
        )
        .where(bound_pred(F.col("_smax"), F.col("na"), F.col("nb")))
        .select("id_a", "id_b", "na", "nb", "s_cold")
    )
    hot_shared = _pair_shared_counts(bounded, hot, id_col).select(
        "id_a", "id_b", F.col("shared").alias("s_hot")
    )
    return bounded.join(hot_shared, ["id_a", "id_b"], "left").select(
        "id_a",
        "id_b",
        "na",
        "nb",
        (F.col("s_cold") + F.coalesce(F.col("s_hot"), F.lit(0))).alias("shared"),
    )


def _shared_counts(
    df: DataFrame,
    n: int,
    id_col: str,
    text_col: str,
    candidates: DataFrame | None,
    df_cap: int | None,
    require_lossless: bool,
    bound_pred,
    length_ok=None,
) -> DataFrame:
    """(id_a, id_b, na, nb, shared) through the branch the arguments pick:
    ``candidates`` verification, the ``df_cap`` funnel, or the plain
    self-join. Every branch carries each document's shingle count ``ns``
    from :func:`word_ngrams` on its shingle rows, so no branch aggregates
    the shingle table for sizes. ``ns`` is per input row, not per id, and
    every branch groups by (id_a, id_b, na, nb): unique ids give one row
    per pair."""
    # Pinned: every branch reads the shingle table at least twice (both
    # sides of the self-join or of the pair verification; the capped
    # funnel's census probe first). word_ngrams ends in a mapInArrow with
    # no exchange after it, so each read would re-run the scan and the
    # Python stage — ReusedExchange has nothing to share, and a
    # repartition tail does not help either: the optimizer pushes
    # different inferred isnotnull filters below it per consumer, so the
    # subtrees stop matching. r12's A/B against this pin (llm_ngram_jaccard
    # 2.12 -> 2.37 s) predates the Python-stage rewrite, when the table
    # still ended in a distinct exchange that ReusedExchange shared. With
    # the pin, isolated sf0.1 medians over two rounds (unpinned ->
    # pinned): llm_subset_containment_capped 5.05/5.47 -> 4.43/4.46 s,
    # llm_dedup_eval 7.69/8.09 -> 6.53/6.27 s.
    sh = word_ngrams(
        df, n=n, id_col=id_col, text_col=text_col, with_size=True
    ).localCheckpoint()
    if candidates is not None:
        return _pair_shared_counts(candidates, sh, id_col, length_ok)
    if df_cap is not None:
        return _capped_shared_counts(
            sh,
            id_col,
            df_cap,
            bound_pred,
            length_ok,
            require_lossless=require_lossless,
        )
    return _self_join_counts(sh, id_col, length_ok)


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    candidates: DataFrame | None = None,
    df_cap: int | None = None,
    require_lossless: bool = False,
) -> DataFrame:
    """Exact word-n-gram Jaccard pairs: (id_a, id_b, jaccard), id_a < id_b.

    ``id_col`` must be unique. Each row's shingle count rides its own
    shingle rows (see :func:`_shared_counts`), so an id on two rows of
    different sizes yields one output row per pair of input rows, each
    with its own ratio. The registry funnels pass
    :func:`collapse_text_groups` representatives, whose ids are unique.

    Self-join on shingle finds only pairs sharing >= 1 shingle — disjoint
    docs never meet, so the join output is |shared-shingle incidences|,
    not |corpus|^2. That bound has one failure mode at 100 TB: a single
    viral shingle (boilerplate header/footer) shared by k documents
    contributes C(k,2) join rows — quadratic in the duplication factor
    (r6 verdict #3). Two scale escapes, composable:

    ``candidates``
        Verify only an explicit (id_a, id_b) list (e.g. from an LSH
        tier). The verification is a bounded per-pair intersection count
        (:func:`_pair_shared_counts`) — the shingle self-join is skipped
        entirely, so no per-shingle fanout is ever paid.
    ``df_cap``
        Candidate NOMINATION ignores shingles whose document frequency
        exceeds the cap, bounding per-shingle fanout at C(df_cap, 2);
        nominated pairs are then verified with their FULL shingle sets
        (hot shingles included), so every emitted jaccard value is exact.
        The cap applies to candidate generation only: a true pair is
        missed only when EVERY shared shingle is corpus-hot (df > cap) —
        i.e. the pair is indistinguishable from boilerplate overlap.
        Identical texts never reach this operator in the registry funnel
        (collapse_text_groups removes them first), so the capped mode's
        recall loss is confined to distinct documents whose entire
        overlap is viral boilerplate — exactly the pairs a dedup pipeline
        does not want. Uncapped (default) behavior is byte-identical to
        the exact oracle.

    Every branch also drops pairs by size alone: Jaccard is at most
    min(na, nb) / max(na, nb), so a pair whose size ratio is below
    ``threshold - 5e-5`` (the 5e-5 covers the final round-4 boundary, see
    :func:`_round_verdict`) cannot be kept. The test runs on the joined
    shingle rows, before a pair's shared count is aggregated. At t = 0.5
    it drops 24% of the self-join's rows on sf0.1's documents (in-JVM
    medians of 10 rounds, with -> without: capped 2.77 -> 2.99 s,
    uncapped 2.49 -> 2.82 s) and 22% on perfbench's seed-5 corpus, where
    fixed per-job cost dominates and the times are flat.
    """
    # The capped funnel's threshold test at the shared upper bound:
    # smax / (na + nb - smax) >= t (the r7 re-plan that took this query
    # 24.5 s -> 4.25 s at sf0.1). The 5e-5 slack covers the final
    # filter's round-4 half-boundary (a true value of t - 0.00004 rounds
    # UP to t and must survive the prefilter); slack only admits extra
    # candidates, exact verification still decides.
    floor = threshold - 5e-5
    shared = _shared_counts(
        df,
        n,
        id_col,
        text_col,
        candidates,
        df_cap,
        require_lossless,
        lambda smax, na, nb: smax / (na + nb - smax) >= floor,
        lambda na, nb: F.least(na, nb) >= floor * F.greatest(na, nb),
    )
    ratio = F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
    return _round_verdict(shared, ratio, "jaccard", threshold)


def _round_verdict(
    pairs: DataFrame, ratio: Column, name: str, threshold: float
) -> DataFrame:
    """(id_a, id_b, <name>) for the pairs whose ``round(ratio, 4)`` reaches
    ``threshold``. A raw ``ratio >= threshold - 1e-4`` test runs first,
    because Spark rounds a double through ``BigDecimal`` on every
    candidate pair and the capped funnel verifies far more pairs than
    survive (310 Jaccard and 123 containment pairs on perfbench's seed-5
    corpus; in-JVM medians of 6 alternating rounds with and without the
    prefilter: 1159 -> 980 ms and 1148 -> 982 ms). It is lossless: a ratio
    that rounds HALF_UP to ``threshold`` or more is at least
    ``threshold - 5e-5``, and the exact round still decides."""
    return (
        pairs.where(ratio >= threshold - 1e-4)
        .select("id_a", "id_b", F.round(ratio, 4).alias(name))
        .where(F.col(name) >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    candidates: DataFrame | None = None,
    df_cap: int | None = None,
    require_lossless: bool = False,
) -> DataFrame:
    """Near-subset containment pairs: (id_a, id_b, containment), id_a <
    id_b, where containment = |shingles(a) ∩ shingles(b)| / min(|a|, |b|)
    — the overlap measure Jaccard misses when sizes differ (a paragraph
    quoted inside a 10x larger doc has Jaccard ~0.1 but containment ~1.0).

    Same scale posture as :func:`ngram_jaccard_pairs`, with which it
    shares the whole funnel: ``candidates`` verifies an explicit pair list
    with no self-join at all; ``df_cap`` bounds per-shingle nomination
    fanout at C(df_cap, 2) and prefilters with the lossless monotone bound
    shared <= s_cold + min(hot_a, hot_b) evaluated at containment's
    threshold test smax / min(na, nb) >= t (containment is monotone in
    shared, so the prefilter loses nothing); uncapped default is the exact
    all-shared-shingle self-join for oracle verification only. Sizes
    alone bound nothing here (a small document can sit wholly inside a
    large one), so no branch has a length filter. ``id_col`` must be
    unique, as for :func:`ngram_jaccard_pairs`.
    """
    # 5e-5 slack for the final round-4 filter boundary, as in
    # ngram_jaccard_pairs.
    floor = threshold - 5e-5
    shared = _shared_counts(
        df,
        n,
        id_col,
        text_col,
        candidates,
        df_cap,
        require_lossless,
        lambda smax, na, nb: smax / F.least(na, nb) >= floor,
    )
    ratio = F.col("shared") / F.least(F.col("na"), F.col("nb"))
    return _round_verdict(shared, ratio, "containment", threshold)


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float | None = None,
    top: int | None = None,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Cosine-similar pairs over an embedding column, JVM-side only.

    Per-row norms are precomputed before the join so the pair stage does a
    single zip_with/aggregate fold per pair. ``candidates`` (id_a, id_b,
    e.g. from :func:`nyuki_spark.operators.similarity.
    embedding_candidates_lsh`) is the scale path: sims are computed only
    for candidate pairs via two equi-joins on the ids — no theta join
    anywhere in the plan. Without it the exact all-pairs O(n^2) form runs —
    keep that for verification/recall passes only. ``top`` returns the k
    most similar pairs; ``threshold`` filters.
    """
    emb_d = F.transform(F.col(emb_col), lambda x: x.cast("double"))
    base = df.select(
        F.col(id_col).alias("id"),
        emb_d.alias("e"),
        F.sqrt(F.aggregate(emb_d, F.lit(0.0), lambda a, x: a + x * x)).alias("nrm"),
    )
    if candidates is not None and _fits_broadcast(base):
        # Hinted where Catalyst already estimates the embeddings under the
        # broadcast threshold. Unhinted, AQE chose the first join's build
        # side by which stage finished first (the candidate list's
        # distinct, then broadcast; or the embeddings' broadcast for the
        # second join, then reused), so executions alternated between two
        # plans and a repeat execution could compile new classes.
        base = F.broadcast(base)
    a, b = base.alias("a"), base.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.e"), F.col("b.e"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    sim_cols = [
        F.col("id_a"),
        F.col("id_b"),
        F.round(dot / (F.col("a.nrm") * F.col("b.nrm")), 4).alias("sim"),
    ]
    if candidates is not None:
        # Equi-join the embeddings onto the (already pruned) candidate list.
        pairs = (
            candidates.select("id_a", "id_b")
            .join(a, F.col("id_a") == F.col("a.id"))
            .join(b, F.col("id_b") == F.col("b.id"))
            .select(*sim_cols)
        )
    else:
        pairs = (
            a.join(b, F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), sim_cols[2])
        )
    if threshold is not None:
        pairs = pairs.where(F.col("sim") >= threshold)
    if top is not None:
        pairs = pairs.orderBy(F.col("sim").desc(), "id_a", "id_b").limit(top)
    return pairs


def _fits_broadcast(df: DataFrame) -> bool:
    """Whether Catalyst's size estimate of ``df`` (no job is run) is
    known and within the session's broadcast threshold."""
    size = size_estimate(df)
    if size is None:
        return False
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    return size <= conf.autoBroadcastJoinThreshold()


def collapse_text_groups(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
):
    """Exact-duplicate collapse for the pair-search funnels: returns
    ``(groups, uniq, has_dups)`` where ``groups`` is one row per distinct
    text — ``(text, rep_id=min(id), members=sorted ids, m=count)`` — and
    ``uniq`` carries only the representatives.

    Identical texts collide in every simhash/minhash band and share every
    shingle, so any pair join over the raw corpus grows with the SQUARE
    of the duplication factor; joining unique texts and expanding member
    pairs afterwards keeps it proportional to unique-text overlap.

    NULL texts are excluded: they carry no simhash/shingles on either
    engine (the oracles' UNNEST emits no token rows), so their
    duplicates must not surface as fabricated pairs. ``groups`` is
    pinned — the funnel probes it (has_dups) and expands from it.
    """
    groups = (
        docs.where(F.col(text_col).isNotNull())
        .groupBy(text_col)
        .agg(
            F.min(id_col).alias("rep_id"),
            F.sort_array(F.collect_list(id_col)).alias("members"),
            F.count(F.lit(1)).alias("m"),
        )
        .localCheckpoint()
    )
    uniq = groups.select(F.col("rep_id").alias(id_col), text_col)
    has_dups = not groups.where(F.col("m") >= 2).isEmpty()
    return groups, uniq, has_dups


def expand_collapsed_pairs(
    rep_pairs: DataFrame,
    groups: DataFrame,
    score_col: str,
    intra_score: Column,
    intra_pred: Column | None = None,
) -> DataFrame:
    """Expand representative-level pairs back to member-level pairs.

    Cross-group pairs inherit their representatives' score (members are
    bit-identical texts); intra-duplicate pairs get ``intra_score`` (the
    score of a self-comparison: hamming 0 / jaccard 1.0). ``intra_pred``
    gates WHICH duplicate groups emit intra pairs — e.g. only texts with
    at least one shingle, since a score is undefined for shingle-less
    texts and the oracles emit nothing for them.
    """
    ga = groups.select(F.col("rep_id").alias("id_a"), F.col("members").alias("_ma"))
    gb = groups.select(F.col("rep_id").alias("id_b"), F.col("members").alias("_mb"))
    inter = (
        rep_pairs.join(ga, "id_a")
        .join(gb, "id_b")
        .select(F.explode("_ma").alias("_u"), "_mb", score_col)
        .select("_u", F.explode("_mb").alias("_v"), score_col)
        .select(
            F.least("_u", "_v").alias("id_a"),
            F.greatest("_u", "_v").alias("id_b"),
            score_col,
        )
    )
    gsel = groups.where(F.col("m") >= 2)
    if intra_pred is not None:
        gsel = gsel.where(intra_pred)
    intra = (
        gsel.select(F.col("members").alias("_ms"))
        .select(F.explode("_ms").alias("_u"), "_ms")
        .select("_u", F.explode("_ms").alias("_v"))
        .where(F.col("_u") < F.col("_v"))
        .select(
            F.col("_u").alias("id_a"),
            F.col("_v").alias("id_b"),
            intra_score.alias(score_col),
        )
    )
    return inter.unionByName(intra)


def minhash_band_pairs(
    docs: DataFrame,
    n_perm: int = 16,
    bands: int = 4,
    shingle: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Candidate near-dup pairs from a PORTABLE MinHash (tier 3's
    oracle-verifiable sibling): salted-md5 min-wise signatures
    (:func:`~nyuki_spark.functions.text.minhash_from_grams`), banded into
    ``bands`` chunks of ``n_perm // bands`` rows; docs agreeing on any
    whole band become a pair, scored by the matching-component fraction
    (the unbiased Jaccard estimate).

    Same scale shape as :func:`simhash_pairs`: signature computed during
    the scan (fold, no shuffle), candidate generation is an equi-join on
    (band index, band hash) — collision volume, never all-pairs. Unlike
    MLlib's ``MinHashLSH`` (JVM-private seeded hash family), every value
    here is reproducible in any engine with md5, so the whole funnel —
    signature, banding, estimate — hash-matches a DuckDB twin.

    Docs with < ``shingle`` tokens carry no shingles and are excluded
    (Jaccard is undefined for an empty set), mirroring the other tiers.
    """
    rows = n_perm // bands
    assert rows * bands == n_perm, "bands must divide n_perm"
    # Signature via explode + n_perm min-aggregates rather than the array
    # fold of ``minhash_from_grams``: identical values (same base hash,
    # same A/B/P arithmetic), but every expression runs in whole-stage
    # codegen instead of interpreted higher-order-function evaluation, and
    # the mins collapse map-side (partial agg) so the one shuffle moves a
    # single n_perm-value row per (partition, doc). The fold form also
    # silently re-inlines the md5 stage into each permutation when the
    # hash array is referenced once (CollapseProject), paying
    # n_perm x shingles digests — this shape pays exactly |shingles|.
    h = (
        docs.select(F.col(id_col), word_ngram_array(text_col, shingle).alias("g"))
        .where(F.col("g").isNotNull())
        .select(id_col, F.explode("g").alias("s"))
        .select(
            id_col,
            F.conv(F.substring(F.md5("s"), 1, 7), 16, 10)
            .cast("bigint")
            .alias("h"),
        )
    )
    mins = [
        F.min(
            (F.lit(MINHASH_A[p]) * F.col("h") + F.lit(MINHASH_B[p]))
            % F.lit(MINHASH_P)
        ).alias(f"m{p}")
        for p in range(n_perm)
    ]
    # One narrow (id, n_perm bigints) row per doc, read by both sides of
    # the band self-join. Not pinned: AQE reuses the signature aggregate's
    # exchange for the second side, so the shingle explode + digest stage
    # runs once either way (sf0.1, isolated medians over two rounds,
    # pinned -> unpinned: llm_minhash_neardup 6.96 -> 7.05 and
    # 6.95 -> 7.06 s, llm_minhash_bandpairs 6.93 -> 6.92 and 6.93 ->
    # 6.91 s).
    sig = (
        h.groupBy(id_col)
        .agg(*mins)
        .select(id_col, F.array(*[f"m{p}" for p in range(n_perm)]).alias("sig"))
    )
    banded = sig.select(
        id_col,
        "sig",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("b"),
    ).select(
        id_col,
        "sig",
        "b",
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.slice("sig", F.col("b") * rows + 1, rows),
                    lambda x: x.cast("string"),
                ),
            )
        ).alias("bk"),
    )
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("sig").alias("sa"), "b", "bk"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("sig").alias("sb"), "b", "bk"
    )
    cand = (
        a.join(b, ["b", "bk"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sa", "sb")
        .distinct()
    )
    est = F.round(
        F.size(F.filter(F.zip_with("sa", "sb", lambda x, y: x == y), lambda v: v))
        / F.lit(float(n_perm)),
        4,
    )
    return cand.select("id_a", "id_b", est.alias("est_jaccard"))

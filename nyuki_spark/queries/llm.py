"""LLM-data-pipeline queries (SURVEY.md §2.10) — the training-data surface.

Every deterministic operator gets a DuckDB oracle twin, including the ones
people usually leave unchecked: simhash (bit-exact 60-bit sketch replicated
in DuckDB SQL), rolling hash (list_reduce fold), banded simhash pair
generation (engine uses the pigeonhole equi-join, oracle brute-forces all
pairs — the match proves the banding loses nothing), and n-gram Jaccard.
Only the genuinely approximate tiers (MinHashLSH, random-hyperplane ANN)
are rows-only; their recall is asserted in tests/test_dedup.py instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyuki_spark.catalog import load_table
from nyuki_spark.functions.text import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_P,
    gram_hashes,
    lang_id,
    minhash_from_grams,
    quality_features,
    rolling_hash,
    simhash60,
    word_ngram_array,
    word_ngrams,
)
from nyuki_spark.operators.dedup import (
    collapse_text_groups,
    containment_pairs,
    expand_collapsed_pairs,
    embedding_neardup_pairs,
    minhash_band_pairs,
    minhash_neardup_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from nyuki_spark.operators.kmeans import kmeans_assign
from nyuki_spark.operators.similarity import knn_cosine_lsh
from nyuki_spark.operators.spans import duplicated_substring_spans
from nyuki_spark.queries.registry import SWEEP_INTERMEDIATES, register

# Shared DuckDB CTE: 60-bit md5-derived token hashes (matches
# functions.text.token_hash60 bit-for-bit — verified primitive parity).
_DUCK_TOK = (
    "SELECT doc_id, ('0x' || SUBSTR(MD5(u.w), 1, 15))::BIGINT AS h\n"
    "FROM documents, UNNEST(STRING_SPLIT(text, ' ')) AS u(w)"
)

_DUCK_SIMHASH = (
    "WITH tok AS (" + _DUCK_TOK + "),\n"
    "bits AS (SELECT doc_id, r.b, SUM(CASE WHEN (h >> r.b) & 1 = 1 THEN 1 ELSE -1 END) AS v\n"
    "         FROM tok, UNNEST(RANGE(0, 60)) AS r(b) GROUP BY doc_id, r.b)\n"
    "SELECT doc_id, CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash\n"
    "FROM bits GROUP BY doc_id"
)


# -- quality scoring ---------------------------------------------------------


def _quality_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        quality_features(docs)
        .select("doc_id", "n_tokens", "avg_token_len", "stopword_ratio", "quality")
        .orderBy("doc_id")
        .limit(50)
    )


register(
    "llm_quality_score",
    engine_fn=_quality_fn,
    oracle=(
        "SELECT doc_id, n_tokens,\n"
        "CAST(ROUND((LENGTH(text) - (n_tokens - 1)) / n_tokens, 4) AS DOUBLE) AS avg_token_len,\n"
        "CAST(ROUND(stop / n_tokens, 4) AS DOUBLE) AS stopword_ratio,\n"
        "CAST(ROUND(LEAST(n_tokens / 100.0, 1.0) * 0.5\n"
        "  + LEAST(((LENGTH(text) - (n_tokens - 1)) / n_tokens) / 8.0, 1.0) * 0.3\n"
        "  + (1.0 - LEAST(stop / n_tokens * 4, 1.0)) * 0.2, 4) AS DOUBLE) AS quality\n"
        "FROM (SELECT doc_id, text, LEN(STRING_SPLIT(text, ' ')) AS n_tokens,\n"
        "      LEN(LIST_FILTER(STRING_SPLIT(text, ' '),\n"
        "          x -> x IN ('the','a','and','of','to'))) AS stop\n"
        "      FROM documents)\n"
        "ORDER BY doc_id LIMIT 50"
    ),
    category="llm-text",
    suite="extension",
    doc="per-doc quality features + composite score, pure Column exprs",
)


# -- language ID -------------------------------------------------------------


def _lang_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            lang_id("text").alias("pred_lang"),
            F.col("lang").alias("gold_lang"),
        )
        .orderBy("doc_id")
        .limit(100)
    )


_LANG_SCORES = {
    "de": "('der','die','das','und','ein')",
    "en": "('the','a','and','of','to')",
    "es": "('el','la','los','y','un')",
    "fr": "('le','la','les','et','un')",
    "zh": "('的','是','了','在','我')",
}

register(
    "llm_lang_id",
    engine_fn=_lang_fn,
    oracle=(
        "SELECT doc_id,\n"
        "CASE WHEN GREATEST(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'\n"
        + "".join(
            f"     WHEN s_{c} = GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN '{c}'\n"
            for c in sorted(_LANG_SCORES)
        )
        + "END AS pred_lang, lang AS gold_lang\n"
        "FROM (SELECT doc_id, lang,\n"
        + ",\n".join(
            f"  LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x IN {w})) AS s_{c}"
            for c, w in sorted(_LANG_SCORES.items())
        )
        + "\n  FROM documents)\nORDER BY doc_id LIMIT 100"
    ),
    category="llm-text",
    suite="extension",
    doc="stopword-vote language ID, argmax with lexicographic tie-break",
)


# -- fingerprints ------------------------------------------------------------

register(
    "llm_fingerprint",
    sql=(
        "SELECT doc_id, MD5(text) AS fp FROM documents ORDER BY doc_id LIMIT 50"
    ),
    category="llm-text",
    suite="extension",
    doc="md5 content fingerprint (portable: identical text in both engines)",
)


def _rolling_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", rolling_hash("text").alias("rh"))
        .orderBy("doc_id")
        .limit(50)
    )


register(
    "llm_rolling_hash",
    engine_fn=_rolling_fn,
    oracle=(
        "SELECT doc_id, LIST_REDUCE(\n"
        "  LIST_PREPEND(CAST(0 AS BIGINT), LIST_TRANSFORM(STRING_SPLIT(text, ' '),\n"
        "    w -> ('0x' || SUBSTR(MD5(w), 1, 15))::BIGINT % 1000000007)),\n"
        "  (acc, x) -> (acc * 31 + x) % 2147483647) AS rh\n"
        "FROM documents ORDER BY doc_id LIMIT 50"
    ),
    category="llm-text",
    suite="extension",
    doc="order-sensitive polynomial rolling hash over tokens (fold, no UDF)",
)


# -- simhash -----------------------------------------------------------------


def _simhash_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", simhash60("text").alias("simhash"))
        .orderBy("doc_id")
        .limit(50)
    )


register(
    "llm_simhash",
    engine_fn=_simhash_fn,
    oracle=_DUCK_SIMHASH + " ORDER BY doc_id LIMIT 50",
    category="llm-dedup",
    suite="extension",
    doc="60-bit SimHash sketch, bit-exact vs a DuckDB SQL replication",
)


def _simhash_pairs_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-collapsed banded simhash pairs (r4): identical texts
    collide in every band, so the banded equi-join runs over unique texts
    and member pairs are expanded afterwards — cross pairs inherit the
    reps' hamming, intra-duplicate pairs are hamming 0 by definition
    (operators/dedup.py: collapse_text_groups / expand_collapsed_pairs).
    """
    docs = load_table(spark, sf_dir, "documents")
    groups, uniq, has_dups = collapse_text_groups(docs)
    rep_pairs = simhash_pairs(uniq, max_hamming=3, bands=4)
    if not has_dups:
        return rep_pairs.orderBy("id_a", "id_b")
    return expand_collapsed_pairs(
        rep_pairs, groups, "hamming", F.lit(0).cast("integer")
    ).orderBy("id_a", "id_b")


register(
    "llm_simhash_pairs",
    engine_fn=_simhash_pairs_fn,
    oracle=(
        "WITH sh AS (" + _DUCK_SIMHASH + ")\n"
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b,\n"
        "       BIT_COUNT(XOR(a.simhash, b.simhash)) AS hamming\n"
        "FROM sh a JOIN sh b ON a.doc_id < b.doc_id\n"
        "WHERE BIT_COUNT(XOR(a.simhash, b.simhash)) <= 3\n"
        "ORDER BY id_a, id_b"
    ),
    category="llm-dedup",
    suite="extension",
    doc=(
        "near-dup pairs at Hamming<=3: engine uses banded equi-join "
        "(pigeonhole-exact), oracle brute-forces all pairs — match proves "
        "the banding is lossless"
    ),
)


# -- n-gram Jaccard ----------------------------------------------------------


def _text_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup representatives: (doc_id, text) with the min doc_id per
    distinct non-null text — the input of the capped and containment
    funnels."""
    return (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "text")
    )


def _jaccard_fn(
    spark: SparkSession,
    sf_dir: str,
    df_cap: int | None = None,
    require_lossless: bool = False,
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Duplicate collapse with FULL member lists (every qualifying pair is
    # emitted, nothing sliceable). Intra pairs are gated on the text
    # yielding >=1 3-gram shingle: jaccard is undefined for shingle-less
    # texts and the oracle emits nothing for them (r4 code review).
    groups, uniq, has_dups = collapse_text_groups(docs)
    rep_pairs = ngram_jaccard_pairs(
        uniq, threshold=0.5, n=3, df_cap=df_cap, require_lossless=require_lossless
    )
    if not has_dups:
        return rep_pairs.orderBy("id_a", "id_b")
    return expand_collapsed_pairs(
        rep_pairs,
        groups,
        "jaccard",
        F.lit(1.0),
        intra_pred=F.size(F.split(F.col("text"), " ")) >= 3,
    ).orderBy("id_a", "id_b")


register(
    "llm_ngram_jaccard",
    engine_fn=_jaccard_fn,
    oracle=(
        "WITH shd AS (\n"
        "  SELECT DISTINCT doc_id, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS s\n"
        "  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS arr FROM documents),\n"
        "       UNNEST(RANGE(1, GREATEST(LEN(arr) - 1, 1))) AS t(i)\n"
        "), n AS (SELECT doc_id, COUNT(*) AS ns FROM shd GROUP BY doc_id),\n"
        "pair AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared\n"
        "         FROM shd a JOIN shd b ON a.s = b.s AND a.doc_id < b.doc_id\n"
        "         GROUP BY 1, 2)\n"
        "SELECT id_a, id_b,\n"
        "       ROUND(shared / (na.ns + nb.ns - shared), 4) AS jaccard\n"
        "FROM pair JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b\n"
        "WHERE ROUND(shared / (na.ns + nb.ns - shared), 4) >= 0.5\n"
        "ORDER BY id_a, id_b"
    ),
    category="llm-dedup",
    suite="extension",
    doc="exact word-3-gram Jaccard pairs >= 0.5 (shingle self-join)",
)


def _jaccard_capped_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB-posture tier of the Jaccard funnel (r6 verdict #3):
    candidate nomination ignores shingles with document frequency > 50,
    bounding per-shingle join fanout at C(50,2)=1225 pairs no matter how
    viral a boilerplate phrase gets; nominated pairs are verified with
    their FULL shingle sets, so every emitted jaccard is exact. Runs
    over the exact-dedup representatives (min doc_id per distinct text)
    — the realistic pipeline order, and what keeps identical texts from
    ever reaching the shingle join. The oracle replicates the capped
    nomination + full verification literally, so the cap semantics
    (not just the happy path) are hash-verified. The cap's bound and
    its losslessness below the cap are tier-1 tests
    (``tests/test_dedup.py::test_jaccard_df_cap_*``); BASELINE.md §r7
    keeps the historical 10^4x-boilerplate table (flat capped cost vs
    quadratic uncapped candidate growth).
    """
    uniq = _text_reps(spark, sf_dir)
    return ngram_jaccard_pairs(uniq, threshold=0.5, n=3, df_cap=50).orderBy(
        "id_a", "id_b"
    )


register(
    "llm_ngram_jaccard_capped",
    engine_fn=_jaccard_capped_fn,
    oracle=(
        "WITH reps AS (SELECT MIN(doc_id) AS doc_id, text FROM documents\n"
        "              WHERE text IS NOT NULL GROUP BY text),\n"
        "shd AS (\n"
        "  SELECT DISTINCT doc_id, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS s\n"
        "  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS arr FROM reps),\n"
        "       UNNEST(RANGE(1, GREATEST(LEN(arr) - 1, 1))) AS t(i)\n"
        "), n AS (SELECT doc_id, COUNT(*) AS ns FROM shd GROUP BY doc_id),\n"
        "cold AS (SELECT s FROM shd GROUP BY s HAVING COUNT(*) <= 50),\n"
        "shc AS (SELECT shd.doc_id, shd.s FROM shd JOIN cold USING (s)),\n"
        "nom AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b\n"
        "        FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id),\n"
        "pair AS (SELECT id_a, id_b, COUNT(*) AS shared\n"
        "         FROM nom\n"
        "         JOIN shd a ON a.doc_id = nom.id_a\n"
        "         JOIN shd b ON b.doc_id = nom.id_b AND b.s = a.s\n"
        "         GROUP BY id_a, id_b)\n"
        "SELECT id_a, id_b,\n"
        "       ROUND(shared / (na.ns + nb.ns - shared), 4) AS jaccard\n"
        "FROM pair JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b\n"
        "WHERE ROUND(shared / (na.ns + nb.ns - shared), 4) >= 0.5\n"
        "ORDER BY id_a, id_b"
    ),
    category="llm-dedup",
    suite="extension",
    doc=(
        "df-capped Jaccard tier: hot-shingle (df>50) pruning in candidate "
        "nomination, exact full-set verification of nominated pairs"
    ),
)


# -- embedding-space near-dup ------------------------------------------------


def _cos_pairs_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 cosine pairs via the full dedup funnel.

    Stage 0 (r4): **exact-duplicate collapse** — group by the embedding
    VALUE, keep one representative per group. Real corpora are duplicate-
    heavy, and identical vectors are LSH's worst case: every copy lands in
    the same bucket of every hash table, so candidate volume grows with
    the SQUARE of the duplication factor (observed on the replicated sf1
    fixtures: 901 s before this stage). Uniques go through LSH candidate
    bucketing + exact rescoring as before; afterwards group pairs expand
    back to member pairs (every member of A x every member of B shares the
    representatives' cosine, since members are bit-identical) and
    intra-group pairs join at sim 1.0 by definition. Member lists are
    sliced to each group's 11 smallest ids before expansion — for a top-10
    output ordered by (sim DESC, id_a, id_b), any qualifying pair uses ids
    within the smallest 11 of its group, so the slice is lossless for the
    result while bounding a mega-duplicate group's expansion at 100 TB.

    Duplicate-free input degenerates to exactly the r3 plan (collapse is a
    1:1 pass, expansions are 1:1). The sim_floor sits well under the
    fixtures' 10th-best pair (~0.45 at sf0.01); recall is asserted vs
    brute force in tests/test_similarity.py.
    """
    from nyuki_spark.operators.similarity import embedding_candidates_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    groups = (
        emb.groupBy("embedding")
        .agg(
            F.min("vec_id").alias("rep_id"),
            F.slice(F.sort_array(F.collect_list("vec_id")), 1, 11).alias("members"),
            F.count(F.lit(1)).alias("m"),
        )
        .localCheckpoint()  # entity-sized; feeds uniq/ga/gb/intra plan branches
    )
    uniq = groups.select(F.col("rep_id").alias("vec_id"), "embedding")
    # One cheap probe on the pinned groups decides the plan: expansion
    # stages only exist for duplicate-bearing corpora; dup-free input gets
    # exactly the r3 plan (collapse is 1:1 there).
    has_dups = not groups.where(F.col("m") >= 2).isEmpty()
    cands = embedding_candidates_lsh(uniq, sim_floor=0.35)
    rep_pairs = embedding_neardup_pairs(uniq, candidates=cands)
    if not has_dups:
        return rep_pairs.orderBy(F.desc("sim"), "id_a", "id_b").limit(10)
    # Top-100 group pairs bound the expansion (only 10 group pairs can
    # contribute to the top-10; 100 gives tie headroom at equal rounded sim).
    rep_top = rep_pairs.orderBy(F.desc("sim"), "id_a", "id_b").limit(100)
    ga = groups.select(F.col("rep_id").alias("id_a"), F.col("members").alias("_ma"))
    gb = groups.select(F.col("rep_id").alias("id_b"), F.col("members").alias("_mb"))
    inter = (
        rep_top.join(ga, "id_a")
        .join(gb, "id_b")
        .select(F.explode("_ma").alias("_u"), "_mb", "sim")
        .select("_u", F.explode("_mb").alias("_v"), "sim")
        .select(
            F.least("_u", "_v").alias("id_a"),
            F.greatest("_u", "_v").alias("id_b"),
            "sim",
        )
    )
    intra = (
        groups.where(F.col("m") >= 2)
        .select(F.col("members").alias("_ms"))
        .select(F.explode("_ms").alias("_u"), "_ms")
        .select("_u", F.explode("_ms").alias("_v"))
        .where(F.col("_u") < F.col("_v"))
        .select(
            F.col("_u").alias("id_a"),
            F.col("_v").alias("id_b"),
            F.lit(1.0).alias("sim"),
        )
    )
    return (
        inter.unionByName(intra)
        .orderBy(F.desc("sim"), "id_a", "id_b")
        .limit(10)
    )


register(
    "llm_cosine_pairs",
    engine_fn=_cos_pairs_fn,
    oracle=(
        "SELECT a.vec_id AS id_a, b.vec_id AS id_b,\n"
        "CAST(ROUND(LIST_COSINE_SIMILARITY(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS DOUBLE) AS sim\n"
        "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id\n"
        "ORDER BY sim DESC, id_a, id_b LIMIT 10"
    ),
    category="llm-dedup",
    suite="extension",
    doc="top-10 cosine pairs: LSH candidate equi-join + exact JVM-side fold",
)


# -- multimodal plumbing -----------------------------------------------------

register(
    "llm_multimodal_bytes",
    engine=(
        "SELECT source, COUNT(*) AS n,\n"
        "CAST(SUM(OCTET_LENGTH(CAST(text AS BINARY))) AS BIGINT) AS total_bytes,\n"
        "MAX(OCTET_LENGTH(CAST(text AS BINARY))) AS max_bytes\n"
        "FROM documents GROUP BY source ORDER BY source"
    ),
    oracle=(
        "SELECT source, COUNT(*) AS n,\n"
        "CAST(SUM(OCTET_LENGTH(ENCODE(text))) AS BIGINT) AS total_bytes,\n"
        "MAX(OCTET_LENGTH(ENCODE(text))) AS max_bytes\n"
        "FROM documents GROUP BY source ORDER BY source"
    ),
    category="llm-multimodal",
    suite="extension",
    doc="binary-payload accounting: utf8-encode to BINARY, byte stats per source",
)


# -- approximate tiers (rows-only; recall asserted in tests) -----------------


def _minhash_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup DECISION tier over the portable MinHash banding: banded
    candidate pairs (collision-bounded equi-join, never all-pairs), kept
    when the signature-estimated Jaccard clears the 0.5 threshold.

    Until round 5 this ran MLlib's ``minhash_neardup_pairs``
    (JVM-private seeded hash family — rows-only check by necessity); the
    portable salted-md5 family computes the same funnel with values any
    md5-capable engine reproduces, so the whole near-dup verdict is now
    hash-verified against the DuckDB twin. The MLlib tier remains a
    first-class operator with its own recall floor
    (operators/dedup.py:minhash_neardup_pairs; tests/test_dedup.py).

    Duplicate collapse before the LSH (identical texts collide in every
    band, squaring candidate volume). Intra pairs carry the same
    >=1-shingle gate as llm_ngram_jaccard: no signature exists below 3
    tokens, so duplicates of shingle-less texts must not surface as
    fabricated 1.0 pairs (r4 code review).
    """
    docs = load_table(spark, sf_dir, "documents")
    groups, uniq, has_dups = collapse_text_groups(docs)
    rep_pairs = minhash_band_pairs(uniq, n_perm=16, bands=4).where(
        F.col("est_jaccard") >= 0.5
    )
    if not has_dups:
        return rep_pairs.orderBy("id_a", "id_b")
    return expand_collapsed_pairs(
        rep_pairs,
        groups,
        "est_jaccard",
        F.lit(1.0),
        intra_pred=F.size(F.split(F.col("text"), " ")) >= 3,
    ).orderBy("id_a", "id_b")


def _knn_lsh_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 via portable sign-random-projection LSH (Charikar
    STOC'02): md5-derived hyperplanes (operators/similarity.py:
    srp_hyperplanes) make the bucketing engine-independent, so the whole
    approximate RESULT SET — candidate selection included — is
    hash-verified against the DuckDB twin below (rows-only through r5
    under MLlib's JVM-private RNG; the MLlib tier keeps its own recall
    floor in tests/test_similarity.py and scripts/ann_recall_sf1.py).
    """
    from nyuki_spark.operators.similarity import knn_cosine_srp

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    return knn_cosine_srp(
        emb.where(F.col("vec_id") != 0),
        [float(x) for x in q],
        k=10,
        n_tables=_SRP_TABLES,
        n_bits=_SRP_BITS,
        hamming=1,
    )


_SRP_TABLES, _SRP_BITS = 4, 8


def _srp_oracle_sql() -> str:
    """DuckDB twin of :func:`_knn_lsh_fn`: identical md5-derived
    hyperplane constants (embedded as literals by the same generator),
    identical left-to-right dot-product chains, XOR single-bit-flip
    probes, exact cosine rerank on the candidate set."""
    from nyuki_spark.operators.similarity import srp_hyperplanes, srp_key_exprs

    planes = srp_hyperplanes(_SRP_TABLES, _SRP_BITS, 64)
    keys = srp_key_exprs("embedding", planes, "duckdb")
    qkeys = srp_key_exprs("e", planes, "duckdb")
    vk = "\nUNION ALL\n".join(
        f"SELECT vec_id, {t} AS t, {k} AS key FROM embeddings"
        " WHERE vec_id <> 0"
        for t, k in enumerate(keys)
    )
    qk = "\nUNION ALL\n".join(
        f"SELECT {t} AS t, {k} AS key FROM q" for t, k in enumerate(qkeys)
    )
    flips = ", ".join(str(o) for o in [0] + [1 << b for b in range(_SRP_BITS)])
    return (
        "WITH q AS (SELECT embedding AS e FROM embeddings"
        " WHERE vec_id = 0),\n"
        f"vk AS (\n{vk}),\n"
        f"qb AS (\n{qk}),\n"
        f"qk AS (SELECT DISTINCT t, XOR(key, o.o) AS key FROM qb,"
        f" (SELECT UNNEST([{flips}]) AS o) o),\n"
        "cand AS (SELECT DISTINCT vec_id FROM vk JOIN qk USING (t, key))\n"
        "SELECT e.vec_id, CAST(ROUND(LIST_COSINE_SIMILARITY("
        "CAST(e.embedding AS DOUBLE[]), CAST(q.e AS DOUBLE[])), 4)"
        " AS DOUBLE) AS sim\n"
        "FROM embeddings e JOIN cand USING (vec_id) CROSS JOIN q\n"
        "ORDER BY sim DESC, e.vec_id LIMIT 10"
    )


register(
    "llm_knn_lsh",
    engine_fn=_knn_lsh_fn,
    oracle=_srp_oracle_sql(),
    category="llm-similarity",
    suite="extension",
    doc=(
        "ANN top-10 via portable sign-random-projection LSH (4 tables x "
        "8 md5-derived hyperplanes, Hamming<=1 probe, exact rerank) — "
        "hash-verified incl. candidate selection; recall floor at sf1 in "
        "scripts/ann_recall_sf1.py"
    ),
)


# -- BPE-ish regex tokenization ----------------------------------------------

register(
    "llm_token_regex",
    engine=(
        "SELECT doc_id, SIZE(REGEXP_EXTRACT_ALL(text, '[a-z]+|[0-9]+', 0)) AS n_tok,\n"
        "SIZE(ARRAY_DISTINCT(REGEXP_EXTRACT_ALL(text, '[a-z]+|[0-9]+', 0))) AS n_uniq\n"
        "FROM documents ORDER BY doc_id LIMIT 100"
    ),
    oracle=(
        "SELECT doc_id, LEN(REGEXP_EXTRACT_ALL(text, '[a-z]+|[0-9]+')) AS n_tok,\n"
        "LEN(LIST_DISTINCT(REGEXP_EXTRACT_ALL(text, '[a-z]+|[0-9]+'))) AS n_uniq\n"
        "FROM documents ORDER BY doc_id LIMIT 100"
    ),
    category="llm-text",
    suite="extension",
    doc="regex (BPE-ish) tokenizer: token + unique-token counts per doc",
)


# -- Zipf law fit over the term-frequency distribution -----------------------

# The corpus-health diagnostic LLM pipelines run before training: natural
# text follows Zipf (log-freq ~ -1 * log-rank); a slope far from -1 flags
# boilerplate/templated corpora. Plan: one (term) hash aggregate over the
# exploded tokens (partial map-side combine), a TakeOrdered 500-term cut
# (compile-time cap — NO vocab-sized global sort), rank within the 500
# bounded rows, one REGR_SLOPE/INTERCEPT moment pass. Rank ties broken by
# term so both engines rank identically; 6-dp round pins the regression's
# aggregation-order fp.

register(
    "llm_zipf_fit",
    engine=(
        "WITH tf AS (\n"
        "  SELECT term, COUNT(*) AS cnt FROM (\n"
        "    SELECT EXPLODE(SPLIT(text, ' ')) AS term FROM documents\n"
        "    WHERE text IS NOT NULL) t\n"
        "  WHERE term <> '' GROUP BY term),\n"
        "top AS (SELECT term, cnt FROM tf ORDER BY cnt DESC, term"
        " LIMIT 500),\n"
        # PMOD(HASH(term),1) = constant 0 but non-foldable: declares the
        # deliberate single group over the 500-row cut WITHOUT the empty
        # partition spec that makes WindowExec warn (one_group, rank.py).
        "r AS (SELECT cnt, ROW_NUMBER() OVER (PARTITION BY"
        " PMOD(HASH(term), 1) ORDER BY cnt DESC, term)"
        " AS rnk FROM top)\n"
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,\n"
        "  CAST(ROUND(REGR_SLOPE(LN(cnt), LN(rnk)), 6) AS DOUBLE)"
        " AS zipf_slope,\n"
        "  CAST(ROUND(REGR_INTERCEPT(LN(cnt), LN(rnk)), 6) AS DOUBLE)"
        " AS zipf_intercept\n"
        "FROM r"
    ),
    oracle=(
        "WITH tf AS (\n"
        "  SELECT term, COUNT(*) AS cnt\n"
        "  FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS term\n"
        "        FROM documents WHERE text IS NOT NULL) t\n"
        "  WHERE term <> '' GROUP BY term),\n"
        "top AS (SELECT term, cnt FROM tf ORDER BY cnt DESC, term"
        " LIMIT 500),\n"
        "r AS (SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, term)"
        " AS rnk FROM top)\n"
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,\n"
        "  CAST(ROUND(REGR_SLOPE(LN(cnt), LN(rnk)), 6) AS DOUBLE)"
        " AS zipf_slope,\n"
        "  CAST(ROUND(REGR_INTERCEPT(LN(cnt), LN(rnk)), 6) AS DOUBLE)"
        " AS zipf_intercept\n"
        "FROM r"
    ),
    category="llm-text",
    suite="extension",
    doc=(
        "Zipf's-law fit of the term-frequency distribution (log-log OLS "
        "over the top-500 terms): corpus-health diagnostic; TakeOrdered "
        "cut, no vocab-sized global sort"
    ),
)


# -- IVF similarity search (approx tier; recall in tests) --------------------


def _duck_kmeans_ctes(p: str = "", e_expr: str = "embedding::DOUBLE[]",
                      dims: int = 64, k: int | str = 8,
                      src: str = "embeddings") -> str:
    """DuckDB twin of operators/kmeans.py: kmeans_assign(k, iters=2) as a
    CTE chain ending in ``{p}a2`` holding (vec_id, cid). ``p`` prefixes
    every CTE name so several instances (PQ subspaces) compose in one
    WITH; ``e_expr`` selects the (sliced) vector. Shared by the
    assignment, SemDeDup-prune, and product-quantization oracles.

    ``k`` may be an int literal or a SQL scalar-subquery string (DuckDB
    accepts a subquery LIMIT), letting an oracle derive k from the data
    the same way the engine does — the SemDeDup rows-per-cell contract.
    """

    def asg(out: str, cent: str) -> str:
        return (
            f"{p}{out} AS (SELECT vec_id, cid FROM (\n"
            f"    SELECT {p}emb.vec_id, {p}{cent}.cid,\n"
            "      ROW_NUMBER() OVER (PARTITION BY"
            f" {p}emb.vec_id ORDER BY\n"
            f"        LIST_REDUCE(LIST_TRANSFORM(GENERATE_SERIES(1, {dims}),\n"
            f"          i -> ({p}emb.e[i] - {p}{cent}.c[i])"
            f" * ({p}emb.e[i] - {p}{cent}.c[i])),\n"
            "          (a, b) -> a + b),\n"
            f"        {p}{cent}.cid) AS rn\n"
            f"    FROM {p}emb CROSS JOIN {p}{cent}) WHERE rn = 1)"
        )

    return (
        f"{p}emb AS (SELECT vec_id, {e_expr} AS e FROM {src}),\n"
        f"{p}c0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1"
        " AS INT) AS cid, e AS c\n"
        f"       FROM {p}emb ORDER BY vec_id LIMIT {k}),\n"
        + asg("a1", "c0") + ",\n"
        f"{p}c1 AS (SELECT cid, LIST(v ORDER BY dim) AS c FROM (\n"
        f"    SELECT {p}a1.cid AS cid, u.dim AS dim,"
        f" ROUND(AVG({p}emb.e[u.dim]), 6) AS v\n"
        f"    FROM {p}emb JOIN {p}a1 USING (vec_id),\n"
        f"         UNNEST(GENERATE_SERIES(1, {dims})) AS u(dim)\n"
        f"    GROUP BY {p}a1.cid, u.dim) GROUP BY cid),\n"
        + asg("a2", "c1")
    )


def _ivf_fingerprint(emb: DataFrame) -> str:
    """Data fingerprint folded into every persisted-index key (r9
    verdict "What's wrong #2"; r10 ADVICE hardened it): COUNT(*) +
    MAX(vec_id) + an order-insensitive VALUE hash — BIT_XOR(xxhash64(
    vec_id, embedding)) — so regenerating the fixture parquet IN PLACE
    changes the key and the index is rebuilt, even when the rewrite
    keeps the same row count and id range but different embedding
    VALUES (new generator seed — the case the r9 count+max key silently
    missed). xxhash64 is computed JVM-side per row; XOR is exact,
    partition-order independent (float sums are not) and cannot
    overflow under ANSI mode, so the key is stable across runs on
    unchanged data (pairwise-duplicate rows would cancel in XOR, but
    vec_id makes rows unique and COUNT is folded in anyway). Cost: one columnar scan of (vec_id, embedding) at build-check
    time — and ONLY when the source files changed (r11 ADVICE #3):
    :func:`_ivf_fingerprint_cached` memoizes the value hash in-session
    keyed on the parquet files' (path, size, mtime) listing, so a pure
    cache-hit query pays a metadata stat, not a scan; the value hash —
    not the file metadata — stays the KEY'S identity, so a dataset
    copied between stores (same values, new mtimes) still maps to the
    same index."""
    row = emb.agg(
        F.count(F.lit(1)).alias("n"),
        F.max("vec_id").alias("mx"),
        F.bit_xor(F.xxhash64("vec_id", "embedding")).alias("vh"),
    ).head()
    return f"n{row['n']}mx{row['mx']}vh{row['vh']}"


# In-session fingerprint memo: {(abspath(sf_dir), file-metadata sig) ->
# value fingerprint}. Bounded by the handful of sf_dirs a session touches.
_FP_MEMO: dict[tuple, str] = {}


def _emb_meta_sig(sf_dir: str) -> tuple | None:
    """Cheap change detector for ``<sf_dir>/embeddings.parquet``: the
    sorted (relpath, size, mtime_ns) listing of its files. ``None`` when
    the path is not a local file/dir (remote stores skip the memo and
    pay the scan — correctness never depends on the memo)."""
    import os

    p = os.path.join(sf_dir, "embeddings.parquet")
    try:
        if os.path.isfile(p):
            st = os.stat(p)
            return (("", st.st_size, st.st_mtime_ns),)
        if not os.path.isdir(p):
            return None
        out = []
        for root, _dirs, files in os.walk(p):
            for f in files:
                fp = os.path.join(root, f)
                st = os.stat(fp)
                out.append((os.path.relpath(fp, p), st.st_size, st.st_mtime_ns))
        return tuple(sorted(out))
    except OSError:
        return None


def _ivf_fingerprint_cached(sf_dir: str, emb: DataFrame) -> str:
    """:func:`_ivf_fingerprint` of the corpus (vec_id != 0), memoized on
    the embeddings parquet's file metadata — recomputed only when a file
    is added/rewritten, so repeat queries against an unchanged corpus
    skip the full-column scan (r11 ADVICE #3)."""
    import os

    sig = _emb_meta_sig(sf_dir)
    if sig is None:
        return _ivf_fingerprint(emb.where(F.col("vec_id") != 0))
    key = (os.path.abspath(sf_dir), sig)
    if key not in _FP_MEMO:
        _FP_MEMO[key] = _ivf_fingerprint(emb.where(F.col("vec_id") != 0))
    return _FP_MEMO[key]


def _publish_index(index_dir: str, marker_rel: str, build) -> None:
    """Crash- and race-safe index publication (r11 ADVICE #4): ``build``
    writes the full layout into a unique temp SIBLING, which is then
    atomically renamed into place — a reader can never observe a
    partially-written index at ``index_dir``, and two sessions racing on
    a shared writable dataset dir resolve to whichever rename wins (the
    loser's work is discarded). If the rename loses to a COMPLETE index
    (``marker_rel`` present) the winner stands; a stale partial dir
    (crashed pre-r12 build) is cleared and the rename retried. Local-FS
    rename is atomic; on an object store, front this with a lock."""
    import os
    import shutil
    import uuid as _uuid

    tmp = f"{index_dir}.tmp-{_uuid.uuid4().hex[:8]}"
    try:
        build(tmp)
        try:
            os.rename(tmp, index_dir)
            return
        except OSError:
            pass
        if os.path.exists(os.path.join(index_dir, marker_rel)):
            return  # a concurrent builder published a complete index
        shutil.rmtree(index_dir, ignore_errors=True)
        try:
            os.rename(tmp, index_dir)
        except OSError:
            if not os.path.exists(os.path.join(index_dir, marker_rel)):
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _index_root(sf_dir: str) -> str:
    """Where persisted ANN indexes live (r10 verdict Next #6): co-located
    under `<sf_dir>/.nyuki_index/` so the cache survives tempdir cleanup
    and TRAVELS WITH the dataset (a second session — or a second host
    mounting the same store — reuses the build instead of refitting).
    The driver's `/root/testdata/*` dirs are read-only by contract, so a
    non-writable sf_dir falls back to the old tempdir location; the key
    (value fingerprint + params + version — path-free since r12) is
    identical either way, so correctness never depends on which root
    won."""
    import os
    import stat
    import tempfile

    # Permission BITS, not os.access(): under root, access(W_OK) says yes
    # even for mode-555 dirs, and the driver's testdata is exactly that —
    # a read-only-by-contract 555 tree we must never write into.
    try:
        st = os.stat(sf_dir)
    except OSError:
        return tempfile.gettempdir()
    if stat.S_ISDIR(st.st_mode) and st.st_mode & stat.S_IWUSR and os.access(sf_dir, os.W_OK):
        return os.path.join(sf_dir, ".nyuki_index")
    return tempfile.gettempdir()


def _ivf_index_dir(spark: SparkSession, sf_dir: str, emb: DataFrame) -> str:
    """Shared persisted-index location for llm_knn_ivf / llm_knn_ivfpq
    (the coarse quantizer is shared), keyed by data fingerprint +
    parameters + layout version — NOT the mount path (r11 ADVICE #2):
    the count+max+xxhash64 value fingerprint already uniquely identifies
    the data, so a dataset copied or mounted at a different absolute
    path carries its co-located ``.nyuki_index`` along AND hits the
    cache."""
    import hashlib
    import os

    fp = _ivf_fingerprint_cached(sf_dir, emb)
    key = hashlib.md5(f"{fp}|cells=16|det|v5".encode()).hexdigest()[:12]
    return os.path.join(_index_root(sf_dir), f"nyuki-ivf-{key}")


def _knn_ivf_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from nyuki_spark.operators.similarity import build_ivf_index, knn_cosine_ivf_indexed

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    # Build-once / query-many: the index (cell-partitioned parquet +
    # centroids) is keyed by corpus + parameters and persisted; only the
    # first call per corpus pays the k-means fit. The query path reads the
    # probed cells' partitions only (directory-level pruning). v3: the
    # quantizer is the deterministic operators/kmeans.py fit (r6), so the
    # DuckDB twin below re-derives the identical cells and the whole
    # approximate result — assignment, probe selection, rerank — is
    # hash-verified (rows-only through r5 under MLlib's seeded k-means||).
    from nyuki_spark.functions.fsutil import fs_exists

    index_dir = _ivf_index_dir(spark, sf_dir, emb)
    if not fs_exists(spark, os.path.join(index_dir, "vectors", "_SUCCESS")):
        _publish_index(
            index_dir,
            os.path.join("vectors", "_SUCCESS"),
            lambda d: build_ivf_index(
                emb.where(F.col("vec_id") != 0), d, n_cells=16
            ),
        )
    return knn_cosine_ivf_indexed(spark, index_dir, [float(x) for x in q], k=10)


def _fold(expr: str, dims: int = 64) -> str:
    """LIST_REDUCE left fold of ``expr`` (uses ``i``) over 1..dims —
    DuckDB's sequential sum, the operand order _probe_cells mirrors."""
    return (
        f"LIST_REDUCE(LIST_TRANSFORM(GENERATE_SERIES(1, {dims}),"
        f" i -> {expr}), (a, b) -> a + b)"
    )


_IVF_ORACLE = (
    "WITH "
    + _duck_kmeans_ctes(
        k=16, src="(SELECT * FROM embeddings WHERE vec_id <> 0)"
    )
    + ",\n"
    "q AS (SELECT embedding::DOUBLE[] AS e FROM embeddings"
    " WHERE vec_id = 0),\n"
    "cs AS (SELECT cid,\n"
    f"  {_fold('c1.c[i] * q.e[i]')}\n"
    f"  / (SQRT({_fold('c1.c[i] * c1.c[i]')})"
    f" * SQRT({_fold('q.e[i] * q.e[i]')})) AS sim\n"
    "  FROM c1 CROSS JOIN q),\n"
    "probe AS (SELECT cid FROM cs ORDER BY sim DESC, cid LIMIT 4),\n"
    "cand AS (SELECT vec_id FROM a2 WHERE cid IN (SELECT cid FROM probe))\n"
    "SELECT e.vec_id, CAST(ROUND(LIST_COSINE_SIMILARITY("
    "CAST(e.embedding AS DOUBLE[]), q.e), 4) AS DOUBLE) AS sim\n"
    "FROM embeddings e JOIN cand USING (vec_id) CROSS JOIN q\n"
    "ORDER BY sim DESC, e.vec_id LIMIT 10"
)


register(
    "llm_knn_ivf",
    engine_fn=_knn_ivf_fn,
    oracle=_IVF_ORACLE,
    category="llm-similarity",
    suite="extension",
    doc=(
        "ANN top-10 via prebuilt IVF index (fit-once DETERMINISTIC "
        "k-means, cell-partition-pruned 4-of-16 probe, exact rerank) — "
        "hash-verified incl. cell assignment and probe selection; recall "
        "floor at sf1 in scripts/ann_recall_sf1.py"
    ),
)


# -- incremental IVF maintenance (append without rebuild) ---------------------


def _ivf_append_dir(sf_dir: str, emb: DataFrame) -> str:
    import hashlib
    import os

    # Data fingerprint in the key (path-free, memoized), same rationale
    # as _ivf_index_dir; co-located root, same rationale as _index_root.
    fp = _ivf_fingerprint_cached(sf_dir, emb)
    key = hashlib.md5(f"{fp}|cells=16|append|v3".encode()).hexdigest()[:12]
    return os.path.join(_index_root(sf_dir), f"nyuki-ivfapp-{key}")


def _ivf_splits(emb):
    """(base, new): the 80% the index is built on, the 20% appended
    daily. vec 0 is the query vector — excluded from both, as in
    llm_knn_ivf."""
    base = emb.where((F.col("vec_id") != 0) & (F.col("vec_id") % 5 != 0))
    new = emb.where((F.col("vec_id") != 0) & (F.col("vec_id") % 5 == 0))
    return base, new


def _knn_ivf_append_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF daily-maintenance path: the index is BUILT on 80% of the
    corpus, the remaining 20% arrives later and is APPENDED — assigned
    against the frozen centroids and written into the cell-partitioned
    layout with no refit and no rewrite of existing files (operators/
    similarity.py: append_ivf_index; the FAISS train-then-add contract).
    Search is unchanged: directory pruning sees appended files
    immediately. The oracle re-derives the frozen quantizer from the
    base subset and assigns ALL vectors against it, so the append-path
    assignment itself is hash-verified. If a partial build/append crashed
    (no marker), the build's mode("overwrite") clears the layout and the
    sequence reruns from scratch — append is never applied twice.
    """
    import os

    from nyuki_spark.functions.fsutil import fs_exists, fs_write_marker
    from nyuki_spark.operators.similarity import (
        append_ivf_index,
        build_ivf_index,
        knn_cosine_ivf_indexed,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    index_dir = _ivf_append_dir(sf_dir, emb)
    marker = os.path.join(index_dir, "_APPEND_DONE")
    if not fs_exists(spark, marker):

        def _build(d: str) -> None:
            base, new = _ivf_splits(emb)
            build_ivf_index(base, d, n_cells=16)
            append_ivf_index(new, d)
            fs_write_marker(spark, os.path.join(d, "_APPEND_DONE"))

        # Atomic publish (r11 ADVICE #4): the build+append+marker
        # sequence lands in a temp sibling and renames into place, so a
        # reader never sees the index between build and append — and the
        # pre-r12 "crashed partial reruns from scratch" contract holds
        # trivially (a partial never occupies index_dir at all).
        _publish_index(index_dir, "_APPEND_DONE", _build)
    return knn_cosine_ivf_indexed(spark, index_dir, [float(x) for x in q], k=10)


def _ivf_append_assign_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The append path's pre-write plan for the registry sweep: frozen-
    centroid assignment of the new vectors (the index write hides it
    behind parquet, like every persisted artifact)."""
    from nyuki_spark.operators.similarity import assign_to_frozen_cells

    emb = load_table(spark, sf_dir, "embeddings")
    _, new = _ivf_splits(emb)
    index_dir = _ivf_append_dir(sf_dir, emb)
    centroids = spark.read.parquet(f"{index_dir}/centroids")
    return assign_to_frozen_cells(new, centroids)


_IVF_APPEND_ORACLE = (
    "WITH "
    + _duck_kmeans_ctes(
        k=16,
        src="(SELECT * FROM embeddings WHERE vec_id <> 0 AND vec_id % 5 <> 0)",
    )
    + ",\n"
    # Frozen-quantizer assignment of the FULL corpus (base + appended)
    # against c1 — the deterministic twin of build + append: base rows
    # reproduce a2, appended rows reproduce assign_to_frozen_cells.
    "f AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings"
    " WHERE vec_id <> 0),\n"
    "aall AS (SELECT vec_id, cid FROM (\n"
    "    SELECT f.vec_id, c1.cid,\n"
    "      ROW_NUMBER() OVER (PARTITION BY f.vec_id ORDER BY\n"
    "        LIST_REDUCE(LIST_TRANSFORM(GENERATE_SERIES(1, 64),\n"
    "          i -> (f.e[i] - c1.c[i]) * (f.e[i] - c1.c[i])),"
    " (a, b) -> a + b),\n"
    "        c1.cid) AS rn\n"
    "    FROM f CROSS JOIN c1) WHERE rn = 1),\n"
    "q AS (SELECT embedding::DOUBLE[] AS e FROM embeddings"
    " WHERE vec_id = 0),\n"
    "cs AS (SELECT cid,\n"
    f"  {_fold('c1.c[i] * q.e[i]')}\n"
    f"  / (SQRT({_fold('c1.c[i] * c1.c[i]')})"
    f" * SQRT({_fold('q.e[i] * q.e[i]')})) AS sim\n"
    "  FROM c1 CROSS JOIN q),\n"
    "probe AS (SELECT cid FROM cs ORDER BY sim DESC, cid LIMIT 4),\n"
    "cand AS (SELECT vec_id FROM aall WHERE cid IN (SELECT cid FROM probe))\n"
    "SELECT e.vec_id, CAST(ROUND(LIST_COSINE_SIMILARITY("
    "CAST(e.embedding AS DOUBLE[]), q.e), 4) AS DOUBLE) AS sim\n"
    "FROM embeddings e JOIN cand USING (vec_id) CROSS JOIN q\n"
    "ORDER BY sim DESC, e.vec_id LIMIT 10"
)


register(
    "llm_knn_ivf_append",
    engine_fn=_knn_ivf_append_fn,
    oracle=_IVF_APPEND_ORACLE,
    category="llm-similarity",
    suite="extension",
    doc=(
        "incremental IVF maintenance: 20% of the corpus appended to a "
        "prebuilt index against FROZEN centroids (no refit, no rewrite; "
        "compaction in operators/similarity.py), search unchanged — "
        "assignment + probe + rerank hash-verified by a frozen-quantizer "
        "DuckDB twin; append==bulk equivalence in tests/test_similarity.py"
    ),
)

SWEEP_INTERMEDIATES["llm_knn_ivf_append"] = _ivf_append_assign_stage


# -- near-dup clustering (pairs -> groups) -----------------------------------


def _collapsed_simhash_edges(docs: DataFrame):
    """(groups, edges): a connectivity-EQUIVALENT edge set for the
    hamming<=3 simhash graph, built duplicate-collapsed (r4).

    Identical texts form band-collision cliques that square with the
    duplication factor; for connected components only CONNECTIVITY
    matters, so each duplicate group contributes a star (rep -> member,
    linear) instead of its C(m,2) clique, and the banded join runs over
    unique texts only. Component labels are unchanged: the rep is its
    group's min id, so min-label propagation yields the same label set
    the full pair graph would.
    """
    # collapse_text_groups drops NULL-text docs, keeping the star edges
    # consistent with the oracle (NULL docs fall through every consumer
    # as singletons via the LEFT JOIN).
    groups, uniq, _ = collapse_text_groups(docs)
    rep_pairs = simhash_pairs(uniq, max_hamming=3, bands=4).select("id_a", "id_b")
    star = (
        groups.where(F.col("m") >= 2)
        .select(F.col("rep_id").alias("id_a"), F.explode("members").alias("id_b"))
        .where(F.col("id_a") != F.col("id_b"))
    )
    return groups, rep_pairs.unionByName(star)


def _neardup_clusters_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyuki_spark.operators.components import connected_components

    docs = load_table(spark, sf_dir, "documents")
    _, edges = _collapsed_simhash_edges(docs)
    return (
        connected_components(edges, id_out="doc_id", comp_out="component")
        .orderBy("doc_id")
    )


register(
    "llm_neardup_clusters",
    engine_fn=_neardup_clusters_fn,
    oracle=(
        "WITH RECURSIVE sh AS (" + _DUCK_SIMHASH + "),\n"
        "pairs AS (SELECT a.doc_id AS s, b.doc_id AS d\n"
        "          FROM sh a JOIN sh b ON a.doc_id < b.doc_id\n"
        "          WHERE BIT_COUNT(XOR(a.simhash, b.simhash)) <= 3),\n"
        "edges AS (SELECT s, d FROM pairs UNION SELECT d, s FROM pairs),\n"
        "reach(id, comp) AS (\n"
        "  SELECT s, s FROM edges\n"
        "  UNION\n"
        "  SELECT e.d, r.comp FROM reach r JOIN edges e ON e.s = r.id)\n"
        "SELECT id AS doc_id, MIN(comp) AS component FROM reach\n"
        "GROUP BY id ORDER BY doc_id"
    ),
    category="llm-dedup",
    suite="extension",
    doc=(
        "duplicate GROUPS, not just pairs: connected components over the "
        "simhash pair graph via min-label propagation (engine iterates "
        "shuffle joins, oracle is a recursive CTE) — proves transitive "
        "closure, e.g. A~B, B~C landing in one group without an A~C pair"
    ),
)


def _dedup_groups_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyuki_spark.operators.components import dedup_by_components

    docs = load_table(spark, sf_dir, "documents")
    _, edges = _collapsed_simhash_edges(docs)
    return (
        dedup_by_components(docs, edges)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    )


register(
    "llm_dedup_groups",
    engine_fn=_dedup_groups_fn,
    oracle=(
        "WITH RECURSIVE sh AS (" + _DUCK_SIMHASH + "),\n"
        "pairs AS (SELECT a.doc_id AS s, b.doc_id AS d\n"
        "          FROM sh a JOIN sh b ON a.doc_id < b.doc_id\n"
        "          WHERE BIT_COUNT(XOR(a.simhash, b.simhash)) <= 3),\n"
        "edges AS (SELECT s, d FROM pairs UNION SELECT d, s FROM pairs),\n"
        "reach(id, comp) AS (\n"
        "  SELECT s, s FROM edges\n"
        "  UNION\n"
        "  SELECT e.d, r.comp FROM reach r JOIN edges e ON e.s = r.id),\n"
        "losers AS (SELECT id FROM reach GROUP BY id HAVING id <> MIN(comp))\n"
        "SELECT doc_id, source, n_chars FROM documents\n"
        "WHERE doc_id NOT IN (SELECT id FROM losers) ORDER BY doc_id"
    ),
    category="llm-dedup",
    suite="extension",
    doc=(
        "end-to-end near-dedup: keep the min-id representative per "
        "duplicate group, pass singletons through (anti-join on the "
        "component loser list)"
    ),
)


def _survivor_pick_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: within each near-dup component keep
    the HIGHEST-QUALITY member (longest text, doc_id tiebreak), not the
    min-id one — the policy real corpus dedup uses ("keep the best copy").

    Scale shape: component labels come from the O(log d) distributed
    connected components; the pick itself is one window partitioned by
    component (bounded partitions — component size is duplicate-group
    size, never corpus size), no global sort.
    """
    from pyspark.sql import Window

    from nyuki_spark.operators.components import connected_components

    docs = load_table(spark, sf_dir, "documents")
    _, edges = _collapsed_simhash_edges(docs)
    comp = connected_components(edges, id_out="doc_id", comp_out="component")
    lab = (
        docs.select("doc_id", "n_chars")
        .join(comp, "doc_id", "left")
        .withColumn("component", F.coalesce("component", "doc_id"))
    )
    wp = Window.partitionBy("component")
    w = wp.orderBy(F.desc("n_chars"), "doc_id")
    return (
        lab.withColumn("rn", F.row_number().over(w))
        .withColumn("group_size", F.count(F.lit(1)).over(wp))
        .where(F.col("rn") == 1)
        .select(
            "component",
            F.col("doc_id").alias("survivor_id"),
            F.col("group_size").cast("long").alias("group_size"),
        )
        .orderBy("component")
    )


register(
    "llm_survivor_pick",
    engine_fn=_survivor_pick_fn,
    oracle=(
        "WITH RECURSIVE sh AS (" + _DUCK_SIMHASH + "),\n"
        "pairs AS (SELECT a.doc_id AS s, b.doc_id AS d\n"
        "          FROM sh a JOIN sh b ON a.doc_id < b.doc_id\n"
        "          WHERE BIT_COUNT(XOR(a.simhash, b.simhash)) <= 3),\n"
        "edges AS (SELECT s, d FROM pairs UNION SELECT d, s FROM pairs),\n"
        "reach(id, comp) AS (\n"
        "  SELECT s, s FROM edges\n"
        "  UNION\n"
        "  SELECT e.d, r.comp FROM reach r JOIN edges e ON e.s = r.id),\n"
        "labels AS (SELECT id, MIN(comp) AS component FROM reach GROUP BY id),\n"
        "allc AS (SELECT d.doc_id, COALESCE(l.component, d.doc_id) AS component,\n"
        "                d.n_chars\n"
        "         FROM documents d LEFT JOIN labels l ON d.doc_id = l.id),\n"
        "rk AS (SELECT component, doc_id, \n"
        "         ROW_NUMBER() OVER (PARTITION BY component\n"
        "                            ORDER BY n_chars DESC, doc_id) AS rn,\n"
        "         COUNT(*) OVER (PARTITION BY component) AS group_size\n"
        "       FROM allc)\n"
        "SELECT component, doc_id AS survivor_id, group_size\n"
        "FROM rk WHERE rn = 1 ORDER BY component"
    ),
    category="llm-dedup",
    suite="extension",
    doc=(
        "quality-policy canonical selection: per near-dup component keep "
        "the longest member (doc_id tiebreak) — 'keep the best copy' "
        "dedup, composed from distributed connected components + a "
        "component-bounded window"
    ),
)


def _leakage_split_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the hash draw is keyed on the
    NEAR-DUP COMPONENT label, not the doc_id, so near-duplicate documents
    can never straddle train and test (the eval-contamination mode a
    plain per-doc split has). Singletons' component is their own doc_id,
    so their assignment coincides with llm_split_assign's — adding dedup
    awareness does not reshuffle the untangled majority of the corpus.
    """
    from nyuki_spark.operators.components import connected_components
    from nyuki_spark.operators.sample import hash_fraction

    docs = load_table(spark, sf_dir, "documents")
    _, edges = _collapsed_simhash_edges(docs)
    comp = connected_components(edges, id_out="doc_id", comp_out="component")
    lab = (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .withColumn("component", F.coalesce("component", "doc_id"))
    )
    draw = hash_fraction("component", salt="split")
    split = (
        F.when(draw < 0.8, "train").when(draw < 0.9, "val").otherwise("test")
    )
    return (
        lab.select(split.alias("split"), "component")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("component").alias("n_components"),
        )
        .orderBy("split")
    )


register(
    "llm_leakage_safe_split",
    engine_fn=_leakage_split_fn,
    oracle=(
        "WITH RECURSIVE sh AS (" + _DUCK_SIMHASH + "),\n"
        "pairs AS (SELECT a.doc_id AS s, b.doc_id AS d\n"
        "          FROM sh a JOIN sh b ON a.doc_id < b.doc_id\n"
        "          WHERE BIT_COUNT(XOR(a.simhash, b.simhash)) <= 3),\n"
        "edges AS (SELECT s, d FROM pairs UNION SELECT d, s FROM pairs),\n"
        "reach(id, comp) AS (\n"
        "  SELECT s, s FROM edges\n"
        "  UNION\n"
        "  SELECT e.d, r.comp FROM reach r JOIN edges e ON e.s = r.id),\n"
        "labels AS (SELECT id, MIN(comp) AS component FROM reach GROUP BY id),\n"
        "allc AS (SELECT d.doc_id,\n"
        "                COALESCE(l.component, d.doc_id) AS component\n"
        "         FROM documents d LEFT JOIN labels l ON d.doc_id = l.id),\n"
        "drawn AS (SELECT component,\n"
        "  ('0x' || SUBSTR(MD5('split' || CAST(component AS VARCHAR)), 1, 8))"
        "::BIGINT / 4294967296.0 AS d FROM allc)\n"
        "SELECT CASE WHEN d < 0.8 THEN 'train' WHEN d < 0.9 THEN 'val'\n"
        "            ELSE 'test' END AS split,\n"
        "  COUNT(*) AS n_docs, COUNT(DISTINCT component) AS n_components\n"
        "FROM drawn GROUP BY split ORDER BY split"
    ),
    category="llm-sampling",
    suite="extension",
    doc=(
        "leakage-safe split: hash-range assignment keyed on the near-dup "
        "component, so near-duplicates never straddle train/test; "
        "singleton assignment coincides with the plain per-doc split"
    ),
)


def _quality_kept(docs: DataFrame) -> DataFrame:
    """llm_pipeline_e2e's quality filter: >= 40 tokens and a stop-word
    ratio <= 0.12."""
    from nyuki_spark.functions.text import tokens

    t = tokens("text")
    n_tok = F.size(t)
    stop_ratio = (
        F.size(F.filter(t, lambda x: x.isin("the", "a", "and", "of", "to")))
        .cast("double")
        / n_tok
    )
    return docs.filter((n_tok >= 40) & (stop_ratio <= 0.12))


def _pipeline_e2e_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone corpus-build pipeline as ONE composed Catalyst program:
    quality filter -> near-dup survivor selection -> leakage-safe split
    -> per-(split, lang) census. Every stage is an operator that is also
    oracle-verified standalone (llm_quality_funnel, llm_dedup_groups,
    llm_leakage_safe_split); composing them here proves the pieces chain
    without materialization boundaries — the filter pushes into the scan,
    the components run on the filtered survivors only, and the final
    census is the only driver-visible output.

    Scale: each stage keeps the prior stage's partitioning or shuffles on
    its own bounded key (text group / component / split) — no stage
    re-scans the raw corpus.
    """
    from nyuki_spark.operators.components import connected_components
    from nyuki_spark.operators.sample import hash_fraction

    kept = _quality_kept(load_table(spark, sf_dir, "documents"))

    _, edges = _collapsed_simhash_edges(kept)
    comp = connected_components(edges, id_out="doc_id", comp_out="component")
    lab = (
        kept.select("doc_id", "lang")
        .join(comp, "doc_id", "left")
        .withColumn("component", F.coalesce("component", "doc_id"))
    )
    # Min-label propagation labels each component with its min doc_id, so
    # the survivor (min-id representative) is the row whose id IS the label.
    survivors = lab.where(F.col("doc_id") == F.col("component"))

    draw = hash_fraction("component", salt="split")
    split = (
        F.when(draw < 0.8, "train").when(draw < 0.9, "val").otherwise("test")
    )
    return (
        survivors.select(split.alias("split"), "lang")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("split", "lang")
    )


register(
    "llm_pipeline_e2e",
    engine_fn=_pipeline_e2e_fn,
    oracle=(
        # Mirrors _DUCK_SIMHASH but over the quality-KEPT subset: the
        # pipeline filters first, so dedup sees only surviving docs.
        "WITH RECURSIVE qual AS (\n"
        "  SELECT doc_id, lang, text FROM (\n"
        "    SELECT doc_id, lang, text,\n"
        "      LEN(STRING_SPLIT(text, ' ')) AS n,\n"
        "      LEN(LIST_FILTER(STRING_SPLIT(text, ' '),\n"
        "          x -> x IN ('the','a','and','of','to'))) AS stop\n"
        "    FROM documents)\n"
        "  WHERE n >= 40 AND CAST(stop AS DOUBLE) / n <= 0.12\n"
        "), tok AS (\n"
        "  SELECT doc_id, ('0x' || SUBSTR(MD5(u.w), 1, 15))::BIGINT AS h\n"
        "  FROM qual, UNNEST(STRING_SPLIT(text, ' ')) AS u(w)\n"
        "), bits AS (\n"
        "  SELECT doc_id, r.b,\n"
        "    SUM(CASE WHEN (h >> r.b) & 1 = 1 THEN 1 ELSE -1 END) AS v\n"
        "  FROM tok, UNNEST(RANGE(0, 60)) AS r(b) GROUP BY doc_id, r.b\n"
        "), sh AS (\n"
        "  SELECT doc_id, CAST(SUM(CASE WHEN v > 0\n"
        "    THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash\n"
        "  FROM bits GROUP BY doc_id\n"
        "), pairs AS (\n"
        "  SELECT a.doc_id AS s, b.doc_id AS d FROM sh a JOIN sh b\n"
        "  ON a.doc_id < b.doc_id\n"
        "  WHERE BIT_COUNT(XOR(a.simhash, b.simhash)) <= 3\n"
        "), edges AS (SELECT s, d FROM pairs UNION SELECT d, s FROM pairs),\n"
        "reach(id, comp) AS (\n"
        "  SELECT s, s FROM edges\n"
        "  UNION\n"
        "  SELECT e.d, r.comp FROM reach r JOIN edges e ON e.s = r.id),\n"
        "labels AS (SELECT id, MIN(comp) AS component FROM reach GROUP BY id),\n"
        "surv AS (\n"
        "  SELECT q.doc_id, q.lang,\n"
        "         COALESCE(l.component, q.doc_id) AS component\n"
        "  FROM qual q LEFT JOIN labels l ON q.doc_id = l.id\n"
        "  WHERE q.doc_id = COALESCE(l.component, q.doc_id)\n"
        "), drawn AS (\n"
        "  SELECT lang, CASE\n"
        "    WHEN ('0x' || SUBSTR(MD5('split' || CAST(component AS VARCHAR)),"
        " 1, 8))::BIGINT / 4294967296.0 < 0.8 THEN 'train'\n"
        "    WHEN ('0x' || SUBSTR(MD5('split' || CAST(component AS VARCHAR)),"
        " 1, 8))::BIGINT / 4294967296.0 < 0.9 THEN 'val'\n"
        "    ELSE 'test' END AS split\n"
        "  FROM surv)\n"
        "SELECT split, lang, COUNT(*) AS n_docs\n"
        "FROM drawn GROUP BY split, lang ORDER BY split, lang"
    ),
    category="llm-pipeline",
    suite="extension",
    doc=(
        "capstone corpus pipeline in one Catalyst program: quality filter "
        "-> near-dup survivor pick -> leakage-safe split -> census; each "
        "stage is independently oracle-verified, the composition is too"
    ),
)


# -- portable MinHash (round 4b) ---------------------------------------------

# DuckDB twins of functions.text.gram_hashes / minhash_from_grams over
# word-3-gram shingles: one 28-bit md5-prefix hash per shingle (expects a
# token list ``t`` in scope), then per-permutation universal-hash mins
# (expects the hash list ``hs`` in scope) with the SAME md5-derived
# A/B/P constants the engine folds with — inlined so both engines run
# literally identical arithmetic. Shared by the signature and band-pair
# oracles.
_DUCK_GRAM_HASHES = (
    "LIST_TRANSFORM(GENERATE_SERIES(1, LEN(t) - 2), i ->\n"
    "    ('0x' || SUBSTR(MD5(ARRAY_TO_STRING(t[i:i+2], ' ')), 1, 7))::BIGINT)"
)
_DUCK_MINHASH_SIG = "LIST_VALUE(\n  " + ",\n  ".join(
    f"LIST_MIN(LIST_TRANSFORM(hs, h -> ({MINHASH_A[p]} * h + {MINHASH_B[p]})"
    f" % {MINHASH_P}))"
    for p in range(16)
) + ")"


def _minhash_sig_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable MinHash signatures (functions/text.py: minhash_from_grams).

    The limit runs FIRST (TakeOrderedAndProject over the narrow id/text
    projection) so signatures are computed for 50 docs, not all of them;
    chained selects keep the gram and hash arrays at projection
    boundaries instead of re-inlining them into each permutation fold.
    """
    docs = load_table(spark, sf_dir, "documents")
    sig_str = F.concat_ws(
        ",", F.transform(minhash_from_grams("hs", 16), lambda x: x.cast("string"))
    )
    return (
        docs.select("doc_id", "text")
        .orderBy("doc_id")
        .limit(50)
        .select("doc_id", word_ngram_array("text", 3).alias("g"))
        .select("doc_id", gram_hashes("g").alias("hs"))
        .select(
            "doc_id",
            F.when(F.col("hs").isNotNull(), sig_str).alias("sig"),
        )
    )


register(
    "llm_minhash_sig",
    engine_fn=_minhash_sig_fn,
    oracle=(
        "WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t"
        " FROM documents),\n"
        "h AS (SELECT doc_id,\n"
        "  CASE WHEN LEN(t) >= 3 THEN " + _DUCK_GRAM_HASHES + " END AS hs\n"
        "  FROM t)\n"
        "SELECT doc_id,\n"
        "  CASE WHEN hs IS NOT NULL THEN ARRAY_TO_STRING(\n  "
        + _DUCK_MINHASH_SIG + ", ',')\n"
        "  END AS sig\n"
        "FROM h ORDER BY doc_id LIMIT 50"
    ),
    category="llm-dedup",
    suite="extension",
    doc=(
        "16-permutation MinHash signature, bit-exact across engines "
        "(salted-md5 min-wise hashing, Broder 1997) — the "
        "oracle-verifiable sibling of the seeded MLlib MinHashLSH tier"
    ),
)


def _minhash_bandpairs_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded portable-MinHash candidate pairs, duplicate-collapsed like
    the simhash/jaccard funnels (operators/dedup.py: collapse_text_groups);
    intra-duplicate pairs are est 1.0 by definition, gated on the text
    carrying >= 1 shingle (signatures are undefined below 3 tokens).
    """
    docs = load_table(spark, sf_dir, "documents")
    groups, uniq, has_dups = collapse_text_groups(docs)
    rep_pairs = minhash_band_pairs(uniq, n_perm=16, bands=4)
    if not has_dups:
        return rep_pairs.orderBy("id_a", "id_b")
    return expand_collapsed_pairs(
        rep_pairs,
        groups,
        "est_jaccard",
        F.lit(1.0),
        intra_pred=F.size(F.split(F.col("text"), " ")) >= 3,
    ).orderBy("id_a", "id_b")


# Shared CTE chain for the banded-MinHash oracles: tokenize -> shingle
# hashes -> 16-permutation signature -> 4 banded keys -> distinct candidate
# pairs, then the matching-component Jaccard estimate. Used verbatim by the
# candidate-generation contract (llm_minhash_bandpairs) and, with the 0.5
# decision threshold, by the near-dup verdict (llm_minhash_neardup).
_DUCK_BAND_PAIRS = (
    "WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t\n"
    "           FROM documents WHERE LEN(STRING_SPLIT(text, ' ')) >= 3),\n"
    "hh AS (SELECT doc_id, " + _DUCK_GRAM_HASHES + " AS hs FROM t),\n"
    "sig AS (SELECT doc_id, " + _DUCK_MINHASH_SIG + " AS sig FROM hh),\n"
    "band AS (SELECT doc_id, sig, u.b AS b,\n"
    "    MD5(ARRAY_TO_STRING(sig[4*u.b+1:4*u.b+4], ',')) AS bk\n"
    "  FROM sig, UNNEST(GENERATE_SERIES(0, 3)) AS u(b)),\n"
    "cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,\n"
    "    a.sig AS sa, b.sig AS sb\n"
    "  FROM band a JOIN band b\n"
    "    ON a.b = b.b AND a.bk = b.bk AND a.doc_id < b.doc_id),\n"
    "est AS (SELECT id_a, id_b,\n"
    "  ROUND(LEN(LIST_FILTER(GENERATE_SERIES(1, 16), i -> sa[i] = sb[i]))"
    " / 16.0, 4) AS est_jaccard\n"
    "FROM cand)\n"
)

register(
    "llm_minhash_bandpairs",
    engine_fn=_minhash_bandpairs_fn,
    oracle=_DUCK_BAND_PAIRS
    + "SELECT id_a, id_b, est_jaccard FROM est ORDER BY id_a, id_b",
    category="llm-dedup",
    suite="extension",
    doc=(
        "LSH candidate generation itself as the verified contract: "
        "engine's banded equi-join over portable MinHash signatures "
        "hash-matches a DuckDB twin of the identical banding — candidate "
        "set AND Jaccard estimates, end to end"
    ),
)

register(
    "llm_minhash_neardup",
    engine_fn=_minhash_fn,
    oracle=_DUCK_BAND_PAIRS
    + "SELECT id_a, id_b, est_jaccard FROM est\n"
    "WHERE est_jaccard >= 0.5 ORDER BY id_a, id_b",
    category="llm-dedup",
    suite="extension",
    doc=(
        "MinHash near-dup DECISION tier: banded candidates + 0.5 "
        "estimated-Jaccard threshold, portable salted-md5 hash family -> "
        "the verdict set hash-matches the DuckDB twin (was rows-only "
        "under MLlib's seeded family through round 4; the MLlib tier "
        "keeps its own recall floor in tests/test_dedup.py)"
    ),
)


# -- cross-document duplicated substring spans (round 4b) --------------------


def _substring_spans_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return duplicated_substring_spans(docs, l=8).orderBy("doc_id", "start_pos")


register(
    "llm_substring_spans",
    engine_fn=_substring_spans_fn,
    oracle=(
        "WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t"
        " FROM documents),\n"
        "grams AS (\n"
        "  SELECT doc_id, i - 1 AS pos,\n"
        "         SUBSTR(MD5(ARRAY_TO_STRING(t[i:i+7], ' ')), 1, 16) AS g\n"
        "  FROM toks, UNNEST(GENERATE_SERIES(1, LEN(t) - 7)) AS u(i)\n"
        "  WHERE LEN(t) >= 8\n"
        "),\n"
        "dup AS (SELECT g FROM grams GROUP BY g"
        " HAVING COUNT(DISTINCT doc_id) >= 2),\n"
        "hits AS (SELECT doc_id, pos FROM grams"
        " WHERE g IN (SELECT g FROM dup)),\n"
        "isl AS (SELECT doc_id, pos, pos - ROW_NUMBER() OVER\n"
        "  (PARTITION BY doc_id ORDER BY pos) AS grp FROM hits)\n"
        "SELECT doc_id, MIN(pos) AS start_pos,\n"
        "       CAST(MAX(pos) - MIN(pos) + 8 AS BIGINT) AS span_tokens\n"
        "FROM isl GROUP BY doc_id, grp ORDER BY doc_id, start_pos"
    ),
    category="llm-dedup",
    suite="extension",
    doc=(
        "substring-level dedup (Lee et al. 2022): maximal 8+-token spans "
        "shared across documents, via distributed L-gram hashing + "
        "gaps-and-islands merge — no suffix array, no all-pairs"
    ),
)


# -- deterministic k-means over embeddings (round 4b) ------------------------


def _kmeans_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_assign(emb, k=8, iters=2).orderBy("vec_id")


_DUCK_KMEANS_CTES = _duck_kmeans_ctes()


register(
    "llm_kmeans_assign",
    engine_fn=_kmeans_fn,
    oracle=(
        "WITH " + _DUCK_KMEANS_CTES + "\n"
        "SELECT vec_id, cid AS cluster_id FROM a2 ORDER BY vec_id"
    ),
    category="llm-similarity",
    suite="extension",
    doc=(
        "deterministic 2-iteration Lloyd k-means (k=8, id-ordered seed, "
        "order-pinned fp folds, rounded centroid handoff) — bit-identical "
        "assignments across engines; the SemDeDup-style clustering core"
    ),
)


# -- TF-IDF top terms (round 4b) ---------------------------------------------


def _tfidf_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide IDF, per-doc top-3 terms for the first 50 docs.

    The tf side filters to the 50 output docs BEFORE aggregating (the
    probe set is small; only the document-frequency aggregate must see
    the whole corpus), so the expensive per-(doc, term) stage scales with
    the output request, not the corpus. Scores are rounded to 6 decimals
    BEFORE ranking so both engines rank identical values.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = (
        tok.where(F.col("doc_id") < 50)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = (
        tok.distinct().groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    )
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    score = F.round(F.col("tf") * F.log(F.col("n") / F.col("df")), 6)
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "term", score.alias("tfidf"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("doc_id", "term", "tfidf")
        .orderBy("doc_id", "term")
    )


register(
    "llm_tfidf_topterms",
    engine_fn=_tfidf_fn,
    oracle=(
        "WITH tok AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term"
        " FROM documents),\n"
        "tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok"
        " WHERE doc_id < 50 GROUP BY doc_id, term),\n"
        "df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok"
        " GROUP BY term),\n"
        "n AS (SELECT COUNT(*) AS n FROM documents)\n"
        "SELECT doc_id, term, tfidf FROM (\n"
        "  SELECT tf.doc_id, tf.term,\n"
        "    ROUND(tf.tf * LN(n.n / df.df), 6) AS tfidf,\n"
        "    ROW_NUMBER() OVER (PARTITION BY tf.doc_id ORDER BY\n"
        "      ROUND(tf.tf * LN(n.n / df.df), 6) DESC, tf.term) AS rk\n"
        "  FROM tf JOIN df USING (term) CROSS JOIN n)\n"
        "WHERE rk <= 3 ORDER BY doc_id, term"
    ),
    category="llm-text",
    suite="extension",
    doc=(
        "TF-IDF top-3 terms per document: corpus-wide document-frequency "
        "aggregate + broadcast scalar doc count + per-doc rank window; "
        "the tf stage prunes to the probe docs before aggregating"
    ),
)


# -- SemDeDup semantic prune (round 4b) --------------------------------------


def _semantic_prune_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster embeddings, then prune the
    higher-id member of any within-cluster pair above a cosine threshold.

    Clustering makes the pair stage an equi-join on cluster_id — candidate
    volume is the sum of squared cluster sizes, never corpus x corpus. At
    100 TB, k scales with N (k ~ N / target_cluster_size) so per-cluster
    pair counts stay bounded; k=8 here matches the oracle-verified
    ``llm_kmeans_assign`` configuration. The threshold compares the
    ROUNDED cosine (4 dp) so both engines make identical keep/prune
    decisions away from exact rounding boundaries.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    asg = kmeans_assign(emb, k=8, iters=2)
    # Within-cluster pair stage as one Gram pass per cell (r12, guide
    # §4.2): the former shape materialized every within-cluster (id_a,
    # id_b) candidate row and paid an interpreted per-pair cosine fold
    # through two equi-joins; cell_cosine_pairs batches each cluster
    # through BLAS with the identical ROUND(cos, 4) >= 0.42 decision.
    from nyuki_spark.operators.similarity import cell_cosine_pairs

    reps = asg.join(
        emb.select(
            "vec_id",
            F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("e"),
        ),
        "vec_id",
    ).select("vec_id", "cluster_id", "e")
    pruned = (
        cell_cosine_pairs(reps, "cluster_id", 0.42, id_col="vec_id", emb_col="e")
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("hit", F.lit(True))
    )
    return (
        asg.join(pruned, "vec_id", "left")
        .select(
            "vec_id",
            "cluster_id",
            F.col("hit").isNull().alias("kept"),
        )
        .orderBy("vec_id")
    )


register(
    "llm_semantic_prune",
    engine_fn=_semantic_prune_fn,
    oracle=(
        "WITH " + _DUCK_KMEANS_CTES + ",\n"
        "m AS (SELECT a2.vec_id, a2.cid, emb.e FROM a2"
        " JOIN emb USING (vec_id)),\n"
        "pr AS (SELECT DISTINCT b.vec_id AS pid FROM m a JOIN m b\n"
        "    ON a.cid = b.cid AND a.vec_id < b.vec_id\n"
        "    WHERE ROUND(LIST_COSINE_SIMILARITY(a.e, b.e), 4) >= 0.42)\n"
        "SELECT m.vec_id, m.cid AS cluster_id, pr.pid IS NULL AS kept\n"
        "FROM m LEFT JOIN pr ON m.vec_id = pr.pid ORDER BY vec_id"
    ),
    category="llm-similarity",
    suite="extension",
    doc=(
        "SemDeDup semantic pruning: deterministic k-means partition + "
        "within-cluster cosine pairs (equi-join on cluster, rounded-"
        "threshold decision) -> keep/prune verdict per vector, "
        "bit-identical across engines"
    ),
)


# -- embedding outlier detection (round 7) ------------------------------------


def _emb_outliers_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space data QA: the 20 vectors farthest from their own
    cluster, by per-cluster distance z-score — the standard screen for
    mis-embedded / corrupted / off-distribution rows before training.

    Plan: deterministic k-means (the oracle-reproducible quantizer every
    embedding query shares), one broadcast join to the k-row centroid
    table for the squared distance (left-to-right fold, rounded 6 dp so
    both engines aggregate identical operands), ONE (cluster) aggregate
    for mean/stddev — all map-side-partial — and a TakeOrdered top-20.
    Singleton clusters have stddev 0 -> NULL z (never an outlier), same
    NULLIF guard on both engines. At 100 TB: the distance pass is a scan
    + k-row broadcast, the stats are k rows, nothing pairwise.
    """
    from nyuki_spark.operators.kmeans import _sq_dist, kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, cent = kmeans_fit(emb, k=8, iters=2)
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    d = (
        assigned.join(e, "vec_id")
        .join(F.broadcast(cent), F.col("cluster_id") == F.col("cid"))
        .select(
            "vec_id",
            "cluster_id",
            F.round(_sq_dist(F.col("e"), F.col("c")), 6).alias("dist"),
        )
    )
    s = d.groupBy("cluster_id").agg(
        F.avg("dist").alias("mu"), F.stddev_pop("dist").alias("sd")
    )
    return (
        d.join(s, "cluster_id")
        .select(
            "vec_id",
            "cluster_id",
            F.col("dist").cast("double").alias("dist"),
            F.round(
                (F.col("dist") - F.col("mu")) / F.expr("NULLIF(sd, 0)"), 4
            )
            .cast("double")
            .alias("z"),
        )
        .orderBy(F.col("z").desc_nulls_last(), "vec_id")
        .limit(20)
    )


register(
    "llm_embedding_outliers",
    engine_fn=_emb_outliers_fn,
    oracle=(
        "WITH " + _DUCK_KMEANS_CTES + ",\n"
        "d AS (SELECT a2.vec_id, a2.cid,\n"
        "    ROUND(LIST_REDUCE(LIST_TRANSFORM(GENERATE_SERIES(1, 64),\n"
        "      i -> (emb.e[i] - c1.c[i]) * (emb.e[i] - c1.c[i])),\n"
        "      (a, b) -> a + b), 6) AS dist\n"
        "  FROM a2 JOIN emb USING (vec_id) JOIN c1 ON c1.cid = a2.cid),\n"
        "s AS (SELECT cid, AVG(dist) AS mu, STDDEV_POP(dist) AS sd\n"
        "  FROM d GROUP BY cid)\n"
        "SELECT d.vec_id, d.cid AS cluster_id, CAST(d.dist AS DOUBLE) AS dist,\n"
        "  CAST(ROUND((d.dist - s.mu) / NULLIF(s.sd, 0), 4) AS DOUBLE) AS z\n"
        "FROM d JOIN s USING (cid)\n"
        "ORDER BY z DESC NULLS LAST, vec_id LIMIT 20"
    ),
    category="llm-similarity",
    suite="extension",
    doc=(
        "per-cluster distance z-score outliers over the embedding table "
        "(mis-embedded/off-distribution row screen): k-row broadcast "
        "distance pass + k-row stats + TakeOrdered top-20, hash-verified"
    ),
)


# -- reproducible global shuffle order (round 4b) ----------------------------


def _shuffle_order_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order permutation: every document gets a
    global position by rank of its md5-hashed id — the reproducible
    global shuffle a training pipeline needs so a run can be resumed or
    replayed with the identical example order on any engine, any
    partitioning, any cluster size (rand()-based shuffles are none of
    those).

    The rank is exact-global but never globally sorted: operators/rank.py
    global_row_number range-buckets the numeric hash via approxQuantile,
    ranks within balanced buckets, and merges with a broadcast
    bucket-offset table — the plan that survives when "shuffle the
    corpus" means 10^11 rows. The 60-bit hash makes collisions
    negligible, and doc_id tiebreaks to a total order anyway.
    """
    from nyuki_spark.operators.rank import global_row_number

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    out = global_row_number(
        docs.withColumn("h", h), "h", tiebreak_cols=["doc_id"],
        out="shuffle_pos",
    )
    return out.select("doc_id", "shuffle_pos").orderBy("shuffle_pos")


register(
    "llm_shuffle_order",
    engine_fn=_shuffle_order_fn,
    oracle=(
        "SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY\n"
        "    ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,\n"
        "    doc_id) AS INT) AS shuffle_pos\n"
        "FROM documents ORDER BY shuffle_pos"
    ),
    category="llm-text",
    suite="extension",
    doc=(
        "reproducible global shuffle for training order: md5(id) rank via "
        "the two-phase range-bucketed global_row_number — exact "
        "ROW_NUMBER semantics with no global sort and no single-partition "
        "window over data rows"
    ),
)


# -- cross-shard ingestion dedup (round 4b) ----------------------------------


def _cross_shard_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingestion dedup: classify every incoming document
    against the EXISTING corpus (not against other incoming docs) as
    exact_dup / near_dup / new — the nightly-batch shape of a training-
    data pipeline, where the corpus side is orders of magnitude larger
    than the batch. Even doc_ids stand in for the corpus, odd for the
    batch.

    Exact tier: semi-join on the md5 fingerprint (16-byte shuffle key).
    Near tier: banded SimHash candidate equi-join (operators/dedup.py:
    simhash_chunks) — a batch/corpus pair within Hamming 3 of a 60-bit
    sketch split into 4 bands must share a band (pigeonhole), so the
    banding reproduces the oracle's brute-force EXISTS exactly. Both
    tiers shuffle only (key, sketch) rows, never document bodies, and the
    batch side drives the join sizes.
    """
    from nyuki_spark.operators.dedup import simhash_chunks

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text", F.md5("text").alias("fp"))
    corpus = base.where(F.col("doc_id") % 2 == 0)
    batch = base.where(F.col("doc_id") % 2 == 1)
    exact = (
        batch.join(corpus.select("fp").distinct(), "fp", "left_semi")
        .select("doc_id")
        .withColumn("is_exact", F.lit(True))
    )
    ca = simhash_chunks(batch)
    cb = simhash_chunks(corpus)
    near = (
        ca.join(
            cb.select(
                F.col("band"), F.col("chunk"), F.col("sh").alias("csh")
            ),
            ["band", "chunk"],
        )
        .where(F.bit_count(F.col("sh").bitwiseXOR(F.col("csh"))) <= 3)
        .select(F.col("id").alias("doc_id"))
        .distinct()
        .withColumn("is_near", F.lit(True))
    )
    return (
        batch.select("doc_id")
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


register(
    "llm_dedup_cross_shard",
    engine_fn=_cross_shard_fn,
    oracle=(
        "WITH sim AS (" + _DUCK_SIMHASH + "),\n"
        "d AS (SELECT doc_id, MD5(text) AS fp FROM documents)\n"
        "SELECT b.doc_id,\n"
        "  CASE WHEN EXISTS (SELECT 1 FROM d c\n"
        "         WHERE c.doc_id % 2 = 0 AND c.fp = b.fp) THEN 'exact_dup'\n"
        "       WHEN EXISTS (SELECT 1 FROM sim sb, sim sc\n"
        "         WHERE sb.doc_id = b.doc_id AND sc.doc_id % 2 = 0\n"
        "           AND BIT_COUNT(XOR(sb.simhash, sc.simhash)) <= 3)\n"
        "         THEN 'near_dup'\n"
        "       ELSE 'new' END AS verdict\n"
        "FROM d b WHERE b.doc_id % 2 = 1 ORDER BY doc_id"
    ),
    category="llm-dedup",
    suite="extension",
    doc=(
        "incremental-ingestion dedup verdicts (exact_dup / near_dup / "
        "new) for a batch against an existing corpus: fingerprint "
        "semi-join + banded SimHash cross-join with pigeonhole-exact "
        "recall at Hamming <= 3; the oracle brute-forces both EXISTS"
    ),
)


# -- product quantization codes (round 4b) -----------------------------------


def _pq_fit4(emb: DataFrame) -> list:
    """Fit the four 16-dim k=4 PQ codebooks in TWO jobs total instead of
    four independent kmeans runs (r12, guide §1.2/§2.4: fewer passes).

    The math is the deterministic Lloyd core of operators/kmeans.py,
    operation for operation — id-ordered seeds, literal-centroid argmin
    with the (dist, cid) tie-break, per-(cluster, dim) ``round(avg, 6)``
    update — but the four independent subspace runs share each pass over
    the data:

    - ONE bounded k-row collect seeds all four subspaces (the 4 smallest
      vec_ids' full 64-dim vectors, sliced driver-side);
    - ONE update job computes all four subspaces' centroid means: the
      iter-0 assignments are four pure-map argmin columns (zero
      shuffles — see operators/kmeans.py r12 note), the 64 dims explode
      with ``subspace = dim div 16``, and a single (subspace, cluster,
      dim) hash aggregate of ``round(avg, 6)`` yields all 4*k*16
      codebook components in one shuffle of narrow rows.

    Returns ``cents[s]`` = the subspace-s codebook as a (cid,
    components) list — the literal form every consumer feeds to
    ``assign_with_centroids``, making the final code assignment map-only
    (no joins on vec_id, no per-subspace jobs). Verified bit-identical
    to the pre-r12 four-run form against the unchanged DuckDB twins.
    """
    from nyuki_spark.operators.kmeans import assign_with_centroids

    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    seed = e.orderBy("vec_id").limit(4).collect()
    cents = [
        [(i, list(r["e"])[s * 16 : s * 16 + 16]) for i, r in enumerate(seed)]
        for s in range(4)
    ]
    asg_cols = [
        assign_with_centroids(
            F.slice(F.col("e"), s * 16 + 1, 16), cents[s]
        ).alias(f"a{s}")
        for s in range(4)
    ]
    # Two selects, not one: a generator (posexplode) in the same select
    # makes the analyzer's generator rewrite strip the struct field
    # aliases inside the argmin expression (FIELD_NOT_FOUND col1/col2 —
    # observed on 4.1.2), so the argmin columns are projected first.
    upd = (
        e.select("e", *asg_cols)
        .select("a0", "a1", "a2", "a3", F.posexplode("e").alias("dim", "val"))
        .select(
            F.expr("dim div 16").alias("s"),
            F.element_at(
                F.array("a0", "a1", "a2", "a3"),
                (F.expr("dim div 16") + 1).cast("int"),
            ).alias("cluster_id"),
            (F.col("dim") % 16).alias("ldim"),
            "val",
        )
        .groupBy("s", "cluster_id", "ldim")
        .agg(F.round(F.avg("val"), 6).alias("v"))
        .collect()
    )
    out: list = [dict() for _ in range(4)]
    for r in upd:
        out[r["s"]].setdefault(int(r["cluster_id"]), {})[int(r["ldim"])] = r["v"]
    return [
        [
            (cid, [comp[d] for d in sorted(comp)])
            for cid, comp in sorted(by_cid.items())
        ]
        for by_cid in out
    ]


def _pq_codes_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (Jegou et al. 2011): split the 64-dim
    embedding into 4 subspaces of 16 dims, learn a k=4 codebook per
    subspace with the deterministic Lloyd operator, emit each vector's
    4-byte code word — the compression that lets an ANN index hold
    100 TB of embeddings in RAM-sized shards.

    r12 plan (guide §2.4): the four codebooks fit in two shared jobs
    (:func:`_pq_fit4`) and the final code word is FOUR PURE-MAP argmin
    columns over literal codebooks in one scan — the pre-r12 form ran
    four independent kmeans (a crossJoin + (id, vector)-keyed shuffle
    each) and re-assembled with 4 equi-joins on vec_id; all of that is
    gone from the plan. Determinism (id-ordered seeds, order-pinned
    folds, rounded centroid handoff) makes the full 4-subspace codebook
    bit-identical across engines — unchanged, same oracle.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    from nyuki_spark.operators.kmeans import assign_with_centroids

    cents = _pq_fit4(emb)
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    return e.select(
        "vec_id",
        *[
            assign_with_centroids(
                F.slice(F.col("e"), s * 16 + 1, 16), cents[s]
            ).alias(f"code{s}")
            for s in range(4)
        ],
    ).orderBy("vec_id")


register(
    "llm_pq_codes",
    engine_fn=_pq_codes_fn,
    oracle=(
        "WITH "
        + ",\n".join(
            _duck_kmeans_ctes(
                p=f"s{s}_",
                e_expr=f"(embedding::DOUBLE[])[{s * 16 + 1}:{s * 16 + 16}]",
                dims=16,
                k=4,
            )
            for s in range(4)
        )
        + "\n"
        "SELECT s0_a2.vec_id, s0_a2.cid AS code0, s1_a2.cid AS code1,\n"
        "       s2_a2.cid AS code2, s3_a2.cid AS code3\n"
        "FROM s0_a2 JOIN s1_a2 USING (vec_id) JOIN s2_a2 USING (vec_id)\n"
        "     JOIN s3_a2 USING (vec_id)\n"
        "ORDER BY vec_id"
    ),
    category="llm-similarity",
    suite="extension",
    doc=(
        "product-quantization code words: 4 independent deterministic "
        "k=4 codebooks over 16-dim subspaces (Jegou et al. 2011), "
        "assembled by vec_id equi-joins — the embedding-compression "
        "stage of a scale ANN index, bit-identical across engines"
    ),
)


# -- PQ asymmetric-distance search (round 4b) --------------------------------


def _pq_adc_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-10 (Jegou et al. 2011): the query vector is compared to
    each subspace CODEBOOK once (k rows), and every database vector's
    approximate distance is the sum of 4 table lookups through its PQ
    codes — the search never touches the raw vectors. The per-subspace
    distance tables are k-row broadcasts; the lookups are equi-joins on
    the code id; the final top-10 is TakeOrderedAndProject. Distances
    are bit-exact across engines: codebook centroids are the rounded
    6-dp handoff values, the query slice literals are the raw parquet
    doubles, and both engines fold (0 + t1) + t2 + ... left-to-right.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = list(
        emb.where(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>").alias("e"))
        .head()["e"]
    )  # bounded 1-row collect: the probe vector
    # r12 plan: codebooks fit in the two shared _pq_fit4 jobs; the
    # query-to-codebook distance tables are 4 x k driver-side float64
    # sums with the SAME left-to-right (x-y)^2 operand order the old
    # Spark fold (and the oracle's LIST_REDUCE) executes, so every d
    # value is bit-identical; each vector's ADC is then a pure map —
    # argmin code per subspace (literal codebooks) -> map-literal
    # distance lookup -> the same left-to-right d0+d1+d2+d3 sum.
    # The pre-r12 shape (4 kmeans runs + 4 broadcast lookups + 4 vec_id
    # equi-joins) is gone; the only non-map work left is the top-10
    # TakeOrderedAndProject.
    from nyuki_spark.operators.kmeans import assign_with_centroids

    cents = _pq_fit4(emb)

    def dtab(s: int) -> F.Column:
        pairs = []
        for cid, comps in cents[s]:
            d = 0.0
            for x, y in zip(q[s * 16 : s * 16 + 16], comps):
                d += (x - y) * (x - y)
            pairs.extend([F.lit(cid), F.lit(d)])
        return F.create_map(*pairs)

    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    dcols = [
        dtab(s)[
            assign_with_centroids(F.slice(F.col("e"), s * 16 + 1, 16), cents[s])
        ]
        for s in range(4)
    ]
    adc = dcols[0] + dcols[1] + dcols[2] + dcols[3]
    return (
        e.select("vec_id", adc.alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(10)
    )


def _duck_adc_dist(s: int) -> str:
    return (
        f"d{s} AS (SELECT cid, LIST_REDUCE(LIST_TRANSFORM("
        "GENERATE_SERIES(1, 16),\n"
        f"    i -> (q.e[{s * 16} + i] - c.c[i]) * (q.e[{s * 16} + i]"
        " - c.c[i])),\n"
        f"    (a, b) -> a + b) AS d FROM s{s}_c1 c CROSS JOIN q)"
    )


register(
    "llm_pq_adc",
    engine_fn=_pq_adc_fn,
    oracle=(
        "WITH "
        + ",\n".join(
            _duck_kmeans_ctes(
                p=f"s{s}_",
                e_expr=f"(embedding::DOUBLE[])[{s * 16 + 1}:{s * 16 + 16}]",
                dims=16,
                k=4,
            )
            for s in range(4)
        )
        + ",\n"
        "q AS (SELECT embedding::DOUBLE[] AS e FROM embeddings"
        " WHERE vec_id = 0),\n"
        + ",\n".join(_duck_adc_dist(s) for s in range(4))
        + "\n"
        "SELECT a0.vec_id, d0.d + d1.d + d2.d + d3.d AS adc_dist\n"
        "FROM s0_a2 a0 JOIN d0 ON a0.cid = d0.cid\n"
        "  JOIN s1_a2 a1 ON a1.vec_id = a0.vec_id"
        " JOIN d1 ON a1.cid = d1.cid\n"
        "  JOIN s2_a2 a2_ ON a2_.vec_id = a0.vec_id"
        " JOIN d2 ON a2_.cid = d2.cid\n"
        "  JOIN s3_a2 a3 ON a3.vec_id = a0.vec_id"
        " JOIN d3 ON a3.cid = d3.cid\n"
        "ORDER BY adc_dist, a0.vec_id LIMIT 10"
    ),
    category="llm-similarity",
    suite="extension",
    doc=(
        "PQ asymmetric-distance search (ADC): query-to-codebook distance "
        "tables (k-row broadcasts) + code-id equi-join lookups replace "
        "any query-to-vector computation — the RAM-sized search path "
        "over PQ-compressed embeddings, bit-exact top-10 across engines"
    ),
)


# -- count-min sketch, exactly verified (round 4b) ---------------------------

_CMS_PROBES = ["fast", "row", "slow", "table", "value"]
_CMS_D = 4  # hash rows
_CMS_W = 256  # columns per row


def _cms_hash(j: int, word) -> "Column":
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{j}|"), word)), 1, 7), 16, 10
        ).cast("bigint")
        % _CMS_W
    )


def _countmin_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) over corpus word
    frequencies, with the estimate verified against the exact count.

    The sketch build is ONE hash aggregate over (row, column) cells —
    d x w bounded state (1024 cells here) regardless of corpus size, and
    the cells merge by addition, so the same plan IS the distributed /
    streaming mergeable-sketch path. Point queries are d cell lookups
    (min over rows). The whole construction is md5-deterministic, so the
    oracle rebuilds the identical sketch and the driver hash-compares
    est AND exact — est >= exact by construction, equal when the probed
    words suffer no collisions.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("word"))
    cells = (
        tok.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("r"),
                            _cms_hash(j, F.col("word")).alias("c"),
                        )
                        for j in range(_CMS_D)
                    ]
                )
            ).alias("rc")
        )
        .groupBy(F.col("rc.r").alias("r"), F.col("rc.c").alias("c"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    probes = spark.createDataFrame(
        [(w,) for w in _CMS_PROBES], "word string"
    )
    probe_cells = probes.select(
        "word",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("r"),
                        _cms_hash(j, F.col("word")).alias("c"),
                    )
                    for j in range(_CMS_D)
                ]
            )
        ).alias("rc"),
    ).select("word", F.col("rc.r").alias("r"), F.col("rc.c").alias("c"))
    # LEFT join + coalesce-0: a probe word hitting an EMPTY cell must
    # estimate from that cell's true count (0), not min over the surviving
    # non-empty cells (overestimate), and a fully-absent word must
    # estimate 0, not NULL — proper count-min semantics (est >= exact,
    # 0 for empty cells; r4 ADVICE). The oracle mirrors the same join.
    est = (
        probe_cells.join(F.broadcast(cells), ["r", "c"], "left")
        .select("word", F.coalesce(F.col("n"), F.lit(0)).alias("n"))
        .groupBy("word")
        .agg(F.min("n").alias("est"))
    )
    exact = (
        tok.where(F.col("word").isin(_CMS_PROBES))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("exact"))
    )
    return (
        probes.join(est, "word", "left")
        .join(exact, "word", "left")
        .orderBy("word")
    )


register(
    "llm_countmin_est",
    engine_fn=_countmin_fn,
    oracle=(
        "WITH tok AS (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS word"
        " FROM documents),\n"
        "cells AS (SELECT r, c, COUNT(*) AS n FROM (\n"
        "  SELECT u.r AS r,\n"
        "    ('0x' || SUBSTR(MD5(CAST(u.r AS VARCHAR) || '|' || word),"
        " 1, 7))::BIGINT % 256 AS c\n"
        "  FROM tok, UNNEST(GENERATE_SERIES(0, 3)) AS u(r)) GROUP BY r, c),\n"
        "probes AS (SELECT UNNEST(['fast','row','slow','table','value'])"
        " AS word),\n"
        "pc AS (SELECT word, u.r AS r,\n"
        "    ('0x' || SUBSTR(MD5(CAST(u.r AS VARCHAR) || '|' || word),"
        " 1, 7))::BIGINT % 256 AS c\n"
        "  FROM probes, UNNEST(GENERATE_SERIES(0, 3)) AS u(r)),\n"
        "est AS (SELECT word, MIN(COALESCE(n, 0)) AS est FROM pc"
        " LEFT JOIN cells USING (r, c) GROUP BY word),\n"
        "exact AS (SELECT word, COUNT(*) AS exact FROM tok\n"
        "  WHERE word IN ('fast','row','slow','table','value')"
        " GROUP BY word)\n"
        "SELECT probes.word, est.est, exact.exact FROM probes\n"
        "LEFT JOIN est USING (word) LEFT JOIN exact USING (word)\n"
        "ORDER BY word"
    ),
    category="llm-text",
    suite="extension",
    doc=(
        "exactly-verified count-min sketch: d=4 x w=256 cell aggregate "
        "(bounded state, additive merge — the streaming/distributed "
        "sketch shape), md5-deterministic hashing so both engines build "
        "the identical sketch; output pairs the estimate with the exact "
        "count"
    ),
)


# -- char-bigram LM quality score (round 5) -----------------------------------


def _char_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(doc, char bigram) counts (doc_id, bg, cnt, c1) of
    llm_perplexity_proxy, as built before its localCheckpoint pin."""
    docs = load_table(spark, sf_dir, "documents")

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    id_type = docs.schema["doc_id"].dataType
    dc_schema = StructType(
        [
            StructField("doc_id", id_type),
            StructField("bg", StringType()),
            StructField("cnt", LongType()),
        ]
    )

    # r13 (guide §4.2 — the winnowing playbook): the bigram stage was an
    # interpreted HOF (`transform(sequence, i -> substr(text, i, 2))`)
    # exploded to one row per character (~1.5M rows at sf0.1) and
    # re-collapsed by a (doc_id, bg) exchange; the r12 explode-only A/B
    # regressed because the Generate carried the full text per index row.
    # The Arrow stage counts each doc's bigrams in one pass (a doc never
    # splits across batches, so the per-(doc, bg) counts are exact — the
    # former groupBy and its exchange are gone) and emits the identical
    # (doc_id, bg, cnt) rows; character slicing matches substr's
    # character (not byte) positions. The FP-order-sensitive weighted
    # log-sum stays in the JVM aggregate unchanged.
    def _bigram_counts(batches):
        from collections import Counter

        import pandas as pd

        for pdf in batches:
            out_id, out_bg, out_cnt = [], [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                c = Counter(text[i : i + 2] for i in range(len(text) - 1))
                out_id.extend([did] * len(c))
                out_bg.extend(c.keys())
                out_cnt.extend(c.values())
            yield pd.DataFrame(
                {"doc_id": out_id, "bg": out_bg, "cnt": out_cnt}
            )

    return (
        docs.where(F.length("text") >= 2)
        .select("doc_id", "text")
        .mapInPandas(_bigram_counts, dc_schema)
        .withColumn("c1", F.substring(F.col("bg"), 1, 1))
    )


def _perplexity_proxy_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality scoring: train a char-bigram language
    model ON the corpus (conditional counts), then score every document
    by its average log-probability — the KenLM-style quality filter of
    public training-data pipelines, reduced to its distributable core.
    Low scores flag documents whose character sequences are unlike the
    corpus (mojibake, binary spill, boilerplate).

    Plan: ONE linear char-bigram explode immediately collapses to
    per-(doc, bigram) COUNTS — the only fact-sized shuffle. The model
    tables derive from those counts (bigram totals; first-char totals
    roll up from bigram totals, no second scan), both alphabet-bounded
    and broadcast back; the score is the count-weighted sum of log
    conditionals — mathematically the same average as per-occurrence
    rows, at ~1/20th the join volume (distinct bigrams per doc, not
    characters per doc). This aggregate-before-join shape is what holds
    at 100 TB: the model fits in a broadcast regardless of corpus size.

    Every document bigram appears in the corpus counts by construction
    (the corpus scored is the training corpus), so no smoothing term is
    needed and both engines compute identical count ratios; the weighted
    sum is the one FP-order-dependent step, absorbed by the 4-dp round.
    """
    # Pinned: the counts feed both the model (bn, cn) and the scoring
    # join, and the Arrow stage has no exchange after it to reuse.
    dc = _char_bigram_counts(spark, sf_dir).localCheckpoint()
    bn = dc.groupBy("bg").agg(F.sum("cnt").alias("nb"))
    cn = bn.groupBy(F.substring(F.col("bg"), 1, 1).alias("c1")).agg(
        F.sum("nb").alias("nc")
    )
    return (
        dc.join(F.broadcast(bn), "bg")
        .join(F.broadcast(cn), "c1")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.round(
                F.sum(F.col("cnt") * F.log(F.col("nb") / F.col("nc")))
                / F.sum("cnt"),
                4,
            )
            .cast("double")
            .alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


register(
    "llm_perplexity_proxy",
    engine_fn=_perplexity_proxy_fn,
    oracle=(
        "WITH dc AS (\n"
        "  SELECT doc_id, bg, SUBSTR(bg, 1, 1) AS c1, COUNT(*) AS cnt\n"
        "  FROM (SELECT doc_id, SUBSTR(text, i, 2) AS bg\n"
        "        FROM documents,"
        " UNNEST(GENERATE_SERIES(1, LEN(text) - 1)) u(i)\n"
        "        WHERE LEN(text) >= 2)\n"
        "  GROUP BY doc_id, bg),\n"
        "bn AS (SELECT bg, SUM(cnt) AS nb FROM dc GROUP BY bg),\n"
        "cn AS (SELECT SUBSTR(bg, 1, 1) AS c1, SUM(nb) AS nc"
        " FROM bn GROUP BY 1)\n"
        "SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,\n"
        "  CAST(ROUND(SUM(cnt * LN(nb::DOUBLE / nc)) / SUM(cnt), 4)"
        " AS DOUBLE) AS avg_logprob\n"
        "FROM dc JOIN bn USING (bg) JOIN cn USING (c1)\n"
        "GROUP BY doc_id ORDER BY doc_id"
    ),
    category="llm-text",
    suite="extension",
    doc=(
        "perplexity-proxy quality score: corpus-trained char-bigram LM, "
        "per-doc average log P(c2|c1) — alphabet-bounded model tables "
        "broadcast onto a linear bigram explode"
    ),
)


# -- int8 scalar quantization round trip (round 5) ----------------------------


def _sq8_error_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding compression contract: per-dimension 8-bit scalar
    quantization (the standard SQ8 vector-store codec — min/max per dim,
    256 levels) with the round-trip reconstruction error reported per
    vector. 4x smaller storage for ANN candidate tiers; the error stats
    are what decides whether rescoring on raw vectors is needed.

    Plan: ONE 1-row aggregate computes the 64 per-dim min/max bounds
    (partial map-side aggregation), broadcast back onto the vectors
    (1-row crossJoin — the scalar-bounds shape, see profile_histogram);
    quantize/dequantize/error are a single map stage over index
    transforms. Nothing shuffles but the 1-row bounds and the final
    sort. Every arithmetic step (subtract, divide, scale, ROUND to the
    level grid, reconstruct) is written identically in the DuckDB twin,
    so the error values hash-match bit-for-bit after the 6-dp round.
    """
    dims = 64
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    bounds = emb.agg(
        *[F.min(F.col("v")[i]).alias(f"mn{i}") for i in range(dims)],
        *[F.max(F.col("v")[i]).alias(f"mx{i}") for i in range(dims)],
    ).select(
        F.array(*[f"mn{i}" for i in range(dims)]).alias("mn"),
        F.array(*[f"mx{i}" for i in range(dims)]).alias("mx"),
    )

    def err_at(i):
        v = F.element_at("v", i + 1)
        mn = F.element_at("mn", i + 1)
        mx = F.element_at("mx", i + 1)
        code = F.round((v - mn) / (mx - mn) * 255, 0)
        deq = F.when(mx == mn, mn).otherwise(mn + code * (mx - mn) / 255)
        return F.abs(deq - v)

    err = F.transform(F.sequence(F.lit(0), F.lit(dims - 1)), err_at)
    return (
        emb.crossJoin(F.broadcast(bounds))
        .select("vec_id", err.alias("err"))
        .select(
            "vec_id",
            F.round(F.array_max("err"), 6).cast("double").alias("max_abs_err"),
            F.round(
                F.aggregate(
                    "err", F.lit(0.0), lambda acc, x: acc + x * x
                )
                / dims,
                6,
            )
            .cast("double")
            .alias("mse"),
        )
        .orderBy("vec_id")
    )


register(
    "llm_sq8_error",
    engine_fn=_sq8_error_fn,
    oracle=(
        "WITH p AS (SELECT vec_id, embedding::DOUBLE[] AS v"
        " FROM embeddings),\n"
        "b AS (SELECT LIST(mn ORDER BY dim) AS mn, LIST(mx ORDER BY dim)"
        " AS mx FROM (\n"
        "  SELECT u.i AS dim, MIN(v[u.i]) AS mn, MAX(v[u.i]) AS mx\n"
        "  FROM p, UNNEST(GENERATE_SERIES(1, 64)) u(i) GROUP BY u.i)),\n"
        "e AS (SELECT vec_id, LIST_TRANSFORM(GENERATE_SERIES(1, 64), i ->\n"
        "  ABS((CASE WHEN mx[i] = mn[i] THEN mn[i]\n"
        "       ELSE mn[i] + ROUND((v[i] - mn[i]) / (mx[i] - mn[i]) * 255, 0)"
        " * (mx[i] - mn[i]) / 255 END) - v[i])) AS err\n"
        "  FROM p CROSS JOIN b)\n"
        "SELECT vec_id, CAST(ROUND(LIST_MAX(err), 6) AS DOUBLE)"
        " AS max_abs_err,\n"
        "  CAST(ROUND(LIST_REDUCE(LIST_TRANSFORM(err, x -> x * x),"
        " (a, c) -> a + c) / 64, 6) AS DOUBLE) AS mse\n"
        "FROM e ORDER BY vec_id"
    ),
    category="llm-similarity",
    suite="extension",
    doc=(
        "per-dim int8 scalar quantization (SQ8) round trip: 1-row "
        "broadcast bounds, map-only quantize/dequantize, bit-exact error "
        "stats vs the DuckDB twin"
    ),
)


# -- batched multi-query kNN (round 5) ----------------------------------------


def _knn_multi_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-shaped kNN: top-3 cosine neighbors for EACH of 10 query
    vectors in ONE plan — the batch-retrieval shape (RAG lookup, hard-
    negative mining) rather than ten single-query jobs.

    Plan: queries broadcast (constant 10-row build) onto the pool with
    norms precomputed per side; similarity is a JVM-side fold. Top-k is
    TWO-PHASE: per-(query, salt) row_number first — 32-way salt keeps
    every window partition small — then the final per-query window ranks
    only k x 32 survivors. A single window partitioned by the 10 query
    ids would funnel the whole N x 10 score table through 10 partitions;
    the salt phase is what makes this shape survive at 100x. Sims are
    rounded to 4 dp BEFORE ranking with vec_id tiebreak (the
    llm_knn_cosine convention), so ordering is engine-stable.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    norm = lambda c: F.aggregate(  # noqa: E731 — local fold helper
        F.transform(c, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    qs = (
        emb.where(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").cast("array<double>").alias("qv"),
        )
        .withColumn("nq", F.sqrt(norm(F.col("qv"))))
    )
    pool = (
        emb.where(F.col("vec_id") >= 10)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .withColumn("nv", F.sqrt(norm(F.col("v"))))
    )
    dot = F.aggregate(
        F.zip_with("v", "qv", lambda x, y: x * y),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    scored = pool.crossJoin(F.broadcast(qs)).select(
        "qid",
        "vec_id",
        F.round(dot / (F.col("nv") * F.col("nq")), 4).alias("sim"),
    )
    from pyspark.sql import Window

    w1 = Window.partitionBy("qid", F.pmod(F.col("vec_id"), F.lit(32))).orderBy(
        F.col("sim").desc(), "vec_id"
    )
    w2 = Window.partitionBy("qid").orderBy(F.col("sim").desc(), "vec_id")
    return (
        scored.withColumn("r1", F.row_number().over(w1))
        .where(F.col("r1") <= 3)
        .withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= 3)
        .select("qid", "vec_id", F.col("sim").cast("double"))
        .orderBy("qid", F.col("sim").desc(), "vec_id")
    )


register(
    "llm_knn_multi",
    engine_fn=_knn_multi_fn,
    oracle=(
        "WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv\n"
        "  FROM embeddings WHERE vec_id < 10),\n"
        "p AS (SELECT vec_id, embedding::DOUBLE[] AS v\n"
        "  FROM embeddings WHERE vec_id >= 10),\n"
        "s AS (SELECT qid, vec_id, ROUND(\n"
        "  LIST_REDUCE(LIST_TRANSFORM(GENERATE_SERIES(1, 64),"
        " i -> v[i] * qv[i]), (a, x) -> a + x)\n"
        "  / (SQRT(LIST_REDUCE(LIST_TRANSFORM(GENERATE_SERIES(1, 64),"
        " i -> v[i] * v[i]), (a, x) -> a + x))\n"
        "   * SQRT(LIST_REDUCE(LIST_TRANSFORM(GENERATE_SERIES(1, 64),"
        " i -> qv[i] * qv[i]), (a, x) -> a + x))), 4) AS sim\n"
        "  FROM p CROSS JOIN q)\n"
        "SELECT qid, vec_id, CAST(sim AS DOUBLE) AS sim FROM s\n"
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY qid"
        " ORDER BY sim DESC, vec_id) <= 3\n"
        "ORDER BY qid, sim DESC, vec_id"
    ),
    category="llm-similarity",
    suite="extension",
    doc=(
        "batched multi-query top-3 cosine retrieval: 10-row broadcast of "
        "queries, JVM-side folds, salted two-phase per-query top-k (no "
        "10-partition window funnel)"
    ),
)


# -- corpus embedding drift ---------------------------------------------------


def _embedding_drift_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid drift between two corpus halves (vec_id parity splits —
    deterministic, engine-independent): the training-data monitoring
    primitive that flags distribution shift between two ingestion
    batches. Per-half centroids are ONE (half, dim) partial aggregate
    over posexploded components (rounded to 6 dp so engine aggregation
    order can't leak); cosine and L2 between the two 64-dim centroids
    run as order-pinned zip_with folds over sort_array-packed vectors —
    the kmeans handoff discipline. Everything after the one exploded
    aggregate is constant-size (2 x 64)."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        (F.col("vec_id") % 2).alias("h"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "val"
        ),
    )
    cent = (
        e.groupBy("h", "dim")
        .agg(F.round(F.avg("val"), 6).alias("c"))
        .groupBy("h")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("dim", "c"))),
                lambda s: s.getField("c"),
            ).alias("cv")
        )
    )
    counts = (
        emb.groupBy((F.col("vec_id") % 2).alias("h"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    a = cent.where(F.col("h") == 0).select(F.col("cv").alias("ca"))
    b = cent.where(F.col("h") == 1).select(F.col("cv").alias("cb"))
    na = counts.where(F.col("h") == 0).select(F.col("n").alias("n_even"))
    nb = counts.where(F.col("h") == 1).select(F.col("n").alias("n_odd"))

    def fold(arr):
        return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)

    dot = fold(F.zip_with("ca", "cb", lambda x, y: x * y))
    n2a = fold(F.transform("ca", lambda x: x * x))
    n2b = fold(F.transform("cb", lambda x: x * x))
    l2 = F.sqrt(
        fold(F.zip_with("ca", "cb", lambda x, y: (x - y) * (x - y)))
    )
    return (
        na.crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(a))
        .crossJoin(F.broadcast(b))
        .select(
            "n_even",
            "n_odd",
            F.round(dot / (F.sqrt(n2a) * F.sqrt(n2b)), 6)
            .cast("double")
            .alias("centroid_cosine"),
            F.round(l2, 6).cast("double").alias("centroid_l2"),
        )
    )


register(
    "llm_embedding_drift",
    engine_fn=_embedding_drift_fn,
    oracle=(
        "WITH e AS (SELECT vec_id % 2 AS h, embedding::DOUBLE[] AS v"
        " FROM embeddings),\n"
        "c AS (SELECT h, u.i AS dim, ROUND(AVG(v[u.i]), 6) AS c\n"
        "      FROM e, UNNEST(GENERATE_SERIES(1, 64)) AS u(i)"
        " GROUP BY 1, 2),\n"
        "p AS (SELECT h, LIST(c ORDER BY dim) AS cv FROM c GROUP BY h),\n"
        "n AS (SELECT CAST(COUNT(*) FILTER (h = 0) AS BIGINT) AS n_even,\n"
        "             CAST(COUNT(*) FILTER (h = 1) AS BIGINT) AS n_odd"
        " FROM e)\n"
        "SELECT n.n_even, n.n_odd,\n"
        "  CAST(ROUND(\n"
        "    LIST_REDUCE(LIST_TRANSFORM(GENERATE_SERIES(1, 64),"
        " i -> a.cv[i] * b.cv[i]), (x, y) -> x + y)\n"
        "    / (SQRT(LIST_REDUCE(LIST_TRANSFORM(GENERATE_SERIES(1, 64),"
        " i -> a.cv[i] * a.cv[i]), (x, y) -> x + y))\n"
        "     * SQRT(LIST_REDUCE(LIST_TRANSFORM(GENERATE_SERIES(1, 64),"
        " i -> b.cv[i] * b.cv[i]), (x, y) -> x + y))), 6)"
        " AS DOUBLE) AS centroid_cosine,\n"
        "  CAST(ROUND(SQRT(\n"
        "    LIST_REDUCE(LIST_TRANSFORM(GENERATE_SERIES(1, 64),"
        " i -> (a.cv[i] - b.cv[i]) * (a.cv[i] - b.cv[i])),"
        " (x, y) -> x + y)), 6) AS DOUBLE) AS centroid_l2\n"
        "FROM (SELECT cv FROM p WHERE h = 0) a,"
        " (SELECT cv FROM p WHERE h = 1) b, n"
    ),
    category="llm-similarity",
    suite="extension",
    doc=(
        "corpus embedding drift between vec_id-parity halves: per-half "
        "centroids from one (half, dim) partial aggregate, order-pinned "
        "cosine/L2 folds over the 2 x 64 constant-size handoff"
    ),
)


# -- shingle novelty curve ---------------------------------------------------


def _shingle_novelty_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a doc's 3-gram shingles that
    no EARLIER doc (smaller doc_id = ingestion order) contains — the
    curation signal for "is this batch still adding new content, or
    re-crawling what we have". Plan: one shingle aggregate finds each
    shingle's first-seen doc (partial map-side min), one join back per
    (doc, shingle) row, one per-doc aggregate. No pair join anywhere —
    cost tracks the shingle table, linear in corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    # Pinned: read twice (first-seen aggregate + join back), and
    # word_ngrams has no exchange for ReusedExchange to share.
    grams = word_ngrams(docs, n=3).localCheckpoint()
    first = grams.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        grams.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                (F.col("doc_id") == F.col("first_doc")).cast("long")
            ).alias("novel"),
        )
    )
    return (
        per_doc.select(
            "doc_id",
            "n_shingles",
            "novel",
            F.round(F.col("novel") / F.col("n_shingles"), 6)
            .cast("double")
            .alias("novelty"),
        )
        .orderBy("doc_id")
        .limit(100)
    )


register(
    "llm_shingle_novelty",
    engine_fn=_shingle_novelty_fn,
    oracle=(
        "WITH shd AS (\n"
        "  SELECT DISTINCT doc_id, arr[i] || ' ' || arr[i+1] || ' ' ||"
        " arr[i+2] AS s\n"
        "  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS arr"
        " FROM documents),\n"
        "       UNNEST(RANGE(1, GREATEST(LEN(arr) - 1, 1))) AS t(i)\n"
        "), f AS (SELECT s, MIN(doc_id) AS first_doc FROM shd GROUP BY s)\n"
        "SELECT shd.doc_id,\n"
        "  CAST(COUNT(*) AS BIGINT) AS n_shingles,\n"
        "  CAST(SUM(CASE WHEN shd.doc_id = f.first_doc THEN 1 ELSE 0 END)"
        " AS BIGINT) AS novel,\n"
        "  CAST(ROUND(SUM(CASE WHEN shd.doc_id = f.first_doc THEN 1"
        " ELSE 0 END)\n"
        "    / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS novelty\n"
        "FROM shd JOIN f USING (s)\n"
        "GROUP BY shd.doc_id ORDER BY shd.doc_id LIMIT 100"
    ),
    category="llm-dedup",
    suite="extension",
    doc=(
        "per-doc shingle novelty vs all earlier docs (first-seen "
        "aggregate + join back): the is-this-batch-new curation curve — "
        "linear in the shingle table, no pair join"
    ),
)


# -- cross-source shingle overlap ---------------------------------------------


def _source_overlap_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination profile: for each source, the fraction
    of its distinct 3-gram shingles that also appear in at least one
    OTHER source — the "are my crawls re-collecting each other" monitor
    that decides which source to deprioritize. Plan: one distinct
    (source, shingle) projection of the shingle table, one per-shingle
    source-count aggregate, one join back, one per-source rollup — every
    stage a hash equi-join/aggregate linear in the shingle table, no
    pair join (the same no-pairs discipline as llm_shingle_novelty)."""
    docs = load_table(spark, sf_dir, "documents")
    grams = word_ngrams(docs, n=3)
    src = (
        grams.join(docs.select("doc_id", "source"), "doc_id")
        .select("source", "shingle")
        .distinct()
    )
    ns = src.groupBy("shingle").agg(
        F.countDistinct("source").alias("ns")
    )
    return (
        src.join(ns, "shingle")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("ns") > 1).cast("long")).alias("shared"),
        )
        .select(
            "source",
            "n_shingles",
            "shared",
            F.round(F.col("shared") / F.col("n_shingles"), 6)
            .cast("double")
            .alias("overlap"),
        )
        .orderBy("source")
    )


register(
    "llm_source_overlap",
    engine_fn=_source_overlap_fn,
    oracle=(
        "WITH shd AS (\n"
        "  SELECT DISTINCT doc_id, arr[i] || ' ' || arr[i+1] || ' ' ||"
        " arr[i+2] AS s\n"
        "  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS arr"
        " FROM documents),\n"
        "       UNNEST(RANGE(1, GREATEST(LEN(arr) - 1, 1))) AS t(i)\n"
        "), ss AS (\n"
        "  SELECT DISTINCT d.source, shd.s\n"
        "  FROM shd JOIN documents d USING (doc_id)\n"
        "), ns AS (SELECT s, COUNT(DISTINCT source) AS ns FROM ss"
        " GROUP BY s)\n"
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_shingles,\n"
        "  CAST(SUM(CASE WHEN ns.ns > 1 THEN 1 ELSE 0 END) AS BIGINT)"
        " AS shared,\n"
        "  CAST(ROUND(SUM(CASE WHEN ns.ns > 1 THEN 1 ELSE 0 END)\n"
        "    / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS overlap\n"
        "FROM ss JOIN ns USING (s)\n"
        "GROUP BY source ORDER BY source"
    ),
    category="llm-dedup",
    suite="extension",
    doc=(
        "per-source fraction of distinct 3-gram shingles shared with any "
        "other source: cross-crawl contamination profile — distinct "
        "projection + per-shingle source count, linear in the shingle table"
    ),
)


# -- dedup tier evaluation ------------------------------------------------------


def _dedup_eval_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the cheap near-dup tier against exact ground
    truth — the methodological question every dedup pipeline must answer
    before trusting its funnel: treating exact 3-gram Jaccard >= 0.5
    pairs as truth and banded SimHash Hamming <= 3 pairs as the
    prediction, report TP/FP/FN and P/R/F1. Both pair sets reuse the
    standalone oracle-verified operators (llm_simhash_pairs,
    llm_ngram_jaccard — duplicate-collapsed, banded equi-joins); the
    comparison itself is one full-outer key join on (id_a, id_b) and a
    1-row count aggregate, so the evaluation costs no more than the
    tiers it audits. Ratios divide exact integer counts, pinned at 6 dp.

    The truth tier goes through the df_cap=50 funnel with
    ``require_lossless=True`` (r8 advice + r8 verdict #1): the funnel's
    own hot-key census decides at runtime. When no shingle exceeds the
    cap — true on this corpus, whose max legitimate shingle document
    frequency is 25 (BASELINE.md r7 cap-vs-cluster-size analysis) — the
    funnel falls through to the plain exact self-join, so the truth tier
    is UNCAPPED BY CONSTRUCTION and pays none of the hot/cold-split
    overhead (the r8 4.07->7.62 s regression, recovered). On a corpus
    where some shingle DOES exceed the cap, the truth tier raises with
    instructions to raise df_cap instead of silently dropping pairs and
    inflating the precision of the tier under audit — the lossless-ness
    that was previously an unasserted data property is now a runtime
    guarantee."""
    truth = _jaccard_fn(spark, sf_dir, df_cap=50, require_lossless=True).select(
        "id_a", "id_b"
    ).withColumn("t", F.lit(1))
    pred = _simhash_pairs_fn(spark, sf_dir).select("id_a", "id_b").withColumn(
        "p", F.lit(1)
    )
    j = truth.join(pred, ["id_a", "id_b"], "full_outer")
    return j.agg(
        F.sum((F.col("t").isNotNull() & F.col("p").isNotNull()).cast("long")).alias("tp"),
        F.sum((F.col("t").isNull() & F.col("p").isNotNull()).cast("long")).alias("fp"),
        F.sum((F.col("t").isNotNull() & F.col("p").isNull()).cast("long")).alias("fn"),
    ).select(
        "tp",
        "fp",
        "fn",
        F.round(F.col("tp") / (F.col("tp") + F.col("fp")), 6)
        .cast("double")
        .alias("precision"),
        F.round(F.col("tp") / (F.col("tp") + F.col("fn")), 6)
        .cast("double")
        .alias("recall"),
        F.round(
            2.0 * F.col("tp") / (2.0 * F.col("tp") + F.col("fp") + F.col("fn")), 6
        )
        .cast("double")
        .alias("f1"),
    )


register(
    "llm_dedup_eval",
    engine_fn=_dedup_eval_fn,
    oracle=(
        "WITH shd AS (\n"
        "  SELECT DISTINCT doc_id, arr[i] || ' ' || arr[i+1] || ' ' ||"
        " arr[i+2] AS s\n"
        "  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS arr"
        " FROM documents),\n"
        "       UNNEST(RANGE(1, GREATEST(LEN(arr) - 1, 1))) AS t(i)\n"
        "), n AS (SELECT doc_id, COUNT(*) AS ns FROM shd GROUP BY doc_id),\n"
        "pair AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,"
        " COUNT(*) AS shared\n"
        "         FROM shd a JOIN shd b ON a.s = b.s"
        " AND a.doc_id < b.doc_id\n"
        "         GROUP BY 1, 2),\n"
        "truth AS (SELECT id_a, id_b FROM pair\n"
        "  JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b\n"
        "  WHERE ROUND(shared / (na.ns + nb.ns - shared), 4) >= 0.5),\n"
        "sh AS (" + _DUCK_SIMHASH + "),\n"
        "pred AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b\n"
        "  FROM sh a JOIN sh b ON a.doc_id < b.doc_id\n"
        "  WHERE BIT_COUNT(XOR(a.simhash, b.simhash)) <= 3),\n"
        "c AS (SELECT\n"
        "  CAST((SELECT COUNT(*) FROM truth JOIN pred USING (id_a, id_b))"
        " AS BIGINT) AS tp,\n"
        "  CAST((SELECT COUNT(*) FROM pred WHERE NOT EXISTS (SELECT 1"
        " FROM truth WHERE truth.id_a = pred.id_a AND truth.id_b ="
        " pred.id_b)) AS BIGINT) AS fp,\n"
        "  CAST((SELECT COUNT(*) FROM truth WHERE NOT EXISTS (SELECT 1"
        " FROM pred WHERE pred.id_a = truth.id_a AND pred.id_b ="
        " truth.id_b)) AS BIGINT) AS fn)\n"
        "SELECT tp, fp, fn,\n"
        "  CAST(ROUND(tp / CAST(tp + fp AS DOUBLE), 6) AS DOUBLE)"
        " AS precision,\n"
        "  CAST(ROUND(tp / CAST(tp + fn AS DOUBLE), 6) AS DOUBLE)"
        " AS recall,\n"
        "  CAST(ROUND(2.0 * tp / (2.0 * tp + fp + fn), 6) AS DOUBLE)"
        " AS f1\n"
        "FROM c"
    ),
    category="llm-dedup",
    suite="extension",
    doc=(
        "dedup-tier audit: precision/recall/F1 of banded SimHash "
        "(Hamming<=3) against exact 3-gram Jaccard>=0.5 ground truth — "
        "one full-outer pair join + a 1-row count aggregate over the "
        "two standalone-verified tiers"
    ),
)


# -- k-means cluster purity vs labels -------------------------------------------


def _kmeans_purity_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster quality audit: per-cluster label purity of the
    deterministic k-means assignment — the unsupervised-vs-labels sanity
    check run before trusting clusters for data curation (topic
    balancing, stratified eval splits). Assignments come from the same
    deterministic 2-iteration k-means the hash-verified
    llm_kmeans_assign twin proves; purity is one (cluster, label) count
    aggregate, an argmax with a label tiebreak, and a size join — all
    exact integers until the final pinned ratio."""
    from pyspark.sql import Window

    from nyuki_spark.operators.kmeans import kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    asg = kmeans_assign(emb, k=8, iters=2).join(
        emb.select("vec_id", "label"), "vec_id"
    )
    cl = asg.groupBy("cluster_id", "label").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n"), F.asc("label")
    )
    top = cl.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    size = cl.groupBy("cluster_id").agg(F.sum("n").alias("size"))
    return (
        top.join(size, "cluster_id")
        .select(
            "cluster_id",
            F.col("label").alias("majority_label"),
            F.col("n").alias("majority_n"),
            "size",
            F.round(F.col("n") / F.col("size"), 6)
            .cast("double")
            .alias("purity"),
        )
        .orderBy("cluster_id")
    )


register(
    "llm_kmeans_purity",
    engine_fn=_kmeans_purity_fn,
    oracle=(
        "WITH " + _DUCK_KMEANS_CTES + ",\n"
        "cl AS (\n"
        "  SELECT a2.cid AS cluster_id, e.label, COUNT(*) AS n\n"
        "  FROM a2 JOIN embeddings e USING (vec_id)\n"
        "  GROUP BY 1, 2),\n"
        "top AS (\n"
        "  SELECT cluster_id, label, n FROM cl\n"
        "  QUALIFY ROW_NUMBER() OVER (PARTITION BY cluster_id\n"
        "    ORDER BY n DESC, label) = 1),\n"
        "sz AS (SELECT cluster_id, SUM(n) AS size FROM cl GROUP BY 1)\n"
        "SELECT t.cluster_id, t.label AS majority_label,\n"
        "  CAST(t.n AS BIGINT) AS majority_n,\n"
        "  CAST(sz.size AS BIGINT) AS size,\n"
        "  CAST(ROUND(t.n / CAST(sz.size AS DOUBLE), 6) AS DOUBLE)"
        " AS purity\n"
        "FROM top t JOIN sz USING (cluster_id) ORDER BY t.cluster_id"
    ),
    category="llm-similarity",
    suite="extension",
    doc=(
        "per-cluster label purity of the deterministic k-means "
        "assignment (majority label, tie to smaller label): the "
        "cluster-quality audit — count aggregate + bounded argmax "
        "window + size join, exact integers to the pinned ratio"
    ),
)


# -- subset containment (round 7) ----------------------------------------------


def _containment_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-SUBSET detection: containment = |A ∩ B| / min(|A|, |B|) —
    the overlap measure Jaccard misses when sizes differ (a paragraph
    quoted inside a 10x larger doc has Jaccard ~0.1 but containment
    ~1.0; curation pipelines drop or attribute such pairs). Same scale
    shape as the Jaccard tier: shingle self-join bounded by shared-
    shingle incidences over the exact-dedup representatives, pure
    integer counts up to the final pinned ratio. The 0.8 floor keeps
    the output at true near-subset pairs. This uncapped form is the
    exact truth tier (like llm_ngram_jaccard); the 100 TB posture is
    llm_subset_containment_capped below.
    """
    uniq = _text_reps(spark, sf_dir)
    return containment_pairs(uniq, threshold=0.8, n=3).orderBy("id_a", "id_b")


register(
    "llm_subset_containment",
    engine_fn=_containment_fn,
    oracle=(
        "WITH reps AS (SELECT MIN(doc_id) AS doc_id, text FROM documents\n"
        "              WHERE text IS NOT NULL GROUP BY text),\n"
        "shd AS (\n"
        "  SELECT DISTINCT doc_id, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS s\n"
        "  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS arr FROM reps),\n"
        "       UNNEST(RANGE(1, GREATEST(LEN(arr) - 1, 1))) AS t(i)\n"
        "), n AS (SELECT doc_id, COUNT(*) AS ns FROM shd GROUP BY doc_id),\n"
        "pair AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared\n"
        "         FROM shd a JOIN shd b ON a.s = b.s AND a.doc_id < b.doc_id\n"
        "         GROUP BY 1, 2)\n"
        "SELECT id_a, id_b,\n"
        "       ROUND(shared / LEAST(na.ns, nb.ns), 4) AS containment\n"
        "FROM pair JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b\n"
        "WHERE ROUND(shared / LEAST(na.ns, nb.ns), 4) >= 0.8\n"
        "ORDER BY id_a, id_b"
    ),
    category="llm-dedup",
    suite="extension",
    doc=(
        "near-subset containment pairs (shared / min set size >= 0.8) "
        "over exact-dedup reps — the quote/excerpt detector Jaccard "
        "misses on size-skewed pairs; shingle self-join, integer counts "
        "to the pinned ratio"
    ),
)


def _containment_capped_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB-posture tier of the containment funnel (r7 verdict #1):
    the SAME df_cap=50 nomination + lossless upper-bound prefilter the
    Jaccard tier uses, with the bound evaluated at containment's
    threshold test — containment = shared / min(na, nb) is monotone in
    shared, so shared <= s_cold + min(hot_a, hot_b) prunes losslessly
    before the exact hot-intersection count. One viral boilerplate
    shingle shared by k docs now contributes at most C(50, 2) nominated
    pairs instead of C(k, 2); the oracle replicates the capped nomination
    + full-set verification literally so the cap semantics are
    hash-verified. The shared cap is tier-1 tested on the Jaccard tier
    (``tests/test_dedup.py::test_jaccard_df_cap_*``); BASELINE.md §r7
    keeps the historical 10^4x-boilerplate measurement of this funnel.
    """
    uniq = _text_reps(spark, sf_dir)
    return containment_pairs(uniq, threshold=0.8, n=3, df_cap=50).orderBy(
        "id_a", "id_b"
    )


register(
    "llm_subset_containment_capped",
    engine_fn=_containment_capped_fn,
    oracle=(
        "WITH reps AS (SELECT MIN(doc_id) AS doc_id, text FROM documents\n"
        "              WHERE text IS NOT NULL GROUP BY text),\n"
        "shd AS (\n"
        "  SELECT DISTINCT doc_id, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS s\n"
        "  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS arr FROM reps),\n"
        "       UNNEST(RANGE(1, GREATEST(LEN(arr) - 1, 1))) AS t(i)\n"
        "), n AS (SELECT doc_id, COUNT(*) AS ns FROM shd GROUP BY doc_id),\n"
        "cold AS (SELECT s FROM shd GROUP BY s HAVING COUNT(*) <= 50),\n"
        "shc AS (SELECT shd.doc_id, shd.s FROM shd JOIN cold USING (s)),\n"
        "nom AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b\n"
        "        FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id),\n"
        "pair AS (SELECT id_a, id_b, COUNT(*) AS shared\n"
        "         FROM nom\n"
        "         JOIN shd a ON a.doc_id = nom.id_a\n"
        "         JOIN shd b ON b.doc_id = nom.id_b AND b.s = a.s\n"
        "         GROUP BY id_a, id_b)\n"
        "SELECT id_a, id_b,\n"
        "       ROUND(shared / LEAST(na.ns, nb.ns), 4) AS containment\n"
        "FROM pair JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b\n"
        "WHERE ROUND(shared / LEAST(na.ns, nb.ns), 4) >= 0.8\n"
        "ORDER BY id_a, id_b"
    ),
    category="llm-dedup",
    suite="extension",
    doc=(
        "df-capped containment tier: hot-shingle (df>50) pruning in "
        "candidate nomination + monotone upper-bound prefilter, exact "
        "full-set verification of survivors"
    ),
)


# -- SemDeDup (round 8) -------------------------------------------------------------


# SemDeDup cell-count contract: one k-means cell per ~250 embeddings,
# floor 8 — cells stay a constant expected size as the corpus grows, so
# the within-cell pair join is O(n * rows_per_cell), linear in n.
SEMDEDUP_ROWS_PER_CELL = 250

_SEMDEDUP_K_SQL = (
    "(SELECT GREATEST(8, CAST(CEIL(COUNT(DISTINCT embedding) / "
    f"{SEMDEDUP_ROWS_PER_CELL}.0) AS INT)) FROM embeddings)"
)

# The quantizer runs over exact-dup REPRESENTATIVES, not raw rows: only
# reps enter the pairwise stage, so cells should target rep density, and
# assignment cost (n_reps x k distance folds, map-only) doesn't pay for
# rows the exact tier already dropped.
_SEMDEDUP_REPS_SRC = (
    "(SELECT MIN(vec_id) AS vec_id, embedding FROM embeddings"
    " GROUP BY embedding)"
)


def _semdedup_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the embedding space, then
    drop near-identical vectors WITHIN each cluster — the semantic-dedup
    pass modern curation pipelines run after exact/minhash dedup, using
    k-means cells so the pairwise stage never crosses cluster borders.
    Two stages, both with the duplicate-collapse discipline of
    llm_cosine_pairs (identical vectors are the quadratic worst case of
    any pairwise stage, so they are removed FIRST by a hash groupBy):

    1. exact: every non-representative member of an identical-embedding
       group drops (reason 'exact') — one value-keyed aggregate;
    2. semantic: representatives joined within their deterministic
       k-means cell (llm_kmeans_assign's hash-verified quantizer),
       cosine >= 0.42 against any smaller-id rep drops (reason
       'semantic') — an equi-join on cluster_id whose fanout is bounded
       by cell size. The fixtures are synthetic uniform-ish vectors
       (max pair sim ~0.51, no identical embeddings), so the threshold
       sits where the semantic tier emits real pairs; production
       corpora run ~0.95+.

    k is a ROWS-PER-CELL target, not a constant (r8 verdict #2 — the
    paper's contract: k grows with the corpus so the within-cell pair
    stage stays bounded): k = max(8, ceil(n_reps / 250)) over the
    DISTINCT-embedding representatives, and the quantizer itself runs
    over reps only — only reps enter the pairwise stage (the exact tier
    already dropped their duplicates), so clustering raw rows would pay
    n x k distance folds for rows that can never pair. Both the rep
    collapse and the k formula are derived identically by the oracle
    (scalar-subquery LIMIT), so the parameterization is hash-verified —
    at the graded SFs k resolves to 8. BASELINE.md keeps the historical
    10x/30x synthetic-corpus measurement: the within-cell pair stage
    grew linearly (rows_per_cell bounded) where fixed k=8 grew
    quadratically. Assignment is n_reps x k
    map-only distance folds (no shuffle); at extreme scale that product
    is capped by a two-level coarse/fine quantizer — documented, not
    needed at probed SFs.

    Sims are rounded to 4 dp before the threshold on both engines (the
    llm_cosine_pairs / IVF-oracle convention).
    """
    from nyuki_spark.operators.kmeans import kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    groups = emb.groupBy("embedding").agg(F.min("vec_id").alias("rep"))
    exact = (
        emb.join(groups, "embedding")
        .where(F.col("vec_id") != F.col("rep"))
        .select("vec_id", F.lit("exact").alias("reason"))
    )
    reps_src = groups.select(
        F.col("rep").alias("vec_id"), "embedding"
    ).localCheckpoint()
    k = max(8, -(-reps_src.count() // SEMDEDUP_ROWS_PER_CELL))
    asg = kmeans_assign(reps_src, k=k, iters=2)
    emb_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    reps = (
        reps_src
        .join(asg, "vec_id")
        .select("vec_id", "cluster_id", emb_d.alias("e"))
    )
    # Within-cell pair stage as ONE float64 Gram pass per cell (r12, guide
    # §4.2 — operators/similarity.py cell_cosine_pairs). Replaces the
    # per-pair interpreted zip_with/aggregate fold (7.3 s at sf0.1; the
    # element_at-chain alternative A/B'd worse at 14.1 s — BASELINE.md r8)
    # with batched BLAS over each cell's Arrow group; the 4-dp HALF_UP
    # keep/drop contract is unchanged and oracle-verified.
    from nyuki_spark.operators.similarity import cell_cosine_pairs

    sem = (
        cell_cosine_pairs(reps, "cluster_id", 0.42, id_col="vec_id", emb_col="e")
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .select("vec_id", F.lit("semantic").alias("reason"))
    )
    return exact.unionByName(sem).orderBy("vec_id", "reason")


register(
    "llm_semdedup",
    engine_fn=_semdedup_fn,
    oracle=(
        # k derived from the data by the same rows-per-cell formula the
        # engine uses (subquery LIMIT), and the quantizer's source is the
        # same rep collapse — the parameterization is part of the
        # verified contract, not a fixture constant.
        "WITH "
        + _duck_kmeans_ctes(k=_SEMDEDUP_K_SQL, src=_SEMDEDUP_REPS_SRC)
        + ",\n"
        "g AS (SELECT embedding, MIN(vec_id) AS rep FROM embeddings\n"
        "      GROUP BY embedding),\n"
        "exact AS (SELECT e.vec_id FROM embeddings e JOIN g\n"
        "  ON e.embedding = g.embedding AND e.vec_id <> g.rep),\n"
        "reps AS (SELECT emb.vec_id, emb.e, a2.cid\n"
        "  FROM emb JOIN a2 USING (vec_id)),\n"
        "sem AS (SELECT DISTINCT b.vec_id\n"
        "  FROM reps a JOIN reps b ON a.cid = b.cid AND a.vec_id < b.vec_id\n"
        "  WHERE ROUND(LIST_COSINE_SIMILARITY(a.e, b.e), 4) >= 0.42)\n"
        "SELECT vec_id, 'exact' AS reason FROM exact\n"
        "UNION ALL SELECT vec_id, 'semantic' AS reason FROM sem\n"
        "ORDER BY vec_id, reason"
    ),
    category="llm-similarity",
    suite="extension",
    doc=(
        "SemDeDup: exact-duplicate collapse then within-k-means-cell "
        "cosine-threshold drop over representatives — value-keyed aggregate "
        "+ cell-bounded equi-join with the quantizer over reps only and "
        "k a rows-per-cell target (max(8, ceil(n_reps/250)), derived "
        "identically by both engines), the semantic-dedup pass of modern "
        "curation pipelines"
    ),
)


# -- LSH banding tuning curve (round 8) ----------------------------------------------


def _lsh_tuning_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH banding design table: candidate probability
    P(s) = 1 - (1 - s^r)^b for each (bands b, rows-per-band r)
    configuration of a 24-hash signature, across the Jaccard grid
    s = 0.05..0.95 — the curve a dedup pipeline reads to pick banding
    before an LSH run (threshold ~ (1/b)^(1/r); steeper = fewer false
    candidates at the same recall). Domain-sized (3 configs x 19 grid
    points from a range/cross) and exact in both engines up to POW's
    sub-ulp, pinned at 6 dp. The fixture-independent design-table shape:
    the engine's job is the expression, not data volume.
    """
    cfg = spark.createDataFrame(
        [(24, 1), (12, 2), (6, 4)], "b int, r int"
    )
    s = spark.range(1, 20).select(
        (F.col("id") * F.lit(0.05)).alias("s")
    )
    return (
        cfg.crossJoin(s)
        .select(
            "b",
            "r",
            F.round("s", 2).alias("s"),
            F.round(
                F.lit(1.0)
                - F.pow(
                    F.lit(1.0) - F.pow(F.col("s"), F.col("r")), F.col("b")
                ),
                6,
            )
            .cast("double")
            .alias("p_candidate"),
        )
        .orderBy("b", "r", "s")
    )


register(
    "llm_lsh_tuning_curve",
    engine_fn=_lsh_tuning_fn,
    oracle=(
        "SELECT b, r, ROUND(s, 2) AS s,\n"
        "  CAST(ROUND(1.0 - POW(1.0 - POW(s, r), b), 6) AS DOUBLE)"
        " AS p_candidate\n"
        "FROM (VALUES (24, 1), (12, 2), (6, 4)) AS cfg(b, r)\n"
        "CROSS JOIN (SELECT i * 0.05 AS s FROM RANGE(1, 20) t(i))\n"
        "ORDER BY b, r, s"
    ),
    category="llm-dedup",
    suite="extension",
    doc=(
        "LSH banding design table: P(candidate) = 1-(1-s^r)^b over the "
        "Jaccard grid for three 24-hash banding configs — the curve that "
        "picks b,r before a dedup run"
    ),
)


# -- Matryoshka truncation QA (round 9) -----------------------------------------


def _mrl_truncation_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation QA (Kusupati et al., MRL): if the 64-dim
    embeddings are cut to their first 16 dims (the MRL serving trick —
    cheap ANN on the prefix, full-dim rerank), how much of each vector's
    energy survives? retained = |x[1:16]|^2 / |x|^2 — cos(full, padded
    truncation) = sqrt(retained) — bucketed into 20 bins per label, so a
    front-loaded (MRL-trained) space shows mass near bucket 19 and a
    uniform random space near bucket 4 (16/64 of the energy). The audit
    a retrieval team runs BEFORE enabling prefix-ANN.

    Map-only per-row array folds (no shuffle until the label/bucket
    census): both engines fold the squares STRICTLY SEQUENTIALLY in
    index order from a 0.0 init (F.aggregate == ordered LIST_REDUCE, the
    cumsum-parity technique), so retained is bit-identical and the
    floor-bucket cut is exact. Bucket stats are integer counts plus
    order-independent min/max, pinned at 6 dp.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "label", F.col("embedding").cast("array<double>").alias("v")
    )
    sq = lambda col: F.aggregate(  # noqa: E731 — tiny expression factory
        col, F.lit(0.0), lambda acc, x: acc + x * x
    )
    r = emb.select(
        "label",
        (sq(F.slice(F.col("v"), 1, 16)) / sq(F.col("v"))).alias("retained"),
    )
    b = r.select(
        "label",
        F.least(F.floor(F.col("retained") * 20), F.lit(19))
        .cast("int")
        .alias("bucket"),
        "retained",
    )
    return (
        b.groupBy("label", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.min("retained"), 6).cast("double").alias("min_ret"),
            F.round(F.max("retained"), 6).cast("double").alias("max_ret"),
        )
        .orderBy("label", "bucket")
    )


register(
    "llm_mrl_truncation",
    engine_fn=_mrl_truncation_fn,
    oracle=(
        "WITH r AS (SELECT label,\n"
        "    LIST_REDUCE(LIST_PREPEND(CAST(0.0 AS DOUBLE),\n"
        "      LIST_TRANSFORM((embedding::DOUBLE[])[1:16], x -> x * x)),\n"
        "      (a, b) -> a + b)\n"
        "    / LIST_REDUCE(LIST_PREPEND(CAST(0.0 AS DOUBLE),\n"
        "      LIST_TRANSFORM(embedding::DOUBLE[], x -> x * x)),\n"
        "      (a, b) -> a + b) AS retained\n"
        "  FROM embeddings),\n"
        "b AS (SELECT label,\n"
        "    CAST(LEAST(FLOOR(retained * 20), 19) AS INT) AS bucket,\n"
        "    retained\n"
        "  FROM r)\n"
        "SELECT label, bucket, CAST(COUNT(*) AS BIGINT) AS n_vecs,\n"
        "  CAST(ROUND(MIN(retained), 6) AS DOUBLE) AS min_ret,\n"
        "  CAST(ROUND(MAX(retained), 6) AS DOUBLE) AS max_ret\n"
        "FROM b GROUP BY 1, 2 ORDER BY 1, 2"
    ),
    category="llm-similarity",
    suite="extension",
    doc=(
        "Matryoshka 16-of-64 prefix-truncation energy audit per label: "
        "map-only sequential array folds (bit-identical across engines), "
        "20-bin floor bucketing, integer census + order-independent "
        "min/max"
    ),
)


# -- IVF-PQ composed search (round 9) --------------------------------------------


def _ivfpq_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the faiss-standard billion-scale ANN layout (Jegou et
    al. 2011, §IV): a COARSE inverted-file quantizer prunes the corpus
    to the probed cells, then PQ asymmetric distance ranks ONLY those
    candidates through 4 code-table lookups — the search touches neither
    raw vectors nor unprobed cells. This composes the repo's two
    hash-verified halves: llm_knn_ivf's deterministic coarse quantizer +
    4-of-16 cosine probe, and llm_pq_adc's codebooks and ADC fold — so
    the full approximate pipeline (cell assignment, probe choice, code
    assignment, distance arithmetic) is oracle-verified end to end.

    Scale shape: the coarse stage REUSES llm_knn_ivf's persisted index
    (same corpus key — one build serves both queries: the build-once /
    query-many contract), and the 4 probed cell ids are a bounded 4-row
    collect that turns into a STATIC partition filter on the
    cell-partitioned vectors layout — the fine stage's scan physically
    reads 4 of 16 directories and the rest of the corpus is never
    opened. The PQ codebooks are k-row models (k-row broadcasts); ADC
    lookups are code-id equi-joins on the candidate subset; top-10 is
    TakeOrderedAndProject. Nothing data-sized crosses the driver.
    """
    import os

    from nyuki_spark.functions.fsutil import fs_exists
    from nyuki_spark.operators.similarity import build_ivf_index

    emb = load_table(spark, sf_dir, "embeddings")
    q = list(
        emb.where(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>").alias("e"))
        .head()["e"]
    )
    # Same index key as llm_knn_ivf (fingerprint included): the coarse
    # quantizer is shared, and staleness invalidates both together.
    index_dir = _ivf_index_dir(spark, sf_dir, emb)
    if not fs_exists(spark, os.path.join(index_dir, "vectors", "_SUCCESS")):
        _publish_index(
            index_dir,
            os.path.join("vectors", "_SUCCESS"),
            lambda d: build_ivf_index(
                emb.where(F.col("vec_id") != 0), d, n_cells=16
            ),
        )
    cents = spark.read.parquet(f"{index_dir}/centroids")
    qarr = F.array(*[F.lit(x) for x in q])

    def fold(arr):
        return F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v)

    dot = fold(F.zip_with(F.col("centroid"), qarr, lambda x, y: x * y))
    cc = fold(
        F.zip_with(F.col("centroid"), F.col("centroid"), lambda x, y: x * y)
    )
    qq = fold(F.zip_with(qarr, qarr, lambda x, y: x * y))
    probe = (
        cents.select("cell", (dot / (F.sqrt(cc) * F.sqrt(qq))).alias("sim"))
        .orderBy(F.desc("sim"), "cell")
        .limit(4)
        .collect()
    )  # bounded 4-row collect -> static partition filter below
    cells = [int(r["cell"]) for r in probe]
    cand = (
        spark.read.parquet(f"{index_dir}/vectors")
        .where(F.col("cell").isin(cells))
        .select("vec_id")
    )
    # r12 plan: the PQ fine stage is the same two-shared-job fit +
    # pure-map ADC as llm_pq_adc (see _pq_adc_fn — bit-identical
    # distance arithmetic), so the ONLY join left is attaching the
    # coarse stage's candidate list (4-of-16 partition-pruned, small by
    # construction -> broadcast) to the mapped distances; the pre-r12
    # form carried 4 kmeans runs plus 5 vec_id equi-joins.
    from nyuki_spark.operators.kmeans import assign_with_centroids

    cents = _pq_fit4(emb)

    def dtab(s: int) -> F.Column:
        pairs = []
        for cid, comps in cents[s]:
            d = 0.0
            for x, y in zip(q[s * 16 : s * 16 + 16], comps):
                d += (x - y) * (x - y)
            pairs.extend([F.lit(cid), F.lit(d)])
        return F.create_map(*pairs)

    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    dcols = [
        dtab(s)[
            assign_with_centroids(F.slice(F.col("e"), s * 16 + 1, 16), cents[s])
        ]
        for s in range(4)
    ]
    adc = dcols[0] + dcols[1] + dcols[2] + dcols[3]
    return (
        e.select("vec_id", adc.alias("adc_dist"))
        .join(F.broadcast(cand), "vec_id")
        .orderBy("adc_dist", "vec_id")
        .limit(10)
    )


register(
    "llm_knn_ivfpq",
    engine_fn=_ivfpq_fn,
    oracle=(
        "WITH "
        + _duck_kmeans_ctes(
            p="cq_", k=16, src="(SELECT * FROM embeddings WHERE vec_id <> 0)"
        )
        + ",\n"
        + ",\n".join(
            _duck_kmeans_ctes(
                p=f"s{s}_",
                e_expr=f"(embedding::DOUBLE[])[{s * 16 + 1}:{s * 16 + 16}]",
                dims=16,
                k=4,
            )
            for s in range(4)
        )
        + ",\n"
        "q AS (SELECT embedding::DOUBLE[] AS e FROM embeddings"
        " WHERE vec_id = 0),\n"
        "cs AS (SELECT cid,\n"
        f"  {_fold('c.c[i] * q.e[i]')}\n"
        f"  / (SQRT({_fold('c.c[i] * c.c[i]')})"
        f" * SQRT({_fold('q.e[i] * q.e[i]')})) AS sim\n"
        "  FROM cq_c1 c CROSS JOIN q),\n"
        "probe AS (SELECT cid FROM cs ORDER BY sim DESC, cid LIMIT 4),\n"
        "cand AS (SELECT vec_id FROM cq_a2"
        " WHERE cid IN (SELECT cid FROM probe)),\n"
        + ",\n".join(_duck_adc_dist(s) for s in range(4))
        + "\n"
        "SELECT a0.vec_id, d0.d + d1.d + d2.d + d3.d AS adc_dist\n"
        "FROM cand JOIN s0_a2 a0 USING (vec_id) JOIN d0 ON a0.cid = d0.cid\n"
        "  JOIN s1_a2 a1 ON a1.vec_id = a0.vec_id"
        " JOIN d1 ON a1.cid = d1.cid\n"
        "  JOIN s2_a2 a2_ ON a2_.vec_id = a0.vec_id"
        " JOIN d2 ON a2_.cid = d2.cid\n"
        "  JOIN s3_a2 a3 ON a3.vec_id = a0.vec_id"
        " JOIN d3 ON a3.cid = d3.cid\n"
        "ORDER BY adc_dist, a0.vec_id LIMIT 10"
    ),
    category="llm-similarity",
    suite="extension",
    doc=(
        "IVF-PQ composed ANN (the faiss billion-scale layout): "
        "deterministic 16-cell coarse quantizer + 4-of-16 cosine probe "
        "prunes candidates, PQ/ADC code-table lookups rank them — the "
        "full approximate pipeline hash-verified end to end"
    ),
)

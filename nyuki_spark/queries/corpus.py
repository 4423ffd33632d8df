"""Corpus-hygiene queries: PII redaction, URL parsing, deterministic
sampling / source mixing (SURVEY.md §2.10 extension surface).

The fixture text is synthetic word salad with no organic PII or URLs, so
each query *constructs* its match content deterministically from doc_id —
with the identical expression on the Spark and DuckDB sides — then applies
the operator. Every row exercises the regex/hash machinery and the hash
compare stays meaningful (an engine that mis-redacts or mis-hashes any
single row fails the gate).

Dialect notes encoded here: DuckDB ``REGEXP_REPLACE`` replaces only the
first match unless the ``'g'`` flag is passed (Spark always replaces all);
DuckDB has no ``regexp_count`` (use ``LEN(REGEXP_EXTRACT_ALL(...))``);
patterns stay inside the Java-regex ∩ RE2 subset so both engines compile
them identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyuki_spark.catalog import load_table
from nyuki_spark.functions.text import PII_RULES, pii_counts, redact_pii
from nyuki_spark.operators.sample import hash_fraction
from nyuki_spark.queries.registry import SWEEP_INTERMEDIATES, register

# -- PII redaction -----------------------------------------------------------

# Suffix injected into every document, in both engines: one email (varies
# by doc_id), one phone, one IPv4 (varies), one SSN-like id (varies).
_PII_SUFFIX_SPARK = lambda: F.concat(  # noqa: E731 — tiny expression factory
    F.lit(" reach: user"),
    F.col("doc_id").cast("string"),
    F.lit("@mail.example.org or 555-867-5309; host 10.42."),
    (F.col("doc_id") % 200).cast("string"),
    F.lit(".7 id 123-45-"),
    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
)
_PII_SUFFIX_DUCK = (
    "' reach: user' || CAST(doc_id AS VARCHAR)"
    " || '@mail.example.org or 555-867-5309; host 10.42.'"
    " || CAST(doc_id % 200 AS VARCHAR) || '.7 id 123-45-'"
    " || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)


def _pii_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pii = docs.withColumn("pii_text", F.concat(F.col("text"), _PII_SUFFIX_SPARK()))
    return (
        pii.select(
            "doc_id",
            redact_pii("pii_text").alias("redacted"),
            *pii_counts("pii_text"),
        )
        .orderBy("doc_id")
    )


def _duck_redact(expr: str) -> str:
    for _tag, pattern, repl in PII_RULES:
        expr = f"REGEXP_REPLACE({expr}, '{pattern}', '{repl}', 'g')"
    return expr


register(
    "llm_pii_redact",
    engine_fn=_pii_fn,
    oracle=(
        "SELECT doc_id, " + _duck_redact("pii_text") + " AS redacted,\n"
        + ",\n".join(
            f"LEN(REGEXP_EXTRACT_ALL(pii_text, '{p}')) AS n_{t}"
            for t, p, _r in PII_RULES
        )
        + "\nFROM (SELECT doc_id, text || " + _PII_SUFFIX_DUCK + " AS pii_text\n"
        "      FROM documents)\n"
        "ORDER BY doc_id"
    ),
    category="llm-text",
    suite="extension",
    doc=(
        "PII redaction (email/SSN/phone/IPv4 -> typed tags) + per-rule "
        "match counts; ordered regexp_replace chain, pure Column, "
        "replicated rule-for-rule in DuckDB"
    ),
)


# -- URL parsing -------------------------------------------------------------

_URL_SPARK = lambda: F.concat(  # noqa: E731
    F.lit("https://cdn"),
    (F.col("doc_id") % 7).cast("string"),
    F.lit(".host"),
    (F.col("doc_id") % 3).cast("string"),
    F.lit(".example.com/p/"),
    F.col("doc_id").cast("string"),
    F.lit("/view?q=w"),
    (F.col("doc_id") % 5).cast("string"),
    F.lit("&lang="),
    F.col("lang"),
)
_URL_DUCK = (
    "'https://cdn' || CAST(doc_id % 7 AS VARCHAR) || '.host'"
    " || CAST(doc_id % 3 AS VARCHAR) || '.example.com/p/'"
    " || CAST(doc_id AS VARCHAR) || '/view?q=w' || CAST(doc_id % 5 AS VARCHAR)"
    " || '&lang=' || lang"
)


def _url_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    url = docs.withColumn("url", _URL_SPARK())
    host = F.parse_url(F.col("url"), F.lit("HOST"))
    return (
        url.select(
            "doc_id",
            host.alias("host"),
            F.parse_url(F.col("url"), F.lit("PATH")).alias("path"),
            F.parse_url(F.col("url"), F.lit("QUERY")).alias("query"),
            # registrable domain = last two host labels
            F.substring_index(host, ".", -2).alias("domain"),
        )
        .orderBy("doc_id")
    )


register(
    "llm_url_extract",
    engine_fn=_url_fn,
    oracle=(
        "SELECT doc_id,\n"
        "  REGEXP_EXTRACT(url, '^[a-z]+://([^/]+)', 1) AS host,\n"
        "  REGEXP_EXTRACT(url, '^[a-z]+://[^/]+([^?]*)', 1) AS path,\n"
        "  REGEXP_EXTRACT(url, '\\?(.*)$', 1) AS query,\n"
        "  REGEXP_EXTRACT(REGEXP_EXTRACT(url, '^[a-z]+://([^/]+)', 1),\n"
        "                 '[^.]+\\.[^.]+$', 0) AS domain\n"
        "FROM (SELECT doc_id, " + _URL_DUCK + " AS url FROM documents)\n"
        "ORDER BY doc_id"
    ),
    category="llm-text",
    suite="extension",
    doc=(
        "URL decomposition (host/path/query/registrable domain) via Spark's "
        "JVM parse_url; oracle re-derives each part with RE2 regexes"
    ),
)


# -- canonical-URL dedup (round 7) --------------------------------------------

# Deterministic messy-URL generator: four wire variants per canonical
# target (doc_id % 97 targets), differing only in noise a crawler sees —
# scheme/host case + www + trailing slash, utm_* tracking params, a
# fragment. Every variant canonicalizes to 'example.com/p/<n>'.
_MESSY_URL_CASE = (
    "CASE CAST(doc_id % 4 AS INT)\n"
    "  WHEN 0 THEN 'https://example.com/p/' || CAST(doc_id % 97 AS STRING)\n"
    "  WHEN 1 THEN 'HTTP://WWW.EXAMPLE.COM/p/'"
    " || CAST(doc_id % 97 AS STRING) || '/'\n"
    "  WHEN 2 THEN 'https://example.com/p/' || CAST(doc_id % 97 AS STRING)"
    " || '?utm_source=x&utm_campaign=y'\n"
    "  ELSE 'https://example.com/p/' || CAST(doc_id % 97 AS STRING)"
    " || '#sec2'\n"
    "END"
)


def _canon_sql(dialect: str) -> str:
    """Canonical-URL dedup in each dialect. Canonicalization: strip
    fragment, lowercase host, drop 'www.', drop the scheme (http==https
    for dedup), strip utm_* params, strip a trailing slash. All regexes
    are single-occurrence (anchored or $-bound), so Spark's replace-all
    REGEXP_REPLACE and DuckDB's replace-first agree by construction."""
    if dialect == "spark":
        split_q = (
            "ARRAY_JOIN(FILTER(SPLIT(REGEXP_EXTRACT(u2, '\\\\?(.*)$', 1),"
            " '&'), p -> p NOT LIKE 'utm_%'), '&')"
        )
    else:
        # COALESCE: DuckDB's ARRAY_TO_STRING([]) is NULL where Spark's
        # ARRAY_JOIN([]) is '' — normalize to '' so both group keys agree.
        split_q = (
            "COALESCE(ARRAY_TO_STRING(LIST_FILTER(STRING_SPLIT("
            "REGEXP_EXTRACT(u2, '\\?(.*)$', 1), '&'),"
            " p -> p NOT LIKE 'utm_%'), '&'), '')"
        )
    return (
        "WITH u AS (SELECT doc_id, " + _MESSY_URL_CASE + " AS url"
        " FROM documents),\n"
        "d AS (SELECT doc_id, REGEXP_REPLACE(url, '#.*$', '') AS u2 FROM u),\n"
        "c AS (SELECT doc_id,\n"
        # '[.]' instead of '\.': Spark SQL unescapes backslashes inside
        # string literals (DuckDB does not), a char class needs neither.
        "  REGEXP_REPLACE(LOWER(REGEXP_EXTRACT(u2,"
        " '^[A-Za-z]+://([^/?#]+)', 1)), '^www[.]', '') AS host,\n"
        "  REGEXP_REPLACE(REGEXP_EXTRACT(u2,"
        " '^[A-Za-z]+://[^/?#]+([^?#]*)', 1), '/$', '') AS path,\n"
        f"  {split_q} AS q2\n"
        "  FROM d)\n"
        "SELECT host || path || (CASE WHEN q2 = '' THEN '' ELSE '?' || q2"
        " END) AS canonical_url,\n"
        "  CAST(COUNT(*) AS BIGINT) AS n_urls,\n"
        "  MIN(doc_id) AS keep_id\n"
        "FROM c GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY canonical_url"
    ).replace("AS STRING", "AS VARCHAR" if dialect == "duckdb" else "AS STRING")


register(
    "llm_url_canonical_dedup",
    engine=_canon_sql("spark"),
    oracle=_canon_sql("duckdb"),
    category="llm-dedup",
    suite="extension",
    doc=(
        "canonical-URL dedup groups: defragment, case-fold host, strip "
        "www/scheme/utm-params/trailing slash, then ONE hash aggregate on "
        "the canonical key (map-side partial) — the crawl-frontier dedup "
        "every web-scale corpus runs before fetch; hash-verified across "
        "dialects incl. the list-filter param strip"
    ),
)


# -- deterministic sampling / source mixing ----------------------------------


def _mix_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n = F.substring(F.col("source"), 4, 10).cast("int") % 4
    rate = (
        F.when(n == 0, 1.0)
        .when(n == 1, 0.5)
        .when(n == 2, 0.25)
        .otherwise(0.125)
    )
    kept = hash_fraction("doc_id") < rate
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count(F.when(kept, 1)).alias("n_kept"),
        )
        .orderBy("source")
    )


# -- incremental dedup (new batch vs reference corpus) -----------------------

# Order-insensitive content fingerprint: md5 of the sorted unique token set.
# Word-salad fixtures collide on it organically (446 distinct / 500 docs at
# sf0.01, 6 batch-vs-reference collisions), so the anti-join and the
# in-batch min-id grouping both do real work.
_FP_SPARK = lambda: F.md5(  # noqa: E731
    F.array_join(F.array_sort(F.array_distinct(F.split(F.col("text"), " "))), " ")
)
_FP_DUCK = (
    "MD5(LIST_AGGREGATE(LIST_SORT(LIST_DISTINCT(STRING_SPLIT(text, ' '))),"
    " 'string_agg', ' '))"
)


def _incr_dedup_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup an incoming batch against an existing reference corpus.

    The production shape for append-only corpus builds: fingerprints of the
    reference corpus are a (large) table, the new batch anti-joins on the
    fingerprint, then dedups within itself keeping the lowest id. Both
    steps shuffle only on the 32-char fingerprint — never on text — and the
    anti-join gets partial-agg'd map-side; at 100 TB neither side is
    broadcastable and this stays a plain hash-partitioned anti-join.
    """
    docs = load_table(spark, sf_dir, "documents").withColumn("fp", _FP_SPARK())
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    ref = docs.filter(F.col("doc_id") % 10 != 0)
    novel = batch.join(ref.select("fp"), "fp", "left_anti")
    return (
        novel.groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "fp")
        .orderBy("doc_id")
    )


register(
    "llm_incremental_dedup",
    engine_fn=_incr_dedup_fn,
    oracle=(
        "WITH fp AS (SELECT doc_id, " + _FP_DUCK + " AS fp FROM documents)\n"
        "SELECT MIN(doc_id) AS doc_id, fp FROM fp b\n"
        "WHERE doc_id % 10 = 0\n"
        "  AND NOT EXISTS (SELECT 1 FROM fp r WHERE r.doc_id % 10 <> 0\n"
        "                  AND r.fp = b.fp)\n"
        "GROUP BY fp ORDER BY doc_id"
    ),
    category="llm-dedup",
    suite="extension",
    doc=(
        "incremental dedup: new batch anti-joins reference corpus on an "
        "order-insensitive token-set fingerprint, then keeps min-id within "
        "itself — the append-only corpus-build shape"
    ),
)


# -- token-budget shard packing ----------------------------------------------

register(
    "llm_shard_pack",
    engine=(
        "WITH tok AS (SELECT doc_id, lang, SIZE(SPLIT(text, ' ')) AS n_tok\n"
        "             FROM documents),\n"
        "cum AS (SELECT lang, doc_id, n_tok,\n"
        "        SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id\n"
        "            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum\n"
        "        FROM tok)\n"
        "SELECT lang, CAST(FLOOR((cum - n_tok) / 1000) AS BIGINT) AS shard,\n"
        "       COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS tok_total\n"
        "FROM cum GROUP BY lang, shard ORDER BY lang, shard"
    ),
    oracle=(
        "WITH tok AS (SELECT doc_id, lang, LEN(STRING_SPLIT(text, ' ')) AS n_tok\n"
        "             FROM documents),\n"
        "cum AS (SELECT lang, doc_id, n_tok,\n"
        "        SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id\n"
        "            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum\n"
        "        FROM tok)\n"
        "SELECT lang, CAST(FLOOR((cum - n_tok) / 1000) AS BIGINT) AS shard,\n"
        "       COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS tok_total\n"
        "FROM cum GROUP BY lang, shard ORDER BY lang, shard"
    ),
    category="llm-sampling",
    suite="extension",
    doc=(
        "greedy token-budget packing: docs chopped into ~1000-token training "
        "shards by start-offset of a per-language running token sum — the "
        "window is partitioned by lang (no global single-partition sort); at "
        "100 TB you'd sub-shard by (lang, hash bucket) first and the same "
        "plan holds per bucket"
    ),
)


# -- global sequence packing (round 9) ----------------------------------------


def _seq_pack_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL concat-and-chop sequence packing — the GPT-pretraining
    shape: all documents are concatenated in doc_id order into one token
    stream and chopped into fixed 512-token context blocks, documents
    crossing block boundaries (no padding, no per-shard reset — contrast
    llm_shard_pack, whose running sum is partitioned by lang). Per doc:
    its token offsets in the stream and the blocks it spans.

    The global inclusive prefix sum is the single-partition-window trap
    at scale; it runs through operators/rank.py:global_running_sum —
    range-bucket on approxQuantile literals, windowed sum per bucket,
    bucket offsets from an n_buckets-row one_group merge broadcast back
    (the win_rank decomposition applied to SUM). Token counts are
    integers, so bucketed addition is exactly the sequential sum and the
    result hash-matches DuckDB's ORDER BY window.
    """
    from nyuki_spark.operators.rank import global_running_sum

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.where(F.col("text").isNotNull()).select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    c = global_running_sum(toks, "doc_id", "n_tokens", out="tok_end")
    return c.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        (F.col("tok_end") - F.col("n_tokens")).cast("long").alias("tok_start"),
        F.floor((F.col("tok_end") - F.col("n_tokens")) / 512)
        .cast("long")
        .alias("block_start"),
        F.floor((F.col("tok_end") - 1) / 512).cast("long").alias("block_end"),
        (
            F.floor((F.col("tok_end") - 1) / 512)
            > F.floor((F.col("tok_end") - F.col("n_tokens")) / 512)
        ).alias("crosses_block"),
    ).orderBy("doc_id")


register(
    "llm_seq_pack",
    engine_fn=_seq_pack_fn,
    oracle=(
        "WITH t AS (SELECT doc_id, LEN(STRING_SPLIT(text, ' ')) AS n\n"
        "           FROM documents WHERE text IS NOT NULL),\n"
        "c AS (SELECT doc_id, n, SUM(n) OVER (ORDER BY doc_id\n"
        "        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ce\n"
        "      FROM t)\n"
        "SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,\n"
        "  CAST(ce - n AS BIGINT) AS tok_start,\n"
        "  CAST(FLOOR((ce - n) / 512) AS BIGINT) AS block_start,\n"
        "  CAST(FLOOR((ce - 1) / 512) AS BIGINT) AS block_end,\n"
        "  FLOOR((ce - 1) / 512) > FLOOR((ce - n) / 512) AS crosses_block\n"
        "FROM c ORDER BY doc_id"
    ),
    category="llm-sampling",
    suite="extension",
    doc=(
        "global concat-and-chop sequence packing into 512-token context "
        "blocks (docs cross boundaries — the GPT-pretraining layout): "
        "exact global prefix sum via two-phase range-bucketed windows, "
        "never a single-partition sort over data rows"
    ),
)


# -- corpus vocabulary stats: top-k bigrams per language ----------------------


def _bigram_topk_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from nyuki_spark.functions.text import word_ngrams

    docs = load_table(spark, sf_dir, "documents")
    grams = word_ngrams(docs, n=2)  # (doc_id, shingle), distinct per doc
    cnt = (
        grams.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "shingle")
        .agg(F.count(F.lit(1)).alias("df_docs"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("df_docs"), "shingle")
    return (
        cnt.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", F.col("shingle").alias("bigram"), "df_docs")
        .orderBy("lang", F.desc("df_docs"), "bigram")
    )


register(
    "llm_bigram_topk",
    engine_fn=_bigram_topk_fn,
    oracle=(
        "WITH shd AS (\n"
        "  SELECT DISTINCT doc_id, arr[i] || ' ' || arr[i+1] AS s\n"
        "  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS arr FROM documents),\n"
        "       UNNEST(RANGE(1, GREATEST(LEN(arr), 1))) AS t(i)\n"
        "), cnt AS (\n"
        "  SELECT d.lang, s.s, COUNT(*) AS df_docs\n"
        "  FROM shd s JOIN documents d USING (doc_id) GROUP BY 1, 2\n"
        "), rk AS (\n"
        "  SELECT lang, s, df_docs,\n"
        "         ROW_NUMBER() OVER (PARTITION BY lang\n"
        "                            ORDER BY df_docs DESC, s) AS rn\n"
        "  FROM cnt)\n"
        "SELECT lang, s AS bigram, df_docs FROM rk WHERE rn <= 5\n"
        "ORDER BY lang, df_docs DESC, bigram"
    ),
    category="llm-text",
    suite="extension",
    doc=(
        "document frequency of word bigrams, top-5 per language: distinct "
        "shingles per doc -> hash agg -> per-lang rank (the post-agg table "
        "is vocab-sized, so the rank window is cheap at any corpus scale)"
    ),
)


register(
    "llm_data_mix",
    engine_fn=_mix_fn,
    oracle=(
        "SELECT source, COUNT(*) AS n_total,\n"
        "  COUNT(CASE WHEN ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT\n"
        "                  / 4294967296.0 < rate THEN 1 END) AS n_kept\n"
        "FROM (SELECT doc_id, source,\n"
        "        CASE CAST(SUBSTR(source, 4, 10) AS INT) % 4\n"
        "          WHEN 0 THEN 1.0 WHEN 1 THEN 0.5 WHEN 2 THEN 0.25\n"
        "          ELSE 0.125 END AS rate\n"
        "      FROM documents)\n"
        "GROUP BY source ORDER BY source"
    ),
    category="llm-sampling",
    suite="extension",
    doc=(
        "weighted source mixing via reproducible hash sampling: keep-rate "
        "per source as a literal CASE, row fate = md5(doc_id) uniform draw "
        "— identical sample in Spark and DuckDB, no RNG, no shuffle"
    ),
)


# -- quality-filter funnel ----------------------------------------------------


def _funnel_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep/drop decision with a first-failing-rule reason per doc, counted
    per (lang, reason) — the shape every corpus-cleaning job reports. One
    pass, pure Column; the CASE chain pushes into the same codegen stage
    as the scan, and the output is reason-cardinality-sized (tiny at any
    corpus scale)."""
    from nyuki_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    t = tokens("text")
    n_tok = F.size(t)
    stop_ratio = F.size(
        F.filter(t, lambda x: x.isin("the", "a", "and", "of", "to"))
    ).cast("double") / n_tok
    reason = (
        F.when(n_tok < 40, "too_short")
        .when(stop_ratio > 0.12, "high_stopword")
        .otherwise("kept")
    )
    return (
        docs.select("lang", reason.alias("reason"))
        .groupBy("lang", "reason")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "reason")
    )


register(
    "llm_quality_funnel",
    engine_fn=_funnel_fn,
    oracle=(
        "SELECT lang,\n"
        "  CASE WHEN n < 40 THEN 'too_short'\n"
        "       WHEN CAST(stop AS DOUBLE) / n > 0.12 THEN 'high_stopword'\n"
        "       ELSE 'kept' END AS reason,\n"
        "  COUNT(*) AS n_docs\n"
        "FROM (SELECT lang, LEN(STRING_SPLIT(text, ' ')) AS n,\n"
        "        LEN(LIST_FILTER(STRING_SPLIT(text, ' '),\n"
        "            x -> x IN ('the','a','and','of','to'))) AS stop\n"
        "      FROM documents)\n"
        "GROUP BY lang, reason ORDER BY lang, reason"
    ),
    category="llm-text",
    suite="extension",
    doc=(
        "corpus-cleaning funnel: first-failing-rule reject reason "
        "(too_short / high_stopword / kept) counted per language"
    ),
)


# -- embedding int8 quantization ---------------------------------------------


def _quantize_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of embeddings: per-vector scale =
    max(|x|), components mapped by FLOOR(x * 127 / scale). FLOOR (not
    round-half) so Spark and DuckDB agree bit-for-bit; both compute the
    intermediate in float64 from the same float32 inputs, so the floor
    argument is identical. Pure higher-order Column functions — at 100 TB
    this is a map-only stage with no shuffle at all."""
    emb = load_table(spark, sf_dir, "embeddings")
    mx = F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(x))).cast(
        "double"
    )
    q = lambda i: F.floor(  # noqa: E731
        F.col("embedding")[i].cast("double") * 127.0 / F.col("mx")
    ).cast("int")
    return (
        emb.withColumn("mx", mx)
        .select(
            "vec_id",
            F.round("mx", 6).alias("scale"),
            q(0).alias("q0"),
            q(1).alias("q1"),
            q(2).alias("q2"),
        )
        .orderBy("vec_id")
        .limit(200)
    )


register(
    "llm_embed_quantize",
    engine_fn=_quantize_fn,
    oracle=(
        "SELECT vec_id, ROUND(mx, 6) AS scale,\n"
        "  CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * 127.0 / mx) AS INT) AS q0,\n"
        "  CAST(FLOOR(CAST(embedding[2] AS DOUBLE) * 127.0 / mx) AS INT) AS q1,\n"
        "  CAST(FLOOR(CAST(embedding[3] AS DOUBLE) * 127.0 / mx) AS INT) AS q2\n"
        "FROM (SELECT vec_id, embedding,\n"
        "        CAST(LIST_MAX(LIST_TRANSFORM(embedding, x -> ABS(x))) AS DOUBLE) AS mx\n"
        "      FROM embeddings)\n"
        "ORDER BY vec_id LIMIT 200"
    ),
    category="llm-embedding",
    suite="extension",
    doc=(
        "symmetric int8 embedding quantization (per-vector max-abs scale, "
        "floor mapping) — shuffle-free map stage, deterministic across "
        "engines via float64 + FLOOR"
    ),
)


# -- deterministic train/val/test split ---------------------------------------

_DRAW_DUCK = (
    "('0x' || SUBSTR(MD5('split' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"
    " / 4294967296.0"
)


def _split_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-range split assignment: the draw is a pure function of
    (salt, doc_id), so membership is stable under reshuffles, re-runs, and
    corpus growth — a doc never migrates between splits when new docs
    arrive (the property random splits lack). Map-only + small agg."""
    docs = load_table(spark, sf_dir, "documents")
    draw = hash_fraction("doc_id", salt="split")
    split = (
        F.when(draw < 0.8, "train").when(draw < 0.9, "val").otherwise("test")
    )
    return (
        docs.select("source", split.alias("split"))
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("source", "split")
    )


register(
    "llm_split_assign",
    engine_fn=_split_fn,
    oracle=(
        "SELECT source,\n"
        "  CASE WHEN d < 0.8 THEN 'train' WHEN d < 0.9 THEN 'val'\n"
        "       ELSE 'test' END AS split,\n"
        "  COUNT(*) AS n_docs\n"
        "FROM (SELECT source, " + _DRAW_DUCK + " AS d FROM documents)\n"
        "GROUP BY source, split ORDER BY source, split"
    ),
    category="llm-sampling",
    suite="extension",
    doc=(
        "deterministic train/val/test split by salted hash ranges — "
        "membership stable under corpus growth, no RNG state"
    ),
)


# -- benchmark decontamination ------------------------------------------------


def _decontam_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Find training docs that leak benchmark content: 5-gram shingle
    overlap between the train split and a benchmark set. The join is on
    the shingle (never all-pairs): candidate pairs are bounded by shared
    shingles exactly like the Jaccard funnel, so at 100 TB this scales
    with the leak rate, not the corpus square. Output = (train, bench)
    pairs with >= 3 shared 5-grams.

    Duplicate-collapsed (r4): on duplicate-heavy corpora the shingle
    join inflates with the SQUARE of the duplication factor (every train
    copy meets every bench copy of the same text). Shingling and the
    overlap join run over UNIQUE texts only; the (train, bench) doc
    pairs are expanded afterwards from the per-text member lists —
    shared-count is a function of the two texts, so every expanded pair
    inherits its rep pair's count exactly. 30x-replicated sf3: 177 s ->
    ~3 s, identical output."""
    from nyuki_spark.functions.text import word_ngrams

    docs = load_table(spark, sf_dir, "documents")
    groups = (
        docs.groupBy("text")
        .agg(
            F.min("doc_id").alias("rep_id"),
            F.sort_array(
                F.collect_list(
                    F.when(F.col("doc_id") % 50 != 0, F.col("doc_id"))
                )
            ).alias("train_members"),
            F.sort_array(
                F.collect_list(
                    F.when(F.col("doc_id") % 50 == 0, F.col("doc_id"))
                )
            ).alias("bench_members"),
        )
        .localCheckpoint(eager=False)
    )
    uniq = groups.select(F.col("rep_id").alias("doc_id"), "text")
    grams = word_ngrams(uniq, n=5)
    rep_shared = (
        grams.withColumnRenamed("doc_id", "rep_a")
        .join(
            grams.withColumnRenamed("doc_id", "rep_b"), "shingle"
        )
        .groupBy("rep_a", "rep_b")
        .agg(F.count(F.lit(1)).alias("shared_5grams"))
        .filter(F.col("shared_5grams") >= 3)
    )
    ga = groups.select(F.col("rep_id").alias("rep_a"), "train_members")
    gb = groups.select(F.col("rep_id").alias("rep_b"), "bench_members")
    return (
        rep_shared.join(ga, "rep_a")
        .join(gb, "rep_b")
        .select(
            F.explode("train_members").alias("train_id"),
            "bench_members",
            "shared_5grams",
        )
        .select(
            "train_id",
            F.explode("bench_members").alias("bench_id"),
            "shared_5grams",
        )
        .orderBy("train_id", "bench_id")
    )


register(
    "llm_decontaminate",
    engine_fn=_decontam_fn,
    oracle=(
        "WITH shd AS (\n"
        "  SELECT DISTINCT doc_id,\n"
        "    arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] || ' ' ||\n"
        "    arr[i+3] || ' ' || arr[i+4] AS s\n"
        "  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS arr FROM documents),\n"
        "       UNNEST(RANGE(1, GREATEST(LEN(arr) - 3, 1))) AS t(i)\n"
        ")\n"
        "SELECT tr.doc_id AS train_id, be.doc_id AS bench_id,\n"
        "       COUNT(*) AS shared_5grams\n"
        "FROM shd tr JOIN shd be ON tr.s = be.s\n"
        "WHERE tr.doc_id % 50 <> 0 AND be.doc_id % 50 = 0\n"
        "GROUP BY 1, 2 HAVING COUNT(*) >= 3\n"
        "ORDER BY train_id, bench_id"
    ),
    category="llm-dedup",
    suite="extension",
    doc=(
        "benchmark decontamination: train-vs-benchmark 5-gram shingle "
        "overlap via shingle equi-join (scales with leak rate, never "
        "all-pairs)"
    ),
)


# -- tokenization to vocabulary ids -------------------------------------------


def _tok_ids_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map each document's first 12 tokens to ids under a corpus-derived
    vocabulary (top-100 tokens by global frequency, ties by token text;
    OOV -> -1) — the id-ification step in front of every trainer. The
    vocab is aggregated distributedly and broadcast into the position
    join (it is vocab-sized, always broadcastable); doc order is restored
    with a sorted collect_list keyed on token position."""
    from pyspark.sql import Window

    from nyuki_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(F.slice(tokens("text"), 1, 12)).alias("pos", "w")
    )
    freq = (
        docs.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # Top-100 FIRST via TakeOrderedAndProject (distributed, no shuffle),
    # THEN rank: the single-partition row_number window only ever sees 100
    # rows, not the full vocabulary (billions of distinct tokens at
    # web-corpus scale).
    from nyuki_spark.operators.rank import one_group

    vw = Window.partitionBy(one_group("w")).orderBy(F.desc("n"), "w")
    vocab = (
        freq.orderBy(F.desc("n"), "w")
        .limit(100)
        .withColumn("tok_id", F.row_number().over(vw) - 1)
        .select("w", "tok_id")
    )
    mapped = tok.join(F.broadcast(vocab), "w", "left").select(
        "doc_id",
        "pos",
        F.coalesce(F.col("tok_id"), F.lit(-1)).alias("tok_id"),
    )
    ids = F.array_sort(F.collect_list(F.struct("pos", "tok_id"))).getField("tok_id")
    return (
        mapped.groupBy("doc_id")
        # String-join the id sequence: array cells are unhashable in the
        # driver's pandas canonicalizer (FIXTURES.md dtype rules).
        .agg(F.array_join(ids.cast("array<string>"), ",").alias("ids"))
        .orderBy("doc_id")
        .limit(100)
    )


register(
    "llm_tokenize_ids",
    engine_fn=_tok_ids_fn,
    oracle=(
        "WITH freq AS (\n"
        "  SELECT u.w, COUNT(*) AS n\n"
        "  FROM documents, UNNEST(STRING_SPLIT(text, ' ')) AS u(w) GROUP BY 1\n"
        "), vocab AS (\n"
        "  SELECT w, ROW_NUMBER() OVER (ORDER BY n DESC, w) - 1 AS tok_id\n"
        "  FROM freq QUALIFY tok_id < 100\n"
        "), pos AS (\n"
        "  SELECT doc_id, i AS pos, arr[i] AS w\n"
        "  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS arr FROM documents),\n"
        "       UNNEST(RANGE(1, LEAST(LEN(arr), 12) + 1)) AS t(i)\n"
        ")\n"
        "SELECT doc_id,\n"
        "       ARRAY_TO_STRING(LIST(COALESCE(v.tok_id, -1) ORDER BY pos), ',') AS ids\n"
        "FROM pos LEFT JOIN vocab v USING (w)\n"
        "GROUP BY doc_id ORDER BY doc_id LIMIT 100"
    ),
    category="llm-text",
    suite="extension",
    doc=(
        "tokenize-to-ids under a top-100 corpus vocabulary (global freq, "
        "deterministic ties, OOV=-1); vocab broadcast, order restored by "
        "position-keyed sorted collect"
    ),
)


# -- document chunking (overlapping token windows) ---------------------------


def _chunk_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk documents into overlapping token windows (len 16, stride 8) —
    the preprocessing in front of embedding/RAG pipelines. The start
    offsets come from ``sequence`` and one ``posexplode``: output size is
    chunks, input is scanned once, no shuffle before the final order."""
    from nyuki_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    t = tokens("text")
    starts = F.sequence(
        F.lit(0), F.greatest(F.size(t) - 1, F.lit(0)), F.lit(8)
    )
    return (
        docs.select(
            "doc_id",
            F.size(t).alias("n_tok"),
            F.col("text"),
            F.posexplode(starts).alias("chunk_idx", "start"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.least(F.lit(16), F.col("n_tok") - F.col("start")).alias("chunk_len"),
            F.element_at(tokens("text"), F.col("start") + 1).alias("head_token"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


register(
    "llm_doc_chunks",
    engine_fn=_chunk_fn,
    oracle=(
        "SELECT doc_id, CAST((s - 1) // 8 AS INT) AS chunk_idx,\n"
        "       LEAST(16, LEN(arr) - s + 1) AS chunk_len,\n"
        "       arr[s] AS head_token\n"
        "FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS arr FROM documents),\n"
        "     UNNEST(RANGE(1, GREATEST(LEN(arr), 1) + 1, 8)) AS t(s)\n"
        "ORDER BY doc_id, chunk_idx"
    ),
    category="llm-text",
    suite="extension",
    doc=(
        "overlapping token-window chunking (16/8) for embedding/RAG "
        "preprocessing — sequence + one posexplode, map-only"
    ),
)


# -- multimodal plumbing, oracle-tier ----------------------------------------
#
# The fixture payload is the utf8-encoded text (attach_fake_payload), which
# is pure ASCII — so byte value == codepoint and DuckDB can re-derive every
# byte with UNICODE(SUBSTR(...)). That turns the mapInPandas batch plumbing
# (Arrow in/out, declared schemas, per-row fan-out) into hash-checked
# surface instead of smoke-only.


def _byte_feat_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyuki_spark.functions.multimodal import attach_fake_payload, byte_features

    docs = attach_fake_payload(
        load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    )
    feats = byte_features(docs, dim=16)
    return (
        feats.select(
            "doc_id", F.posexplode("features").alias("bucket", "freq")
        )
        .select("doc_id", "bucket", F.round("freq", 4).cast("double").alias("freq"))
        .orderBy("doc_id", "bucket")
    )


register(
    "llm_byte_features",
    engine_fn=_byte_feat_fn,
    oracle=(
        "WITH b AS (\n"
        "  SELECT doc_id, UNICODE(SUBSTR(text, i, 1)) % 16 AS bucket\n"
        "  FROM (SELECT doc_id, text FROM documents WHERE doc_id < 20),\n"
        "       UNNEST(RANGE(1, LENGTH(text) + 1)) AS t(i)\n"
        "), n AS (SELECT doc_id, LENGTH(text) AS len FROM documents WHERE doc_id < 20),\n"
        "g AS (SELECT n.doc_id, n.len, r.bucket FROM n\n"
        "      CROSS JOIN (SELECT UNNEST(RANGE(0, 16)) AS bucket) r),\n"
        "c AS (SELECT doc_id, bucket, COUNT(*) AS cnt FROM b GROUP BY 1, 2)\n"
        "SELECT g.doc_id AS doc_id, g.bucket AS bucket,\n"
        "       CAST(ROUND(CAST(COALESCE(c.cnt, 0) AS DOUBLE) / g.len, 4) AS DOUBLE) AS freq\n"
        "FROM g LEFT JOIN c ON c.doc_id = g.doc_id AND c.bucket = g.bucket\n"
        "ORDER BY g.doc_id, g.bucket"
    ),
    category="llm-multimodal",
    suite="extension",
    doc=(
        "mapInPandas byte-histogram feature extraction (the embedding-"
        "stage shape: binary in, float vector out, Arrow-batched) — "
        "hash-checked byte-for-byte via ASCII codepoints"
    ),
)


def _frame_sample_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyuki_spark.functions.multimodal import attach_fake_payload, sample_frames

    docs = attach_fake_payload(
        load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    )
    frames = sample_frames(docs, n_frames=4)
    return (
        frames.select("doc_id", "frame_no", F.octet_length("frame").alias("frame_len"))
        .orderBy("doc_id", "frame_no")
    )


register(
    "llm_frame_sample",
    engine_fn=_frame_sample_fn,
    oracle=(
        "SELECT doc_id, k.k AS frame_no,\n"
        "       LEAST(s, LENGTH(text) - k.k * s) AS frame_len\n"
        "FROM (SELECT doc_id, text,\n"
        "        GREATEST(LENGTH(text) // 4, 1) AS s\n"
        "      FROM documents WHERE doc_id < 50),\n"
        "     UNNEST(RANGE(0, 4)) AS k(k)\n"
        "WHERE k.k * s < LENGTH(text)\n"
        "ORDER BY doc_id, frame_no"
    ),
    category="llm-multimodal",
    suite="extension",
    doc=(
        "mapInPandas frame sampling (per-input fan-out to 4 frames inside "
        "the worker, no giant-array explode) — frame lengths hash-checked"
    ),
)


# -- repetition stats (Gopher-style quality rules) ----------------------------


def _repetition_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition metrics used by corpus quality filters
    (the "repetitious document" family of rules: a document dominated by
    one word or by repeated bigrams is boilerplate/spam, not prose).

    Scale shape: the word path is explode -> two doc_id-keyed hash aggs
    (partial combine on both; the word-count table is bounded by total
    token count, partitioned by doc_id so no skew beyond document length).
    The bigram path never explodes at all — duplicate fraction only needs
    ``size`` vs ``size(array_distinct)``, both JVM array ops inside one
    projection. No windows, no sorts, no Python.
    """
    docs = load_table(spark, sf_dir, "documents")
    # Materialize the split ONCE. Referencing split(text) inside a
    # per-element lambda (element_at(split(text), i)) re-splits the whole
    # string per element — O(words^2) per document; a named column is
    # split a bounded number of times per row.
    base = docs.select("doc_id", F.split(F.col("text"), " ").alias("ws"))
    ws = F.col("ws")

    # Bigram duplicate fraction: zip the array with its own 1-shift —
    # two O(n) slices + one O(n) zip per row, no index arithmetic.
    bg = F.when(
        F.size(ws) >= 2,
        F.zip_with(
            F.slice(ws, 1, F.size(ws) - 1),
            F.slice(ws, 2, F.size(ws) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    arr_stats = base.select(
        "doc_id",
        F.size(ws).cast("long").alias("n_words"),
        F.when(
            F.size(bg) > 0,
            F.round(
                1.0 - F.size(F.array_distinct(bg)) / F.size(bg), 4
            ),
        )
        .otherwise(F.lit(0.0))
        .cast("double")
        .alias("dup_bigram_frac"),
    )

    # Word-level: distinct vocabulary + share of the single most common
    # word (no argmax word emitted, so FP/tie ambiguity cannot arise).
    words = base.select("doc_id", F.explode(ws).alias("w"))
    wc = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    word_stats = wc.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("distinct_words"),
        F.round(F.max("c") / F.sum("c"), 4)
        .cast("double")
        .alias("top_word_frac"),
    )

    return (
        arr_stats.join(word_stats, "doc_id")
        .select(
            "doc_id",
            "n_words",
            "distinct_words",
            "top_word_frac",
            "dup_bigram_frac",
        )
        .orderBy("doc_id")
    )


register(
    "llm_repetition_stats",
    engine_fn=_repetition_fn,
    oracle=(
        "WITH base AS (\n"
        "  SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents\n"
        "), arrs AS (\n"
        "  SELECT doc_id, LEN(ws) AS n_words,\n"
        "    CASE WHEN LEN(ws) >= 2 THEN\n"
        "      ROUND(1.0 - CAST(LEN(LIST_DISTINCT(LIST_TRANSFORM(\n"
        "          RANGE(1, LEN(ws)), i -> ws[i] || ' ' || ws[i+1])))\n"
        "        AS DOUBLE) / (LEN(ws) - 1), 4)\n"
        "    ELSE 0.0 END AS dup_bigram_frac\n"
        "  FROM base\n"
        "), wc AS (\n"
        "  SELECT doc_id, w, COUNT(*) AS c\n"
        "  FROM (SELECT doc_id, UNNEST(ws) AS w FROM base) GROUP BY 1, 2\n"
        "), wstats AS (\n"
        "  SELECT doc_id, COUNT(*) AS distinct_words,\n"
        "    ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 4) AS top_word_frac\n"
        "  FROM wc GROUP BY doc_id)\n"
        "SELECT a.doc_id, a.n_words, w.distinct_words,\n"
        "  w.top_word_frac, a.dup_bigram_frac\n"
        "FROM arrs a JOIN wstats w USING (doc_id) ORDER BY a.doc_id"
    ),
    category="llm-text",
    suite="extension",
    doc=(
        "Gopher-style repetition metrics per document: vocabulary size, "
        "most-common-word share, duplicate-bigram fraction — the signals "
        "behind 'repetitious document' corpus filters; bigram dedup is a "
        "pure JVM array expression (no explode), word stats are two "
        "doc_id-keyed hash aggs"
    ),
)


# -- BPE tokenizer training steps (round 7) ------------------------------------


def _bpe_merge_ctes(k: int = 3) -> str:
    """The WITH-body CTE chain computing BPE merges m1..mk (each a 1-row
    (l, r, cnt) table) over the corpus vocabulary — shared by the
    training oracle (_bpe_oracle) and the apply oracle, which chains
    the same merges over document tokens."""
    parts = [
        "WITH words AS (SELECT LOWER(t) AS w, COUNT(*) AS f FROM (\n"
        "    SELECT UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents\n"
        "    WHERE text IS NOT NULL) s\n"
        "  WHERE regexp_matches(LOWER(t), '^[a-z]+$') GROUP BY 1),\n"
        "s0 AS (SELECT REGEXP_REPLACE(w, '(.)', '<\\1>', 'g') AS seq, f"
        " FROM words)"
    ]
    for i in range(1, k + 1):
        prev = f"s{i - 1}"
        parts.append(
            f",\np{i} AS (SELECT a[i] AS l, a[i + 1] AS r, SUM(f) AS cnt"
            " FROM (\n"
            "    SELECT STRING_SPLIT(SUBSTRING(seq, 2, LENGTH(seq) - 2),"
            f" '><') AS a, f FROM {prev}) t,\n"
            "    UNNEST(GENERATE_SERIES(1, LEN(a) - 1)) AS u(i)\n"
            "  GROUP BY 1, 2),\n"
            f"m{i} AS (SELECT l, r, cnt FROM p{i}"
            " ORDER BY cnt DESC, l, r LIMIT 1)"
        )
        if i < k:
            parts.append(
                f",\ns{i} AS (SELECT REPLACE(seq,"
                f" '<' || m{i}.l || '><' || m{i}.r || '>',"
                f" '<' || m{i}.l || m{i}.r || '>') AS seq, f"
                f" FROM {prev} CROSS JOIN m{i})"
            )
    return "".join(parts)


def _bpe_oracle(k: int = 3) -> str:
    """DuckDB twin of the first ``k`` BPE merges, fully unrolled. Symbol
    sequences are '<sym>' wrapped-token strings, so the merge is a plain
    (non-regex) REPLACE of '<a><b>' with '<ab>' — substring-safe (symbols
    are alphabetic, never contain '<'/'>') and left-to-right
    non-overlapping in both engines, which IS the BPE merge rule."""
    sel = "\nUNION ALL ".join(
        f"SELECT {i} AS step, l AS sym_a, r AS sym_b,"
        f" CAST(cnt AS BIGINT) AS pair_freq FROM m{i}"
        for i in range(1, k + 1)
    )
    return _bpe_merge_ctes(k) + "\n" + sel + " ORDER BY step"


def _bpe_fn(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """First ``k`` merges of byte-pair-encoding tokenizer training
    (Sennrich et al., ACL 2016) over the corpus's alphabetic words — the
    vocabulary induction step every LLM data pipeline runs before
    tokenizing.

    Scale shape per merge: ONE (pair) hash aggregate over the exploded
    adjacent-symbol pairs, weighted by word frequency (map-side partial —
    pair count is bounded by vocab x word length, never corpus size),
    a 1-row argmax collect (cnt DESC, pair asc tiebreak), then a map-only
    REPLACE over the vocab table. Sequences are '<sym>' wrapped so the
    plain REPLACE is boundary-safe and left-to-right non-overlapping —
    exactly the BPE merge rule, and exactly what the DuckDB twin's
    REPLACE does, so every (pair, frequency) decision is hash-verified.
    The vocab table (not the corpus) is the working set: at 100 TB the
    word-frequency aggregate is the only corpus-sized pass.

    ``k`` is configurable (r7 next-round #6): cost is one vocab-sized
    aggregate + one 1-row argmax collect per merge, linear in k (probe
    table at k=16/sf0.1 in BASELINE.md r8). The chained REPLACE lineage
    over the pinned vocab is re-pinned every 6 steps so neither the plan
    tree nor the codegen expression depth grows with k.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("t"))
        .select(F.lower("t").alias("w"))
        .where(F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    seq = words.select(
        F.regexp_replace("w", "(.)", "<$1>").alias("seq"), "f"
    ).localCheckpoint()
    merges = []
    for step in range(1, k + 1):
        syms = seq.select(
            F.split(F.expr("substring(seq, 2, length(seq) - 2)"), "><").alias("a"),
            "f",
        ).where(F.size("a") >= 2)
        pairs = syms.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(a) - 1),"
                    " i -> struct(element_at(a, i) AS l,"
                    " element_at(a, i + 1) AS r))"
                )
            ).alias("p"),
            "f",
        )
        top = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("f").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "l", "r")
            .limit(1)
            .collect()[0]
        )
        merges.append((step, top["l"], top["r"], int(top["cnt"])))
        seq = seq.select(
            F.expr(
                f"replace(seq, '<{top['l']}><{top['r']}>',"
                f" '<{top['l']}{top['r']}>')"
            ).alias("seq"),
            "f",
        )
        if step % 6 == 0 and step < k:
            seq = seq.localCheckpoint(eager=False)
    return spark.createDataFrame(
        merges, "step int, sym_a string, sym_b string, pair_freq bigint"
    ).orderBy("step")


register(
    "llm_tokenizer_bpe",
    engine_fn=_bpe_fn,
    oracle=_bpe_oracle(3),
    category="llm-text",
    suite="extension",
    doc=(
        "BPE tokenizer training, first 3 merges (pair-frequency argmax + "
        "boundary-safe vocab REPLACE per step): vocab-sized working set, "
        "one corpus pass total; every merge decision hash-verified vs an "
        "unrolled DuckDB twin"
    ),
)


def _bpe8_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=8 BPE training (r7 next-round #6): same funnel as
    llm_tokenizer_bpe, proving the merge loop generalizes — later merges
    pick pairs involving PREVIOUSLY-MERGED symbols, so each step's
    decision depends on every earlier REPLACE being boundary-safe on
    both engines. The twin is the programmatically-unrolled 8-level CTE
    (_bpe_oracle(8))."""
    return _bpe_fn(spark, sf_dir, k=8)


register(
    "llm_tokenizer_bpe8",
    engine_fn=_bpe8_fn,
    oracle=_bpe_oracle(8),
    category="llm-text",
    suite="extension",
    doc=(
        "BPE tokenizer training at k=8 merges: generalized merge loop "
        "(one vocab-sized pair aggregate + 1-row argmax per step, "
        "lineage re-pinned every 6 steps), hash-verified against the "
        "programmatically-unrolled 8-step DuckDB CTE"
    ),
)


def _bpe_apply_oracle(k: int = 8) -> str:
    """Apply twin: train m1..mk over the vocabulary (same unrolled chain
    as the training oracle), then chain the same k REPLACEs over
    per-document wrapped tokens and census the resulting token table."""
    parts = [
        _bpe_merge_ctes(k),
        ",\nd0 AS (SELECT doc_id,"
        " REGEXP_REPLACE(LOWER(t), '(.)', '<\\1>', 'g') AS seq FROM (\n"
        "    SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS t"
        " FROM documents WHERE text IS NOT NULL) s\n"
        "  WHERE regexp_matches(LOWER(t), '^[a-z]+$'))",
    ]
    for i in range(1, k + 1):
        parts.append(
            f",\nd{i} AS (SELECT doc_id, REPLACE(seq,"
            f" '<' || m{i}.l || '><' || m{i}.r || '>',"
            f" '<' || m{i}.l || m{i}.r || '>') AS seq"
            f" FROM d{i - 1} CROSS JOIN m{i})"
        )
    parts.append(
        f",\ntok AS (SELECT doc_id, UNNEST(STRING_SPLIT(\n"
        f"    SUBSTRING(seq, 2, LENGTH(seq) - 2), '><')) AS token"
        f" FROM d{k})\n"
        "SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,\n"
        "  CAST(COUNT(*) AS BIGINT) AS freq\n"
        "FROM tok GROUP BY token ORDER BY token"
    )
    return "".join(parts)


def _bpe_apply_fn(spark: SparkSession, sf_dir: str, k: int = 8) -> DataFrame:
    """ENCODE the corpus with a trained BPE merge list — the other half
    of the tokenizer pipeline (r8 verdict #7): training runs rarely, but
    every ingestion batch is encoded with the frozen merges. Output is
    the corpus token census under the k-merge vocabulary: (token,
    n_docs, freq).

    Scale shape: the k merges collect to the driver (k rows — the same
    bounded hop the trainer's argmax already takes; on a cluster the
    list broadcasts as literals) and the encode itself is MAP-ONLY —
    wrap each word's characters, run k chained boundary-safe REPLACEs
    (whole-stage codegen, no shuffle, no UDF), split back to tokens.
    Applying merges in training order to '<sym>'-wrapped text is exactly
    the BPE apply rule: each REPLACE is left-to-right non-overlapping,
    and later merges see earlier merges' symbols. The only shuffle is
    the final token-census aggregate (map-side partial). The census runs
    per (doc_id, occurrence); at 100 TB the encode pass itself writes
    token arrays per document and this census is its audit query.
    """
    merges = [
        (r["sym_a"], r["sym_b"])
        for r in _bpe_fn(spark, sf_dir, k=k).collect()
    ]
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.where(F.col("text").isNotNull())
        .select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .select("doc_id", F.lower("t").alias("w"))
        .where(F.col("w").rlike("^[a-z]+$"))
    )
    seq = F.regexp_replace("w", "(.)", "<$1>")
    for l, r in merges:
        seq = F.replace(seq, F.lit(f"<{l}><{r}>"), F.lit(f"<{l}{r}>"))
    wrapped = toks.select("doc_id", seq.alias("seq"))
    tokens = wrapped.select(
        "doc_id",
        F.explode(
            F.split(F.expr("substring(seq, 2, length(seq) - 2)"), "><")
        ).alias("token"),
    )
    return (
        tokens.groupBy("token")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("freq"),
        )
        .orderBy("token")
    )


register(
    "llm_tokenizer_bpe_apply",
    engine_fn=_bpe_apply_fn,
    oracle=_bpe_apply_oracle(8),
    category="llm-text",
    suite="extension",
    doc=(
        "BPE ENCODE with the trained k=8 merge list: merges collect to "
        "the driver (k rows) and inline as literals, then the corpus is "
        "tokenized map-only — wrap chars, 8 chained boundary-safe "
        "REPLACEs in codegen, split — with one census aggregate; "
        "hash-verified against the unrolled train+apply DuckDB twin"
    ),
)


def _bpe_pairs_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Step-1 pair-count plan for the registry sweep (the query's own
    returned frame is a 3-row driver literal, which would hide the
    corpus-sized aggregation from the plan walk)."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("t"))
        .select(F.lower("t").alias("w"))
        .where(F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    syms = words.select(
        F.split(F.regexp_replace("w", "(.)", "$1 "), " ").alias("a"), "f"
    ).where(F.size("a") >= 2)
    pairs = syms.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(a) - 1),"
                " i -> struct(element_at(a, i) AS l,"
                " element_at(a, i + 1) AS r))"
            )
        ).alias("p"),
        "f",
    )
    return pairs.groupBy("p.l", "p.r").agg(F.sum("f").alias("cnt"))


SWEEP_INTERMEDIATES["llm_tokenizer_bpe"] = _bpe_pairs_stage
SWEEP_INTERMEDIATES["llm_tokenizer_bpe8"] = _bpe_pairs_stage


# -- frozen-weights quality classifier (round 8) --------------------------------


def _quality_lr_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering with a FROZEN logistic-regression
    scorer — the production shape of fastText/LR quality classifiers in
    LLM data pipelines (train offline, score the corpus at ingest with
    fixed weights). Features are pure JVM array expressions per doc (no
    explode, no UDF): token count, mean token length, distinct-token
    ratio, stopword fraction. score = sigmoid(w . x + b) with the
    weights inlined as literals (on a cluster a learned weight vector
    broadcasts the same way); keep = rounded score >= 0.5. One map-only
    pass — the plan is scan -> project, nothing shuffles, which is the
    whole point of frozen-weight scoring at 100 TB. sigmoid's exp() can
    differ by an ulp across engines; the 4-dp pin is 10^12 above that.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    mean_len = (F.length("text") - (n - F.lit(1))) / n
    distinct_ratio = F.size(F.array_distinct(toks)) / n
    stop_frac = (
        F.size(
            F.filter(
                toks,
                lambda t: t.isin("the", "a", "and", "of", "to", "in", "is"),
            )
        )
        / n
    )
    t = (
        F.lit(0.02) * n
        + F.lit(0.8) * mean_len
        + F.lit(3.0) * distinct_ratio
        + F.lit(-6.0) * stop_frac
        + F.lit(-4.0)
    )
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-t)), 4)
    return (
        docs.where(F.col("text").isNotNull())
        .select(
            "doc_id",
            n.alias("n_tokens"),
            score.cast("double").alias("score"),
            (score >= 0.5).alias("keep"),
        )
        .orderBy("doc_id")
    )


register(
    "llm_quality_lr",
    engine_fn=_quality_lr_fn,
    oracle=(
        "WITH f AS (\n"
        "  SELECT doc_id,\n"
        "    LEN(STRING_SPLIT(text, ' ')) AS n,\n"
        "    (LENGTH(text) - (LEN(STRING_SPLIT(text, ' ')) - 1))\n"
        "      / CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE) AS mean_len,\n"
        "    LEN(LIST_DISTINCT(STRING_SPLIT(text, ' ')))\n"
        "      / CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE) AS dr,\n"
        "    LEN(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t IN\n"
        "      ('the', 'a', 'and', 'of', 'to', 'in', 'is')))\n"
        "      / CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE) AS sf\n"
        "  FROM documents WHERE text IS NOT NULL),\n"
        "s AS (SELECT doc_id, CAST(n AS INTEGER) AS n_tokens,\n"
        "  ROUND(1.0 / (1.0 + EXP(-(0.02 * n + 0.8 * mean_len\n"
        "    + 3.0 * dr - 6.0 * sf - 4.0))), 4) AS score\n"
        "  FROM f)\n"
        "SELECT doc_id, n_tokens, CAST(score AS DOUBLE) AS score,\n"
        "  score >= 0.5 AS keep\n"
        "FROM s ORDER BY doc_id"
    ),
    category="llm-text",
    suite="extension",
    doc=(
        "frozen-weights logistic quality classifier (token count, mean "
        "token length, distinct ratio, stopword fraction -> sigmoid "
        "score, keep at 0.5): map-only scan->project scoring pass, the "
        "production shape of LR/fastText corpus filters"
    ),
)


# -- Kneser-Ney smoothed bigram LM (round 8) -------------------------------------


def _kneser_ney_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney smoothed bigram probabilities (Kneser & Ney, ICASSP
    1995; the Chen-Goodman interpolated form with fixed discount
    d = 0.75) for the corpus's 30 most frequent word bigrams — the
    classic n-gram LM estimate behind perplexity-based quality filters
    (llm_perplexity_proxy uses a char-bigram MLE; this is the word-level
    smoothed upgrade, where continuation counts answer "how many
    CONTEXTS has this word followed?" instead of raw frequency).

    P_KN(w2|w1) = max(c(w1,w2) - d, 0)/c(w1)
                  + d * N1+(w1,*)/c(w1) * N1+(*,w2)/N1+(**).

    Every term is a ratio of exact integer counts (bigram counts, distinct
    continuation counts), so both engines compute identical doubles
    before the 6-dp pin. Scale shape: one explode of adjacent word pairs
    (linear in corpus tokens) feeding four map-side-combinable
    aggregates keyed by bigram/word — vocabulary-sized model tables, the
    same posture as llm_perplexity_proxy.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.where(F.col("text").isNotNull())
        .select(F.split(F.lower("text"), " ").alias("a"))
        .where(F.size("a") >= 2)
    )
    big = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(a) - 1),"
                " i -> struct(element_at(a, i) AS w1,"
                " element_at(a, i + 1) AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    c12 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = c12.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1p_fwd")
    )
    cont = c12.groupBy("w2").agg(F.count(F.lit(1)).alias("n1p_pre"))
    ntypes = c12.agg(F.count(F.lit(1)).alias("n_types"))
    d = F.lit(0.75)
    p_kn = (
        F.greatest(F.col("c12") - d, F.lit(0.0)) / F.col("c1")
        + d
        * F.col("n1p_fwd")
        / F.col("c1")
        * (F.col("n1p_pre") / F.col("n_types"))
    )
    return (
        c12.join(c1, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(ntypes))
        .select(
            "w1",
            "w2",
            F.col("c12").cast("long").alias("c12"),
            F.round(p_kn, 6).cast("double").alias("p_kn"),
        )
        .orderBy(F.col("c12").desc(), "w1", "w2")
        .limit(30)
    )


register(
    "llm_ngram_kneser_ney",
    engine_fn=_kneser_ney_fn,
    oracle=(
        "WITH big AS (\n"
        "  SELECT arr[i] AS w1, arr[i + 1] AS w2\n"
        "  FROM (SELECT STRING_SPLIT(LOWER(text), ' ') AS arr\n"
        "        FROM documents WHERE text IS NOT NULL) s,\n"
        "       UNNEST(GENERATE_SERIES(1, LEN(arr) - 1)) AS t(i)\n"
        "  WHERE LEN(arr) >= 2),\n"
        "c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY 1, 2),\n"
        "c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,\n"
        "         COUNT(*) AS n1p_fwd FROM c12 GROUP BY 1),\n"
        "cont AS (SELECT w2, COUNT(*) AS n1p_pre FROM c12 GROUP BY 1),\n"
        "nt AS (SELECT COUNT(*) AS n_types FROM c12)\n"
        "SELECT c12.w1, c12.w2, CAST(c12.c12 AS BIGINT) AS c12,\n"
        "  CAST(ROUND(GREATEST(c12.c12 - 0.75, 0.0) / c1.c1\n"
        "    + 0.75 * c1.n1p_fwd / c1.c1 * (cont.n1p_pre / nt.n_types),"
        " 6) AS DOUBLE) AS p_kn\n"
        "FROM c12 JOIN c1 USING (w1) JOIN cont USING (w2) CROSS JOIN nt\n"
        "ORDER BY c12 DESC, w1, w2 LIMIT 30"
    ),
    category="llm-text",
    suite="extension",
    doc=(
        "Kneser-Ney smoothed bigram LM (d=0.75, interpolated form) for "
        "the top-30 bigrams: exact-integer count/continuation-count "
        "ratios, vocabulary-sized model tables from one bigram explode"
    ),
)


# -- chunk-level dedup (round 8; id prefixed llm_dup_ to stay out of the
# frozen driver window — llm_chunk_* would sort before llm_cosine_pairs) ---------------------------------------------------


def _chunk_dedup_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document repeated-content detection: each doc is cut into
    non-overlapping 20-token chunks, chunks are fingerprinted (md5),
    and chunks appearing in MORE THAN ONE distinct document surface with
    their spread — the CCNet/RefinedWeb-style paragraph-dedup primitive
    that catches boilerplate shared across otherwise-distinct pages
    (doc-level exact dedup misses it, shingle Jaccard pays a far wider
    join for it). Scale shape: one bounded explode (tokens/20 chunks per
    doc) + one hash-keyed count aggregate — map-side combinable, the
    same posture as llm_exact_dedup but at chunk granularity. Output is
    exact integers ordered by (docs desc, hash).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.where(F.col("text").isNotNull())
        .select("doc_id", F.split(F.col("text"), " ").alias("a"))
        .where(F.size("a") >= 20)
    )
    # sequence(1, n) with n = floor(size/20) >= 1 (the size >= 20 filter
    # guarantees it): Spark's sequence(start, stop) turns DESCENDING when
    # stop < start — a 0-chunk formula like sequence(0, -1) silently
    # yields [0, -1] and reads garbage slices (r8 review catch).
    chunks = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, CAST(floor(size(a) / 20) AS INT)),"
                " i -> array_join(slice(a, (i - 1) * 20 + 1, 20), ' '))"
            )
        ).alias("chunk"),
    )
    return (
        chunks.select("doc_id", F.md5(F.col("chunk")).alias("h"))
        .groupBy("h")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .where(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), "h")
        .limit(30)
    )


register(
    "llm_dup_chunks",
    engine_fn=_chunk_dedup_fn,
    oracle=(
        "WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS a\n"
        "  FROM documents WHERE text IS NOT NULL AND"
        " LEN(STRING_SPLIT(text, ' ')) >= 20),\n"
        "ch AS (\n"
        "  SELECT doc_id,\n"
        "    MD5(ARRAY_TO_STRING(a[((i - 1) * 20 + 1):((i - 1) * 20 + 20)],"
        " ' ')) AS h\n"
        "  FROM t, UNNEST(GENERATE_SERIES(1,\n"
        "    CAST(FLOOR(LEN(a) / 20) AS INT))) AS u(i))\n"
        "SELECT h, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,\n"
        "  CAST(COUNT(*) AS BIGINT) AS n_occ\n"
        "FROM ch GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2\n"
        "ORDER BY n_docs DESC, h LIMIT 30"
    ),
    category="llm-dedup",
    suite="extension",
    doc=(
        "chunk-level (20-token) repeated-content detection: bounded "
        "chunk explode + md5-keyed count aggregate, chunks spanning >= 2 "
        "distinct docs — the paragraph-dedup primitive"
    ),
)


# -- dataset card (round 8) --------------------------------------------------------


def _dataset_card_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus datasheet — the summary block of a dataset card
    (Gebru et al., "Datasheets for Datasets"): document/null counts,
    token volume, exact-duplicate rate, language spread with Shannon
    entropy, and mean doc length. One scan with conditional aggregates
    plus a distinct-text count and a language rollup; the entropy sum
    runs over the language DOMAIN (a handful of terms), so the 6-dp pin
    is far above fp noise. The numbers a curation run publishes next to
    every snapshot.
    """
    docs = load_table(spark, sf_dir, "documents")
    base = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("text").isNull().cast("long")).alias("n_null_text"),
        F.sum(
            F.when(
                F.col("text").isNotNull(),
                F.size(F.split(F.col("text"), " ")),
            ).otherwise(0)
        ).alias("n_tokens"),
        F.countDistinct("text").alias("n_distinct_texts"),
        F.countDistinct("lang").alias("n_langs"),
    )
    # Entropy needs p = c / total: compute via a two-step aggregate
    # (total joined back) to keep everything a plain aggregate tree.
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("c"))
    tot = counts.agg(F.sum("c").alias("tot"))
    ent = (
        counts.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                -(F.col("c") / F.col("tot"))
                * F.log(F.col("c") / F.col("tot"))
            ).alias("lang_entropy"),
            F.max(F.struct(F.col("c"), F.col("lang"))).alias("top"),
        )
        .select(
            "lang_entropy",
            F.col("top.lang").alias("top_lang"),
            F.col("top.c").alias("top_lang_docs"),
        )
    )
    return base.crossJoin(F.broadcast(ent)).select(
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_null_text").cast("long").alias("n_null_text"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_distinct_texts").cast("long").alias("n_distinct_texts"),
        F.round(
            F.lit(1.0)
            - F.col("n_distinct_texts")
            / (F.col("n_docs") - F.col("n_null_text")),
            4,
        )
        .cast("double")
        .alias("dup_rate"),
        F.col("n_langs").cast("long").alias("n_langs"),
        "top_lang",
        F.col("top_lang_docs").cast("long").alias("top_lang_docs"),
        F.round("lang_entropy", 6).cast("double").alias("lang_entropy"),
        F.round(
            F.col("n_tokens") / (F.col("n_docs") - F.col("n_null_text")), 4
        )
        .cast("double")
        .alias("mean_doc_tokens"),
    )


register(
    "llm_dataset_card",
    engine_fn=_dataset_card_fn,
    oracle=(
        "WITH base AS (\n"
        "  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,\n"
        "    CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END)"
        " AS BIGINT) AS n_null_text,\n"
        "    CAST(SUM(CASE WHEN text IS NOT NULL THEN"
        " LEN(STRING_SPLIT(text, ' ')) ELSE 0 END) AS BIGINT)"
        " AS n_tokens,\n"
        "    CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct_texts,\n"
        "    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs\n"
        "  FROM documents),\n"
        "lc AS (SELECT lang, COUNT(*) AS c FROM documents GROUP BY 1),\n"
        "tot AS (SELECT SUM(c) AS tot FROM lc),\n"
        "ent AS (\n"
        "  SELECT SUM(-(c / tot) * LN(c / tot)) AS lang_entropy,\n"
        "    MAX({'c': c, 'lang': lang}) AS top\n"
        "  FROM lc CROSS JOIN tot)\n"
        "SELECT base.n_docs, base.n_null_text, base.n_tokens,\n"
        "  base.n_distinct_texts,\n"
        "  CAST(ROUND(1.0 - base.n_distinct_texts"
        " / CAST(base.n_docs - base.n_null_text AS DOUBLE), 4)"
        " AS DOUBLE) AS dup_rate,\n"
        "  base.n_langs,\n"
        "  ent.top['lang'] AS top_lang,\n"
        "  CAST(ent.top['c'] AS BIGINT) AS top_lang_docs,\n"
        "  CAST(ROUND(ent.lang_entropy, 6) AS DOUBLE) AS lang_entropy,\n"
        "  CAST(ROUND(base.n_tokens"
        " / CAST(base.n_docs - base.n_null_text AS DOUBLE), 4)"
        " AS DOUBLE) AS mean_doc_tokens\n"
        "FROM base CROSS JOIN ent"
    ),
    category="llm-text",
    suite="extension",
    doc=(
        "one-row dataset card: doc/null/token counts, exact-dup rate, "
        "language spread + Shannon entropy, mean doc length — single "
        "scan of conditional aggregates plus a domain-sized lang rollup"
    ),
)


# -- greedy first-fit bin packing (round 9) -------------------------------------


def _pack_greedy_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE greedy first-fit sequence packing — the no-split sibling of
    llm_seq_pack: within each language, documents in doc_id order fill a
    512-token bin; a document that would overflow CLOSES the bin and
    starts the next (documents never split; one larger than the capacity
    gets a bin alone). This is the packing used when documents must stay
    contiguous (SFT samples, eval prompts), and it is inherently a
    SEQUENTIAL recursion — bin state depends on every earlier document —
    so it cannot be a plain window expression.

    Scale shape: the recursion is confined INSIDE each lang partition via
    ``applyInPandas`` (Arrow-batched; integer-only state, so parity with
    the oracle's recursive CTE is exact) while languages pack in
    parallel. At 100 TB the same plan holds with (lang, shard-hash) as
    the group key — the packer never needs cross-shard state, exactly
    like llm_shard_pack's contract.
    """
    import pandas as pd

    cap = 512

    # Closure, not module-level: cloudpickle ships it by value so the
    # driver's Python workers need no repo import (udf_grouped_map note).
    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("doc_id")
        bins = []
        b, fill = 0, 0
        for n in pdf["n_tokens"]:
            if fill > 0 and fill + n > cap:
                b += 1
                fill = 0
            bins.append(b)
            fill += n
        return pd.DataFrame(
            {
                "lang": pdf["lang"],
                "doc_id": pdf["doc_id"],
                "n_tokens": pdf["n_tokens"],
                "bin": bins,
            }
        )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.where(F.col("text").isNotNull()).select(
        "lang",
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    return (
        toks.groupBy("lang")
        .applyInPandas(
            pack, schema="lang string, doc_id long, n_tokens long, bin long"
        )
        .orderBy("lang", "doc_id")
    )


register(
    "llm_pack_greedy",
    engine_fn=_pack_greedy_fn,
    oracle=(
        "WITH RECURSIVE t AS (\n"
        "  SELECT lang, doc_id, LEN(STRING_SPLIT(text, ' ')) AS n,\n"
        "    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn\n"
        "  FROM documents WHERE text IS NOT NULL),\n"
        "s AS (\n"
        "  SELECT lang, rn, doc_id, n, CAST(0 AS BIGINT) AS bin,\n"
        "    CAST(n AS BIGINT) AS fill\n"
        "  FROM t WHERE rn = 1\n"
        "  UNION ALL\n"
        "  SELECT t.lang, t.rn, t.doc_id, t.n,\n"
        "    CASE WHEN s.fill > 0 AND s.fill + t.n > 512\n"
        "      THEN s.bin + 1 ELSE s.bin END,\n"
        "    CASE WHEN s.fill > 0 AND s.fill + t.n > 512\n"
        "      THEN CAST(t.n AS BIGINT) ELSE s.fill + t.n END\n"
        "  FROM s JOIN t ON t.lang = s.lang AND t.rn = s.rn + 1)\n"
        "SELECT lang, doc_id, CAST(n AS BIGINT) AS n_tokens, bin\n"
        "FROM s ORDER BY lang, doc_id"
    ),
    category="llm-sampling",
    suite="extension",
    doc=(
        "greedy first-fit packing of whole documents into 512-token bins "
        "per language (docs never split — the SFT/eval layout): the "
        "sequential bin recursion runs inside each lang partition via "
        "applyInPandas, languages in parallel; integer state "
        "hash-matches a recursive-CTE DuckDB twin"
    ),
)


# -- classifier evaluation: ROC / AUC (round 9) --------------------------------


def _roc_auc_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC curve + exact tie-aware AUC of the frozen-LR quality scorer
    (llm_quality_lr's exact feature/score text) against the lang='en'
    label — the evaluation half of the classifier story (train offline
    -> score at ingest -> AUDIT against a trusted label before gating
    data on it). The scorer's stopword feature is English-specific, so
    the label is genuinely predictable and the curve non-trivial.

    The 100 TB shape is the production trick for distributed AUC: scores
    are 4-dp QUANTIZED, so the per-score census has <= 10,001 rows no
    matter the corpus size — one shuffle aggregate — and every rank
    statistic folds over that bounded census, never the data.
    AUC = sum_s n_pos(s) * (2*cum_neg_below(s) + n_neg(s)) / (2*P*N)
    (concordant pairs + half of score-ties) in exact BIGINT arithmetic;
    the one_group window merging cum_neg runs over the census only
    (allowlisted). ROC points at the 9 decile thresholds come from a
    per-census-row explode (pure JVM, no join) + re-aggregate; the final
    1-row totals broadcast is the explicit-broadcast scalar shape.
    """
    from nyuki_spark.operators.rank import one_group

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    mean_len = (F.length("text") - (n - F.lit(1))) / n
    dr = F.size(F.array_distinct(toks)) / n
    sfrac = (
        F.size(
            F.filter(
                toks,
                lambda t: t.isin("the", "a", "and", "of", "to", "in", "is"),
            )
        )
        / n
    )
    t = (
        F.lit(0.02) * n
        + F.lit(0.8) * mean_len
        + F.lit(3.0) * dr
        + F.lit(-6.0) * sfrac
        + F.lit(-4.0)
    )
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-t)), 4)
    scored = docs.select(
        score.cast("double").alias("score"),
        (F.col("lang") == F.lit("en")).cast("long").alias("y"),
    )
    census = scored.groupBy("score").agg(
        F.count(F.lit(1)).alias("nt"), F.sum("y").alias("np")
    )
    census = census.withColumn("nn", F.col("nt") - F.col("np"))
    from pyspark.sql import Window

    w = (
        Window.partitionBy(one_group("score"))
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = census.withColumn(
        "cum_neg", F.coalesce(F.sum("nn").over(w), F.lit(0))
    )
    tot = cum.agg(
        F.sum(
            F.col("np") * (F.lit(2) * F.col("cum_neg") + F.col("nn"))
        ).alias("numer2"),
        F.sum("np").alias("n_pos"),
        F.sum("nn").alias("n_neg"),
    )
    thr = (
        census.select(
            F.explode(
                F.array(*[F.lit(i / 10.0) for i in range(1, 10)])
            ).alias("threshold"),
            "score",
            "np",
            "nn",
        )
        .groupBy("threshold")
        .agg(
            F.sum(
                F.when(F.col("score") >= F.col("threshold"), F.col("np"))
                .otherwise(F.lit(0))
            ).alias("tp"),
            F.sum(
                F.when(F.col("score") >= F.col("threshold"), F.col("nn"))
                .otherwise(F.lit(0))
            ).alias("fp"),
        )
    )
    pr = F.col("tp") + F.col("fp")
    return (
        thr.crossJoin(F.broadcast(tot))
        .select(
            F.col("threshold").cast("double").alias("threshold"),
            F.col("tp").cast("long").alias("tp"),
            F.col("fp").cast("long").alias("fp"),
            (F.col("n_pos") - F.col("tp")).cast("long").alias("fn"),
            (F.col("n_neg") - F.col("fp")).cast("long").alias("tn"),
            F.round(F.col("tp") / F.col("n_pos").cast("double"), 6)
            .cast("double")
            .alias("tpr"),
            F.round(F.col("fp") / F.col("n_neg").cast("double"), 6)
            .cast("double")
            .alias("fpr"),
            F.when(
                pr > 0, F.round(F.col("tp") / pr.cast("double"), 6)
            )
            .cast("double")
            .alias("precision"),
            F.round(
                F.col("numer2")
                / (
                    F.lit(2.0)
                    * F.col("n_pos").cast("double")
                    * F.col("n_neg").cast("double")
                ),
                6,
            )
            .cast("double")
            .alias("auc"),
        )
        .orderBy("threshold")
    )


register(
    "llm_roc_auc",
    engine_fn=_roc_auc_fn,
    oracle=(
        "WITH f AS (\n"
        "  SELECT lang,\n"
        "    LEN(STRING_SPLIT(text, ' ')) AS n,\n"
        "    (LENGTH(text) - (LEN(STRING_SPLIT(text, ' ')) - 1))\n"
        "      / CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE) AS mean_len,\n"
        "    LEN(LIST_DISTINCT(STRING_SPLIT(text, ' ')))\n"
        "      / CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE) AS dr,\n"
        "    LEN(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t IN\n"
        "      ('the', 'a', 'and', 'of', 'to', 'in', 'is')))\n"
        "      / CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE) AS sf\n"
        "  FROM documents WHERE text IS NOT NULL),\n"
        "s AS (SELECT\n"
        "    ROUND(1.0 / (1.0 + EXP(-(0.02 * n + 0.8 * mean_len\n"
        "      + 3.0 * dr - 6.0 * sf - 4.0))), 4) AS score,\n"
        "    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y\n"
        "  FROM f),\n"
        "c AS (SELECT score, COUNT(*) AS nt, SUM(y) AS np\n"
        "  FROM s GROUP BY 1),\n"
        "c2 AS (SELECT score, np, nt - np AS nn,\n"
        "    COALESCE(SUM(nt - np) OVER (ORDER BY score\n"
        "      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)\n"
        "      AS cum_neg\n"
        "  FROM c),\n"
        "tot AS (SELECT SUM(np * (2 * cum_neg + nn)) AS numer2,\n"
        "    SUM(np) AS n_pos, SUM(nn) AS n_neg FROM c2),\n"
        "thr AS (SELECT t.threshold,\n"
        "    SUM(CASE WHEN score >= t.threshold THEN np ELSE 0 END) AS tp,\n"
        "    SUM(CASE WHEN score >= t.threshold THEN nn ELSE 0 END) AS fp\n"
        "  FROM c2 CROSS JOIN (SELECT CAST(i AS DOUBLE) / 10.0 AS threshold\n"
        "    FROM range(1, 10) r(i)) t GROUP BY 1)\n"
        "SELECT CAST(threshold AS DOUBLE) AS threshold,\n"
        "  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,\n"
        "  CAST(n_pos - tp AS BIGINT) AS fn,\n"
        "  CAST(n_neg - fp AS BIGINT) AS tn,\n"
        "  CAST(ROUND(tp / CAST(n_pos AS DOUBLE), 6) AS DOUBLE) AS tpr,\n"
        "  CAST(ROUND(fp / CAST(n_neg AS DOUBLE), 6) AS DOUBLE) AS fpr,\n"
        "  CASE WHEN tp + fp > 0 THEN\n"
        "    CAST(ROUND(tp / CAST(tp + fp AS DOUBLE), 6) AS DOUBLE)\n"
        "  END AS precision,\n"
        "  CAST(ROUND(numer2 / (2.0 * n_pos * n_neg), 6) AS DOUBLE) AS auc\n"
        "FROM thr CROSS JOIN tot ORDER BY threshold"
    ),
    category="llm-text",
    suite="extension",
    doc=(
        "ROC deciles + exact tie-aware AUC of the frozen-LR quality "
        "scorer vs the lang='en' label: 4-dp score quantization bounds "
        "the census at 10,001 rows, every rank statistic folds over the "
        "census (never data rows), AUC in exact BIGINT pair arithmetic"
    ),
)


# -- tokenizer design: vocabulary coverage curve (round 9) ----------------------


def _vocab_coverage_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve — for every distinct word frequency f:
    how many types occur exactly f times, the VOCAB SIZE if the cut is
    "keep every type with frequency >= f" (cum_types), and the fraction
    of all corpus tokens that vocab covers (coverage). This is the table
    a tokenizer/vocab designer reads to pick the smallest vocab hitting a
    coverage target (the BPE-vs-word-vocab sizing question), and the
    integral view of llm_zipf_fit's rank-frequency fit.

    The scale shape: one token-census shuffle (word -> f), then a
    SECOND aggregate onto the frequency census (f -> n_types), whose
    size is bounded by the count-of-counts law at O(sqrt(total tokens))
    — at 100 TB a few million rows, at fixture SF a few hundred. Both
    cumulative columns are exact integer prefix sums over that census
    via operators/rank.py:global_running_sum (the win_rank two-phase
    decomposition — never a single-partition sort over an unbounded
    table; at fixture SF its cost-based 1-bucket branch runs the plain
    one_group window, allowlisted). Coverage divides exact BIGINTs,
    pinned at 6 dp on both engines.
    """
    from nyuki_spark.operators.rank import global_running_sum

    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.where(F.col("text").isNotNull())
        .select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    fc = (
        words.groupBy("f")
        .agg(F.count(F.lit(1)).alias("n_types"))
        .withColumn("neg_f", -F.col("f"))
        .withColumn("tok", F.col("f") * F.col("n_types"))
    )
    c = global_running_sum(fc, "neg_f", "n_types", out="cum_types")
    c = global_running_sum(c, "neg_f", "tok", out="cum_tokens")
    tot = c.agg(F.sum("tok").alias("total_tokens"))
    return (
        c.crossJoin(F.broadcast(tot))
        .select(
            F.col("f").cast("long").alias("f"),
            F.col("n_types").cast("long").alias("n_types"),
            F.col("cum_types").cast("long").alias("cum_types"),
            F.col("cum_tokens").cast("long").alias("cum_tokens"),
            F.round(
                F.col("cum_tokens") / F.col("total_tokens").cast("double"), 6
            )
            .cast("double")
            .alias("coverage"),
        )
        .orderBy(F.desc("f"))
    )


register(
    "llm_vocab_coverage",
    engine_fn=_vocab_coverage_fn,
    oracle=(
        "WITH w AS (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS w\n"
        "           FROM documents WHERE text IS NOT NULL),\n"
        "tf AS (SELECT w, COUNT(*) AS f FROM w GROUP BY 1),\n"
        "fc AS (SELECT f, COUNT(*) AS n_types FROM tf GROUP BY 1),\n"
        "c AS (SELECT f, n_types,\n"
        "    SUM(n_types) OVER (ORDER BY f DESC\n"
        "      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)\n"
        "      AS cum_types,\n"
        "    SUM(f * n_types) OVER (ORDER BY f DESC\n"
        "      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)\n"
        "      AS cum_tokens,\n"
        "    SUM(f * n_types) OVER () AS total_tokens\n"
        "  FROM fc)\n"
        "SELECT CAST(f AS BIGINT) AS f,\n"
        "  CAST(n_types AS BIGINT) AS n_types,\n"
        "  CAST(cum_types AS BIGINT) AS cum_types,\n"
        "  CAST(cum_tokens AS BIGINT) AS cum_tokens,\n"
        "  CAST(ROUND(cum_tokens / CAST(total_tokens AS DOUBLE), 6)\n"
        "    AS DOUBLE) AS coverage\n"
        "FROM c ORDER BY f DESC"
    ),
    category="llm-text",
    suite="extension",
    doc=(
        "vocabulary coverage curve over the frequency-of-frequencies "
        "census (O(sqrt(tokens)) rows by the count-of-counts law): "
        "exact integer prefix sums via the two-phase global running "
        "sum, coverage fraction from bit-identical BIGINT operands"
    ),
)


# -- search-index build: posting lists (round 9) --------------------------------


def _inverted_index_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index (posting-list) construction for the 50 highest-df
    tokens: token -> exact document frequency + the first 10 doc_ids
    ascending as the posting prefix — the search/retrieval index-build
    job (and the BM25 preprocessing stage) as a batch operator.

    Scale shape: per-doc dedup happens INSIDE the row (array_distinct,
    no global distinct shuffle), the df census is one partial-agg
    shuffle, top-50 is a TakeOrdered (never a global sort), and the
    posting prefix gates on the 50-row broadcast BEFORE the per-token
    window — so the row_number sort only ever runs over the 50 selected
    tokens' postings. The sort itself is spill-backed (sort-based
    window); collect_list materializes at most 10 ids per token after
    the rn filter. Deterministic end-to-end: ties in df break on the
    token, postings are sorted numerically before the string join.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("w"),
    )
    dfc = pairs.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    top = dfc.orderBy(F.desc("df"), "w").limit(50)
    win = Window.partitionBy("w").orderBy("doc_id")
    post = (
        pairs.join(F.broadcast(top), "w")
        .withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") <= 10)
    )
    return (
        post.groupBy("w", "df")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
            ).alias("postings")
        )
        .select(
            F.col("w").alias("token"),
            F.col("df").cast("long").alias("df"),
            "postings",
        )
        .orderBy(F.desc("df"), "token")
    )


register(
    "llm_inverted_index",
    engine_fn=_inverted_index_fn,
    oracle=(
        "WITH p AS (SELECT DISTINCT doc_id, w FROM (\n"
        "    SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w\n"
        "    FROM documents WHERE text IS NOT NULL)),\n"
        "d AS (SELECT w, COUNT(*) AS df FROM p GROUP BY 1),\n"
        "top AS (SELECT w, df FROM d ORDER BY df DESC, w LIMIT 50),\n"
        "r AS (SELECT p.w, top.df, p.doc_id,\n"
        "    ROW_NUMBER() OVER (PARTITION BY p.w ORDER BY p.doc_id) AS rn\n"
        "  FROM p JOIN top USING (w))\n"
        "SELECT w AS token, CAST(df AS BIGINT) AS df,\n"
        "  STRING_AGG(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)\n"
        "    AS postings\n"
        "FROM r WHERE rn <= 10 GROUP BY w, df ORDER BY df DESC, token"
    ),
    category="llm-text",
    suite="extension",
    doc=(
        "posting-list build for the top-50-df tokens: in-row dedup, one "
        "census shuffle, TakeOrdered top-k, then a broadcast-gated "
        "per-token window emitting the first-10 posting prefix"
    ),
)


# -- SFT chat-template rendering (round 9) ---------------------------------------


def _chat_template_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT chat-template rendering — the prep stage that turns raw
    documents into instruction-tuning examples: split each doc into a
    prompt half and a response half, render
    ``<|user|>prompt<|assistant|>response<|end|>``, and emit the three
    numbers a trainer needs per example: prompt length, total length
    WITH special tokens, and the LOSS-MASK BOUNDARY (the 1-indexed
    token where labels start — everything before it is masked out of
    the loss), plus a context-window fit flag at 512.

    The rendered string itself is verified by MD5 fingerprint (not
    shipped — the established rendering-equality trick), so a single
    byte of template drift between engines hash-fails. Map-only
    scan->project; at 100 TB this is the same zero-shuffle shape as
    llm_quality_lr scoring.
    """
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    np_ = F.ceil(n / F.lit(2.0)).cast("int")
    prompt = F.array_join(F.slice(toks, F.lit(1), np_), " ")
    resp = F.array_join(
        F.slice(toks, np_ + F.lit(1), (n - np_)), " "
    )
    rendered = F.concat(
        F.lit("<|user|>"),
        prompt,
        F.lit("<|assistant|>"),
        resp,
        F.lit("<|end|>"),
    )
    total = n + F.lit(3)
    return docs.select(
        "doc_id",
        np_.alias("n_prompt_tokens"),
        total.cast("int").alias("n_total_tokens"),
        (np_ + F.lit(2)).cast("int").alias("loss_start"),
        (total <= 512).alias("fits_context"),
        F.md5(rendered).alias("render_md5"),
    ).orderBy("doc_id")


register(
    "llm_sft_chat_template",
    engine_fn=_chat_template_fn,
    oracle=(
        "WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS l,\n"
        "    LEN(STRING_SPLIT(text, ' ')) AS n\n"
        "  FROM documents WHERE text IS NOT NULL),\n"
        "s AS (SELECT doc_id, n,\n"
        "    CAST(CEIL(n / 2.0) AS INT) AS np,\n"
        "    ARRAY_TO_STRING(l[1:CAST(CEIL(n / 2.0) AS INT)], ' ')\n"
        "      AS prompt,\n"
        "    ARRAY_TO_STRING(l[CAST(CEIL(n / 2.0) AS INT) + 1:n], ' ')\n"
        "      AS resp\n"
        "  FROM t)\n"
        "SELECT doc_id, np AS n_prompt_tokens,\n"
        "  CAST(n + 3 AS INT) AS n_total_tokens,\n"
        "  CAST(np + 2 AS INT) AS loss_start,\n"
        "  n + 3 <= 512 AS fits_context,\n"
        "  MD5('<|user|>' || prompt || '<|assistant|>' || resp\n"
        "    || '<|end|>') AS render_md5\n"
        "FROM s ORDER BY doc_id"
    ),
    category="llm-text",
    suite="extension",
    doc=(
        "SFT chat-template rendering: prompt/response split, special-"
        "token framing, loss-mask boundary + context-fit flag, rendered "
        "bytes verified by MD5 fingerprint — zero-shuffle map pass"
    ),
)


# -- per-source document cap (round 10) -------------------------------------------

_DOMAIN_CAP_SQL = (
    # Corpus balancing: cap documents per source at K=3, keeping the
    # longest (n_chars DESC, doc_id tiebreak) — the anti-domination
    # pass every web-scale training mix runs so one crawl domain cannot
    # swamp the mixture. ROW_NUMBER over a REAL partition key (source),
    # so the window parallelizes across sources at any scale; the
    # output is the per-source census (total/kept/dropped chars), not
    # the kept rows — the number the mix report consumes.
    "WITH r AS (SELECT source, n_chars,\n"
    "    ROW_NUMBER() OVER (PARTITION BY source\n"
    "      ORDER BY n_chars DESC, doc_id) AS rn\n"
    "  FROM documents),\n"
    "k AS (SELECT source,\n"
    "    COUNT(*) AS n_total,\n"
    "    SUM(CASE WHEN rn <= 3 THEN 1 ELSE 0 END) AS n_kept,\n"
    "    SUM(CASE WHEN rn <= 3 THEN n_chars ELSE 0 END) AS kept_chars,\n"
    "    SUM(CASE WHEN rn > 3 THEN n_chars ELSE 0 END) AS dropped_chars\n"
    "  FROM r GROUP BY source)\n"
    "SELECT source, CAST(n_total AS BIGINT) AS n_total,\n"
    "  CAST(n_kept AS BIGINT) AS n_kept,\n"
    "  CAST(kept_chars AS BIGINT) AS kept_chars,\n"
    "  CAST(dropped_chars AS BIGINT) AS dropped_chars\n"
    "FROM k ORDER BY source"
)

register(
    "llm_domain_cap",
    engine=_DOMAIN_CAP_SQL,
    oracle=_DOMAIN_CAP_SQL,
    category="llm-text",
    suite="extension",
    doc=(
        "per-source document cap (keep top-3 by length): ROW_NUMBER "
        "over the real source partition + conditional census — the "
        "anti-domination balancing pass of a training mix"
    ),
)


# -- ROUGE-1 overlap eval (round 10) ------------------------------------------------


def _rouge1_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1 (unigram overlap P/R/F1) between each document and the
    NEXT document of the same source (LEAD pairing over doc_id order) —
    the eval-metric primitive for summarization/generation scoring,
    exercised here as a within-source similarity census. Clipped
    overlap = sum_w min(c_cand(w), c_ref(w)) per the ROUGE definition.

    Plan: token counts via explode + (pair, word) aggregate; the
    overlap join is an equi-join on (pair_id, word); per-pair P/R/F1
    are exact rationals in float64; the final per-source AVG is the
    only cross-pair reduction. No pair is wider than its two documents
    — linear in corpus size, shuffle keyed by (pair, word)."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("source").orderBy("doc_id")
    pairs = (
        docs.select(
            "source",
            F.col("doc_id").alias("cand_id"),
            F.lead("doc_id").over(w).alias("ref_id"),
        )
        .where(F.col("ref_id").isNotNull())
    )

    toks = docs.select(
        F.col("doc_id"),
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("word"),
    ).groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("c"))

    cand = toks.select(
        F.col("doc_id").alias("cand_id"),
        "word",
        F.col("c").alias("c_cand"),
    )
    ref = toks.select(
        F.col("doc_id").alias("ref_id"), "word", F.col("c").alias("c_ref")
    )
    ov = (
        pairs.join(cand, "cand_id")
        .join(ref, ["ref_id", "word"])
        .groupBy("source", "cand_id", "ref_id")
        .agg(F.sum(F.least("c_cand", "c_ref")).alias("overlap"))
    )
    lens = toks.groupBy("doc_id").agg(F.sum("c").alias("n_tok"))
    scored = (
        pairs.join(ov, ["source", "cand_id", "ref_id"], "left")
        .na.fill({"overlap": 0})
        .join(lens.select(F.col("doc_id").alias("cand_id"),
                          F.col("n_tok").alias("n_cand")), "cand_id")
        .join(lens.select(F.col("doc_id").alias("ref_id"),
                          F.col("n_tok").alias("n_ref")), "ref_id")
        .select(
            "source",
            (F.col("overlap") / F.col("n_cand")).alias("p"),
            (F.col("overlap") / F.col("n_ref")).alias("r"),
            F.when(
                F.col("overlap") > 0,
                2.0 * (F.col("overlap") / F.col("n_cand"))
                * (F.col("overlap") / F.col("n_ref"))
                / (F.col("overlap") / F.col("n_cand")
                   + F.col("overlap") / F.col("n_ref")),
            ).otherwise(F.lit(0.0)).alias("f1"),
        )
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("p"), 6).cast("double").alias("rouge1_p"),
            F.round(F.avg("r"), 6).cast("double").alias("rouge1_r"),
            F.round(F.avg("f1"), 6).cast("double").alias("rouge1_f1"),
        )
        .orderBy("source")
    )


register(
    "llm_rouge1_eval",
    engine_fn=_rouge1_fn,
    oracle=(
        "WITH docs AS (SELECT doc_id, source, text FROM documents\n"
        "  WHERE text IS NOT NULL),\n"
        "pairs AS (SELECT source, doc_id AS cand_id,\n"
        "    LEAD(doc_id) OVER (PARTITION BY source ORDER BY doc_id)\n"
        "      AS ref_id\n"
        "  FROM docs QUALIFY ref_id IS NOT NULL),\n"
        "toks AS (SELECT doc_id, w AS word, COUNT(*) AS c\n"
        "  FROM docs, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS t(w)\n"
        "  GROUP BY doc_id, w),\n"
        "lens AS (SELECT doc_id, SUM(c) AS n_tok FROM toks GROUP BY 1),\n"
        "ov AS (SELECT p.source, p.cand_id, p.ref_id,\n"
        "    SUM(LEAST(a.c, b.c)) AS overlap\n"
        "  FROM pairs p\n"
        "  JOIN toks a ON a.doc_id = p.cand_id\n"
        "  JOIN toks b ON b.doc_id = p.ref_id AND b.word = a.word\n"
        "  GROUP BY 1, 2, 3),\n"
        "scored AS (SELECT p.source,\n"
        "    COALESCE(ov.overlap, 0) / lc.n_tok AS pr,\n"
        "    COALESCE(ov.overlap, 0) / lr.n_tok AS rc,\n"
        "    CASE WHEN COALESCE(ov.overlap, 0) > 0 THEN\n"
        "      2.0 * (ov.overlap / lc.n_tok) * (ov.overlap / lr.n_tok)\n"
        "        / (ov.overlap / lc.n_tok + ov.overlap / lr.n_tok)\n"
        "      ELSE 0.0 END AS f1\n"
        "  FROM pairs p\n"
        "  LEFT JOIN ov ON ov.cand_id = p.cand_id AND ov.ref_id = p.ref_id\n"
        "  JOIN lens lc ON lc.doc_id = p.cand_id\n"
        "  JOIN lens lr ON lr.doc_id = p.ref_id)\n"
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_pairs,\n"
        "  CAST(ROUND(AVG(pr), 6) AS DOUBLE) AS rouge1_p,\n"
        "  CAST(ROUND(AVG(rc), 6) AS DOUBLE) AS rouge1_r,\n"
        "  CAST(ROUND(AVG(f1), 6) AS DOUBLE) AS rouge1_f1\n"
        "FROM scored GROUP BY source ORDER BY source"
    ),
    category="llm-text",
    suite="extension",
    doc=(
        "ROUGE-1 P/R/F1 between same-source neighbor documents: clipped "
        "unigram overlap via (pair, word) equi-joins on exploded token "
        "counts, per-source averages — the eval-metric primitive as a "
        "linear-cost census"
    ),
)


# -- LLM watermark detection (round 10) ---------------------------------------------

_WATERMARK_SQL = (
    # Greenlist watermark detector (Kirchenbauer et al. 2023 shape): a
    # generation-time watermark biases sampling toward a pseudorandom
    # "green" half of the vocabulary, so detection is a one-proportion
    # z-test on the green-token fraction. The greenlist here is the
    # md5 top-bit of the token (p = 1/2, deterministic on both
    # engines); z = (2g - n) / sqrt(n) is exact-integer arithmetic into
    # one division. Docs under 20 tokens are skipped (no detection
    # power), per the standard minimum-length guard. Map + one
    # per-doc aggregate — linear, shuffle keyed by doc.
    "WITH t AS (SELECT doc_id, tok FROM {src}),\n"
    "g AS (SELECT doc_id, COUNT(*) AS n,\n"
    "    SUM(CASE WHEN SUBSTRING(MD5(tok), 1, 1) IN\n"
    "      ('0','1','2','3','4','5','6','7') THEN 1 ELSE 0 END) AS ng\n"
    "  FROM t GROUP BY doc_id)\n"
    "SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,\n"
    "  CAST(ng AS BIGINT) AS n_green,\n"
    "  CAST(ROUND((2.0 * ng - n) / SQRT(CAST(n AS DOUBLE)), 6)"
    " AS DOUBLE) AS z,\n"
    "  (2.0 * ng - n) / SQRT(CAST(n AS DOUBLE)) >= 2.0 AS flagged\n"
    "FROM g WHERE n >= 20 ORDER BY doc_id"
)

register(
    "llm_watermark_detect",
    engine=_WATERMARK_SQL.format(
        src="(SELECT doc_id, tok FROM documents\n"
        "    LATERAL VIEW EXPLODE(SPLIT(LOWER(text), ' ')) AS tok\n"
        "    WHERE text IS NOT NULL)"
    ),
    oracle=_WATERMARK_SQL.format(
        src="(SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' '))"
        " AS tok\n"
        "    FROM documents WHERE text IS NOT NULL)"
    ),
    category="llm-text",
    suite="extension",
    doc=(
        "greenlist watermark detection: md5-top-bit green fraction per "
        "doc, one-proportion z-test (exact-integer numerator), >= 2 "
        "sigma flagged — the Kirchenbauer-style detector as one "
        "map + per-doc aggregate"
    ),
)


# -- T5 span corruption (round 10) ---------------------------------------------------

_SPAN_CORRUPT_SQL = (
    # T5-style span corruption (Raffel et al. 2020): deterministic
    # 3-token spans starting at positions p where p % 10 == 7 are
    # replaced by <extra_id_K> sentinels in the INPUT, and collected
    # (sentinel-prefixed) into the TARGET — the (input, target) pair a
    # denoising pretrain consumes. K = p / 10 (span index by
    # construction, since spans start every 10 positions). Both
    # renders are verified by MD5 fingerprint, so sentinel numbering,
    # span boundaries, and token order are all load-bearing. Pure
    # per-row array transforms — zero shuffle until the final ORDER BY.
    "WITH t AS (SELECT doc_id, {toks} AS toks FROM documents\n"
    "  WHERE text IS NOT NULL),\n"
    "r AS (SELECT doc_id, {n} AS n,\n"
    "    {input_render} AS input_txt,\n"
    "    {target_render} AS target_txt\n"
    "  FROM t)\n"
    # FLOOR, not a bare int cast: DuckDB CAST(double -> BIGINT) rounds
    # half-up while Spark truncates — FLOOR is identical in both.
    "SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,\n"
    "  CAST(FLOOR((n + 2) / 10.0) AS BIGINT) AS n_spans,\n"
    "  MD5(input_txt) AS input_md5, MD5(target_txt) AS target_md5\n"
    "FROM r ORDER BY doc_id"
)

register(
    "llm_span_corruption",
    engine=_SPAN_CORRUPT_SQL.format(
        toks="SPLIT(LOWER(text), ' ')",
        n="SIZE(toks)",
        # positions are 0-based in Spark transform's index argument.
        input_render=(
            "ARRAY_JOIN(FILTER(TRANSFORM(toks, (x, i) -> CASE\n"
            "      WHEN i % 10 = 7 THEN CONCAT('<extra_id_',"
            " CAST(i DIV 10 AS STRING), '>')\n"
            "      WHEN i % 10 IN (8, 9) THEN NULL ELSE x END),\n"
            "      x -> x IS NOT NULL), ' ')"
        ),
        target_render=(
            "ARRAY_JOIN(FILTER(TRANSFORM(toks, (x, i) -> CASE\n"
            "      WHEN i % 10 = 7 THEN CONCAT('<extra_id_',"
            " CAST(i DIV 10 AS STRING), '> ', x)\n"
            "      WHEN i % 10 IN (8, 9) THEN x ELSE NULL END),\n"
            "      x -> x IS NOT NULL), ' ')"
        ),
    ),
    oracle=_SPAN_CORRUPT_SQL.format(
        toks="STRING_SPLIT(LOWER(text), ' ')",
        n="LEN(toks)",
        # DuckDB list positions are 1-based: i-1 is the 0-based pos.
        input_render=(
            "ARRAY_TO_STRING(LIST_FILTER(LIST_TRANSFORM(toks,\n"
            "      (x, i) -> CASE\n"
            "      WHEN (i - 1) % 10 = 7 THEN '<extra_id_' ||\n"
            "        CAST((i - 1) // 10 AS VARCHAR) || '>'\n"
            "      WHEN (i - 1) % 10 IN (8, 9) THEN NULL ELSE x END),\n"
            "      x -> x IS NOT NULL), ' ')"
        ),
        target_render=(
            "ARRAY_TO_STRING(LIST_FILTER(LIST_TRANSFORM(toks,\n"
            "      (x, i) -> CASE\n"
            "      WHEN (i - 1) % 10 = 7 THEN '<extra_id_' ||\n"
            "        CAST((i - 1) // 10 AS VARCHAR) || '> ' || x\n"
            "      WHEN (i - 1) % 10 IN (8, 9) THEN x ELSE NULL END),\n"
            "      x -> x IS NOT NULL), ' ')"
        ),
    ),
    category="llm-text",
    suite="extension",
    doc=(
        "T5 span corruption: deterministic 3-token spans -> "
        "<extra_id_K> sentinels, (input, target) renders verified by "
        "MD5 fingerprint — per-row array transforms, zero shuffle"
    ),
)


# -- prefix-fingerprint dedup (round 10) --------------------------------------------

_PREFIX_DEDUP_SQL = (
    # Boilerplate-prefix dedup census: documents sharing their first 10
    # tokens are near-certain template/boilerplate duplicates (the
    # "same header, different tail" class exact-hash dedup misses and
    # shingle dedup pays n-gram cost to find). One md5 over the token
    # prefix, one group census: cluster count, docs in clusters, and
    # the keep-first survivor count — linear, shuffle keyed by the
    # 16-byte fingerprint. Docs under 10 tokens are exempt (their
    # "prefix" is the whole doc — that is exact dedup's job).
    "WITH p AS (SELECT doc_id,\n"
    "    MD5({prefix}) AS fp\n"
    "  FROM documents WHERE text IS NOT NULL AND {n} >= 10),\n"
    "g AS (SELECT fp, COUNT(*) AS n, MIN(doc_id) AS keeper\n"
    "  FROM p GROUP BY fp)\n"
    "SELECT CAST(COUNT(*) AS BIGINT) AS n_prefixes,\n"
    "  CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)"
    " AS n_dup_clusters,\n"
    "  CAST(SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT)"
    " AS docs_in_clusters,\n"
    "  CAST(SUM(n - 1) AS BIGINT) AS n_removable,\n"
    "  CAST(MIN(keeper) AS BIGINT) AS min_keeper\n"
    "FROM g"
)

register(
    "llm_prefix_dedup",
    engine=_PREFIX_DEDUP_SQL.format(
        prefix="ARRAY_JOIN(SLICE(SPLIT(LOWER(text), ' '), 1, 10), ' ')",
        n="SIZE(SPLIT(LOWER(text), ' '))",
    ),
    oracle=_PREFIX_DEDUP_SQL.format(
        prefix="ARRAY_TO_STRING(STRING_SPLIT(LOWER(text), ' ')[1:10], ' ')",
        n="LEN(STRING_SPLIT(LOWER(text), ' '))",
    ),
    category="llm-dedup",
    suite="extension",
    doc=(
        "boilerplate-prefix dedup census: md5 of the first-10-token "
        "prefix, one group census (clusters, members, keep-first "
        "removable count) — the template-duplicate class between exact "
        "and near-dup, linear cost"
    ),
)

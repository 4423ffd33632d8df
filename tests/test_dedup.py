"""Dedup-family tests: exact tiers vs ground truth, approx tiers vs recall.

The oracle harness already bit-checks the deterministic tiers (simhash,
jaccard, fingerprints) against DuckDB; these tests cover what the oracle
can't: recall of the approximate tiers on a corpus with *known* planted
duplicates, and algebraic properties (idempotence, keep-first choice).
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F

from nyuki_spark.catalog import load_table
from nyuki_spark.functions.text import word_ngrams
from nyuki_spark.operators.dedup import (
    containment_pairs,
    exact_dedup_keep_first,
    minhash_neardup_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)


@pytest.fixture(scope="module")
def planted(spark, sf_dir):
    """documents + planted near-dups: for every 10th doc, a copy with the
    first two tokens dropped (high Jaccard overlap, new doc_id)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.where(F.col("doc_id") % 10 == 0)
    offset = 1_000_000
    perturbed = base.select(
        (F.col("doc_id") + offset).alias("doc_id"),
        F.concat_ws(" ", F.slice(F.split("text", " "), 3, 100000)).alias("text"),
    )
    return docs.unionByName(perturbed), offset


def test_exact_dedup_keep_first(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = docs.unionByName(
        docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    )
    kept = exact_dedup_keep_first(doubled)
    # Every surviving row is an original (lowest id wins), one per text.
    assert kept.where(F.col("doc_id") >= 1_000_000).count() == 0
    assert kept.count() == docs.select("text").distinct().count()
    # Idempotent: dedup of the deduped corpus is a no-op.
    assert exact_dedup_keep_first(kept).count() == kept.count()


def test_minhash_recall_on_planted_dups(planted):
    corpus, offset = planted
    truth = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(corpus, threshold=0.5).collect()
    }
    planted_truth = {p for p in truth if p[1] >= offset}
    assert planted_truth, "fixture produced no planted near-dup pairs"
    found = {
        (r.id_a, r.id_b)
        for r in minhash_neardup_pairs(corpus, threshold=0.5).collect()
    }
    recall = len(planted_truth & found) / len(planted_truth)
    assert recall >= 0.9, f"minhash recall {recall:.2f} on planted dups"


def test_jaccard_df_cap_lossless_below_cap(planted):
    """On a corpus whose true pairs each share at least one cold shingle,
    the df-capped tier emits EXACTLY the uncapped result: the cap prunes
    nomination only, verification runs on full shingle sets."""
    corpus, _ = planted
    uncapped = {
        (r.id_a, r.id_b, r.jaccard)
        for r in ngram_jaccard_pairs(corpus, threshold=0.5).collect()
    }
    # Cap sized ABOVE the corpus's true near-dup cluster df (a group of m
    # near-identical docs gives its distinguishing shingles df ~ m, so a
    # cap under m loses real pairs — measured: cap=4 lost 195/256 pairs
    # on raw sf0.1). 50 > max observed df (25 at sf0.1) => lossless.
    capped = {
        (r.id_a, r.id_b, r.jaccard)
        for r in ngram_jaccard_pairs(corpus, threshold=0.5, df_cap=50).collect()
    }
    assert uncapped  # fixture plants real pairs
    assert capped == uncapped


@pytest.mark.slow  # builds a hot-shingle corpus and runs the capped funnel twice (~15 s)
def test_jaccard_df_cap_bounds_hot_shingle(spark):
    """A boilerplate phrase duplicated across k docs with unique tails:
    uncapped must nominate all C(k,2) boilerplate pairs; the capped tier
    nominates none of them (every shared shingle is hot), and both agree
    that none is a true >=0.5 pair."""
    k = 40
    boiler = "aa bb cc dd ee ff gg hh ii jj"
    rows = [
        (i, boiler + " " + " ".join(f"u{i}_{j}" for j in range(12)))
        for i in range(k)
    ]
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])
    # cross-pair jaccard = 8 shared / (20 + 20 - 8) = 0.25 < 0.5
    assert ngram_jaccard_pairs(corpus, threshold=0.5).count() == 0
    assert ngram_jaccard_pairs(corpus, threshold=0.5, df_cap=4).count() == 0
    # At a threshold the boilerplate overlap DOES satisfy, uncapped pays
    # (and emits) the full C(k,2); capped emits nothing — documented
    # recall loss confined to pairs whose entire overlap is viral.
    assert ngram_jaccard_pairs(corpus, threshold=0.2).count() == k * (k - 1) // 2
    assert ngram_jaccard_pairs(corpus, threshold=0.2, df_cap=4).count() == 0


def test_capped_funnel_adaptive_fallthrough(spark):
    """r8 verdict #1: on a skew-free corpus (no shingle df > cap) the
    capped tier falls through to the plain self-join — output identical,
    none of the hot/cold-split machinery in the plan. Detect the
    fall-through structurally: the funnel plan contains a left_anti
    (cold-split) join, the fall-through plan does not."""
    rows = [
        (i, " ".join(f"w{i}_{j}" for j in range(6)) + " shared tail tok")
        for i in range(20)
    ]
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])
    capped = ngram_jaccard_pairs(corpus, threshold=0.1, df_cap=50)
    plain = ngram_jaccard_pairs(corpus, threshold=0.1)
    assert {tuple(r) for r in capped.collect()} == {
        tuple(r) for r in plain.collect()
    }
    assert "LeftAnti" not in capped._jdf.queryExecution().optimizedPlan().toString()
    # Skewed twin: 'shared tail tok' grams exceed cap=4 -> funnel engages.
    funnel = ngram_jaccard_pairs(corpus, threshold=0.1, df_cap=4)
    assert "LeftAnti" in funnel._jdf.queryExecution().optimizedPlan().toString()


def test_capped_funnel_require_lossless_raises_on_hot(spark):
    """r8 advice (medium): a truth-tier caller must never silently cap.
    With hot shingles present, require_lossless raises with guidance;
    without them, it is the plain exact join and succeeds."""
    k = 30
    boiler = "aa bb cc dd ee ff gg hh ii jj"
    rows = [
        (i, boiler + " " + " ".join(f"u{i}_{j}" for j in range(12)))
        for i in range(k)
    ]
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])
    with pytest.raises(ValueError, match="require_lossless"):
        ngram_jaccard_pairs(
            corpus, threshold=0.5, df_cap=4, require_lossless=True
        )
    # Cap above every df -> census empty -> exact fall-through, no raise.
    out = ngram_jaccard_pairs(
        corpus, threshold=0.5, df_cap=100, require_lossless=True
    )
    assert out.count() == 0


def test_jaccard_candidates_path_matches_direct(planted):
    """Passing an explicit candidate list returns exactly the candidates'
    exact scores — the bounded verification join, no shingle self-join."""
    corpus, _ = planted
    direct = ngram_jaccard_pairs(corpus, threshold=0.5)
    cand = direct.select("id_a", "id_b")
    via = ngram_jaccard_pairs(corpus, threshold=0.5, candidates=cand)
    assert {tuple(r) for r in via.collect()} == {
        tuple(r) for r in direct.collect()
    }


def test_simhash_banding_finds_planted_dups(planted):
    corpus, offset = planted
    # Dropping 2 tokens flips few simhash bits; banded search at a wider
    # radius must surface a planted pair without any brute-force scan.
    pairs = simhash_pairs(corpus, max_hamming=14, bands=15)
    planted_found = pairs.where(
        (F.col("id_b") - F.col("id_a")) == 1_000_000
    ).count()
    assert planted_found > 0


# Word 3-shingles: docs 1/2 share 3 of 5 each (Jaccard 3/7 = 0.428571...,
# containment 3/5); docs 3/4 share 2 of 3 and 4 (Jaccard 2/5, containment
# 2/3 = 0.666666...).
_BOUNDARY_DOCS = [
    (1, "a b c d e f g"),
    (2, "c d e f g h i"),
    (3, "p q r s t"),
    (4, "p q r s x y"),
]
# The Jaccard length filter's boundary: doc 5's 4 shingles lie inside doc
# 6's 8 (Jaccard = min/max = 0.5 exactly) and doc 7's 3 inside doc 8's 7
# (Jaccard = min/max = 3/7); containment is 1.0 for both pairs.
_LENGTH_DOCS = [
    (5, "a1 a2 a3 a4 a5 a6"),
    (6, "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10"),
    (7, "b1 b2 b3 b4 b5"),
    (8, "b1 b2 b3 b4 b5 b6 b7 b8 b9"),
]
_RATIOS = {
    ngram_jaccard_pairs: {(1, 2): (3, 7), (3, 4): (2, 5), (5, 6): (4, 8), (7, 8): (3, 7)},
    containment_pairs: {(1, 2): (3, 5), (3, 4): (2, 3), (5, 6): (4, 4), (7, 8): (3, 3)},
}


@pytest.mark.parametrize(
    "docs, op, threshold, kept",
    [
        # 3/7 rounds HALF_UP to 0.4286 = t although it is below t.
        pytest.param(
            _BOUNDARY_DOCS, ngram_jaccard_pairs, 0.4286, [(1, 2)],
            id="ngram_jaccard_pairs-0.4286-kept0",
        ),
        # 3/7 is 8.6e-6 below t - 0.00005, inside the 1e-4 prefilter band:
        # the exact round decides, and drops it.
        pytest.param(
            _BOUNDARY_DOCS, ngram_jaccard_pairs, 0.42863, [],
            id="ngram_jaccard_pairs-0.42863-kept1",
        ),
        # 2/3 rounds up to 0.6667 = t.
        pytest.param(
            _BOUNDARY_DOCS, containment_pairs, 0.6667, [(3, 4)],
            id="containment_pairs-0.6667-kept2",
        ),
        # 2/3 is 3.3e-6 below t - 0.00005.
        pytest.param(
            _BOUNDARY_DOCS, containment_pairs, 0.66672, [],
            id="containment_pairs-0.66672-kept3",
        ),
        # Size ratio 4/8 = J = t exactly: the length filter keeps it.
        pytest.param(
            _LENGTH_DOCS, ngram_jaccard_pairs, 0.5, [(5, 6)],
            id="ngram_jaccard_pairs-length-ratio-equals-t",
        ),
        # Size ratio 3/7 is 2.1e-5 above t - 0.00005, and J = 3/7 rounds
        # up to t: the length filter must keep it.
        pytest.param(
            _LENGTH_DOCS, ngram_jaccard_pairs, 0.4286, [(5, 6), (7, 8)],
            id="ngram_jaccard_pairs-length-ratio-inside-slack",
        ),
        # Size ratio 3/7 is 8.6e-6 below t - 0.00005: dropped.
        pytest.param(
            _LENGTH_DOCS, ngram_jaccard_pairs, 0.42863, [(5, 6)],
            id="ngram_jaccard_pairs-length-ratio-below-slack",
        ),
        # Size ratio 0.5 is 1e-5 below t - 0.00005: dropped.
        pytest.param(
            _LENGTH_DOCS, ngram_jaccard_pairs, 0.50006, [],
            id="ngram_jaccard_pairs-length-ratio-just-below",
        ),
        # Containment has no length bound: size ratios of 0.5 and 3/7 far
        # below t still give containment 1.0.
        pytest.param(
            _LENGTH_DOCS, containment_pairs, 0.8, [(5, 6), (7, 8)],
            id="containment_pairs-no-length-filter",
        ),
    ],
)
def test_pair_verdict_prefilter_keeps_the_round4_boundary(
    spark, docs, op, threshold, kept
):
    ids = {doc_id for doc_id, _ in docs}
    frame = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted((r.id_a, r.id_b) for r in op(frame, threshold=threshold).collect())
    expected = sorted(
        pair
        for pair, (num, den) in _RATIOS[op].items()
        if set(pair) <= ids
        and (Decimal(num) / Decimal(den)).quantize(Decimal("0.0001"), ROUND_HALF_UP)
        >= Decimal(str(threshold))
    )
    assert got == expected == kept


# Rows for the word_ngrams reference check: doubled, leading and trailing
# spaces (empty tokens), multibyte UTF-8, NULL text, fewer tokens than n,
# an empty text, shingles repeated inside one document, and doc 7 on two
# rows whose shingle sets overlap.
_NGRAM_ROWS = [
    (1, "the cat sat on the mat and the cat sat on the mat again"),
    (2, "  leading  doubled   and trailing  "),
    (3, "naïve café — 日本語 テキスト ✓ ✓ ✓ naïve café — 日本語"),
    (4, None),
    (5, "two words"),
    (6, ""),
    (7, "a b c d e f g"),
    (7, "c d e f g h i"),
    (8, "x x x x x x x x x"),
    (9, "one"),
]


def _ngram_reference(rows, n, with_size):
    """Distinct n-gram shingles per input row, written with str.split."""
    out = []
    for doc_id, text in rows:
        if text is None:
            continue
        toks = text.split(" ")
        grams = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
        out += [(doc_id, g, len(grams)) if with_size else (doc_id, g) for g in grams]
    return sorted(out)


@pytest.mark.parametrize("with_size", [False, True], ids=["rows", "with_size"])
@pytest.mark.parametrize("n", [2, 3, 5])
def test_word_ngrams_matches_python_reference(spark, n, with_size):
    # One partition: both doc-7 rows reach the same Arrow batch, where a
    # per-id grouping would merge them.
    df = spark.createDataFrame(_NGRAM_ROWS, "doc_id long, text string").coalesce(1)
    out = word_ngrams(df, n=n, with_size=with_size)
    expected_cols = ["doc_id", "shingle"] + (["ns"] if with_size else [])
    assert out.columns == expected_cols
    if with_size:
        assert out.schema["ns"].dataType.simpleString() == "bigint"
    got = sorted(tuple(r) for r in out.collect())
    assert got == _ngram_reference(_NGRAM_ROWS, n, with_size)
    # Doc 7's two rows share shingles: each row keeps its own copy.
    doc7 = [r for r in got if r[0] == 7]
    assert len(doc7) > len({r[1] for r in doc7})

"""Export formatted physical plans of headline queries to PLANS.md.

Plan evidence the sweep test asserts programmatically, in human-readable
form: for each headline query, the `explain("formatted")` output at
sf0.01 plus the scale property the plan demonstrates. Regenerate with
`python scripts/export_plans.py` after plan-shape changes.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nyuki_spark.queries import REGISTRY  # noqa: E402
from nyuki_spark.session import get_session  # noqa: E402

# qid -> the scale property the reader should see in the plan
HEADLINES = {
    "tpch_q01": (
        "one wide aggregate over the biggest fact: partial_ aggregates "
        "before the exchange (map-side combine), one shuffle on the "
        "2-value group key, WholeStageCodegen end to end"
    ),
    "tpch_q09": (
        "six-table profit join: dimension sides broadcast, the two-key "
        "fact-to-partsupp join shuffles on the composite key, no "
        "cartesian anywhere"
    ),
    "join_asof_emulated": (
        "as-of join as a running window: union + per-key sort replaces "
        "the quadratic correlated probe; one exchange on the join key, "
        "zero joins in the final plan"
    ),
    "join_interval_overlap": (
        "equi-key + range residual: hash join on the equality column, "
        "range predicate evaluated post-match — never a nested loop"
    ),
    "agg_grouping_sets": (
        "grouping sets via Expand: one scan feeds all grouping "
        "combinations, partial+final agg around a single shuffle"
    ),
    "win_rank": (
        "global rank without a global sort: size-adaptive — windowed "
        "plan under one bucket, two-phase range-bucketed rank above"
    ),
    "topk_global": (
        "global top-k as TakeOrderedAndProject: per-partition heaps, "
        "no full sort, no single-partition exchange of data rows"
    ),
    "llm_knn_cosine": (
        "brute-force kNN: Arrow-batched BLAS matvec per partition + "
        "TakeOrderedAndProject — linear scan, embarrassingly parallel"
    ),
    "stat_bootstrap_ci": (
        "Poisson bootstrap: 32 replicates in ONE map pass (explode + "
        "per-row weights) feeding a 32-key partial aggregate — no "
        "per-replicate shuffle, the resampling method that distributes"
    ),
    "stat_kmv_distinct": (
        "mergeable KMV distinct sketch: type-partitioned k-th minimum "
        "(WindowGroupLimit prune), partial top-k's union to the global "
        "sketch — COUNT(DISTINCT) without the Expand shuffle"
    ),
    "llm_shingle_novelty": (
        "first-seen aggregate + join back: novelty against ALL earlier "
        "docs with zero pair joins — cost tracks the shingle table"
    ),
    "llm_decontaminate": (
        "shingle equi-join over duplicate-collapsed unique texts; "
        "member-list expansion after the >=3 filter — candidate volume "
        "scales with the leak rate, not the corpus square"
    ),
    "lookup_range_grid": (
        "range lookup as grid-cell equi-join: interval side exploded to "
        "<=2 cells and broadcast; the points side never re-partitions"
    ),
    "mv_incremental_agg": (
        "incremental view maintenance: two partial-state aggregates "
        "merged by a final union-aggregate — the base table is never "
        "rescanned at update time in the production form"
    ),
    "cdc_upsert_merge": (
        "copy-on-write merge: anti-join on the key + union — both "
        "shuffle on the merge key, no row-at-a-time upserts"
    ),
    "llm_gram_covariance": (
        "treeAggregate shape: mapInPandas BLAS partial Gram per Arrow "
        "batch, one O(d^2)-key exchange independent of row count"
    ),
    "llm_winnowing": (
        "winnowing selector with zero higher-order functions: character "
        "explode in the codegen scan stage, polynomial hash as window "
        "LEADs, ROWS-frame minima — one doc-partitioned sort serves both "
        "window passes"
    ),
    "llm_rank_bm25": (
        "BM25: token explode collapses to per-doc conditional-sum stats; "
        "1-row corpus model broadcast; top-k is TakeOrderedAndProject"
    ),
    "llm_ngram_jaccard_capped": (
        "df-capped pair funnel: cold-shingle self-join counts shared "
        "directly (C(cap,2) fanout bound), the lossless s_cold+min(hot) "
        "upper bound pre-filters, and the exact hot-intersection join "
        "runs on survivors only — no nominated-pair re-verification; "
        "each shingle row carries its document's shingle count, so no "
        "size aggregate or size join appears"
    ),
    "scan_zorder_curve": (
        "Morton interleave as 16 static shift/mask terms in one "
        "WholeStageCodegen projection + TakeOrdered — the clustering key "
        "is free at scan time"
    ),
    "llm_tokenizer_bpe": (
        "BPE pair-count stage: explode of adjacent symbols over the "
        "VOCAB table (not the corpus) into one partial-agg hash "
        "aggregate; the merge is a map-only REPLACE"
    ),
    "sample_weighted_aes": (
        "weighted sample without replacement: 32 static pow-mod hash "
        "terms in one codegen projection, then TakeOrderedAndProject — "
        "map-only before the k-row reduce"
    ),
    "scan_bucketed_join": (
        "bucketed co-located join: both scans carry the bucket spec; at "
        "this toy SF AQE (correctly) broadcasts the tiny dim and the "
        "bucketed orders scan still feeds the per-key aggregate with no "
        "data-row Exchange (only the final orderBy range exchange). With "
        "broadcast disabled — the both-sides-big case the layout exists "
        "for — the SortMergeJoin runs with ZERO Exchange "
        "(tests/test_bucketing.py asserts it)"
    ),
    "llm_semdedup": (
        "SemDeDup: exact-duplicate collapse (value-keyed aggregate) "
        "before any pairing, then the rep pair stage is an EQUI-join on "
        "cluster_id — per-cell fanout, never corpus x corpus"
    ),
    "llm_roc_auc": (
        "distributed AUC: 4-dp score quantization bounds the census at "
        "10,001 rows, rank statistics fold over the census (allowlisted "
        "one_group window) — the data rows see exactly one partial-agg "
        "shuffle"
    ),
    "llm_inverted_index": (
        "posting-list build: in-row dedup (array_distinct), census "
        "shuffle, TakeOrdered top-50, then the per-token window runs "
        "AFTER the 50-row broadcast gate — the sort is spill-backed and "
        "collect_list sees <= 10 rows per token"
    ),
    "llm_pca2_basis": (
        "top-2 PCA: one mapInPandas BLAS Gram pass with an O(d^2)-key "
        "exchange independent of row count; the 8+8 deflated power "
        "steps run on the driver over the 64x64 model (2080-row collect)"
    ),
}


def main() -> None:
    sf_dir = os.environ.get("NYUKI_TEST_SF_DIR", "/root/testdata/sf0.01")
    spark = get_session("plans", master="local[8]")
    out = [
        "# PLANS — headline physical plans (generated)",
        "",
        f"`python scripts/export_plans.py` at {sf_dir}; the registry-wide",
        "plan-property sweep (tests/test_plan_registry_sweep.py) asserts the",
        "no-cartesian / no-BNLJ / no-single-partition-exchange invariants on",
        "ALL registered queries; this file shows the actual plans for the",
        "headline subset, each annotated with the property it demonstrates.",
        "",
    ]
    from pyspark.sql.classic.dataframe import DataFrame

    from nyuki_spark.queries.registry import SWEEP_INTERMEDIATES

    # A pinned frame (localCheckpoint) is an RDD scan in the plan that
    # reads it; record each pinned frame so its own plan is shown too.
    pinned: list = []
    pin = DataFrame.localCheckpoint

    def recording_pin(self, *args, **kwargs):
        pinned.append(self)
        return pin(self, *args, **kwargs)

    DataFrame.localCheckpoint = recording_pin

    def explain(df) -> str:
        return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        ).rstrip()

    for qid, note in HEADLINES.items():
        q = REGISTRY[qid]
        pinned.clear()
        # Queries that materialize driver-side (iterative argmax loops)
        # or write stages to disk register their real data-sized plan as
        # a sweep intermediate — show THAT plan, not the k-row literal
        # the query returns.
        inter = SWEEP_INTERMEDIATES.get(qid)
        if inter is not None:
            df = inter(spark, sf_dir)
        elif q.engine_fn is not None:
            df = q.engine_fn(spark, sf_dir)
        else:
            from nyuki_spark.catalog import register_tables

            register_tables(spark, sf_dir)
            df = spark.sql(q.engine_sql)
        out.append(f"## {qid}")
        out.append("")
        out.append(f"**Scale property:** {note}")
        out.append("")
        out.extend(["```", explain(df), "```", ""])
        for i, p in enumerate(pinned, 1):
            out.append(f"Pinned stage {i} of {len(pinned)}:")
            out.append("")
            out.extend(["```", explain(p), "```", ""])
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written ({len(HEADLINES)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()

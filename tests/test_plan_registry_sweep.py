"""Registry-wide scale-killer sweep: every registered query's physical plan
is scanned for the three patterns that kill a plan at 100 TB —
``CartesianProduct``, ``BroadcastNestedLoopJoin``, and ``Exchange
SinglePartition`` (the single-partition sort/agg/window funnel).

Exceptions are explicit and documented: an allowlist entry must name the
reason the pattern is legitimate for that query (bounded build side,
partial-aggregate scalar collect, deliberately-scoped verification pass).
The allowlist is checked for staleness — an entry whose query no longer
trips the sweep must be removed, so the list can only shrink.

A pinned stage (``localCheckpoint``) is an RDD scan in the plan that reads
it, so the sweep also records the physical plan of every frame pinned while
the query is built and inspects it under the owning id's allowlist.

A second sweep checks intra-query reuse: no Python node (a stage that runs
user code in Python workers) may appear twice in one query's plan over the
same input, because each copy runs the Python stage again. Repeats that
remain are listed in ``PY_REPEAT_ALLOWLIST`` with a reason, under the same
staleness rule.
"""

from __future__ import annotations

import gc
import re
import time
from collections import Counter

import pytest
from pyspark.sql.classic.dataframe import DataFrame

from nyuki_spark.queries import REGISTRY
from nyuki_spark.queries.registry import SWEEP_INTERMEDIATES

_PATTERNS = (
    "CartesianProduct",
    "BroadcastNestedLoopJoin",
    "Exchange SinglePartition",
    "Window EmptyPartitionSpec",
    "Exchange OneGroupConstant",
)

# Physical node classes that wrap another plan without changing what data
# moves through them — descended through when locating an Exchange's
# logical producer.
_WRAPPER_CLASSES = ("WholeStageCodegenExec", "InputAdapter", "AQEShuffleReadExec")

# Expression classes that embed a physical subquery plan (reachable via
# ``.plan()``); the pretty-printed string used to surface these as extra
# "Subquery" sections, so the walk must traverse them too.
_SUBQUERY_EXPRS = ("ScalarSubquery", "InSubqueryExec", "DynamicPruningSubquery")


def _child_plans(node) -> list:
    """A physical node's children plus the plans embedded in its subquery
    expressions."""
    ch = node.children()
    out = [ch.apply(i) for i in range(ch.size())]
    exprs = node.expressions()
    estack = [exprs.apply(i) for i in range(exprs.size())]
    while estack:
        e = estack.pop()
        if e.getClass().getSimpleName() in _SUBQUERY_EXPRS:
            out.append(e.plan())
        ech = e.children()
        for i in range(ech.size()):
            estack.append(ech.apply(i))
    return out


def _iter_plan_nodes(jplan):
    """Yield (node, class-simple-name) over the WHOLE physical plan tree
    via the JVM objects, not the pretty-printed string (r4 VERDICT ask:
    the string format changes across Spark versions; class names and the
    TreeNode children API are the stable surface). Descends through AQE
    wrappers (current plan of AdaptiveSparkPlanExec, materialized plan of
    QueryStageExec), reused exchanges, and subquery expression plans. A
    pinned frame is a leaf here; its plan comes from :func:`pinned_plans`.
    """
    stack = [jplan]
    while stack:
        n = stack.pop()
        cls = n.getClass().getSimpleName()
        yield n, cls
        if cls == "AdaptiveSparkPlanExec":
            stack.append(n.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(n.plan())
            continue
        if cls == "ReusedExchangeExec":
            stack.append(n.child())
            continue
        stack.extend(_child_plans(n))


def _producer(node):
    """The node whose rows an Exchange moves: its child, descended through
    pass-through wrappers and query stages."""
    n = node.child()
    while True:
        cls = n.getClass().getSimpleName()
        if cls in _WRAPPER_CLASSES:
            n = n.child()
        elif cls.endswith("QueryStageExec"):
            n = n.plan()
        elif cls == "ReusedExchangeExec":
            n = n.child()
        else:
            return n


def _is_partial_aggregate(node) -> bool:
    """True iff ``node`` is a hash/sort/object aggregate running in
    Partial mode — one pre-aggregated row per partition moves through the
    Exchange above it, never data rows (the legal scalar-collect shape:
    tpch_q06/q14/q15/q17/q19/q22, agg_percentile, scan_count, subq_*)."""
    if "Aggregate" not in node.getClass().getSimpleName():
        return False
    aggs = node.aggregateExpressions()
    if aggs.size() == 0:
        return False
    return all(
        aggs.apply(i).mode().toString() == "Partial" for i in range(aggs.size())
    )


def _is_one_group_shaped(expr) -> bool:
    """True iff ``expr`` is pmod(<anything>, 1) — the one_group()
    constant (operators/rank.py). Constant for every row, so a hash
    Exchange keyed ONLY by such expressions routes all rows to a single
    partition exactly like Exchange SinglePartition, while printing as an
    innocent hashpartitioning (r7 advice: when one_group replaced
    lit(0) windows, six SinglePartition allowlist entries vanished and
    the funnel went invisible to this sweep)."""
    if expr.getClass().getSimpleName() != "Pmod":
        return False
    ch = expr.children()
    return (
        ch.size() == 2
        and ch.apply(1).getClass().getSimpleName() == "Literal"
        and ch.apply(1).toString() == "1"
    )


def _one_group_alias_ids(subtree) -> set:
    """exprIds that ProjectExec nodes in ``subtree`` define as
    pmod(x, 1) aliases. Window planning projects one_group(col) into a
    ``_w0`` attribute BELOW the exchange, so the exchange's partitioning
    key is a plain AttributeReference — the constant shape is only
    visible at its defining Alias."""
    ids = set()
    for n, cls in _iter_plan_nodes(subtree):
        if cls != "ProjectExec":
            continue
        pl = n.projectList()
        for i in range(pl.size()):
            a = pl.apply(i)
            if a.getClass().getSimpleName() == "Alias" and _is_one_group_shaped(
                a.child()
            ):
                ids.add(a.exprId().id())
    return ids


def _found_patterns(jplan) -> set[str]:
    """The scale-killer patterns present in a plan tree, with the
    scalar-collect exemption applied per Exchange (a SinglePartition
    Exchange whose producer is a Partial aggregate is auto-legal)."""
    found: set[str] = set()
    for n, cls in _iter_plan_nodes(jplan):
        if cls == "CartesianProductExec":
            found.add("CartesianProduct")
        elif cls == "BroadcastNestedLoopJoinExec":
            found.add("BroadcastNestedLoopJoin")
        elif cls == "ShuffleExchangeExec" and n.outputPartitioning().toString().startswith(
            "SinglePartition"
        ):
            if not _is_partial_aggregate(_producer(n)):
                found.add("Exchange SinglePartition")
        elif cls == "ShuffleExchangeExec":
            part = n.outputPartitioning()
            if part.getClass().getSimpleName() == "HashPartitioning":
                exprs = part.expressions()
                alias_ids = None
                one_group_keys = 0
                for i in range(exprs.size()):
                    e = exprs.apply(i)
                    if _is_one_group_shaped(e):
                        one_group_keys += 1
                    elif e.getClass().getSimpleName() == "AttributeReference":
                        if alias_ids is None:
                            alias_ids = _one_group_alias_ids(n.child())
                        if e.exprId().id() in alias_ids:
                            one_group_keys += 1
                if exprs.size() > 0 and one_group_keys == exprs.size():
                    if not _is_partial_aggregate(_producer(n)):
                        found.add("Exchange OneGroupConstant")
        elif cls in ("WindowExec", "WindowInPandasExec", "WindowGroupLimitExec"):
            # An EMPTY partition spec makes WindowExec demand AllTuples
            # (move-all-rows-to-one-partition + the runtime warning). Every
            # deliberate single-group window in the engine partitions by
            # one_group(...) (operators/rank.py) — constant 0, but a
            # NON-EMPTY spec — so any empty spec here is an accident.
            # This is the static form of the r6 "zero-warning sweep" ask.
            if n.partitionSpec().isEmpty():
                found.add("Window EmptyPartitionSpec")
    return found

# qid -> (patterns allowed, reason). Every reason must describe why the
# pattern is bounded (moves k rows / joins a constant-size side), not why
# it is convenient.
ALLOWLIST: dict[str, tuple[tuple[str, ...], str]] = {
    "join_cross": (
        ("BroadcastNestedLoopJoin",),
        "declared CROSS JOIN semantics with a 5-row broadcast side (region); "
        "BNLJ with a constant-size build IS the right plan",
    ),
    "llm_fuzzy_levenshtein": (
        ("BroadcastNestedLoopJoin",),
        "deliberately id-bounded verification pass (<150 keys per side, "
        "docstring-scoped); the scale path gates on simhash candidates",
    ),
    "profile_histogram": (
        ("BroadcastNestedLoopJoin",),
        "1-row broadcast of the scalar min/max bounds (partial-"
        "aggregated) onto the scan — the explicit-broadcast "
        "scalar-subquery shape",
    ),
    "stat_psi_drift": (
        ("BroadcastNestedLoopJoin",),
        "two 1-row broadcasts (global min/max bounds; period totals), "
        "both partial-aggregated scalars — the explicit-broadcast "
        "scalar-subquery shape",
    ),
    "skew_report": (
        ("BroadcastNestedLoopJoin",),
        "10-row vs 1-row broadcast cross join joining the top-k table to "
        "the scalar total (partial-aggregated, auto-allowed)",
    ),
    "llm_sq8_error": (
        ("BroadcastNestedLoopJoin",),
        "1-row broadcast of the per-dim min/max bounds (partial-"
        "aggregated) onto the vectors — the scalar-bounds shape "
        "(profile_histogram precedent)",
    ),
    "llm_knn_multi": (
        ("BroadcastNestedLoopJoin",),
        "10-row broadcast of the query vectors onto the pool (constant-"
        "size build); top-k is salted two-phase, never a 10-partition "
        "funnel over the full score table",
    ),
    "llm_hard_negatives": (
        ("BroadcastNestedLoopJoin",),
        "10-row broadcast of the query vectors with the label-mismatch "
        "predicate onto the pool (constant-size build, llm_knn_multi "
        "precedent); top-k is salted two-phase",
    ),
    "net_assortativity": (
        ("BroadcastNestedLoopJoin",),
        "the backbone threshold: 1-row broadcast of the exact-percentile "
        "cutoff (partial-aggregated scalar) onto the pair-count table — "
        "the scalar-bounds shape (_supplier_backbone)",
    ),
    "net_degree_dist": (
        ("BroadcastNestedLoopJoin",),
        "the backbone threshold 1-row broadcast (_supplier_backbone, "
        "net_triangles precedent) — the only BNLJ build side is exactly "
        "one row (the 95th-percentile scalar)",
    ),
    "net_triangles": (
        ("BroadcastNestedLoopJoin",),
        "the backbone threshold 1-row broadcast (_supplier_backbone, "
        "net_assortativity precedent) plus the final merge of four 1-row "
        "partial-aggregated scalars (node/edge/wedge/triangle counts) by "
        "1-row broadcast crossJoins — every build side is exactly one row",
    ),
    "llm_embedding_drift": (
        ("BroadcastNestedLoopJoin",),
        "final merge of four 1-row sides (two half counts, two packed "
        "64-dim centroid vectors) by 1-row broadcast crossJoins — every "
        "build side is exactly one row; the only data-sized stage is the "
        "(half, dim) partial aggregate",
    ),
    "net_kcore": (
        ("BroadcastNestedLoopJoin",),
        "two 1-row broadcasts: the backbone's exact-percentile cutoff "
        "(_supplier_backbone) and the median-degree peel threshold — "
        "both partial-aggregated scalars crossJoined onto key tables "
        "(the scalar-bounds shape); peel joins themselves are semi "
        "equi-joins",
    ),
    "net_common_neighbors": (
        ("BroadcastNestedLoopJoin",),
        "the backbone threshold: 1-row broadcast of the exact-percentile "
        "cutoff onto the pair-count table (_supplier_backbone, "
        "net_assortativity precedent); all graph joins are key equi-joins "
        "and the top-20 is TakeOrderedAndProject",
    ),
    "llm_rank_bm25": (
        ("BroadcastNestedLoopJoin",),
        "1-row broadcast of the corpus model (N, avgdl, per-term df — "
        "partial-aggregated) onto the per-doc stats table — the "
        "scalar-bounds shape (profile_histogram precedent)",
    ),
    "llm_mmr_rerank": (
        ("BroadcastNestedLoopJoin",),
        "every non-equi join runs on the localCheckpoint-pinned top-20 "
        "candidate set or the 1-row broadcast query vector; the only "
        "corpus-sized stage is the TakeOrdered relevance cut",
    ),
    "tpch_q11": (
        ("BroadcastNestedLoopJoin",),
        "1-row broadcast of the grand-total threshold onto the "
        "checkpointed per-part aggregate (queries/tpch.py:_q11_engine) — "
        "the scalar-HAVING-subquery shape as an explicit broadcast; the "
        "N-row side never shuffles for it",
    ),
    "llm_tfidf_topterms": (
        ("BroadcastNestedLoopJoin",),
        "1-row broadcast of the scalar corpus doc count (partial-"
        "aggregated) onto the tf/df join — the scalar-subquery shape as "
        "an explicit broadcast",
    ),
    "stat_quantile_sketch": (
        ("BroadcastNestedLoopJoin",),
        "two 1-row broadcasts of the global value bounds (partial-"
        "aggregated MIN/MAX scalars) — the scalar-bounds shape "
        "(profile_histogram precedent); the sketch itself is one "
        "(type, 128)-cell aggregate",
    ),
    "stat_k_anonymity": (
        ("BroadcastNestedLoopJoin",),
        "3-row compile-time k-grid (2/5/10) cross-joined onto the "
        "QI-group table (bounded by the quasi-identifier domain, "
        "nation x segment) — constant-size build",
    ),
    "stat_cramers_v": (
        ("BroadcastNestedLoopJoin",),
        "CROSS JOIN of the 1-row grand total (partial-aggregated scalar) "
        "onto the category-bounded contingency-cell table — the "
        "scalar-subquery shape as an explicit broadcast",
    ),
    "stat_ks_test": (
        ("BroadcastNestedLoopJoin",),
        "BNLJ = two 1-row broadcasts (value bounds; sample totals — both "
        "partial-aggregated scalars); the bucket-offset prefix window now "
        "partitions by one_group (r7), so no SinglePartition exchange",
    ),
    "stat_mann_whitney": (
        ("BroadcastNestedLoopJoin",),
        "BNLJ = the 1-row value-bounds broadcast; the bucket-offset "
        "prefix window now partitions by one_group (r7), so no "
        "SinglePartition exchange",
    ),
    "stat_wilcoxon_signed": (
        ("BroadcastNestedLoopJoin",),
        "1-row broadcasts (tie-correction scalar; the |d| rank self-join "
        "runs over the daily rollup, one row per day — resample-first "
        "contract like stat_spearman)",
    ),
    "llm_dataset_card": (
        ("BroadcastNestedLoopJoin",),
        "1-row broadcasts (language-total scalar, entropy row onto the "
        "1-row base aggregate) — every joined side is a "
        "partial-aggregated scalar",
    ),
    "stat_benford_digits": (
        ("BroadcastNestedLoopJoin",),
        "one 1-row broadcast (the partial-aggregated grand total) onto "
        "the <=9-row first-digit table — both sides bounded by "
        "construction, the stat_jensen_shannon shape",
    ),
    "stat_jensen_shannon": (
        ("BroadcastNestedLoopJoin",),
        "two 1-row broadcasts (global value bounds; period totals — both "
        "partial-aggregated scalars), the stat_psi_drift shape",
    ),
    "stat_spearman": (
        ("BroadcastNestedLoopJoin",),
        "the rank self-join runs over the DAILY rollup (one row per day "
        "of time range, ~60 rows — resample-first contract like ts_acf), "
        "never data rows; ranks need all-pairs comparisons by definition",
    ),
    "llm_ngram_kneser_ney": (
        ("BroadcastNestedLoopJoin",),
        "1-row broadcast of the distinct-bigram-type count (a "
        "partial-aggregated scalar) onto the vocabulary-sized model table",
    ),
    "net_adamic_adar": (
        ("BroadcastNestedLoopJoin",),
        "the backbone threshold: 1-row broadcast of the exact-percentile "
        "cutoff onto the pair-count table (_supplier_backbone, "
        "net_common_neighbors precedent); wedge/degree/anti joins are all "
        "key equi-joins",
    ),
    "net_modularity": (
        ("BroadcastNestedLoopJoin",),
        "the backbone threshold 1-row broadcast plus the 1-row edge-total "
        "scalar onto the 25-community table — every BNLJ side is a "
        "partial-aggregated scalar or the nation-domain rollup",
    ),
    "llm_lsh_tuning_curve": (
        ("BroadcastNestedLoopJoin",),
        "a 3-row config VALUES table crossed with a 19-point grid — the "
        "whole query is a 57-row design-table expression, no data scan "
        "at all",
    ),
    "net_local_clustering": (
        ("BroadcastNestedLoopJoin",),
        "the backbone threshold 1-row broadcast (_supplier_backbone, "
        "net_common_neighbors precedent); wedge/closure/degree joins are "
        "key equi-joins",
    ),
    "win_rank": (
        ("Exchange OneGroupConstant",),
        "two-phase range-bucketed rank: the one_group window consumes "
        "the per-bucket count table (n_buckets rows) to compute offsets, "
        "never the data rows (operators/rank.py)",
    ),
    "llm_seq_pack": (
        ("Exchange OneGroupConstant",),
        "two-phase range-bucketed global prefix sum "
        "(operators/rank.py:global_running_sum, the win_rank shape): at "
        "scale the one_group window merges the n_buckets-row offsets "
        "table only; at fixture SF the cost-based 1-bucket branch runs "
        "the plain one_group window over an input that fits one task",
    ),
    "ts_rolling_corr": (
        ("Exchange OneGroupConstant",),
        "the trailing-24h frame runs over the HOURLY ROLLUP of the joint "
        "click/purchase series — one row per hour of time range "
        "(resample-first contract, like ts_acf), never data rows; the "
        "series is global by definition so it cannot partition by key",
    ),
    "ts_sax_motifs": (
        ("Exchange OneGroupConstant", "BroadcastNestedLoopJoin"),
        "the LEAD chain runs over the DAY-bounded rollup under the "
        "one_group constant partition (global series by definition — "
        "the ts_rolling_corr precedent); the BNLJ is the 1-row "
        "mean/stddev broadcast (stat_psi_drift shape)",
    ),
    "ts_sax_symbols": (
        ("BroadcastNestedLoopJoin",),
        "1-row broadcast of the series' partial-aggregated mean/stddev "
        "onto the day-bounded rollup — the explicit-broadcast "
        "scalar-subquery shape (stat_psi_drift precedent)",
    ),
    "stat_kendall_tau": (
        ("BroadcastNestedLoopJoin",),
        "the concordance pair join (a.d < b.d) runs over the DAY-bounded "
        "click/purchase rollup — time-range^2 pairs, never data rows "
        "(stat_spearman / ts_theilsen_trend contract)",
    ),
    "stat_levene": (
        ("BroadcastNestedLoopJoin",),
        "1-row broadcast of the partial-aggregated grand totals (zbar, "
        "N, k) crossJoined onto the k-row group table — the explicit-"
        "broadcast scalar-subquery shape (stat_psi_drift precedent)",
    ),
    "stat_runs_test": (
        ("Exchange OneGroupConstant", "BroadcastNestedLoopJoin"),
        "the LAG sign-change chain runs over the DAY-bounded rollup "
        "under the one_group constant partition (global series by "
        "definition — ts_sax_motifs precedent); the BNLJ is the 1-row "
        "median broadcast (stat_psi_drift shape)",
    ),
    "ts_drawdown": (
        ("Exchange OneGroupConstant",),
        "running sum / running peak over the DAY-bounded daily rollup "
        "under the one_group constant partition (global cumulative "
        "series by definition — ts_sax_motifs precedent)",
    ),
    "stat_bh_fdr": (
        ("Exchange OneGroupConstant", "BroadcastNestedLoopJoin"),
        "the BH step-up running minimum ranks the k-row FAMILY census "
        "(one p-value per event type) under the one_group constant "
        "partition; the BNLJ is the 1-row partial-aggregated pooled "
        "moments broadcast onto the k-row type table (stat_psi_drift "
        "shape)",
    ),
    "llm_roc_auc": (
        ("Exchange OneGroupConstant", "BroadcastNestedLoopJoin"),
        "the cum_neg one_group window folds over the 4-dp-quantized "
        "score CENSUS (<= 10,001 rows by construction, never data rows "
        "— the distributed-AUC quantization trick); the BNLJ is the "
        "1-row partial-aggregated totals broadcast onto 9 threshold "
        "rows (explicit-broadcast scalar shape, stat_psi_drift "
        "precedent)",
    ),
    "scan_partition_pruning": (
        ("Exchange SinglePartition",),
        "the census over the pruned partition is a global aggregate with "
        "a COUNT(DISTINCT): the distinct keys shuffle by user_id, and the "
        "SinglePartition exchange moves one merged partial row per "
        "partition (a keyless aggregate below it, in mixed merge/partial "
        "mode, so the Partial-only exemption does not see it)",
    ),
    "llm_vocab_coverage": (
        ("Exchange OneGroupConstant", "BroadcastNestedLoopJoin"),
        "two global_running_sum prefix sums over the frequency-of-"
        "frequencies census (O(sqrt(tokens)) rows by the count-of-"
        "counts law — the llm_seq_pack two-phase shape, 1-bucket "
        "branch at fixture SF); the BNLJ is the 1-row total-tokens "
        "broadcast (explicit-broadcast scalar shape)",
    ),
}


@pytest.fixture
def pinned_plans(monkeypatch) -> list:
    """Physical plans of the frames pinned while the test runs, in pin
    order. A pin is an RDD scan in the plan that reads it; recording the
    pinned frame's own plan keeps its stage in view (r5 advice: no pinned
    stage may dodge the sweep)."""
    plans: list = []
    pin = DataFrame.localCheckpoint

    def recording_pin(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().executedPlan())
        return pin(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", recording_pin)
    return plans


@pytest.mark.parametrize("qid", sorted(REGISTRY))
def test_no_scale_killers(qid, spark, sf_dir, pinned_plans):
    spark.catalog.clearCache()
    df = REGISTRY[qid].run(spark, sf_dir)
    # Nothing a query pins outlives it: pins are localCheckpoints, never
    # CacheManager entries that only clearCache() releases.
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        f"{qid}: left a relation in Spark's CacheManager (persist/cache); "
        f"pin with localCheckpoint instead"
    )
    jplan = df._jdf.queryExecution().executedPlan()
    found = _found_patterns(jplan)
    for pinned in pinned_plans:
        found |= _found_patterns(pinned)
    # Plans the query runs that reach neither the returned frame nor a
    # pin (driver-side loops, on-disk artifacts) come from their
    # registered builder.
    inter_fn = SWEEP_INTERMEDIATES.get(qid)
    if inter_fn is not None:
        inter_plan = inter_fn(spark, sf_dir)._jdf.queryExecution().executedPlan()
        found |= _found_patterns(inter_plan)
    allowed, _reason = ALLOWLIST.get(qid, ((), ""))
    hits = [p for p in _PATTERNS if p in found and p not in allowed]
    assert not hits, (
        f"{qid}: scale-killer pattern(s) {hits} in plan:\n"
        f"{jplan.toString()[:800]}"
    )
    stale = [p for p in allowed if p not in found]
    assert not stale, (
        f"{qid}: allowlist entries {stale} no longer appear in the plan — "
        f"remove them so the allowlist only shrinks"
    )


def test_allowlist_and_intermediates_reference_live_ids():
    """Hygiene: every ALLOWLIST / PY_REPEAT_ALLOWLIST key and every
    SWEEP_INTERMEDIATES key must name a registered query — a renamed/removed
    id would otherwise leave a dead exemption (or a dead barrier-sweep)
    behind silently."""
    dead_allow = [q for q in (*ALLOWLIST, *PY_REPEAT_ALLOWLIST) if q not in REGISTRY]
    dead_inter = [q for q in SWEEP_INTERMEDIATES if q not in REGISTRY]
    assert not dead_allow, f"ALLOWLIST entries for unknown ids: {dead_allow}"
    assert not dead_inter, (
        f"SWEEP_INTERMEDIATES entries for unknown ids: {dead_inter}"
    )


# -- Python-node repeats ------------------------------------------------------

# Physical operators that run user code in Python workers (the same class
# name rule as perfbench/tracing.py's python.repeat_ratio).
_PY_NODE = re.compile(r"(InPandas|InArrow|EvalPython|PythonUDTF|WindowPython|PythonScan)")
# Ids that differ between two copies of the same subtree: expression ids
# (stripped the same way by the tracer) and exchange plan ids.
_PLAN_IDS = re.compile(r"#\d+L?|plan_id=\d+")


def _python_node_repeats(jplan) -> list[str]:
    """Python nodes that appear more than once in a plan, each given as
    its subtree string with ids stripped (identical strings = the same
    Python stage over the same input).

    Walks the INITIAL plan of every AdaptiveSparkPlanExec: the final plan
    depends on runtime sizes (at a small scale AQE broadcasts one side and
    shows one copy), the initial plan does not. A ReusedExchange leaf is
    not descended (it reads the exchange it reuses), and a pinned frame is
    a leaf (an RDD scan), read once however many scans read the pin.

    The plans behind pins are not walked: an initial plan repeats every
    exchange it reads twice, and AQE reuses such an exchange only at run
    time (the backbone's pair-count stage, read by the threshold and by
    the join, runs its Python stage once).
    """
    subtrees: list[str] = []
    stack = [jplan]
    while stack:
        n = stack.pop()
        cls = n.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(n.initialPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(n.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue
        if _PY_NODE.search(cls):
            subtrees.append(_PLAN_IDS.sub("", n.treeString()))
        stack.extend(_child_plans(n))
    return sorted(t for t, k in Counter(subtrees).items() if k > 1)


# qid -> reason a Python stage legitimately runs more than once. An entry
# whose query no longer repeats a Python node must be removed.
PY_REPEAT_ALLOWLIST: dict[str, str] = {
    "llm_decontaminate": (
        "both renamed sides of the 5-gram shingle self-join run word_ngrams "
        "over the ~unique-text reps; a localCheckpoint pin did not win at "
        "sf0.1 (isolated medians, unpinned -> pinned, three rounds: "
        "1.68 -> 1.84, 1.87 -> 1.87, 1.89 -> 1.64 s)"
    ),
    "llm_source_overlap": (
        "the per-shingle source count and the join back read the "
        "(source, shingle) projection with different inferred filters, so "
        "word_ngrams runs twice; a localCheckpoint pin did not win at sf0.1 "
        "(2.03 -> 2.84, 2.33 -> 2.08, 2.37 -> 2.38 s)"
    ),
}


@pytest.mark.parametrize("qid", sorted(REGISTRY))
def test_no_python_node_repeats(qid, spark, sf_dir):
    df = REGISTRY[qid].run(spark, sf_dir)
    repeats = _python_node_repeats(df._jdf.queryExecution().executedPlan())
    if qid in PY_REPEAT_ALLOWLIST:
        assert repeats, (
            f"{qid}: no Python node repeats any more — remove its "
            f"PY_REPEAT_ALLOWLIST entry"
        )
        return
    assert not repeats, (
        f"{qid}: {len(repeats)} Python stage(s) run more than once; pin the "
        f"shared input at the consumer (localCheckpoint) or allowlist it "
        f"with a reason. First:\n{repeats[0][:1200]}"
    )


# -- pins are released with their DataFrame ----------------------------------


def _pinned_since(spark, first_id: int) -> int:
    """RDDs with an id of at least ``first_id`` that hold blocks. Read
    through RDDInfo, which keeps no reference to its RDD: the map that
    ``getPersistentRDDs()`` returns holds every RDD in it until py4j
    releases the map's proxy, so polling that map keeps the pins alive."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(1 for info in infos if info.id() >= first_id)


@pytest.mark.parametrize(
    "qid", ["net_pagerank", "ts_similar_users", "llm_cosine_pairs"]
)
def test_pins_released_when_frame_is_dropped(qid, spark, sf_dir):
    """The blocks an id pins go once its result frame is unreachable:
    after a collect, a drop and a GC on both sides of the gateway, no RDD
    the query created still holds blocks (aim 3: nothing the engine holds
    outlives the query). The poll is bounded but long: the context
    cleaner unpersists only after a JVM GC finds the RDD unreachable, and
    py4j releases the query's JVM objects on one finalizer thread, behind
    every proxy that earlier tests dropped."""
    first_id = spark.sparkContext.emptyRDD().id() + 1
    df = REGISTRY[qid].run(spark, sf_dir)
    df.collect()
    assert _pinned_since(spark, first_id) > 0
    del df
    deadline = time.monotonic() + 300
    while True:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        held = _pinned_since(spark, first_id)
        if held == 0 or time.monotonic() > deadline:
            break
        time.sleep(1)
    assert held == 0, f"{qid}: {held} pinned RDD(s) outlived the frame"

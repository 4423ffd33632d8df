"""Two-phase global ranking (operators/rank.py): semantics + plan shape.

A global un-partitioned window is the canonical 100 TB scale-killer ("Moving
all data to a single partition"). These tests pin both properties of the
rewrite: it returns EXACTLY what the naive window returns, and the heavy
window in its plan is partitioned (only k-row merge windows may be tiny).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from nyuki_spark.catalog import load_table
from nyuki_spark.operators.dedup import _fits_broadcast
from nyuki_spark.operators.estimate import size_estimate
from nyuki_spark.operators.rank import (
    _auto_buckets,
    global_row_number,
    key_rank,
    ntile_from_rn,
)


def test_global_row_number_matches_window(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    got = global_row_number(
        events, "value", tiebreak_cols=["event_id"], ascending=False, out="rn"
    ).select("event_id", "rn")
    w = Window.partitionBy(F.lit(0)).orderBy(F.col("value").desc(), "event_id")
    want = events.select("event_id", F.row_number().over(w).cast("int").alias("rn"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_unreadable_size_estimate_means_no_hint(spark, sf_dir):
    """An estimate that cannot be read is None for every caller: the
    bucket count falls back to its cap and the broadcast hint is not
    given, instead of one caller raising."""
    orders = load_table(spark, sf_dir, "orders")
    assert size_estimate(orders) > 0
    assert _auto_buckets(orders) == 1
    assert _fits_broadcast(orders)

    class Unreadable:
        _jdf = None

    assert size_estimate(Unreadable()) is None
    assert _auto_buckets(Unreadable(), cap=7) == 7
    assert not _fits_broadcast(Unreadable())


def test_global_row_number_ascending(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    got = global_row_number(
        orders, "o_totalprice", tiebreak_cols=["o_orderkey"], ascending=True, out="rn"
    )
    top = got.orderBy("rn").select("o_orderkey").head(3)
    w = Window.partitionBy(F.lit(0)).orderBy("o_totalprice", "o_orderkey")
    want = (
        orders.select("o_orderkey", F.row_number().over(w).alias("rn"))
        .orderBy("rn")
        .head(3)
    )
    assert [r.o_orderkey for r in top] == [r.o_orderkey for r in want]


def test_key_rank_matches_window(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    got = key_rank(cust, "c_mktsegment").select("c_custkey", "rk", "drk")
    w = Window.partitionBy(F.lit(0)).orderBy("c_mktsegment")
    want = cust.select(
        "c_custkey",
        F.rank().over(w).cast("int").alias("rk"),
        F.dense_rank().over(w).cast("int").alias("drk"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_ntile_matches_window(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    total = cust.count()
    ranked = global_row_number(
        cust, "c_acctbal", tiebreak_cols=["c_custkey"], ascending=False, out="rn"
    )
    for k in (3, 4, 7):
        got = ranked.select("c_custkey", ntile_from_rn(F.col("rn"), total, k).alias("t"))
        w = Window.partitionBy(F.lit(0)).orderBy(F.col("c_acctbal").desc(), "c_custkey")
        want = cust.select("c_custkey", F.ntile(k).over(w).cast("int").alias("t"))
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect())), k


def test_win_rank_adaptive_plan_choice(spark, sf_dir):
    """win_rank is size-adaptive (r4): at fixture scale Catalyst's size
    estimate selects the plain windowed plan (fastest for input that fits
    one bucket), and the scale path — the _pid-partitioned bucketed rank —
    must still engage whenever the bucket count exceeds one. Both branches
    are asserted here: the query picks `small` on the fixtures, and the
    operator pinned to >1 buckets yields the partitioned window."""
    from nyuki_spark.catalog import load_table
    from nyuki_spark.queries import REGISTRY

    # Fixture-scale: the small branch (a single bounded Window) runs.
    df = REGISTRY["win_rank"].run(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "_pid" not in plan, f"small input unexpectedly took the bucketed plan:\n{plan[:800]}"
    assert "ntile" in plan  # the plain branch computes NTILE natively

    # Scale posture: pinned bucketing produces the _pid-partitioned window.
    cust = load_table(spark, sf_dir, "customer")
    ranked = global_row_number(
        cust, "c_acctbal", tiebreak_cols=["c_custkey"], out="rn", num_buckets=8
    )
    bplan = ranked._jdf.queryExecution().executedPlan().toString()
    heavy = [
        ln for ln in bplan.splitlines()
        if "Window" in ln and "row_number" in ln and "_pid" in ln
    ]
    assert heavy, f"expected a _pid-partitioned row_number Window in:\n{bplan[:1500]}"


def test_ntile_column_total_matches_int_total(spark, sf_dir):
    from nyuki_spark.catalog import load_table

    cust = load_table(spark, sf_dir, "customer")
    total = cust.count()
    ranked = global_row_number(
        cust, "c_acctbal", tiebreak_cols=["c_custkey"], out="rn",
        attach_total="_tot",
    )
    got = ranked.select(
        "c_custkey",
        ntile_from_rn(F.col("rn"), total, 4).alias("a"),
        ntile_from_rn(F.col("rn"), F.col("_tot"), 4).alias("b"),
    )
    assert got.where("a <> b").count() == 0
    assert ranked.where(F.col("_tot") != total).count() == 0


def test_global_running_sum_matches_window(spark, sf_dir):
    """Two-phase bucketed prefix sum == the naive global window, at a
    forced multi-bucket count (the fixture would auto-pick 1 bucket),
    and bucket count must not change the values (integer addition is
    associative — the llm_seq_pack contract)."""
    from nyuki_spark.operators.rank import global_running_sum

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", (F.col("user_id") % 97).alias("v")
    )
    w = (
        Window.partitionBy(F.lit(0))
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        (r["event_id"], r["c"])
        for r in ev.withColumn("c", F.sum("v").over(w)).collect()
    }
    for nb in (1, 7):
        got = {
            (r["event_id"], r["csum"])
            for r in global_running_sum(
                ev, "event_id", "v", num_buckets=nb
            ).collect()
        }
        assert got == want, f"num_buckets={nb} diverged"


def test_pack_greedy_bins_respect_capacity(spark, sf_dir):
    """Every 512-token bin holds whole docs within capacity unless a
    single oversize doc owns it, and bins are consecutive from 0."""
    from nyuki_spark.queries.corpus import _pack_greedy_fn

    out = _pack_greedy_fn(spark, sf_dir).collect()
    by_key: dict = {}
    for r in out:
        by_key.setdefault(r["lang"], {}).setdefault(r["bin"], []).append(
            r["n_tokens"]
        )
    for lang, bins in by_key.items():
        assert sorted(bins) == list(range(len(bins))), f"{lang}: bin gaps"
        for b, sizes in bins.items():
            if len(sizes) > 1:
                assert sum(sizes) <= 512, f"{lang} bin {b} overflows"

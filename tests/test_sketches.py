"""DataSketches surface (Spark 4.1): HLL and theta sketch properties.

HLL estimates are approximate above the sketch's exact regime, so they
are certified by error bound + mergeability rather than a value oracle.
The theta sketch's exact regime is pinned against the exact distinct
count, and approx_top_k by its heavy-hitter guarantee.
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def test_hll_estimate_within_rsd_bound(spark):
    """hll_sketch_agg default lgConfigK=12 → relative standard error
    ~1.04/sqrt(2^12) ≈ 1.6%; assert the estimate lands within 5% (≈3σ)
    of the exact distinct count."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    exact = li.select("l_partkey").distinct().count()
    est = li.agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(l_partkey))").alias("e")
    ).collect()[0].e
    assert abs(est - exact) / exact < 0.05


def test_hll_partial_sketches_merge_to_global(spark):
    """Mergeability is the whole point at 100 TB: per-group (think
    per-day / per-partition) sketches unioned with hll_union_agg roll
    distinct counts up without ever reshuffling raw keys. Measured
    caveat: the union is NOT estimate-identical to a single-pass sketch
    — union promotes coupon-list/set-mode sketches to dense HLL, so at
    1500 true distinct the single sketch said 1492 and the merge 1488.
    Both must honor the error bound; byte-equality is a theta-sketch
    property (see below), not an HLL one."""
    o = spark.read.parquet(f"{SF}/orders.parquet")
    exact = o.select("o_custkey").distinct().count()
    global_est = o.agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(o_custkey))").alias("e")
    ).collect()[0].e
    merged_est = (
        o.groupBy("o_orderpriority")
        .agg(F.expr("hll_sketch_agg(o_custkey)").alias("sk"))
        .agg(F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("e"))
        .collect()[0]
        .e
    )
    assert abs(global_est - exact) / exact < 0.05
    assert abs(merged_est - exact) / exact < 0.05


def test_theta_exact_regime_equals_exact_distinct(spark):
    """A theta sketch below k=4096 retained hashes keeps θ=1 (no
    sampling): its estimate IS the exact distinct count — what keeps a
    theta query over a bounded key domain hash-checkable at any SF."""
    o = spark.read.parquet(f"{SF}/orders.parquet")
    exact = o.selectExpr("o_custkey % 997 AS v").distinct().count()
    assert exact < 4096
    est = o.agg(
        F.expr(
            "CAST(theta_sketch_estimate(theta_sketch_agg(o_custkey % 997))"
            " AS BIGINT)"
        ).alias("e")
    ).collect()[0].e
    assert est == exact


def test_approx_top_k_bounded_state_regime_change(spark):
    """approx_top_k with maxItemsTracked BELOW the distinct count still
    returns the true heaviest item (heavy-hitter guarantee) even though
    tail counts may be approximate — the bounded-state contract that
    makes it safe on unbounded vocabularies."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    # l_quantity: 50 distinct values, roughly uniform; make one heavy
    skewed = li.selectExpr(
        "CASE WHEN l_linenumber = 1 THEN 1.0 ELSE l_quantity END AS q"
    )
    exact_top = (
        skewed.groupBy("q").count().orderBy(F.desc("count")).first().q
    )
    got = skewed.agg(F.expr("approx_top_k(q, 1, 10)").alias("tk")).collect()[0]
    assert got.tk[0].item == exact_top

"""Hand-checked goldens for the round-5 analytics batch: gaps-and-islands
streaks, closed-form OLS trend fitting, and structural properties of the
basket-lift / link-prediction / path-trigram registry queries (their value
parity is DuckDB-oracled; these pin the SEMANTICS on knowable inputs)."""

from datetime import datetime

from pyspark.sql import functions as F

from gene_level_metadata_pipeline_spark.operators.timeseries import (
    gaps_islands,
    ols_trend,
)

HOUR_US = 3_600_000_000


def _ev(spark, rows):
    return spark.createDataFrame(rows, "user_id bigint, ts timestamp")


def _h(h):
    return datetime(2024, 1, 1, h, 30)


# --------------------------------------------------------------- islands

def test_gaps_islands_splits_runs_exactly(spark):
    # hours 0,1,2 | 5 | 7,8 -> three islands of len 3,1,2
    df = _ev(spark, [(1, _h(h)) for h in (0, 1, 2, 5, 7, 8)])
    out = sorted(
        gaps_islands(df, "user_id", "ts", HOUR_US).collect(),
        key=lambda r: r.island_start_us,
    )
    assert [(r.island_len) for r in out] == [3, 1, 2]
    base = 1704067200 * 1_000_000  # 2024-01-01T00:00Z
    assert [r.island_start_us for r in out] == [
        base, base + 5 * HOUR_US, base + 7 * HOUR_US
    ]


def test_gaps_islands_dedups_within_bucket_and_skips_null_ts(spark):
    # three events inside hour 0 are ONE active hour; NULL ts dropped
    df = _ev(spark, [
        (1, datetime(2024, 1, 1, 0, 1)),
        (1, datetime(2024, 1, 1, 0, 2)),
        (1, datetime(2024, 1, 1, 0, 59)),
        (1, None),
    ])
    out = gaps_islands(df, "user_id", "ts", HOUR_US).collect()
    assert len(out) == 1 and out[0].island_len == 1


def test_gaps_islands_keys_are_independent(spark):
    df = _ev(spark, [(1, _h(0)), (1, _h(1)), (2, _h(1)), (2, _h(3))])
    out = gaps_islands(df, "user_id", "ts", HOUR_US)
    per_key = {
        r.key: r.cnt
        for r in out.groupBy("key").agg(F.count("*").alias("cnt")).collect()
    }
    assert per_key == {1: 1, 2: 2}


# ------------------------------------------------------------------- OLS

def _fit(spark, pts):
    df = spark.createDataFrame(
        [("g", x, y) for x, y in pts], "g string, x bigint, y bigint"
    ).withColumn("y", F.col("y").cast("decimal(18,0)"))
    return ols_trend(df, "g", "x", "y").collect()[0]


def test_ols_perfect_line_recovers_slope_intercept_r2(spark):
    # y = 3x + 7 exactly -> closed form is exact in doubles here
    r = _fit(spark, [(x, 3 * x + 7) for x in range(10)])
    assert r.slope_raw == 3.0
    assert r.intercept_raw == 7.0
    assert r.r2_raw == 1.0


def test_ols_flat_series_has_zero_slope_and_null_r2(spark):
    # zero y-variance: slope 0, r2 = 0/0 -> NULL (not an ANSI error)
    r = _fit(spark, [(x, 5) for x in range(6)])
    assert r.slope_raw == 0.0
    assert r.r2_raw is None


def test_ols_single_point_group_is_null_not_error(spark):
    r = _fit(spark, [(4, 9)])
    assert r.slope_raw is None and r.r2_raw is None


def test_ols_exact_sums_are_partition_invariant(spark):
    pts = [(x, (x * 37) % 101) for x in range(50)]
    df = spark.createDataFrame(
        [("g", x, y) for x, y in pts], "g string, x bigint, y bigint"
    ).withColumn("y", F.col("y").cast("decimal(18,0)"))
    a = ols_trend(df.coalesce(1), "g", "x", "y").collect()[0]
    b = ols_trend(df.repartition(13), "g", "x", "y").collect()[0]
    assert (a.slope_raw, a.intercept_raw, a.r2_raw) == (
        b.slope_raw, b.intercept_raw, b.r2_raw
    )


# ------------------------------------- registry-query structural goldens

SF = "/root/testdata/sf0.001"


def test_link_prediction_never_returns_existing_edges(spark):
    from gene_level_metadata_pipeline_spark.plans import driver_queries as dq

    out = dq.QUERIES["graph_link_prediction"](spark, SF).collect()
    edges = set(
        (r.u, r.v)
        for r in (
            spark.read.parquet(f"{SF}/lineitem.parquet")
            .groupBy("l_orderkey")
            .agg(F.collect_set("l_partkey").alias("ps"))
            .select(F.explode("ps").alias("u"), "ps")
            .select("u", F.explode("ps").alias("v"))
            .where(F.col("u") < F.col("v"))
            .groupBy("u", "v")
            .agg(F.count("*").alias("n"))
            .where(F.col("n") >= 2)
            .collect()
        )
    )
    assert out, "expected candidate pairs at sf0.001"
    for r in out:
        assert (r.x, r.y) not in edges
        assert r.x < r.y and r.cn >= 1
        # every common neighbor has deg >= 2 -> each RA term <= 1/2
        assert 0 < r.ra <= r.cn / 2 + 1e-9


def test_basket_lift_identity_holds(spark):
    from gene_level_metadata_pipeline_spark.plans import driver_queries as dq

    rows = dq.QUERIES["basket_part_lift"](spark, SF).collect()
    assert rows, "expected qualifying pairs at sf0.001"
    for r in rows:
        assert r.part_a < r.part_b and r.n_ab >= 2
        # lift = confidence / P(b) = confidence * n_orders / n_b ->
        # equivalently support <= confidence and all three positive
        assert 0 < r.support <= r.confidence
        assert r.lift > 0


def test_position_attribution_credit_conserves_conversions(spark):
    """U-shaped weights must sum to exactly 1 per attributable
    conversion, so total credited across touch types equals the number
    of conversions with at least one prior touch (computed here
    independently with the same strictly-prior, since-last-conversion
    contract)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from gene_level_metadata_pipeline_spark.plans import driver_queries as dq

    out = dq.QUERIES["attribution_position_based"](spark, SF).collect()
    total_credit = sum(r.credited for r in out)

    from gene_level_metadata_pipeline_spark.plans.registry import _events

    ev = _events(spark, SF).where(
        F.col("event_type").isin("purchase", "click", "view")
    ).select("user_id", "event_id", "event_type", F.unix_micros("ts").alias("us"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("us").asc_nulls_last(),
                 F.col("event_id").asc_nulls_last())
        .rowsBetween(1, Window.unboundedFollowing)
    )
    nxt = ev.withColumn(
        "conv_id",
        F.first(
            F.when(F.col("event_type") == "purchase", F.col("event_id")),
            ignorenulls=True,
        ).over(w),
    )
    n_attributable = (
        nxt.where(
            F.col("event_type").isin("click", "view")
            & F.col("conv_id").isNotNull()
        )
        .select("user_id", "conv_id")
        .distinct()
        .count()
    )
    assert abs(total_credit - n_attributable) < 1e-3


def test_ols_excludes_null_x_or_y_rows(spark):
    """A NULL x (or y) row must be excluded entirely, not half-counted:
    Spark sums skip NULLs but count(*) would not, and an n inconsistent
    with the sums fabricates a slope (review finding)."""
    rows = [("g", 1, 1), ("g", 2, 2), ("g", None, 5), ("g", 3, None)]
    df = spark.createDataFrame(
        rows, "g string, x bigint, y bigint"
    ).withColumn("y", F.col("y").cast("decimal(18,0)"))
    r = ols_trend(df, "g", "x", "y").collect()[0]
    assert r.n == 2
    assert r.slope_raw == 1.0 and r.intercept_raw == 0.0


def test_engine_facade_exposes_timeseries_family(spark):
    """The time-series operators compose on one frame family: gaps and
    islands, interval coalescing and the OLS trend."""
    from gene_level_metadata_pipeline_spark.operators.timeseries import (
        coalesce_intervals,
        gaps_islands,
        ols_trend,
    )

    df = _ev(spark, [(1, _h(0)), (1, _h(1)), (1, _h(4))])
    assert gaps_islands(df, "user_id", "ts", HOUR_US).count() == 2
    iv = spark.createDataFrame(
        [(1, 0, 10), (1, 5, 20), (1, 30, 40)], "k long, s long, e long"
    )
    merged = coalesce_intervals(iv, "k", "s", "e").collect()
    assert sorted((r.cov_start, r.cov_end, r.n_merged) for r in merged) == [
        (0, 20, 2), (30, 40, 1)
    ]
    pts = spark.createDataFrame(
        [("g", x, 2 * x + 1) for x in range(5)], "g string, x long, y long"
    ).withColumn("y", F.col("y").cast("decimal(18,0)"))
    assert ols_trend(pts, "g", "x", "y").collect()[0].slope_raw == 2.0


def test_probe_cells_fanout_order_and_degenerate(spark):
    """2-probe assignment: probe_rank 1 = nearest centroid, 2 = second;
    ties break to the lower cid; a zero-norm vector fans out to ZERO
    rows (the multi-probe NULL-cell contract)."""
    from pyspark.sql import functions as F

    from gene_level_metadata_pipeline_spark.operators.similarity import (
        probe_cells,
    )

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(10, [1.0, 0.0]), (20, [0.0, 1.0]), (30, [1.0, 1.0])],
        "cid long, ce array<double>",
    )
    out = sorted(
        (r["vec_id"], r["probe_rank"], r["cell"])
        for r in probe_cells(vecs, cents, probes=2).collect()
    )
    # v1=[1,0]: sims 1.0/0.0/0.7071 -> cells (10, 30); v2 degenerate;
    # v3=[1,1]: sims 0.7071/0.7071/1.0 -> cell 30 first, then the
    # 0.7071 tie breaks to cid 10
    assert out == [(1, 1, 10), (1, 2, 30), (3, 1, 30), (3, 2, 10)]


def test_multiprobe_recall_superset_of_single_probe(spark):
    """Every single-probe result pair must appear in the 2-probe
    results (candidate superset ⇒ per-query top-k can only improve
    toward truth, never lose a pair that truth had)."""
    from pyspark.sql import functions as F

    from gene_level_metadata_pipeline_spark.plans import driver_queries as dq

    sf = "/root/testdata/sf0.001"
    single = dq.QUERIES["ann_ivf_kmeans_topk"](spark, sf).select(
        "query_id", "neighbor_id"
    )
    multi = dq.QUERIES["ann_ivf_multiprobe_topk"](spark, sf)
    truth = dq.QUERIES["ann_brute_force_topk"](spark, sf).select(
        "query_id", "neighbor_id"
    )
    tp_single = truth.join(single, ["query_id", "neighbor_id"]).count()
    tp_multi = truth.join(multi, ["query_id", "neighbor_id"]).count()
    assert tp_multi >= tp_single


def test_engine_facade_exposes_batch3_family(spark):
    """The round-5 batch-2/3 operators run end to end — one smoke call
    per operator (semantics are certified by their own oracles/units)."""
    from gene_level_metadata_pipeline_spark.operators.conflicts import (
        golden_record,
    )
    from gene_level_metadata_pipeline_spark.operators.dedup import (
        near_dup_against_history,
        source_overlap_matrix,
    )
    from gene_level_metadata_pipeline_spark.operators.graph import (
        hits_bipartite,
        kcore,
        sssp_weighted,
    )
    from gene_level_metadata_pipeline_spark.operators.harmonize import (
        cdc_apply,
        retract_aggregate,
    )
    from gene_level_metadata_pipeline_spark.operators.temporal import (
        interval_overlap_join,
    )
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        bpe_encode,
        bpe_train,
        feature_hash,
    )

    g = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "u long, v long")
    assert kcore(g, k=2).count() == 3
    seed = spark.createDataFrame([(1,)], "node long")
    gw = spark.createDataFrame([(1, 2, 4)], "u long, v long, w long")
    assert sssp_weighted(gw, seed, max_hops=2).count() == 2
    docs = spark.createDataFrame([(1, "ab ab")], "doc_id long, text string")
    m = bpe_train(docs, rounds=1)
    assert m.count() == 1
    assert bpe_encode(docs, m).count() == 1
    assert feature_hash(docs, n_features=4).count() >= 1
    snap = spark.createDataFrame([(1, "a")], "k long, v string")
    ch = spark.createDataFrame(
        [(1, None, 1, "delete")], "k long, v string, version int, op string"
    )
    assert cdc_apply(snap, ch, "k").count() == 0
    iv = spark.createDataFrame([("u", 0, 10)], "k string, lo long, hi long")
    assert interval_overlap_join(iv, iv, "k").count() == 1
    assert golden_record(snap, "k", {"v": "mode"}).count() == 1
    assert hits_bipartite(g.limit(1), iterations=1).count() == 2
    base = spark.createDataFrame([(1, 1, None)],
                                 "k long, n long, total decimal(18,6)")
    feed = spark.createDataFrame([(1, 2.0, "insert")],
                                 "k long, v double, op string")
    assert retract_aggregate(base, feed, "k", "v").count() == 1
    two = spark.createDataFrame(
        [(1, "ab ab"), (2, "cd cd")], "doc_id long, text string"
    )
    assert source_overlap_matrix(
        two.withColumn("src", two.doc_id % 2), "src", "text", num_hashes=4
    ).count() == 1
    assert near_dup_against_history(
        docs, docs.select((docs.doc_id + 10).alias("doc_id"), "text"),
        "text", "doc_id", threshold=0.1,
    ).count() >= 0

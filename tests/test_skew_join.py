"""salted_join: bit-identical to the plain join, and physically spread.

The salt only changes WHERE rows meet (which reducer), never WHICH rows
match — asserted by exact multiset equality against the unsalted join.
The physical assertion pins the mechanism: with broadcast disabled the
salted plan sort-merge-joins on BOTH (key, salt) — a hot key hashes to
8 different reducers instead of one.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE


def _rows(df):
    return Counter(tuple(r) for r in df.collect())


def test_salted_join_equals_plain_join(spark):
    from gene_level_metadata_pipeline_spark.operators.skew import salted_join

    li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet").select(
        "l_suppkey", "l_extendedprice"
    )
    su = spark.read.parquet(f"{SF_ORACLE}/supplier.parquet").select(
        "s_suppkey", "s_nationkey"
    )
    plain = li.join(su, li.l_suppkey == su.s_suppkey)
    salted = salted_join(li, su, "l_suppkey", "s_suppkey")
    assert _rows(salted) == _rows(plain)


def test_salted_join_shuffles_on_key_and_salt(spark):
    from gene_level_metadata_pipeline_spark.operators.skew import salted_join

    li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet").select(
        "l_suppkey", "l_extendedprice"
    )
    su = spark.read.parquet(f"{SF_ORACLE}/supplier.parquet").select(
        "s_suppkey", "s_nationkey"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = salted_join(li, su, "l_suppkey", "s_suppkey")
        j.count()
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # join condition carries the salt (both sides keyed on key AND salt)
    assert "__salt" in plan and "SortMergeJoin" in plan


def test_quantize_error_bound(spark):
    """|x - q*scale| <= scale/2 element-wise, and q stays in int8 range."""
    from gene_level_metadata_pipeline_spark.operators.similarity import (
        quantize_embeddings,
    )

    d = quantize_embeddings(
        spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    )
    bad = d.select(
        F.size(
            F.filter(
                F.zip_with(
                    F.transform("embedding", lambda x: x.cast("double")),
                    F.transform("q_vec", lambda q: q * F.col("q_scale")),
                    lambda x, r: F.abs(x - r),
                ),
                lambda e: e > F.col("q_scale") / 2 + 1e-15,
            )
        ).alias("n_violations"),
        F.array_max(F.transform("q_vec", F.abs)).alias("qmax"),
    )
    agg = bad.agg(
        F.sum("n_violations").alias("v"), F.max("qmax").alias("m")
    ).collect()[0]
    assert agg.v == 0
    assert agg.m <= 127


def test_skew_split_confs_pairing(spark):
    """The measured engagement rule (r5 skew stress): threshold rides at
    4x advisory, skew split on, and the pair round-trips through
    spark.conf cleanly."""
    from gene_level_metadata_pipeline_spark.operators.skew import (
        skew_split_confs,
    )

    confs = skew_split_confs(16 * 1024 * 1024)
    assert confs["spark.sql.adaptive.skewJoin.enabled"] == "true"
    adv = int(confs["spark.sql.adaptive.advisoryPartitionSizeInBytes"])
    thr = int(
        confs[
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
        ]
    )
    assert (adv, thr) == (16 * 1024 * 1024, 64 * 1024 * 1024)
    before = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    for k, v in confs.items():
        assert spark.conf.get(k) == v
    for k, v in before.items():
        spark.conf.set(k, v)


def test_top_key_share_and_hot_keys(spark):
    from gene_level_metadata_pipeline_spark.operators.skew import (
        hot_keys,
        top_key_share,
    )

    df = spark.createDataFrame(
        [(0,)] * 6 + [(1,)] * 2 + [(2,)] * 1 + [(None,)] * 1,
        "k int",
    )
    assert abs(top_key_share(df, "k") - 0.6) < 1e-9
    # 0 holds 60%, 1 holds 20%: hot_share 0.2 catches both, in count order
    assert hot_keys(df, "k", hot_share=0.2) == [0, 1]
    # top_k caps the list
    assert hot_keys(df, "k", hot_share=0.05, top_k=1) == [0]
    empty = spark.createDataFrame([], "k int")
    assert top_key_share(empty, "k") == 0.0
    assert hot_keys(empty, "k") == []


def test_auto_skew_join_bit_identical(spark):
    """Hot-key-salted plan must return EXACTLY the plain join's multiset,
    for inner and left, including NULL keys and fact keys missing from
    the dim."""
    from gene_level_metadata_pipeline_spark.operators.skew import (
        auto_skew_join,
    )

    fact = spark.createDataFrame(
        [(0, i) for i in range(50)]          # hot key 0
        + [(1, 100), (2, 200), (None, 300),  # normal, normal, NULL
           (9, 900)],                        # key absent from dim
        "k int, payload int",
    )
    dim = spark.createDataFrame(
        [(0, "hub"), (1, "a"), (2, "b"), (3, "unmatched")],
        "dk int, name string",
    )
    key = lambda t: tuple(repr(x) for x in t)  # noqa: E731 — None-safe sort
    for how in ("inner", "left"):
        plain = sorted(
            (tuple(r) for r in
             fact.join(dim, fact.k == dim.dk, how).collect()), key=key
        )
        auto = sorted(
            (tuple(r) for r in
             auto_skew_join(fact, dim, "k", "dk", how=how,
                            hot_share=0.3, salt_buckets=4).collect()),
            key=key,
        )
        assert auto == plain, how


def test_auto_skew_join_salts_only_when_hot(spark):
    """Detection gate: a uniform key distribution must return the PLAIN
    join plan (no explode/salt nodes); a hub key must produce the salted
    plan (a Generate node from the dim-side explode)."""
    from gene_level_metadata_pipeline_spark.operators.skew import (
        auto_skew_join,
    )

    dim = spark.createDataFrame(
        [(i, f"n{i}") for i in range(10)], "dk int, name string"
    )
    uniform = spark.createDataFrame(
        [(i % 10, i) for i in range(100)], "k int, payload int"
    )
    hub = spark.createDataFrame(
        [(0, i) for i in range(91)] + [(i % 10, i) for i in range(9)],
        "k int, payload int",
    )
    plan_u = auto_skew_join(
        uniform, dim, "k", "dk", hot_share=0.3
    )._jdf.queryExecution().optimizedPlan().toString()
    plan_h = auto_skew_join(
        hub, dim, "k", "dk", hot_share=0.3
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "Generate" not in plan_u and "__salt" not in plan_u
    assert "Generate" in plan_h and "__salt" in plan_h


def test_auto_skew_join_rejects_dim_preserving_joins(spark):
    import pytest as _pytest

    from gene_level_metadata_pipeline_spark.operators.skew import (
        auto_skew_join,
    )

    df = spark.createDataFrame([(1, 1)], "k int, p int")
    dim = spark.createDataFrame([(1, "a")], "dk int, n string")
    for how in ("right", "full", "full_outer"):
        with _pytest.raises(ValueError):
            auto_skew_join(df, dim, "k", "dk", how=how)


def test_skew_scope_applies_and_restores(spark):
    from gene_level_metadata_pipeline_spark.operators.skew import (
        skew_scope,
        skew_split_confs,
    )

    keys = list(skew_split_confs())
    before = {k: spark.conf.get(k, None) for k in keys}
    with skew_scope(spark, 16 * 1024 * 1024):
        assert spark.conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        ) == str(16 * 1024 * 1024)
        assert spark.conf.get(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
        ) == str(64 * 1024 * 1024)
    after = {k: spark.conf.get(k, None) for k in keys}
    assert after == before

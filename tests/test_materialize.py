"""materialize.materialize: the cluster-reliability knob (VERDICT r10
item 4 / ADVICE r10). Three strategies, identical rows; default is the
local checkpoint the r10-opt sites used inline."""

from __future__ import annotations

import pytest

from gene_level_metadata_pipeline_spark.materialize import materialize


def _frame(spark):
    return spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id bigint, s string"
    )


def test_default_is_local_checkpoint(spark, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_MATERIALIZE", raising=False)
    out = materialize(_frame(spark))
    # a localCheckpoint truncates the plan to an ExistingRDD scan
    assert "ExistingRDD" in out._jdf.queryExecution().toString()
    assert sorted(r["id"] for r in out.collect()) == [1, 2, 3]


def test_persist_keeps_lineage_disk_only(spark, monkeypatch):
    from pyspark import StorageLevel

    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "persist")
    out = materialize(_frame(spark))
    assert out.storageLevel == StorageLevel.DISK_ONLY
    assert sorted(r["id"] for r in out.collect()) == [1, 2, 3]
    out.unpersist()


def _cache_loaded(spark, df) -> bool:
    cached = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(df._jdf)
    builder = cached.get().cachedRepresentation().cacheBuilder()
    return builder.isCachedColumnBuffersLoaded()


def test_persist_eager_materializes(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "persist")
    lazy = materialize(_frame(spark).select("id"))
    eager = materialize(_frame(spark).select("s"), eager=True)
    try:
        assert not _cache_loaded(spark, lazy)
        assert _cache_loaded(spark, eager)
    finally:
        lazy.unpersist()
        eager.unpersist()


def test_reliable_checkpoints_to_dir(spark, monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "reliable")
    # set explicitly: an earlier test may already have pointed the shared
    # session at another dir, which materialize would keep
    spark.sparkContext.setCheckpointDir(str(tmp_path))
    out = materialize(_frame(spark), eager=True)
    assert sorted(r["id"] for r in out.collect()) == [1, 2, 3]
    # the reliable checkpoint wrote RDD blocks under the given dir
    assert any(tmp_path.rglob("rdd-*")), "no checkpoint files written"


def test_reliable_without_checkpoint_dir_raises(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "reliable")
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    # the shared session's dir may have been set by an earlier test
    monkeypatch.setattr(spark.sparkContext, "getCheckpointDir", lambda: None)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CHECKPOINT_DIR"):
        materialize(_frame(spark))


def test_invalid_mode_raises(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "bogus")
    with pytest.raises(ValueError, match="SPARK_GRAFT_MATERIALIZE"):
        materialize(_frame(spark))


def test_scale_conf_materialize_recommendation():
    from tools.scale_conf import materialize_recommendation

    assert materialize_recommendation(1)["SPARK_GRAFT_MATERIALIZE"] == "local"
    assert (
        materialize_recommendation(8)["SPARK_GRAFT_MATERIALIZE"] == "persist"
    )
    big = materialize_recommendation(1000)
    assert big["SPARK_GRAFT_MATERIALIZE"] == "reliable"
    assert "SPARK_GRAFT_CHECKPOINT_DIR" in big


def test_drift_fdr_bh_pins_through_materialize(spark, monkeypatch):
    """fdr_bh's shared subtrees follow SPARK_GRAFT_MATERIALIZE: under
    persist its plan reads persisted relations, not local-checkpoint
    RDDs, and the answer is the local-mode one."""
    from pyspark.sql import functions as F

    from gene_level_metadata_pipeline_spark.operators.drift import fdr_bh

    df = spark.range(40).select(
        F.col("id"), ((F.col("id") * 7919) % 200_000).alias("p_e6")
    )
    monkeypatch.delenv("SPARK_GRAFT_MATERIALIZE", raising=False)
    expected = sorted(fdr_bh(df, num_partitions=2).collect())
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "persist")
    try:
        out = fdr_bh(df, num_partitions=2)
        plan = out._jdf.queryExecution().toString()
        assert "InMemoryRelation" in plan
        assert "ExistingRDD" not in plan
        assert sorted(out.collect()) == expected
    finally:
        spark.catalog.clearCache()

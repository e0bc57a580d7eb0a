"""The run-to-completion helpers behind every streaming entry point
(streaming/windows.py): temporary demo directories are removed once the
rows are collected, caller-supplied ones are kept, a failing query leaves
no memory-sink view behind, and pinned confs come back as they were."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F


def test_demo_entry_points_remove_their_temp_dirs(spark, tmp_path, monkeypatch):
    from gene_level_metadata_pipeline_spark.streaming.windows import (
        cdc_stream_apply,
        stream_outer_join_demo,
    )

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    outer = {tuple(r) for r in stream_outer_join_demo(spark).collect()}
    assert outer == {("c1", "p1", 1, 600), ("c2", None, 2, None)}
    cdc = {(r["k"], r["val"]) for r in cdc_stream_apply(spark).collect()}
    assert cdc == {(1, "A3"), (2, "B"), (4, "d"), (6, "F")}
    assert os.listdir(tmp) == []


def test_caller_demo_dir_is_kept(spark, tmp_path):
    from gene_level_metadata_pipeline_spark.streaming.windows import (
        stream_outer_join_demo,
    )

    d = tmp_path / "outer"
    assert stream_outer_join_demo(spark, demo_dir=str(d)).count() == 2
    assert sorted(f for f in os.listdir(d) if f.endswith(".json")) == [
        "batch_1.json", "batch_2.json", "batch_3.json",
    ]


def test_drain_failure_reraises_and_drops_sink_view(spark, tmp_path):
    from gene_level_metadata_pipeline_spark.streaming.windows import (
        _drain,
        _stage_jsonl,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    src = _stage_jsonl(spark, str(tmp_path / "in"), "v long", [[(1,), (2,)]])
    boom = src.select(
        F.when(F.col("v") == 2, F.raise_error(F.lit("boom-mid-run")))
        .otherwise(F.col("v"))
        .alias("v")
    )
    with pytest.raises(Exception, match="boom-mid-run"):
        _drain(spark, boom, "append")
    assert not [
        t.name for t in spark.catalog.listTables() if t.name.startswith("stream_")
    ]
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_pinned_confs_restores_set_and_unsets_unset(spark):
    from gene_level_metadata_pipeline_spark.streaming.windows import _pinned_confs

    unset_key = "spark.sql.streaming.stateStore.providerClass"
    set_key = "spark.sql.streaming.numRecentProgressUpdates"
    assert spark.conf.get(unset_key, None) is None
    spark.conf.set(set_key, "7")
    try:
        with _pinned_confs(spark, {unset_key: "x.Provider", set_key: "3"}):
            assert spark.conf.get(unset_key) == "x.Provider"
            assert spark.conf.get(set_key) == "3"
        assert spark.conf.get(unset_key, None) is None
        assert spark.conf.get(set_key) == "7"
    finally:
        spark.conf.unset(set_key)

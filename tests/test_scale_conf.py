"""scale_conf.recommend: sizing arithmetic sanity at three scales."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tools.scale_conf import GB, MB, TB, parse_size, recommend


def test_100tb_1000_executors():
    conf = recommend(100 * TB, 1000, 16, 64)
    parts = int(conf["spark.sql.shuffle.partitions"])
    # 100 TB / 128 MB = 819200 raw → capped at 131072 (scheduler bound);
    # the cap wins over full-wave rounding (AQE coalesce evens the tail)
    assert parts == 131_072
    bc = int(conf["spark.sql.autoBroadcastJoinThreshold"])
    assert 10 * MB <= bc <= 512 * MB
    # 2% of 64 GiB ≈ 1.28 GiB → clamped to 512 MB
    assert bc == 512 * MB


def test_1tb_fits_full_waves():
    conf = recommend(1 * TB, 50, 8, 32)
    parts = int(conf["spark.sql.shuffle.partitions"])
    raw = (1 * TB) // (128 * MB)  # 8192
    assert parts >= raw
    assert parts % (50 * 8) == 0
    # within one extra wave of the raw requirement
    assert parts - raw < 50 * 8


def test_small_scale_floors():
    conf = recommend(10 * GB, 1, 32, 128)
    parts = int(conf["spark.sql.shuffle.partitions"])
    assert parts % 32 == 0 and parts <= 128
    assert conf["spark.sql.adaptive.enabled"] == "true"


def test_wide_rows_halve_scan_split():
    assert (
        int(recommend(1 * TB, 10, 8, 32, wide_rows=True)[
            "spark.sql.files.maxPartitionBytes"
        ])
        == 64 * MB
    )


def test_parse_size():
    assert parse_size("100TB") == 100 * TB
    assert parse_size("1.5GB") == int(1.5 * GB)
    assert parse_size("4096") == 4096


def test_iterative_shuffle_partitions_calibration(spark):
    """sizing.iterative_shuffle_partitions: the 30x stress point (~4M
    edge rows, 32 cores, session at 32) must size to >= 128 partitions —
    the measured spill-removing setting — while the 1x bench frame stays
    at the session default (never downsizes)."""
    from gene_level_metadata_pipeline_spark.sizing import (
        MAX_SHUFFLE_PARTITIONS,
        iterative_shuffle_partitions,
    )

    cores = spark.sparkContext.defaultParallelism
    current = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # 30x-stress shape
    big = iterative_shuffle_partitions(spark, 4_000_000)
    assert big >= max(128, current)
    assert big % cores == 0
    # 1x bench shape: small frame never shrinks the session conf
    assert iterative_shuffle_partitions(spark, 10_000) == current
    # scheduler-pressure cap
    assert (
        iterative_shuffle_partitions(spark, 10**13) == MAX_SHUFFLE_PARTITIONS
    )


def test_sized_shuffle_sets_and_restores(spark):
    """The context manager pins the sized value inside the window and
    restores the session conf on exit (also on error)."""
    import pytest

    from gene_level_metadata_pipeline_spark.sizing import sized_shuffle

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with sized_shuffle(spark, 4_000_000) as sz:
        assert int(spark.conf.get(key)) == sz.parts >= 128
        assert sz.changed == (int(before) != sz.parts)
    assert spark.conf.get(key) == before
    with pytest.raises(RuntimeError, match="boom"):
        with sized_shuffle(spark, 4_000_000):
            raise RuntimeError("boom")
    assert spark.conf.get(key) == before


def test_graph_ops_sized_and_correct(spark):
    """connected_components/pagerank still converge to the same labels
    under the self-sizing path, and the session conf is untouched after
    the call."""
    from gene_level_metadata_pipeline_spark.operators.graph import (
        connected_components,
        pagerank,
    )

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], "doc_a bigint, doc_b bigint"
    )
    comp = {r["doc_id"]: r["component"]
            for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}
    pr = pagerank(pairs, src="doc_a", dst="doc_b").collect()
    assert len(pr) == 6 and all(r["pr"] > 0 for r in pr)
    assert spark.conf.get(key) == before

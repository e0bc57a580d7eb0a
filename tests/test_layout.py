"""Storage-layout scale strategies: partition pruning (static and
dynamic) on partitioned parquet.

At 100 TB the bronze zone is partitioned by source/release (SURVEY §4 /
PLANS.md); these tests prove both pruning paths on the executed plan:
  * static pruning — a literal filter on the partition column reaches the
    scan as a PartitionFilter and the scan reads only matching
    directories;
  * dynamic partition pruning (DPP) — a filter on a joined dimension
    prunes the partitioned fact scan at runtime via a reused broadcast
    subquery (no literal filter on the fact exists in the query).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_static_partition_pruning(spark, tmp_path):
    path = str(tmp_path / "part_events")
    src = spark.range(0, 1000).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 4).alias("shard"),
        (F.col("id") * 2).alias("value"),
    )
    src.write.partitionBy("shard").mode("overwrite").parquet(path)

    df = spark.read.parquet(path).where(F.col("shard") == 2)
    plan = _executed_plan(df)
    scan = [ln for ln in plan.splitlines() if "FileScan" in ln][0]
    assert "PartitionFilters" in scan and "shard" in scan
    # only 1 of 4 shard directories is read
    assert df.rdd.getNumPartitions() >= 1
    assert df.count() == 250
    files = df.select(F.input_file_name()).distinct().collect()
    assert all("shard=2" in r[0] for r in files)


def test_dynamic_partition_pruning(spark, tmp_path):
    path = str(tmp_path / "fact")
    fact = spark.range(0, 2000).select(
        F.col("id").alias("k"),
        (F.col("id") % 10).alias("pdate"),
        (F.col("id") % 97).alias("v"),
    )
    fact.write.partitionBy("pdate").mode("overwrite").parquet(path)
    dim = spark.range(0, 10).select(
        F.col("id").alias("d_date"),
        F.when(F.col("id") < 2, "hot").otherwise("cold").alias("tier"),
    )
    joined = (
        spark.read.parquet(path)
        .join(dim, F.col("pdate") == F.col("d_date"))
        .where(F.col("tier") == "hot")
    )
    plan = _executed_plan(joined)
    assert "dynamicpruning" in plan.lower()
    assert joined.count() == 400  # 2 of 10 partitions
    files = joined.select(F.input_file_name()).distinct().collect()
    assert {f[0].split("pdate=")[1].split("/")[0] for f in files} == {"0", "1"}


def test_file_metadata_provenance(spark, tmp_path):
    """Provenance via the hidden _metadata struct: every file-source row
    can carry its source file and modification time — the lineage column
    a bronze zone records at 100 TB (which file produced this row)."""
    path = str(tmp_path / "prov")
    spark.range(0, 100).selectExpr("id", "id % 3 AS shard").write.partitionBy(
        "shard"
    ).mode("overwrite").parquet(path)
    df = spark.read.parquet(path).select(
        "id",
        F.col("_metadata.file_path").alias("src_file"),
        F.col("_metadata.file_size").alias("src_size"),
    )
    rows = df.collect()
    assert len(rows) == 100
    assert all(r.src_file.endswith(".parquet") and r.src_size > 0 for r in rows)
    # rows from different shards come from different files
    by_id = {r.id: r.src_file for r in rows}
    assert by_id[0] != by_id[1]


def test_zorder_bucket_envelopes_bounded(spark):
    """Within a Z-bucket of 4096 = 2^12 values the 4 interleaved top bits
    are fixed -> each dimension's envelope spans at most 2^6 = 64 values;
    a 1-D sort on zx alone would leave zy envelopes at the full 256."""
    from gene_level_metadata_pipeline_spark.operators.layout import zorder_value
    from pyspark.sql import functions as F

    df = spark.range(0, 4096).select(
        (F.col("id") % 256).alias("zx"), (F.floor(F.col("id") / 16) % 256).alias("zy")
    )
    z = df.withColumn("zv", zorder_value(["zx", "zy"]))
    stats = (
        z.groupBy((F.col("zv") / 4096).cast("long").alias("bucket"))
        .agg(
            (F.max("zx") - F.min("zx")).alias("span_x"),
            (F.max("zy") - F.min("zy")).alias("span_y"),
        )
        .collect()
    )
    assert stats, "no buckets produced"
    for r in stats:
        assert r.span_x <= 63, r
        assert r.span_y <= 63, r


def test_rebalance_hint_sizes_output_files(spark, tmp_path):
    """REBALANCE hint: AQE splits/coalesces shuffle blocks to target-size
    output partitions — the write-path answer to both small-files (too
    many tiny tasks) and skew (one giant task) when laying down bronze.
    Unlike repartition(n) it needs no hand-picked n: the optimized plan
    carries RebalancePartitions and AQE picks the partition count from
    runtime block sizes (advisoryPartitionSizeInBytes)."""
    df = spark.range(0, 100_000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
    )
    hinted = df.hint("rebalance", "grp")
    opt = hinted._jdf.queryExecution().optimizedPlan().toString()
    assert "RebalancePartitions" in opt or "rebalance" in opt.lower()

    out = str(tmp_path / "rebalanced")
    hinted.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    assert back.count() == 100_000
    assert sorted(r.grp for r in back.select("grp").distinct().collect()) == list(
        range(7)
    )

    # SQL-text form of the same hint
    df.createOrReplaceTempView("rebalance_src")
    sql_opt = (
        spark.sql("SELECT /*+ REBALANCE(grp) */ * FROM rebalance_src")
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "RebalancePartitions" in sql_opt or "rebalance" in sql_opt.lower()

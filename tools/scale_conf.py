"""Cluster-conf advisor: input scale + cluster shape → Spark SQL confs.

The engine's plans are scale-independent (PLANS.md); what changes at
100 TB is the *sizing* — shuffle partition count, partition bytes,
broadcast budget. This tool makes the arithmetic explicit and testable
instead of folklore. Derivations:

* ``shuffle.partitions``: post-scan data / target partition size (128 MB
  in flight), floored to a multiple of total cores so every wave is
  full, capped at 128k (scheduler pressure). AQE coalesces the tail, so
  erring high is cheap; erring low spills.
* ``files.maxPartitionBytes``: scan-side split size. Default 128 MB is
  right almost always; drop to 64 MB only when rows are very wide
  (multimodal binary columns) so a split still fits comfortably in the
  task's working memory.
* ``autoBroadcastJoinThreshold``: a broadcast table materializes on the
  DRIVER and once per executor; budget ~2% of executor heap, clamped to
  [10 MB, 512 MB]. The ~20k-row gene spine (~1 MB) broadcasts at any
  setting; a 1 GB dim never should.
* ``advisoryPartitionSizeInBytes`` (AQE target after coalesce/skew
  split) follows the in-flight target.
* skew thresholds: AQE splits a partition when it exceeds
  max(skewedPartitionThresholdInBytes, factor × median); keep the
  threshold at 2× the advisory size so splits engage before spill.

Usage:
    python tools/scale_conf.py 100TB 1000 16 64   # data, executors,
                                                  # cores/exec, GiB/exec
"""

from __future__ import annotations

import sys

MB = 1024**2
GB = 1024**3
TB = 1024**4

TARGET_PARTITION_BYTES = 128 * MB
MAX_SHUFFLE_PARTITIONS = 131_072


def parse_size(s: str) -> int:
    s = s.strip().upper()
    for suffix, mult in (("TB", TB), ("GB", GB), ("MB", MB)):
        if s.endswith(suffix):
            return int(float(s[: -len(suffix)]) * mult)
    return int(s)


def recommend(
    input_bytes: int,
    executors: int,
    cores_per_executor: int,
    mem_per_executor_gb: float,
    wide_rows: bool = False,
) -> dict[str, str]:
    total_cores = max(1, executors * cores_per_executor)

    raw = max(1, input_bytes // TARGET_PARTITION_BYTES)
    # round UP to a multiple of total cores (full waves), cap for scheduler
    shuffle = min(
        MAX_SHUFFLE_PARTITIONS,
        ((raw + total_cores - 1) // total_cores) * total_cores,
    )

    scan_split = (64 if wide_rows else 128) * MB

    heap = mem_per_executor_gb * GB
    broadcast = int(min(512 * MB, max(10 * MB, heap * 0.02)))

    return {
        "spark.sql.shuffle.partitions": str(shuffle),
        "spark.sql.files.maxPartitionBytes": str(scan_split),
        "spark.sql.autoBroadcastJoinThreshold": str(broadcast),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(TARGET_PARTITION_BYTES),
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": str(
            2 * TARGET_PARTITION_BYTES
        ),
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "5",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.runtime.bloomFilter.enabled": "true",
    }


def materialize_recommendation(executors: int) -> dict[str, str]:
    """Deployment advice for the engine's shared-subtree materialization
    points (gene_level_metadata_pipeline_spark.materialize — VERDICT r10
    item 4): ``localCheckpoint`` blocks are executor-local and
    unrecoverable after an executor loss, so the more executors a job
    spans (and the longer it runs), the more that trade costs.
    Single-node / local mode: executor loss == process loss, reliability
    adds nothing — keep ``local``. Small clusters: ``persist``
    (DISK_ONLY keeps lineage, so a lost executor recomputes instead of
    failing; no distributed-FS traffic; its blocks stay pinned on
    executor disk until unpersisted, so size local disk for every
    materialization a session makes). Large fleets, where some
    executor loss per long job is expected: ``reliable`` (DataFrame
    .checkpoint to SPARK_GRAFT_CHECKPOINT_DIR on the cluster FS)."""
    if executors <= 1:
        mode = "local"
    elif executors <= 32:
        mode = "persist"
    else:
        mode = "reliable"
    out = {"SPARK_GRAFT_MATERIALIZE": mode}
    if mode == "reliable":
        out["SPARK_GRAFT_CHECKPOINT_DIR"] = "<cluster-fs path, e.g. hdfs://...>"
    return out


def main(argv: list[str]) -> None:
    if len(argv) != 4:
        print(__doc__)
        raise SystemExit(2)
    data, execs, cores, mem = argv
    conf = recommend(parse_size(data), int(execs), int(cores), float(mem))
    env = materialize_recommendation(int(execs))
    width = max(len(k) for k in list(conf) + list(env))
    for k, v in conf.items():
        print(f"{k:<{width}}  {v}")
    print("# engine env (materialization strategy — see materialize.py):")
    for k, v in env.items():
        print(f"{k:<{width}}  {v}")


if __name__ == "__main__":
    main(sys.argv[1:])

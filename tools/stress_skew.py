"""Skewed-hub join stress (VERDICT r4 item 4).

SURVEY §4 names STRING hub proteins as the real skew at scale: an edge
list where one node collects a large share of all edges, decorated by
joining node attributes onto each endpoint. ``salted_join`` and AQE's
skew-join split are plan-asserted (tests/test_skew_join.py) but were
never MEASURED under a hot key — this harness builds a hub-skewed edge
list (one destination node holding ~20% of all edges) plus a
non-broadcastable attribute dimension, and times the decoration join:

  * plain      — sort-merge join, AQE skew split disabled: the hub key's
                 whole row group lands on one reducer (the straggler).
  * aqe-default— skew split enabled with stock thresholds
                 (256 MB skewedPartitionThresholdInBytes): shows whether
                 the defaults even ENGAGE at this scale.
  * aqe-tuned  — thresholds sized to the rig (threshold 32 MB, advisory
                 8 MB): the split actually fires.
  * salted     — operators.skew.salted_join (static salting, skew split
                 off): the explicit mitigation for KNOWN hot keys.

Broadcast is disabled throughout: at 100 TB the attribute table is not
broadcastable, and letting the 2M-row dim broadcast locally would
measure nothing. Results land in PLANS.md.

Usage: python tools/stress_skew.py   (writes only under /tmp)
"""

from __future__ import annotations

import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DIR = "/tmp/spark_graft_stress_skew"
N_NODES = 2_000_000
N_EDGES = 60_000_000
HUB_SHARE = 0.40
REPS = 2


def build(spark) -> None:
    from pyspark.sql import functions as F

    if os.path.isdir(DIR):
        shutil.rmtree(DIR)
    n_hub = int(N_EDGES * HUB_SHARE)
    spread = F.lit(2654435761)  # Knuth multiplicative-hash spread
    plain = spark.range(N_EDGES - n_hub).select(
        (F.col("id") % N_NODES).alias("u"),
        F.pmod(F.col("id") * spread, F.lit(N_NODES)).alias("v"),
    )
    hub = spark.range(n_hub).select(
        F.pmod(F.col("id") * spread + 1, F.lit(N_NODES)).alias("u"),
        F.lit(0).cast("long").alias("v"),  # every hub edge hits node 0
    )
    plain.unionByName(hub).write.mode("overwrite").parquet(f"{DIR}/edges")
    spark.range(N_NODES).select(
        F.col("id").alias("node"),
        (F.col("id") % 997 / 997.0).alias("a1"),
        (F.col("id") % 9973 / 9973.0).alias("a2"),
    ).write.mode("overwrite").parquet(f"{DIR}/attrs")


def main() -> None:
    from pyspark.sql import functions as F

    from gene_level_metadata_pipeline_spark.operators.skew import (
        auto_skew_join,
        salted_join,
    )
    from gene_level_metadata_pipeline_spark.session import get_spark

    spark = get_spark("stress-skew")
    spark.sparkContext.setLogLevel("ERROR")
    build(spark)
    edges = spark.read.parquet(f"{DIR}/edges")
    attrs = spark.read.parquet(f"{DIR}/attrs")

    SKEW = "spark.sql.adaptive.skewJoin.enabled"
    THRESH = "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
    ADVISE = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    BCAST = "spark.sql.autoBroadcastJoinThreshold"
    defaults = {k: spark.conf.get(k) for k in (SKEW, THRESH, ADVISE, BCAST)}

    def plain_join():
        return edges.join(attrs, edges.v == attrs.node)

    def salted():
        return salted_join(edges, attrs, "v", "node")

    variants = [
        ("plain (skew split off)", plain_join, {SKEW: "false", BCAST: "-1"}),
        ("aqe-default (256MB thresh)", plain_join, {SKEW: "true", BCAST: "-1"}),
        (
            "aqe-tuned (32MB/8MB)",
            plain_join,
            {SKEW: "true", THRESH: "33554432", ADVISE: "8388608", BCAST: "-1"},
        ),
        ("salted_join (8 buckets)", salted, {SKEW: "false", BCAST: "-1"}),
        # the r6 auto path: stock session confs, the operator detects the
        # hub itself and scopes the tuned pair around its own execution
        (
            "auto_skew_join (stock confs)",
            lambda: auto_skew_join(edges, attrs, "v", "node"),
            {BCAST: "-1"},
        ),
        # sampled detection: the 100 TB shape — a 1% seeded sample finds
        # a 40% hub with certainty at a fraction of the histogram cost
        (
            "auto_skew_join (1% sample)",
            lambda: auto_skew_join(
                edges, attrs, "v", "node", sample_fraction=0.01
            ),
            {BCAST: "-1"},
        ),
    ]
    print(f"hub share {HUB_SHARE:.0%} of {N_EDGES} edges, {N_NODES} nodes")
    print(f"{'variant':30s} {'sec':>8s}")
    for name, fn, confs in variants:
        for k, v in {**defaults, **confs}.items():
            spark.conf.set(k, v)
        best = float("inf")
        for _ in range(REPS):
            t0 = time.time()
            fn().write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        print(f"{name:30s} {best:8.2f}", flush=True)
    for k, v in defaults.items():
        spark.conf.set(k, v)
    shutil.rmtree(DIR, ignore_errors=True)


if __name__ == "__main__":
    main()

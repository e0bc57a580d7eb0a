"""One-off scaling stress for the dedup/ANN families (VERDICT r2 item 7).

Builds a 10x replica of sf0.1's documents/embeddings under /tmp (ids
offset per replica; EVERY text token salted with the replica id so
near-dup structure stays per-replica instead of collapsing), then times
the three flagship scale designs at 1x vs 10x and prints the wall-time
ratio. Linear-ish ratios (~10x work on 32 local cores => <=10x time for
shuffle-bound ops, often less thanks to fixed overheads) are the
measured evidence behind the "100 TB-safe" design claims in PLANS.md.

Token salting (r10, VERDICT r9 item 3): the old fixture appended ONE
" repN" token per text, which kept replicas distinct for EXACT dedup
but left every doc a TRUE Jaccard near-dup of its R-1 replica copies
(one differing token out of n), so any exact set-similarity answer grew
~R^2 by construction — a fixture artifact, not an operator property,
and it blocked the 100x growth measurement for
dedup_set_similarity_exact. Salting every token ("tok" -> "tok~rN",
replica 0 kept verbatim) makes cross-replica token sets DISJOINT
(Jaccard ~0 < any threshold) while within-replica similarity is exactly
the 1x shape: an injective per-token rename applied uniformly to a
replica preserves token-set sizes, intersections and unions, so the
qualifying output is R x (1x output) — linear, the property a growth
curve needs.

Each replica directory gets a ``_fixture_fingerprint.json`` (sha256 of
this file's source + the replica count) so sweep tools can tell a
current fixture from a stale one instead of trusting the directory name
(ADVICE r9).

Usage: python tools/stress_scale.py    (writes nothing outside /tmp)
"""

from __future__ import annotations

import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = "/root/testdata/sf0.1"
# STRESS_DIR override lets the 100x sweep build its replica beside the
# 10x one instead of clobbering it (VERDICT r8 item 6)
STRESS = os.environ.get("STRESS_DIR", "/tmp/spark_graft_stress_sf1")
# STRESS_REPLICAS / STRESS_QUERIES env overrides let one-off runs probe a
# different scale point (e.g. 30x on the two hashing-bound flagships)
# without editing the committed 10x default.
REPLICAS = int(os.environ.get("STRESS_REPLICAS", "10"))
QUERIES = (
    os.environ["STRESS_QUERIES"].split(",")
    if os.environ.get("STRESS_QUERIES")
    else [
        "dedup_minhash_lsh",
        "dedup_components",
        "ann_ivf_kmeans_topk",
        "near_dup_pairs",
        "training_corpus_pipeline",
        "dedup_semantic",
    ]
)


def fingerprint(replicas: int) -> dict:
    """Identity of the fixture a replica dir SHOULD contain: the build
    recipe (this file's bytes) + the replica count. Lets sweeps detect a
    stale replica built by an older fixture (ADVICE r9)."""
    import hashlib

    with open(os.path.abspath(__file__), "rb") as fh:
        sha = hashlib.sha256(fh.read()).hexdigest()
    return {"recipe_sha256": sha, "replicas": replicas}


def build(spark) -> None:
    import json

    from pyspark.sql import functions as F

    if os.path.isdir(STRESS):
        shutil.rmtree(STRESS)
    os.makedirs(STRESS)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    n_doc = 10_000_000
    n_vec = 10_000_000
    reps = spark.range(REPLICAS).select(F.col("id").alias("__r"))
    # r10: per-replica token SALT (see module docstring) — replica 0 is
    # the verbatim 1x corpus, replica r>0 suffixes every whitespace
    # token with "~r<r>". Cross-replica Jaccard collapses to ~0 while
    # within-replica similarity structure is exactly the 1x shape.
    salted = F.array_join(
        F.transform(
            F.filter(F.split(F.col("text"), " "), lambda x: x != ""),
            lambda t: F.concat(
                t, F.lit("~r"), F.col("__r").cast("string")
            ),
        ),
        " ",
    )
    big_docs = docs.crossJoin(reps).select(
        (F.col("doc_id") + F.col("__r") * n_doc).alias("doc_id"),
        F.when(F.col("__r") == 0, F.col("text"))
        .otherwise(salted)
        .alias("text"),
        *[c for c in docs.columns if c not in ("doc_id", "text")],
    )
    # r7 fix: replicate embeddings with a PER-REPLICA cyclic dimension
    # rotation — an orthogonal transform, so every replica's internal
    # geometry (distances, cosines, neighbor structure) is EXACTLY the
    # 1x shape, while cross-replica similarity is scrambled. Without it
    # every vector had 9 exact clones across replicas and pair-shaped
    # similarity outputs (semantic dedup, near-dup, ANN ties) blew up
    # quadratically instead of scaling 10x — the embedding analogue of
    # the " repN" text tag above.
    dim = len(emb.select("embedding").first()["embedding"])
    rot = F.expr(
        f"concat(slice(embedding, pmod(__r, {dim}) + 1, "
        f"{dim} - pmod(__r, {dim})), "
        f"slice(embedding, 1, pmod(__r, {dim})))"
    )
    big_emb = emb.crossJoin(reps).select(
        (F.col("vec_id") + F.col("__r") * n_vec).alias("vec_id"),
        rot.alias("embedding"),
        *[c for c in emb.columns if c not in ("vec_id", "embedding")],
    )
    big_docs.write.mode("overwrite").parquet(f"{STRESS}/documents.parquet")
    big_emb.write.mode("overwrite").parquet(f"{STRESS}/embeddings.parquet")
    # r5: the temporal/graph flagships read events and lineitem — replicate
    # those too, with per-replica id offsets so window partitions (users)
    # and the co-occurrence graph stay per-replica instead of collapsing
    ev = spark.read.parquet(f"{SF}/events.parquet")
    big_ev = ev.crossJoin(reps).select(
        (F.col("event_id") + F.col("__r") * F.lit(10 ** 9)).alias("event_id"),
        (F.col("user_id") + F.col("__r") * F.lit(10 ** 7)).alias("user_id"),
        *[c for c in ev.columns if c not in ("event_id", "user_id")],
    )
    big_ev.write.mode("overwrite").parquet(f"{STRESS}/events.parquet")
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    big_li = li.crossJoin(reps).select(
        (F.col("l_orderkey") + F.col("__r") * F.lit(10 ** 10)).alias(
            "l_orderkey"
        ),
        (F.col("l_partkey") + F.col("__r") * F.lit(10 ** 8)).alias(
            "l_partkey"
        ),
        (F.col("l_suppkey") + F.col("__r") * F.lit(10 ** 7)).alias(
            "l_suppkey"
        ),
        *[
            c
            for c in li.columns
            if c not in ("l_orderkey", "l_partkey", "l_suppkey")
        ],
    )
    big_li.write.mode("overwrite").parquet(f"{STRESS}/lineitem.parquet")
    # r6: harmonize_catalog_width folds orders+lineitem aggregates onto the
    # customer spine — replicate orders (o_orderkey offset matching
    # lineitem's l_orderkey so the two-hop join stays consistent) and
    # customer (c_custkey offset matching o_custkey) so row-scale stress
    # keeps the join cardinalities of the 1x shape per replica
    ords = spark.read.parquet(f"{SF}/orders.parquet")
    big_ord = ords.crossJoin(reps).select(
        (F.col("o_orderkey") + F.col("__r") * F.lit(10 ** 10)).alias(
            "o_orderkey"
        ),
        (F.col("o_custkey") + F.col("__r") * F.lit(10 ** 7)).alias(
            "o_custkey"
        ),
        *[c for c in ords.columns if c not in ("o_orderkey", "o_custkey")],
    )
    big_ord.write.mode("overwrite").parquet(f"{STRESS}/orders.parquet")
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    big_cust = cust.crossJoin(reps).select(
        (F.col("c_custkey") + F.col("__r") * F.lit(10 ** 7)).alias(
            "c_custkey"
        ),
        *[c for c in cust.columns if c != "c_custkey"],
    )
    big_cust.write.mode("overwrite").parquet(f"{STRESS}/customer.parquet")
    # remaining tables: symlink 1x copies (the three stress queries don't
    # read them, but the loader API expects the directory layout)
    for f in os.listdir(SF):
        dst = os.path.join(STRESS, f)
        if not os.path.exists(dst):
            os.symlink(os.path.join(SF, f), dst)
    with open(os.path.join(STRESS, "_fixture_fingerprint.json"), "w") as fh:
        json.dump(fingerprint(REPLICAS), fh)


def main() -> None:
    from gene_level_metadata_pipeline_spark.plans import driver_queries as dq
    from gene_level_metadata_pipeline_spark.session import get_spark

    spark = get_spark("stress")
    spark.sparkContext.setLogLevel("ERROR")
    build(spark)

    print(f"{'query':28s} {'1x_sec':>8s} {'10x_sec':>8s} {'ratio':>6s}")
    for name in QUERIES:
        fn = dq.QUERIES[name]
        t = {}
        for label, d in (("1x", SF), ("10x", STRESS)):
            best = float("inf")
            for _ in range(2):
                t0 = time.time()
                fn(spark, d).write.format("noop").mode("overwrite").save()
                best = min(best, time.time() - t0)
            t[label] = best
        print(
            f"{name:28s} {t['1x']:8.2f} {t['10x']:8.2f} "
            f"{t['10x'] / t['1x']:6.2f}"
        )
    shutil.rmtree(STRESS, ignore_errors=True)


if __name__ == "__main__":
    main()

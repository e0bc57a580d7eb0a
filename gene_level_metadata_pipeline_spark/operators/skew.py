"""Skew-mitigation operators: salting for hot keys.

AQE's skew-join splitting (on in session defaults) handles most runtime
skew; salting is the explicit tool for *aggregation* skew and for joins
whose hot keys are known upfront (hub proteins in STRING-style edge lists,
boilerplate LSH buckets — SURVEY.md §4).

``salted_agg`` is the two-phase pattern: salt the key → partial aggregate
on (key, salt) — spreading one hot key over ``salt_buckets`` reducers —
then final-aggregate the partials on the key alone. Works for any
algebraic aggregate (sum/count/min/max); averages must be decomposed into
sum+count by the caller.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "salted_agg",
    "salted_count",
    "salted_join",
    "skew_split_confs",
    "skew_scope",
    "top_key_share",
    "auto_skew_join",
]


def skew_split_confs(advisory_bytes: int = 8 * 1024 * 1024) -> dict[str, str]:
    """AQE confs that make the skew-join split actually ENGAGE for the
    given partition sizing — measured, not folklore (r5 skew stress,
    tools/stress_skew.py): on a 40%-hub decoration join at local scale
    the stock pair (256 MB threshold, 64 MB advisory) never split
    (9.6s, same as split-off), and lowering EITHER knob alone changed
    nothing (9.6s / 8.7s); only the pair together engaged the split
    (2.5-2.9s, 3.3x). Threshold rides at 4x the advisory size so a
    partition must be markedly over target before the split pays its
    re-planning cost.

    Not session defaults: the small advisory size costs a non-skewed
    workload ~30% in task overhead (measured on the bench headline
    set) — apply these per known-skew job::

        for k, v in skew_split_confs().items():
            spark.conf.set(k, v)

    For cluster submits, tools/scale_conf.py emits the 128 MB-partition
    equivalents of the same rule.
    """
    return {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(advisory_bytes),
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": str(
            4 * advisory_bytes
        ),
    }


@contextmanager
def skew_scope(spark: SparkSession, advisory_bytes: int = 8 * 1024 * 1024):
    """Apply :func:`skew_split_confs` for the duration of a block and
    RESTORE the prior values after — the conf pair is a measured ~30%
    tax on non-skewed work (PLANS.md skew stress finding 2), so it must
    never outlive the skewed job it was set for. Spark reads these confs
    at ACTION time: the join/write/collect must execute inside the
    block, not merely be declared there::

        with skew_scope(spark):
            fact.join(dim, ...).write.parquet(out)
    """
    confs = skew_split_confs(advisory_bytes)
    prior = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def top_key_share(df: DataFrame, key: str) -> float:
    """Share of rows held by the single hottest ``key`` value — the cheap
    histogram that decides whether a join needs skew mitigation. One
    aggregation pass over the full frame (map-side combine,
    key-cardinality-sized shuffle). NULL keys count like any other
    value — a NULL hub is still a straggler. Returns 0.0 for an empty
    frame."""
    row = (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(F.max("__n").alias("__mx"), F.sum("__n").alias("__tot"))
        .first()
    )
    if row is None or not row["__tot"]:
        return 0.0
    return row["__mx"] / row["__tot"]


def hot_keys(
    df: DataFrame,
    key: str,
    hot_share: float = 0.05,
    top_k: int = 16,
    sample_fraction: float | None = None,
) -> list:
    """Key VALUES holding at least ``hot_share`` of the rows (at most the
    ``top_k`` hottest) — the detection half of :func:`auto_skew_join`.
    One aggregation pass over the (optionally sampled) frame; the
    key-cardinality-sized count table is pinned with a localCheckpoint
    so the total and the top-k read it twice without rescanning the
    input. Sampling is seeded (42), so re-runs are identical.

    Sampling bound (round-7, tests/test_property_skew.py): a Bernoulli
    sample at fraction f estimates a key's share with
    std ~ sqrt(n_k*(1-f)/f)/N, so detection agrees with the full scan
    only OUTSIDE a margin around ``hot_share`` — the pinned property
    is that keys at >= 2x hot_share are always detected and keys at
    <= 0.5x never are (>= 5 sigma at the tested row counts), while the
    band in between may flip. That is acceptable ONLY because
    :func:`auto_skew_join` is bit-identical to the plain join under
    any detection outcome (also property-pinned): a gray-band miss
    costs straggler time, never rows. Size ``sample_fraction`` so the
    hottest key you must catch keeps n_k*f >> 1/(margin^2)."""
    scanned = df if sample_fraction is None else df.sample(
        fraction=sample_fraction, seed=42
    )
    counts = (
        scanned.groupBy(F.col(key).alias("__k"))
        .agg(F.count(F.lit(1)).alias("__n"))
        .localCheckpoint(eager=True)
    )
    tot_row = counts.agg(F.sum("__n").alias("t")).first()
    total = tot_row["t"] if tot_row else None
    if not total:
        return []
    top = (
        counts.where(F.col("__n") >= hot_share * total)
        .orderBy(F.desc("__n"), "__k")
        .limit(top_k)
        .collect()
    )
    return [r["__k"] for r in top]


def auto_skew_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    how: str = "inner",
    hot_share: float = 0.05,
    salt_buckets: int = 32,
    sample_fraction: float | None = None,
) -> DataFrame:
    """Decoration join that applies skew mitigation by itself (VERDICT
    r5 task 5): callers no longer need to know they have a hub key.

    Detection: :func:`hot_keys` histograms the fact key (one cheap
    aggregation; sampled at scale via ``sample_fraction``) and salts at
    most the 16 hottest keys. No hot key
    → the plain lazy join, zero plan change, stock session confs (which
    the r5 stress showed are what non-skewed work wants).

    Mitigation is TARGETED salting — the classic known-hot-key skew
    join, and the fix for both measured failure modes of the r5
    alternatives (PLANS.md skew stress): blanket ``salted_join``
    replicates the ENTIRE dim ``salt_buckets``× (9.4s on the 40%-hub
    stress — the replication shuffle overtakes the straggler win), and
    the tuned-AQE-conf pair only works when set at action time (a
    session-wide tax the engine refuses). Here only the detected hot
    keys salt: hot fact rows spread over ``salt_buckets`` reducers
    (deterministic row-hash salt), everything else keeps salt 0, and
    only the hot DIM rows explode ``salt_buckets``× — replication cost
    O(hot_keys x buckets) rows instead of O(|dim| x buckets). The plan
    stays fully lazy, conf-free, and AQE-independent. Measured on the
    stress (same run, stock confs, 1% sampled detection): 5.4s vs
    10.4s plain and 5.8s blanket salting, approaching the tuned-AQE
    pair's 3.1s WITHOUT its action-time conf requirement. (A
    scoped-conf wrapper was tried first and measured 19.6s: the confs
    only apply at action time, so the operator had to materialize
    eagerly inside the scope, and the materialization cost more than
    the straggler — recorded in PLANS.md round 6.)

    Bit-identical to the plain join: every fact row carries exactly one
    salt and its (key, salt) dim partner exists exactly once per
    original dim row, so inner/left/semi/anti multiplicities are
    preserved; unmatched-dim-preserving joins (right/full) would see
    exploded hot dim rows ``salt_buckets``× when unmatched and are
    rejected.
    """
    if how.lower().replace("_", "") not in (
        "inner", "left", "leftouter", "leftsemi", "semi", "leftanti", "anti",
    ):
        raise ValueError(
            f"auto_skew_join: how={how!r} would replicate unmatched hot "
            "dim rows; use inner/left/semi/anti or a plain join"
        )
    hot = hot_keys(
        fact, fact_key,
        hot_share=hot_share, top_k=16, sample_fraction=sample_fraction,
    )
    hot = [k for k in hot if k is not None]
    if not hot:
        return fact.join(dim, fact[fact_key] == dim[dim_key], how)
    salted_fact = fact.withColumn(
        "__salt",
        F.when(
            F.col(fact_key).isin(hot),
            F.pmod(F.hash(*fact.columns), F.lit(salt_buckets)),
        ).otherwise(F.lit(0)),
    )
    salted_dim = dim.withColumn(
        "__salt",
        F.explode(
            F.when(
                F.col(dim_key).isin(hot),
                F.sequence(F.lit(0), F.lit(salt_buckets - 1)),
            ).otherwise(F.array(F.lit(0)))
        ),
    )
    cond = (salted_fact[fact_key] == salted_dim[dim_key]) & (
        salted_fact["__salt"] == salted_dim["__salt"]
    )
    return salted_fact.join(salted_dim, cond, how).drop("__salt")


def salted_agg(
    df: DataFrame,
    keys: list[str],
    partial_aggs: list[Column],
    final_aggs: list[Column],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase aggregation over a salted key.

    ``partial_aggs`` run per (keys, salt); ``final_aggs`` must re-combine
    the partial columns per keys (e.g. partial ``sum(x) as s`` → final
    ``sum(s) as s``). The salt is a deterministic spread — hash of the
    whole input row — so re-runs produce identical partials.
    """
    salted = df.withColumn(
        "__salt", F.pmod(F.hash(*df.columns), F.lit(salt_buckets))
    )
    partial = salted.groupBy(*keys, "__salt").agg(*partial_aggs)
    return partial.groupBy(*keys).agg(*final_aggs)


def salted_count(df: DataFrame, keys: list[str], salt_buckets: int = 16) -> DataFrame:
    """Skew-safe ``groupBy(keys).count()``: one hot key becomes
    ``salt_buckets`` partial counts summed in a second (tiny) aggregation.
    Returns (keys..., n)."""
    return salted_agg(
        df,
        keys,
        partial_aggs=[F.count(F.lit(1)).alias("__pn")],
        final_aggs=[F.sum("__pn").alias("n")],
        salt_buckets=salt_buckets,
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
) -> DataFrame:
    """Replicate-small-side salted inner equi-join for known hot keys.

    The fact side gets a deterministic salt in ``[0, 8)``
    (hash of the whole row — identical rows co-bucket, everything else
    spreads); the dim side is exploded 8× so every
    (key, salt) pair exists. The join key becomes (key, salt), which
    splits one hot key's row group across 8 reducers.

    Cost model: dim-side rows × 8 extra shuffle volume buys
    fact-side hot keys spread over 8 tasks — worth it exactly
    when the dim is small and the fact is skewed (hub proteins in STRING
    edges, SURVEY §4). AQE's skew-join split is the runtime alternative;
    salting is the static one that also works for non-sort-merge plans
    and for aggregations feeding the join. Result is bit-identical to
    the unsalted join (asserted in tests/test_skew_join.py).
    """
    salted_fact = fact.withColumn(
        "__salt", F.pmod(F.hash(*fact.columns), F.lit(8))
    )
    salted_dim = dim.withColumn(
        "__salt", F.explode(F.array([F.lit(i) for i in range(8)]))
    )
    cond = (salted_fact[fact_key] == salted_dim[dim_key]) & (
        salted_fact["__salt"] == salted_dim["__salt"]
    )
    return salted_fact.join(salted_dim, cond, "inner").drop("__salt")

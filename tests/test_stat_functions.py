"""df.stat breadth: freqItems / sampleBy / approxQuantile / corr.

These four are impl- or seed-defined (sketches and seeded sampling), so
they are certified by bounds and determinism rather than a DuckDB hash
oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def test_freq_items_finds_true_heavy_hitter(spark):
    """freqItems (Karp-Papadimitriou-Shenker one-pass sketch): every value
    with frequency > support MUST be returned (false positives allowed,
    false negatives not) — the contract that matters when scanning 100 TB
    once to find dominant domains/licenses/langs."""
    o = spark.read.parquet(f"{SF}/orders.parquet")
    # true frequencies, exact
    freqs = {
        r["o_orderstatus"]: r["n"]
        for r in o.groupBy("o_orderstatus").agg(
            F.count("*").alias("n")
        ).collect()
    }
    total = sum(freqs.values())
    heavy = {v for v, n in freqs.items() if n / total > 0.3}
    assert heavy  # sf0.01 orders: 'O' and 'F' both ~48%
    got = set(o.stat.freqItems(["o_orderstatus"], support=0.3).collect()[0][0])
    assert heavy <= got


def test_sample_by_stratified_seeded(spark):
    """sampleBy: per-stratum Bernoulli sampling — seeded ⇒ reproducible
    (same rows both calls), unlisted strata dropped entirely, and each
    kept stratum lands near its requested fraction. The nondeterministic
    sibling of the hash-based `stable_sample` and the per-stratum
    `selection.stratified_take`."""
    o = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_orderstatus"
    )
    fractions = {"O": 0.2, "F": 0.05}
    s1 = o.sampleBy("o_orderstatus", fractions, seed=7)
    s2 = o.sampleBy("o_orderstatus", fractions, seed=7)
    r1 = sorted(r.o_orderkey for r in s1.collect())
    assert r1 == sorted(r.o_orderkey for r in s2.collect())  # seed-stable

    kept = {r["o_orderstatus"] for r in s1.select("o_orderstatus").distinct().collect()}
    assert kept <= {"O", "F"}  # 'P' stratum (no fraction given) dropped

    base = {
        r["o_orderstatus"]: r["n"]
        for r in o.groupBy("o_orderstatus").agg(
            F.count("*").alias("n")
        ).collect()
    }
    got = {
        r["o_orderstatus"]: r["n"]
        for r in s1.groupBy("o_orderstatus").agg(
            F.count("*").alias("n")
        ).collect()
    }
    for k, frac in fractions.items():
        assert abs(got.get(k, 0) / base[k] - frac) < 0.05


def test_approx_quantile_error_bound(spark):
    """approxQuantile (Greenwald-Khanna): rank error ≤ relativeError * N
    by construction — assert it against the exact quantile computed by
    sorting. relativeError=0 degenerates to exact."""
    o = spark.read.parquet(f"{SF}/orders.parquet")
    vals = sorted(r.o_totalprice for r in o.select("o_totalprice").collect())
    n = len(vals)
    eps = 0.01
    for q in (0.1, 0.5, 0.9):
        (approx,) = o.approxQuantile("o_totalprice", [q], eps)
        # translate value back to a rank window
        import bisect

        lo = bisect.bisect_left(vals, approx)
        hi = bisect.bisect_right(vals, approx)
        target = q * n
        assert lo - eps * n <= target <= hi + eps * n

    (exact_med,) = o.approxQuantile("o_totalprice", [0.5], 0.0)
    assert exact_med == vals[(n - 1) // 2] or exact_med == vals[n // 2]


def test_corr_matches_exact_moments(spark):
    """df.stat.corr (Pearson) equals the moment formula computed with
    exact decimal sums."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        F.col("l_quantity").cast("double").alias("x"),
        F.col("l_extendedprice").cast("double").alias("y"),
    )
    got = li.stat.corr("x", "y")
    m = li.select(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("decimal(28,6)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(28,6)")).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(28,6)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(28,6)")).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(28,6)")).alias("syy"),
    ).collect()[0]
    n = m.n
    num = float(m.sxy) - float(m.sx) * float(m.sy) / n
    den = (
        (float(m.sxx) - float(m.sx) ** 2 / n)
        * (float(m.syy) - float(m.sy) ** 2 / n)
    ) ** 0.5
    assert abs(got - num / den) < 1e-9

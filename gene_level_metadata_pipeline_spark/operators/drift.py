"""Distribution-drift detection: PSI and an exact two-sample KS statistic.

The model-monitoring half of the data-quality toolkit: given two cohorts
of one numeric column (reference vs current — train vs serve, last week
vs this week), quantify how far the distributions moved. Two standard
statistics, both implemented scale-out and engine-exactly:

* ``psi`` — Population Stability Index over fixed-width bins,
  Σ (p_cur − p_ref)·ln(p_cur / p_ref). Bin counts are one map-side
  aggregate; each term is cast to DECIMAL(18,6) before summing (the
  registry._dsum discipline), so the reported index is bit-identical in
  any ANSI engine.
* ``ks_two_sample`` — the Kolmogorov-Smirnov sup|F_a − F_b| WITHOUT
  floats: at every observed value, |cumA·nB − cumB·nA| is an exact
  bigint, so the maximizing value and the statistic's numerator are
  hash-comparable; only the final division to [0,1] is a double. The
  cumulative counts come from ``selection.running_sum`` (range-
  repartition + broadcast offsets — never a single-task global window),
  so the sort distributes at any scale.

Reference parity: the reference pipeline has no drift monitoring (batch
R ETL, SURVEY §2); these are training-data-pipeline extensions in the
same family as the Gopher/C4 quality gates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gene_level_metadata_pipeline_spark.materialize import (
    materialize as _materialize,
)
from gene_level_metadata_pipeline_spark.operators.dedup import _hex_int

__all__ = ["psi", "ks_two_sample"]


def _cents(col: Column) -> Column:
    return F.round(col.cast("double") * F.lit(100.0), 0).cast("long")


def psi(
    df: DataFrame,
    cohort_col: str,
    ref_value,
    cur_value,
    value_col: str,
    bin_width_cents: int,
) -> DataFrame:
    """PSI between the ``ref_value`` and ``cur_value`` cohorts of
    ``cohort_col``, binning ``value_col`` by fixed-width integer-cent
    bins (floor(cents / width) — exact, engine-identical; no
    double-edge bins). Returns one row: (n_bins_used, psi).

    Bins observed in only one cohort cannot contribute a finite
    ln-ratio; the standard practice is an arbitrary epsilon — this
    implementation instead EXCLUDES those bins and reports how many
    bins were used beside the index, which keeps the statistic
    parameter-free and exactly reproducible (document the same rule in
    any oracle twin). NULL values are excluded. One aggregate over the
    scan + a 2-row-per-bin reshape: scan-bound at any scale.
    """
    c = df.where(
        F.col(value_col).isNotNull()
        & F.col(cohort_col).isin([ref_value, cur_value])
    ).select(
        F.when(F.col(cohort_col) == ref_value, F.lit("r"))
        .otherwise(F.lit("c"))
        .alias("__side"),
        F.floor(_cents(F.col(value_col)) / F.lit(bin_width_cents)).alias(
            "__bin"
        ),
    )
    binned = (
        c.groupBy("__bin")
        .pivot("__side", ["r", "c"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["r", "c"])
    )
    tot = binned.agg(
        F.sum("r").alias("__nr"), F.sum("c").alias("__nc")
    )
    pr = F.col("r").cast("double") / F.col("__nr").cast("double")
    pc = F.col("c").cast("double") / F.col("__nc").cast("double")
    term = ((pc - pr) * F.log(pc / pr)).cast("decimal(18,6)")
    return (
        binned.join(F.broadcast(tot))
        .where((F.col("r") > 0) & (F.col("c") > 0))
        .agg(
            F.count(F.lit(1)).alias("n_bins_used"),
            F.round(F.sum(term), 4).cast("double").alias("psi"),
        )
    )


def ks_two_sample(
    df: DataFrame,
    cohort_col: str,
    a_value,
    b_value,
    value_col: str,
) -> DataFrame:
    """Exact two-sample KS: sup over observed values of
    |F_a(x) − F_b(x)|, computed as the bigint |cumA·nB − cumB·nA| so
    the supremum and its location are exact (the double appears only in
    the final ks = num / (nA·nB) report). Returns one row:
    (n_a, n_b, ks_num, at_cents, ks) where ``at_cents`` is the SMALLEST
    value (integer cents) achieving the supremum — a deterministic
    argmax. NULLs excluded.

    Plan: per-value per-cohort counts (one shuffle on the value), one
    distributed prefix sum over the value order (range exchange on the
    ALREADY AGGREGATED distinct values — tiny relative to the input),
    then a single max_by. No single-task global window anywhere.
    """
    vals = (
        df.where(
            F.col(value_col).isNotNull()
            & F.col(cohort_col).isin([a_value, b_value])
        )
        .select(
            _cents(F.col(value_col)).alias("v"),
            F.when(F.col(cohort_col) == a_value, 1)
            .otherwise(0)
            .alias("__a"),
        )
        .groupBy("v")
        .agg(
            F.sum("__a").alias("__na"),
            F.sum(F.lit(1) - F.col("__a")).alias("__nb"),
        )
    )
    from gene_level_metadata_pipeline_spark.operators.selection import (
        running_sum,
    )

    cum = running_sum(vals, [F.col("v").asc()], "__na", out_col="__ca")
    cum = running_sum(cum, [F.col("v").asc()], "__nb", out_col="__cb")
    tot = cum.agg(
        F.sum("__na").cast("long").alias("n_a"),
        F.sum("__nb").cast("long").alias("n_b"),
    )
    d = F.abs(
        F.col("__ca").cast("long") * F.col("n_b")
        - F.col("__cb").cast("long") * F.col("n_a")
    )
    scored = cum.join(F.broadcast(tot)).select(
        "n_a", "n_b", d.alias("__d"), F.col("v")
    )
    # argmax with a deterministic tie-break: maximize (d, -v) lexically
    # = largest d, then SMALLEST value achieving it
    return scored.groupBy("n_a", "n_b").agg(
        F.max("__d").alias("ks_num"),
        F.max_by(
            "v", F.struct(F.col("__d").alias("d"), (-F.col("v")).alias("nv"))
        ).alias("__at"),
    ).select(
        "n_a",
        "n_b",
        "ks_num",
        F.col("__at").alias("at_cents"),
        (
            F.round(
                F.try_divide(
                    F.col("ks_num").cast("double"),
                    (F.col("n_a") * F.col("n_b")).cast("double"),
                )
                * F.lit(1e6),
                0,
            )
            / F.lit(1e6)
        ).alias("ks"),
    )


# Deterministic-Poisson inverse-CDF cutpoints for the hash bootstrap:
# P(X < k) for X ~ Poisson(1), k = 1..5 (weights 0..5, tail folded into 5).
_POIS1_CDF = (0.367879, 0.735759, 0.919699, 0.981012, 0.996340)


def bootstrap_mean_ci(
    df: DataFrame,
    group: str,
    value: str,
    id_col: str,
    replicates: int = 32,
) -> DataFrame:
    """Per-group bootstrap confidence interval for the mean, with
    DETERMINISTIC hash resampling — the Poisson bootstrap (Efron's
    resample approximated per-row by independent Poisson(1) weights,
    the standard one-pass distributed formulation: no multinomial
    coordination across partitions, weights are row-local). Each row's
    weight in replicate b is the Poisson(1) inverse-CDF of the uniform
    md5("b:id")[0:6]/16^6 — a pure function of (b, id), so every
    engine reproduces every resample bit-for-bit (the random_walks
    discipline: the hash IS the seed).

    Resampled means are exact fixed-point bigints
    floor(sum(w*value)*10000 / sum(w)); the interval is rank-based —
    with the default 32 replicates, ranks 2 and 31 of the sorted means
    (a ~94% CI). Returns (group, n_rows, mean_scaled, ci_lo_scaled,
    ci_hi_scaled).

    Scale shape: ONE projection explodes each row into ``replicates``
    (b, w) pairs and ONE map-side-combinable aggregation reduces to
    |groups| x replicates rows — no shuffle of the raw data beyond the
    grouped agg, no driver-side resampling, no RNG state. ``value``
    must be an exact integer column (e.g. cents)."""
    from pyspark.sql import Window

    if replicates < 4:
        raise ValueError("bootstrap_mean_ci: need >= 4 replicates")
    # one md5 yields FIVE independent 6-hex-digit uniforms (30 of its 32
    # digits) — replicate b reads window b%5 of digest b//5, so 32
    # replicates cost ceil(32/5)=7 hashes per row, not 32 (measured 2.6x
    # on the 10x stress; the hash count is the hot path at corpus scale)
    u_of = lambda b: (
        _hex_int(
            F.md5(F.concat_ws(":", F.lit(b // 5), F.col(id_col))),
            1 + 6 * (b % 5), 6,
        ).cast("double")
        / F.lit(float(16 ** 6))
    )

    def w_of(b: int):
        u = u_of(b)
        expr = F.lit(5)
        for k in range(len(_POIS1_CDF) - 1, -1, -1):
            expr = F.when(u < F.lit(_POIS1_CDF[k]), F.lit(k)).otherwise(expr)
        return expr.cast("bigint")

    # COLUMNAR resampling: replicates become 2*B agg expressions over
    # B weight columns in ONE pass — never an exploded rows×B frame
    # (the first cut exploded 48M rows at sf0.1×32 and the explode, not
    # the hashing, dominated; measured ~3x). The B-row-per-group pivot
    # happens AFTER aggregation, on |groups|×B cells, via stack().
    rowed = df.select(
        F.col(group).alias("g"),
        F.col(value).cast("bigint").alias("x"),
        *[w_of(b).alias(f"w{b}") for b in range(replicates)],
    )
    wide = rowed.groupBy("g").agg(
        *[
            F.sum(F.col(f"w{b}") * F.col("x")).alias(f"sw{b}")
            for b in range(replicates)
        ],
        *[F.sum(F.col(f"w{b}")).alias(f"nw{b}") for b in range(replicates)],
    )
    stack_args = ", ".join(
        f"{b}, sw{b}, nw{b}" for b in range(replicates)
    )
    agg = wide.selectExpr(
        "g", f"stack({replicates}, {stack_args}) AS (b, sw, nw)"
    ).where(F.col("nw") > 0)
    num = F.col("sw") * F.lit(10_000)
    mean_b = _floor_div_exact(num, F.col("nw")).cast("bigint")
    means = agg.select("g", "b", mean_b.alias("m"))
    rk = Window.partitionBy("g").orderBy("m", "b")
    lo_rank, hi_rank = 2, replicates - 1
    ci = means.withColumn("rn", F.row_number().over(rk)).groupBy("g").agg(
        F.max(F.when(F.col("rn") == lo_rank, F.col("m"))).alias(
            "ci_lo_scaled"
        ),
        F.max(F.when(F.col("rn") == hi_rank, F.col("m"))).alias(
            "ci_hi_scaled"
        ),
    )
    base = df.groupBy(F.col(group).alias("g")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col(value).cast("bigint")).alias("sx"),
    )
    pnum = F.col("sx") * F.lit(10_000)
    point = base.select(
        "g", "n_rows",
        _floor_div_exact(pnum, F.col("n_rows"))
        .cast("bigint")
        .alias("mean_scaled"),
    )
    return point.join(ci, "g").select(
        F.col("g").alias(group), "n_rows", "mean_scaled",
        "ci_lo_scaled", "ci_hi_scaled",
    )


def _floor_div_exact(num: Column, den: Column) -> Column:
    """Engine-portable floor division on exact (decimal/bigint)
    columns: subtract the positive remainder, then INTEGRAL divide.
    The adjusted numerator is exactly divisible, so Spark's `div`
    (truncating integral division, exact on bigint AND decimal
    operands) returns precisely floor(num/den). The earlier
    `(num - p) / den` idiom silently routed bigints through IEEE
    double division (`/` on bigint is DoubleType in Spark) and lost
    ulps past 2^53 — caught by the round-6 advisor; pinned by
    tests/test_exact_floor_div.py. Result is LongType: every caller's
    quotient is a (scaled) mean or ratio, well inside bigint."""
    p = ((num % den) + den) % den
    return F.call_function("div", num - p, den)


def cuped_adjust(
    units: DataFrame,
    arm_col: str = "arm",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013) for per-unit
    experiment metrics: the industry-standard A/B adjustment — shift
    each unit's metric y by theta * (x - mean(x)) where x is the
    PRE-period covariate and theta = cov(x, y)/var(x), cutting metric
    variance by the squared x-y correlation without biasing the
    treatment contrast. Inputs are exact integer columns (fixed-point
    units); theta and the adjusted means are exact fixed-point floor
    divisions over DECIMAL(38) sums — the closed forms
    theta = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2) and
    adj_a = (Sy_a*n*S - theta_s*(Sx_a*n - Sx*n_a)) / (n_a*n*S)
    (theta fixed point S = 10^6) never touch IEEE floats, so any engine with
    128-bit integer sums replays them bit-for-bit.

    Returns (arm, n_units, mean_y_scaled, adj_mean_y_scaled,
    theta_scaled): raw and CUPED-adjusted per-arm means (floored to
    the input fixed-point scale) plus the pooled theta.

    Scale shape: ONE grouped pass for the per-arm sums + a 1-row
    broadcast of the pooled moments — the covariate adjustment costs
    one scan regardless of corpus size, the reason CUPED is standard
    at fleet scale."""
    dec = "decimal(38,0)"
    s = F.lit(10 ** 6).cast(dec)
    u = units.select(
        F.col(arm_col).alias("arm"),
        F.col(x_col).cast("decimal(18,0)").alias("x"),
        F.col(y_col).cast("decimal(18,0)").alias("y"),
    )
    per_arm = u.groupBy("arm").agg(
        F.count(F.lit(1)).cast(dec).alias("n_a"),
        F.sum("x").cast(dec).alias("sx_a"),
        F.sum("y").cast(dec).alias("sy_a"),
    )
    pooled = u.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
    ).select(
        "n", "sx", "sy",
        _floor_div_exact(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            * s,
            F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"),
        ).cast(dec).alias("theta_s"),
    )
    j = per_arm.join(F.broadcast(pooled))
    return j.select(
        "arm",
        F.col("n_a").cast("bigint").alias("n_units"),
        _floor_div_exact(F.col("sy_a"), F.col("n_a"))
        .cast("bigint")
        .alias("mean_y_scaled"),
        _floor_div_exact(
            F.col("sy_a") * F.col("n") * s
            - F.col("theta_s")
            * (F.col("sx_a") * F.col("n") - F.col("sx") * F.col("n_a")),
            F.col("n_a") * F.col("n") * s,
        ).cast("bigint").alias("adj_mean_y_scaled"),
        F.col("theta_s").cast("bigint").alias("theta_scaled"),
    )


def conformal_split_interval(
    units: DataFrame,
    group: str,
    y_col: str,
    id_col: str,
) -> DataFrame:
    """Split-conformal prediction interval per group (Vovk; Lei et al.
    2018): fit on the TRAIN split (even ids), take q = the
    ceil(0.9(n_cal+1))-th smallest absolute residual on the
    CALIBRATION split (odd ids) — then [pred ± q] carries a finite-
    sample marginal coverage >= 90% guarantee with NO distributional
    assumption. The fitted model here is the per-group train mean (the
    simplest regressor — the conformal wrapper is the operator; swap
    any predictor in). Everything is exact integer arithmetic: the
    train mean is a fixed-point floor division, residuals are exact
    |y - pred| bigints, q is an exact order statistic under the
    (residual, id) total order, and the shipped cover_ok boolean
    re-verifies the >= k coverage ON the calibration set — the
    guarantee certified, not assumed.

    Returns (group, n_train, n_cal, pred_scaled, q_resid, cover_cnt,
    cover_ok).

    Scale shape: one grouped pass for the train means (broadcast
    back), one residual projection, one per-group rank window over
    calibration rows only. The conformal step adds a dimension-sized
    window to whatever the model cost."""
    from pyspark.sql import Window

    tr = units.where(F.pmod(F.col(id_col), F.lit(2)) == 0)
    cal = units.where(F.pmod(F.col(id_col), F.lit(2)) == 1)
    fit = tr.groupBy(F.col(group).alias("g")).agg(
        F.count(F.lit(1)).alias("n_train"),
        F.sum(F.col(y_col).cast("bigint")).alias("sy"),
    ).select(
        "g", "n_train",
        _floor_div_exact(
            F.col("sy"), F.col("n_train").cast("bigint")
        ).cast("bigint").alias("pred_scaled"),
    )
    res = cal.select(
        F.col(group).alias("g"),
        F.col(id_col).alias("rid"),
        F.col(y_col).cast("bigint").alias("y"),
    ).join(F.broadcast(fit), "g").select(
        "g", "rid", "n_train", "pred_scaled",
        F.abs(F.col("y") - F.col("pred_scaled")).alias("r"),
    )
    w = Window.partitionBy("g").orderBy("r", "rid")
    ranked = res.select(
        "g", "n_train", "pred_scaled", "r",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("g")).alias("n_cal"),
    )
    k = F.ceil((F.lit(90) * (F.col("n_cal") + 1)) / 100).cast("bigint")
    q = ranked.where(F.col("rn") == F.least(k, F.col("n_cal"))).select(
        "g", "n_train", "n_cal", "pred_scaled",
        F.col("r").alias("q_resid"), k.alias("k_rank"),
    )
    cover = res.join(
        q.select("g", "q_resid"), "g"
    ).groupBy("g").agg(
        F.count(F.when(F.col("r") <= F.col("q_resid"), 1)).alias(
            "cover_cnt"
        )
    )
    return q.join(cover, "g").select(
        F.col("g").alias(group), "n_train", "n_cal", "pred_scaled",
        "q_resid", "cover_cnt",
        (F.col("cover_cnt") >= F.least(F.col("k_rank"), F.col("n_cal")))
        .alias("cover_ok"),
    )


def target_encode_kfold(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    id_col: str,
) -> DataFrame:
    """5-fold (leave-fold-out) mean target encoding — the standard
    leakage-safe categorical feature for gradient models: a row in fold
    f is encoded with the category's target mean computed WITHOUT fold
    f's rows, so no row's own target leaks into its feature. Folds are
    hash-assigned (md5 leading hex of the id — deterministic, engine-
    portable, the bootstrap discipline); encodings are exact
    fixed-point floor divisions of 10000 * (S_cat - S_fold) /
    (n_cat - n_fold).
    A fold holding ALL of a category's rows gets NULL (no out-of-fold
    evidence), never a fabricated prior. Returns (cat, fold,
    n_out_of_fold, enc_scaled).

    Scale shape: ONE (cat, fold) aggregation; the category totals
    derive from it by a second tiny rollup — the encoding table is
    |cats| x 5, broadcastable to the feature join that consumes
    it."""
    h = _hex_int(
        F.md5(F.concat_ws(":", F.lit("fold"), F.col(id_col))), 1, 4
    )
    per = df.select(
        F.col(cat_col).alias("cat"),
        F.col(target_col).cast("bigint").alias("t"),
        F.pmod(h, F.lit(5)).cast("int").alias("fold"),
    ).groupBy("cat", "fold").agg(
        F.count(F.lit(1)).alias("n_f"),
        F.sum("t").alias("s_f"),
    )
    tot = per.groupBy("cat").agg(
        F.sum("n_f").alias("n_c"), F.sum("s_f").alias("s_c")
    )
    j = per.join(tot, "cat").select(
        "cat", "fold",
        (F.col("n_c") - F.col("n_f")).alias("n_out_of_fold"),
        F.when(
            F.col("n_c") > F.col("n_f"),
            _floor_div_exact(
                (F.col("s_c") - F.col("s_f")) * F.lit(10_000),
                F.col("n_c") - F.col("n_f"),
            ).cast("bigint"),
        ).alias("enc_scaled"),
    )
    return j


def isotonic_fit(
    buckets: DataFrame,
    bucket_col: str = "bucket",
    sum_col: str = "s",
    n_col: str = "n",
) -> DataFrame:
    """Isotonic (monotone non-decreasing) calibration fit over scored
    buckets — the standard model-score calibrator (pool-adjacent-
    violators), in EXACT fixed-point arithmetic via the minimax closed
    form: iso(i) = max_{j<=i} min_{k>=i} mean(y over buckets j..k),
    which equals the PAVA solution (Ayer et al. 1955 / Robertson-
    Wright-Dykstra 1988, the minimax characterization). Here every
    pooled mean is the FLOORED fixed-point floor(S*10^6/N) — floor is
    monotone, so max-of-min of floored means is still monotone
    non-decreasing and differs from the rational PAVA value by < 1 ulp
    at 10^6; in exchange the whole fit is bigint-exact and
    hash-certifiable cross-engine, which a float PAVA never is.

    Input is the PRE-BUCKETED (bucket, sum_y, n) table (one corpus
    aggregation upstream); returns (bucket, n, mean_e6, iso_e6) with
    mean_e6 the raw bucket mean and iso_e6 the monotone fit.

    Scale shape: everything after the upstream corpus aggregation is
    DIMENSION-sized — buckets get a dense rank (one tiny window),
    pooled means come from prefix sums over B rows, the minimax
    enumerates (j <= k) pairs exploded to their covered i's: O(B^3)
    rows at B buckets (B=20 -> 1.5k rows). The classic sequential
    PAVA is O(B) but inherently serial; at dimension-sized B the
    relational minimax is the better distributed trade (and the
    oracle can replay it)."""
    from pyspark.sql import Window

    w_ord = Window.orderBy(bucket_col)
    b = buckets.select(
        F.col(bucket_col).alias("bucket"),
        F.col(sum_col).cast("bigint").alias("s"),
        F.col(n_col).cast("bigint").alias("n"),
    ).select(
        "*",
        F.row_number().over(w_ord).alias("idx"),
        F.sum("s").over(
            w_ord.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cs"),
        F.sum("n").over(
            w_ord.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cn"),
    ).localCheckpoint(eager=True)
    lo = b.select(
        F.col("idx").alias("j"),
        (F.col("cs") - F.col("s")).alias("ps_j"),
        (F.col("cn") - F.col("n")).alias("pn_j"),
    )
    hi = b.select(
        F.col("idx").alias("k"), F.col("cs").alias("cs_k"),
        F.col("cn").alias("cn_k"),
    )
    pairs = lo.join(hi, F.col("j") <= F.col("k")).select(
        "j", "k",
        F.call_function(
            "div",
            (F.col("cs_k") - F.col("ps_j")) * F.lit(10 ** 6),
            F.col("cn_k") - F.col("pn_j"),
        ).alias("m"),
    )
    tri = pairs.select(
        "j", "m", F.explode(F.expr("sequence(j, k)")).alias("i")
    )
    iso = (
        tri.groupBy("i", "j").agg(F.min("m").alias("mn"))
        .groupBy("i").agg(F.max("mn").alias("iso_e6"))
    )
    return b.join(iso, b["idx"] == iso["i"]).select(
        "bucket", "n",
        F.call_function(
            "div", F.col("s") * F.lit(10 ** 6), F.col("n")
        ).alias("mean_e6"),
        "iso_e6",
    )


def fdr_bh(
    df: DataFrame,
    p_col: str = "p_e6",
    key_col: str = "id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Benjamini-Hochberg step-up FDR adjustment — the multiple-testing
    correction every gene-level screen runs before calling a hit list
    (the reference pipeline's constraint/lethality tables are exactly
    the kind of per-gene evidence a BH pass gates downstream).

    Input: one row per test with a FIXED-POINT p-value ``p_col``
    (integer in [0, 10^6]) and a unique ``key_col`` tie-breaker.
    Output: (key, p_e6, rnk, adj_e6, reject) where
    ``adj_e6 = min_{j >= i} floor(p_(j) * m / j)`` clipped at 10^6
    (BH adjusted p in the same fixed point; floor is monotone, so the
    step-up decision differs from rational BH only when the rational
    value straddles an adj ulp — the certified semantics is the floored
    form, replayed exactly by the oracle) and
    ``reject = adj_e6 <= 50000`` (FDR level 0.05).

    Scale shape — never a single-task global window: the global rank is
    a distributed prefix COUNT (range repartition on (p, key), local
    row_number per partition, broadcast per-partition-count offsets —
    the selection.running_sum discipline, including the mandatory
    ``materialize`` pin: repartitionByRange samples bounds per evaluation
    and unpinned _pid labels corrupt silently at scale, found live at
    sf0.1 by running_sum), and the step-up suffix min
    ``min_{rank >= i}`` reuses the SAME pinned partition labels: a
    descending local cummin per partition plus a broadcast
    min-over-higher-partitions offset. Two broadcast-joined ≤P-row
    frames; the tests table itself is shuffled once by range and once
    by the _pid window hash — O(1) passes at any m.
    """
    from pyspark.sql import Window

    n = int(
        num_partitions
        or df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    p = F.col(p_col).cast("bigint")
    k = F.col(key_col)
    ranged = (
        df.select(k.alias("key"), p.alias("p_e6"))
        .repartitionByRange(n, F.col("p_e6"), F.col("key"))
        .withColumn("_pid", F.spark_partition_id())
        .transform(_materialize)
    )

    # The ranked frame feeds THREE consumers (offsets, m, the join) and
    # the suffix-min frame feeds two (partition minima, the final join);
    # without pinning, Spark replays the _pid window per branch — the
    # mixture_reweight_mw lesson. Each lazy ``materialize`` pin is
    # computed once for all its consumers.
    w_asc = Window.partitionBy("_pid").orderBy("p_e6", "key")
    local = ranged.withColumn(
        "_lrank", F.row_number().over(w_asc)
    ).transform(_materialize)

    # One row per partition: counts -> rank offsets (prefix) and, later,
    # partition-level raw minima -> suffix-min offsets. Both windows run
    # on <= num_partitions rows.
    wp = Window.orderBy("_pid")
    counts = local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    offs = counts.withColumn(
        "_off",
        F.coalesce(
            F.sum("_cnt").over(wp.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).cast("bigint"),
    ).select("_pid", "_off")
    m_df = counts.agg(F.sum("_cnt").cast("bigint").alias("_m"))

    ranked = (
        local.join(F.broadcast(offs), "_pid")
        .crossJoin(F.broadcast(m_df))
        .withColumn("rnk", (F.col("_lrank") + F.col("_off")).cast("bigint"))
        .withColumn(
            "raw_e6",
            F.least(
                F.lit(10 ** 6).cast("bigint"),
                _floor_div_exact(F.col("p_e6") * F.col("_m"), F.col("rnk")),
            ),
        )
        .drop("_lrank", "_off", "_m")
    )

    # Suffix min over global rank == (local cummin in DESC order within
    # the pinned _pid) combined with (min over all HIGHER _pids).
    w_desc = Window.partitionBy("_pid").orderBy(
        F.col("p_e6").desc(), F.col("key").desc()
    ).rowsBetween(Window.unboundedPreceding, 0)
    loc2 = ranked.withColumn(
        "_lmin", F.min("raw_e6").over(w_desc)
    ).transform(_materialize)
    wp_desc = Window.orderBy(F.col("_pid").desc())
    suf = (
        loc2.groupBy("_pid").agg(F.min("raw_e6").alias("_pmin"))
        .withColumn(
            "_sufmin",
            F.min("_pmin").over(
                wp_desc.rowsBetween(Window.unboundedPreceding, -1)
            ),
        )
        .select("_pid", "_sufmin")
    )
    return (
        loc2.join(F.broadcast(suf), "_pid")
        .select(
            "key", "p_e6", "rnk",
            F.least(
                F.col("_lmin"),
                F.coalesce(F.col("_sufmin"), F.lit(10 ** 6).cast("bigint")),
            ).alias("adj_e6"),
        )
        .withColumn(
            "reject",
            (F.col("adj_e6") <= F.lit(50_000)).cast("boolean"),
        )
    )


def brier_decomposition(
    buckets: DataFrame,
    bucket_col: str = "bucket",
    sum_col: str = "s",
    n_col: str = "n",
    pred_col: str = "p_e6",
) -> DataFrame:
    """Murphy (1973) Brier-score decomposition of a bucketed
    probabilistic predictor — RELIABILITY (calibration error),
    RESOLUTION (how much the buckets separate the base rate), and
    UNCERTAINTY (base-rate variance): Brier = REL − RES + UNC. The
    standard forecast-quality audit to run over a calibrated model
    (pair with :func:`isotonic_fit`: feed the monotone fit as
    ``pred_col`` and REL measures what calibration left behind).

    Exact fixed point at scale² = 10¹² (``pred_col`` is e6), the
    BH/isotonic floored-form discipline — each bucket's term is one
    exact integral division, so the whole decomposition is
    hash-certifiable:

        REL_e12 = Σ_b div((n_b·p_b − s_b·scale)², n_b·N)
        RES_e12 = Σ_b div((s_b·N − S·n_b)²·scale², n_b·N³)
        UNC_e12 = div(S·(N−S)·scale², N²)

    DECIMAL(38,0) intermediates bound N at ~3·10⁶ in this single-shot
    form: when one bucket dominates, the RES numerator (s·N − S·n)²·
    scale² reaches ~N⁴·scale² = N⁴·10¹², which hits 38 digits at
    N ≈ 10^6.5 (ANSI fails loud, not silently wrong). Past that,
    decompose per partition and combine — the terms are sums, so
    partial decomposition merges exactly.

    Input is the PRE-BUCKETED (bucket, s, n, p_e6) table; output is ONE
    row (n_buckets, n, rel_e12, res_e12, unc_e12) — everything after
    the upstream corpus aggregation is dimension-sized, and the totals
    ride a broadcast 1-row frame.
    """
    d38 = "decimal(38,0)"
    b = buckets.select(
        F.col(bucket_col).alias("bucket"),
        F.col(sum_col).cast("bigint").alias("s"),
        F.col(n_col).cast("bigint").alias("n"),
        F.col(pred_col).cast("bigint").alias("p"),
    )
    # "S"/"N" would collide with "s"/"n" under Spark's default
    # case-insensitive resolution — totals get distinct names
    tot = b.agg(
        F.sum("s").cast("bigint").alias("tot_s"),
        F.sum("n").cast("bigint").alias("tot_n"),
    )
    sc = F.lit(10 ** 6).cast(d38)
    t = b.crossJoin(F.broadcast(tot))
    big_n = F.col("tot_n").cast(d38)
    big_s = F.col("tot_s").cast(d38)
    rel_num = (
        F.col("n").cast(d38) * F.col("p").cast(d38)
        - F.col("s").cast(d38) * sc
    )
    rel_t = _floor_div_exact(
        rel_num * rel_num, F.col("n").cast(d38) * big_n
    )
    res_num = big_n * F.col("s").cast(d38) - big_s * F.col("n").cast(d38)
    res_t = _floor_div_exact(
        res_num * res_num * sc * sc,
        F.col("n").cast(d38) * big_n * big_n * big_n,
    )
    per = t.select(
        rel_t.alias("rel_t"), res_t.alias("res_t"), "tot_s", "tot_n",
    )
    return (
        per.groupBy("tot_s", "tot_n")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.sum("rel_t").cast("bigint").alias("rel_e12"),
            F.sum("res_t").cast("bigint").alias("res_e12"),
        )
        .select(
            "n_buckets",
            F.col("tot_n").alias("n"),
            "rel_e12", "res_e12",
            _floor_div_exact(
                big_s * (big_n - big_s) * sc * sc, big_n * big_n
            ).cast("bigint").alias("unc_e12"),
        )
    )

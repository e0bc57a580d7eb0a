"""Declarative data-quality validation and numeric profiling.

The reference audits data quality by hand: materialized duplicate audits
(`scripts/tidy/temp-tidy-all-api-ftp-files.R:213-216,273`,
`temp-tidy-all-manuscript-files.R:46,74`) and expected-count comments
(`temp-tidy-all-manuscript-files.R:30-32,42`). This module makes those
audits first-class: a rule list evaluated into one violations report,
plus an equi-width histogram for distribution profiling.

Each rule family compiles to a purpose-shaped aggregate:
  * ``not_null`` / ``accepted_values`` / ``in_range`` — one map-side
    conditional count over the table scan (all such rules on the same
    table are FUSED into a single pass);
  * ``unique`` — groupBy(key) + count>1 (one shuffle on the key);
  * ``foreign_key`` — left-anti join child→parent (broadcast when the
    parent key set is dimension-sized).
The report is a tiny (rule, n_violations) frame, so the final union is
driver-negligible regardless of input scale.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["Rule", "not_null", "accepted_values", "in_range", "unique",
           "foreign_key", "validate", "histogram", "flag_outliers",
           "winsorize", "equi_depth_histogram", "mad_outliers",
           "k_anonymity", "fd_violations", "benford_first_digit",
           "group_entropy"]


class Rule:
    """One named check. ``kind`` selects the compilation strategy."""

    def __init__(self, name: str, kind: str, df: DataFrame, **kw):
        self.name, self.kind, self.df, self.kw = name, kind, df, kw


def not_null(name: str, df: DataFrame, col: str) -> Rule:
    return Rule(name, "predicate", df, cond=F.col(col).isNull())


def accepted_values(name: str, df: DataFrame, col: str, values: list) -> Rule:
    return Rule(
        name, "predicate", df,
        cond=F.col(col).isNotNull() & ~F.col(col).isin(values),
    )


def in_range(name: str, df: DataFrame, col: str, lo, hi) -> Rule:
    return Rule(
        name, "predicate", df,
        cond=F.col(col).isNotNull() & ~F.col(col).between(lo, hi),
    )


def unique(name: str, df: DataFrame, key: str | list[str]) -> Rule:
    return Rule(name, "unique", df, key=[key] if isinstance(key, str) else list(key))


def foreign_key(
    name: str, df: DataFrame, col: str, parent: DataFrame, parent_col: str
) -> Rule:
    return Rule(name, "foreign_key", df, col=col, parent=parent,
                parent_col=parent_col)


def _one_row(name: str, n: Column) -> Column:
    return F.struct(F.lit(name).alias("rule"), n.alias("n_violations"))


def validate(rules: list[Rule]) -> DataFrame:
    """Evaluate all rules → (rule, n_violations) report, one row each.

    Predicate rules sharing the same input DataFrame run in ONE
    aggregate pass (conditional counts); unique/foreign-key rules each
    contribute their own (shuffled / anti-joined) count. Row order of
    the report is the rule declaration order.
    """
    reports: list[DataFrame] = []
    # fuse predicate rules per source frame
    pred_groups: dict[int, list[Rule]] = {}
    for r in rules:
        if r.kind == "predicate":
            pred_groups.setdefault(id(r.df), []).append(r)
    done: set[int] = set()
    for r in rules:
        if r.kind == "predicate":
            if id(r.df) in done:
                continue
            done.add(id(r.df))
            group = pred_groups[id(r.df)]
            row = r.df.agg(
                *[
                    F.count(F.when(g.kw["cond"], 1)).alias(f"__v{i}")
                    for i, g in enumerate(group)
                ]
            )
            reports.append(
                row.select(
                    F.explode(
                        F.array(
                            *[
                                _one_row(g.name, F.col(f"__v{i}"))
                                for i, g in enumerate(group)
                            ]
                        )
                    ).alias("r")
                ).select("r.rule", "r.n_violations")
            )
        elif r.kind == "unique":
            key = r.kw["key"]
            dups = (
                r.df.groupBy(*key)
                .agg(F.count(F.lit(1)).alias("__n"))
                .where(F.col("__n") > 1)
            )
            reports.append(
                dups.agg(
                    F.lit(r.name).alias("rule"),
                    F.coalesce(F.sum("__n"), F.lit(0)).alias("n_violations"),
                )
            )
        elif r.kind == "foreign_key":
            orphans = r.df.where(F.col(r.kw["col"]).isNotNull()).join(
                r.kw["parent"].select(
                    F.col(r.kw["parent_col"]).alias(r.kw["col"])
                ).distinct(),
                on=r.kw["col"],
                how="left_anti",
            )
            reports.append(
                orphans.agg(
                    F.lit(r.name).alias("rule"),
                    F.count(F.lit(1)).alias("n_violations"),
                )
            )
        else:
            raise ValueError(f"unknown rule kind {r.kind!r}")
    return reduce(DataFrame.unionByName, reports)


def histogram(df: DataFrame, col: str, nbins: int) -> DataFrame:
    """Equi-width histogram: (bin, lo, hi, n) over ``nbins`` buckets
    between the column's min and max (max lands in the last bin).

    Two passes: a 1-row min/max aggregate broadcast into the binning
    pass — the standard shape, no collect to the driver. Bin arithmetic
    is plain IEEE double ops so an external engine computing
    ``floor((x - min) / width)`` bit-matches.
    """
    bounds = df.agg(
        F.min(col).cast("double").alias("__lo"),
        F.max(col).cast("double").alias("__hi"),
    )
    width = (F.col("__hi") - F.col("__lo")) / F.lit(float(nbins))
    # NULL values are excluded BEFORE binning (as equi_depth_histogram
    # does): the width==0 coalesce fallback below would otherwise be
    # unable to distinguish "constant column" from "x IS NULL" and
    # silently count NULLs into bin 0 alongside real minima (r4 advice)
    binned = df.where(F.col(col).isNotNull()).select(
        F.col(col).cast("double").alias("__x")
    ).join(
        F.broadcast(bounds)
    ).select(
        # a constant column makes width 0; ANSI raises DIVIDE_BY_ZERO
        # even for doubles (r4 review), so try_divide + coalesce routes
        # every value into bin 0 instead of aborting the profile job
        # (least() would skip the NULL and misfile them into the LAST
        # bin, hence coalesce before least)
        F.least(
            F.lit(nbins - 1),
            F.coalesce(
                F.floor(
                    F.try_divide(F.col("__x") - F.col("__lo"), width)
                ),
                F.lit(0),
            ),
        ).cast("long").alias("bin"),
        F.col("__lo"),
        width.alias("__w"),
    )
    return (
        binned.groupBy("bin", "__lo", "__w")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bin",
            (F.col("__lo") + F.col("bin") * F.col("__w")).alias("lo"),
            (F.col("__lo") + (F.col("bin") + 1) * F.col("__w")).alias("hi"),
            "n",
        )
    )


def flag_outliers(
    df: DataFrame, group_col: str, value_col: str, z: float = 3.0
) -> DataFrame:
    """Per-group z-score outlier flags: |x − mean| > z·stddev within the
    group — the numeric-curation gate (drop documents whose
    length/score is pathological FOR ITS STRATUM, not globally).

    Moments come from exact DECIMAL sums (sum, sum of squares), so mean
    and population variance are order-independent and an external engine
    derives bit-identical flags; the group aggregate broadcasts back onto
    the rows (one shuffle for the moments, none for the flagging). Groups
    of size 1 have zero variance — never flagged.

    Adds ``z_score`` (rounded 4dp, NULL when the group variance is 0)
    and ``is_outlier``. The moments re-attach is a NULL-SAFE equi-join
    (``eqNullSafe``): groupBy emits a moments row for the NULL group,
    and a plain equi-join would silently drop those documents instead
    of flagging them.
    """
    dec = "decimal(28,8)"
    x = F.col(value_col).cast("double")
    moments = (
        df.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(x.cast(dec)).alias("__s"),
            F.sum((x * x).cast(dec)).alias("__s2"),
        )
        .select(
            group_col,
            (F.col("__s").cast("double") / F.col("__n")).alias("__mean"),
            F.sqrt(
                F.greatest(
                    F.lit(0.0),
                    F.col("__s2").cast("double") / F.col("__n")
                    - (F.col("__s").cast("double") / F.col("__n")) ** 2,
                )
            ).alias("__sd"),
        )
    )
    zc = F.when(
        F.col("__sd") > 0, F.round((x - F.col("__mean")) / F.col("__sd"), 4)
    )
    moments = moments.withColumnRenamed(group_col, "__g")
    return (
        df.join(
            F.broadcast(moments), F.col(group_col).eqNullSafe(F.col("__g"))
        )
        .withColumn("z_score", zc)
        .withColumn(
            "is_outlier", F.coalesce(F.abs(zc) > F.lit(z), F.lit(False))
        )
        .drop("__g", "__mean", "__sd")
    )


def winsorize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lo: float = 0.05,
    hi: float = 0.95,
    out_col: str = "winsorized",
) -> DataFrame:
    """Per-group winsorization: clip ``value_col`` to the group's
    [lo, hi] exact percentiles (percentile_cont interpolation) — the
    heavy-tail taming step before averaging quality scores.

    One shuffle for the per-group percentile aggregate (exact
    percentiles sort within the aggregate's hash groups), broadcast
    back for the clip — NULL-SAFE on the group key so null-group rows
    are clipped against their own stratum rather than dropped. Exact
    interpolated percentiles match any ANSI engine's percentile_cont
    bit-for-bit on identical doubles.
    """
    x = F.col(value_col).cast("double")
    bounds = df.groupBy(group_col).agg(
        F.percentile(x, F.lit(lo)).alias("__plo"),
        F.percentile(x, F.lit(hi)).alias("__phi"),
    ).withColumnRenamed(group_col, "__g")
    return (
        df.join(
            F.broadcast(bounds), F.col(group_col).eqNullSafe(F.col("__g"))
        )
        .withColumn(
            out_col,
            F.least(F.greatest(x, F.col("__plo")), F.col("__phi")),
        )
        .drop("__g", "__plo", "__phi")
    )


def equi_depth_histogram(
    df: DataFrame, col: str, tie_col: str, nbins: int
) -> DataFrame:
    """Equi-DEPTH histogram: ``ntile(nbins)`` over a TOTAL order
    (value, then ``tie_col``), then per-bucket lo/hi/count — the
    quantile-bucketed complement to :func:`histogram` (equi-width bins
    starve where data clusters; equi-depth bins each hold ~n/nbins
    rows by construction). The tie column makes bucket assignment
    deterministic for duplicate values, so both engines place every row
    identically and the oracle matches bit-for-bit.

    Scale: ntile needs a global order — one range-partition exchange
    (Spark plans a global sort via range partitioning, the same shape as
    any ORDER BY); per-bucket stats ride a second small aggregation.
    For a 100 TB column, prefer approxQuantile for cut points and a
    broadcast-binning pass; this exact form is for profile-grade
    accuracy on aggregable columns.
    """
    from pyspark.sql.window import Window

    if nbins < 1:
        raise ValueError(f"equi_depth_histogram: nbins={nbins} must be >= 1")
    # NULLS LAST pinned on BOTH keys (repo window discipline): col is
    # filtered non-NULL below, but a NULL tie_col would otherwise sort
    # NULLS FIRST in Spark vs NULLS LAST in DuckDB and silently shift
    # bucket assignment between engines (r4 advice)
    w = Window.orderBy(
        F.col(col).asc_nulls_last(), F.col(tie_col).asc_nulls_last()
    )
    # NULL values are excluded EXPLICITLY: Spark sorts NULLS FIRST
    # ascending while DuckDB defaults to NULLS LAST, so leaving them in
    # would silently shift every bucket boundary between engines — and a
    # NULL has no quantile anyway
    binned = df.where(F.col(col).isNotNull()).select(
        F.col(col).cast("double").alias("__x"),
        F.ntile(nbins).over(w).cast("long").alias("bin"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.min("__x").alias("lo"),
            F.max("__x").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("bin", "lo", "hi", "n")
    )


def mad_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    threshold: float = 3.5,
) -> DataFrame:
    """Robust per-group outlier flags via the Median Absolute Deviation:
    modified z-score 0.6745·(x − median) / MAD, flagged when its
    magnitude exceeds ``threshold`` (3.5 is the standard
    Iglewicz-Hoaglin cut). The robust complement to
    :func:`flag_outliers`: mean/stddev gates move WITH the outliers
    they are hunting (one 1000x row inflates the stddev enough to hide
    itself), while median and MAD have 50% breakdown.

    Two grouped aggregates (median pass, then MAD over the deviations)
    each broadcast back — the flag_outliers shuffle family doubled, no
    window. NULL-safe on the group key; exact interpolated medians
    match any ANSI engine bit-for-bit on identical doubles; an
    all-identical group has MAD 0 → modified z NULL (try_divide, not
    DIVIDE_BY_ZERO) → never flagged. Adds ``modified_z`` (rounded 4dp,
    DuckDB-matching double rounding) and ``is_outlier``.
    """
    x = F.col(value_col).cast("double")
    med = df.groupBy(group_col).agg(
        F.percentile(x, F.lit(0.5)).alias("__med")
    ).withColumnRenamed(group_col, "__g")
    with_med = df.join(
        F.broadcast(med), F.col(group_col).eqNullSafe(F.col("__g"))
    ).drop("__g")
    mad = with_med.groupBy(group_col).agg(
        F.percentile(F.abs(x - F.col("__med")), F.lit(0.5)).alias("__mad")
    ).withColumnRenamed(group_col, "__g2")
    mz = F.try_divide(F.lit(0.6745) * (x - F.col("__med")), F.col("__mad"))
    return (
        with_med.join(
            F.broadcast(mad), F.col(group_col).eqNullSafe(F.col("__g2"))
        )
        .withColumn(
            "modified_z", F.round(mz * F.lit(1e4), 0) / F.lit(1e4)
        )
        .withColumn(
            "is_outlier",
            F.coalesce(F.abs(mz) > F.lit(threshold), F.lit(False)),
        )
        .drop("__g2", "__med", "__mad")
    )


def k_anonymity(
    df: DataFrame, qi_cols: list[str], k: int
) -> DataFrame:
    """Privacy audit: equivalence classes of the quasi-identifier columns
    with fewer than ``k`` members — the groups where a released record
    could be re-identified (Sweeney's k-anonymity). Returns the offending
    QI tuples with their class size, ordered nowhere (caller sorts).

    One hash-aggregate over the scan (map-side partial counts), then a
    size filter — the same shape at 100 TB; the output is bounded by the
    number of RARE QI combinations, which is what makes the report small
    precisely when the data is risky. NULL QI values form their own
    class (SQL GROUP BY semantics), which is the correct reading for
    re-identification: NULL is a visible value to an attacker.
    """
    if not qi_cols:
        raise ValueError("k_anonymity: need at least one QI column")
    if k < 2:
        raise ValueError("k_anonymity: k must be >= 2")
    return (
        df.groupBy(*qi_cols)
        .agg(F.count(F.lit(1)).alias("class_size"))
        .where(F.col("class_size") < F.lit(k))
    )


def fd_violations(
    df: DataFrame, determinant: list[str] | str, dependent: str
) -> DataFrame:
    """Functional-dependency audit: determinant values mapped to MORE
    than one distinct dependent value — the rows where ``determinant →
    dependent`` fails. Returns (determinant cols, n_dependent, lo, hi)
    with the min/max conflicting dependents as witnesses.

    Exact ``count(DISTINCT dependent)`` compiles to a two-phase
    expand/aggregate that Spark executes with partial aggregation —
    one shuffle on the determinant. NULL dependents are ignored by
    COUNT(DISTINCT) in both engines (a NULL never *witnesses* a
    violation; it is absence, not a second value).
    """
    dets = [determinant] if isinstance(determinant, str) else list(determinant)
    return (
        df.groupBy(*dets)
        .agg(
            F.count_distinct(F.col(dependent)).alias("n_dependent"),
            F.min(dependent).alias("dep_lo"),
            F.max(dependent).alias("dep_hi"),
        )
        .where(F.col("n_dependent") > 1)
    )


def benford_first_digit(df: DataFrame, col: str) -> DataFrame:
    """First-significant-digit distribution vs Benford's law for a
    positive currency-like column. Returns one row per digit 1-9:
    observed count, observed share, expected Benford share
    log10(1 + 1/d), and the squared-deviation term — the standard
    fabricated-data / corruption screen.

    Digit extraction is EXACT and engine-identical: the value is scaled
    to integer cents (round(x*100) as BIGINT — same IEEE multiply and
    half-away rounding in Spark and DuckDB), and the leading digit is
    read from the bigint's decimal string (bigint→string is exact in
    both engines; no double→string formatting, no log10 of a double
    landing just under a power of ten). Non-positive and NULL values
    are excluded. One map-side 9-bucket aggregate — scan-bound at any
    scale."""
    cents = F.round(F.col(col).cast("double") * F.lit(100.0), 0).cast("long")
    digits = (
        df.select(cents.alias("__c"))
        .where(F.col("__c") > 0)
        .select(
            F.substring(F.col("__c").cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
    )
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("__tot"))
    exp_p = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double"))
    obs_p = F.col("n").cast("double") / F.col("__tot").cast("double")
    return (
        counts.join(F.broadcast(total))
        .select(
            "digit",
            "n",
            (F.round(obs_p * F.lit(1e6), 0) / F.lit(1e6)).alias("obs_p"),
            (F.round(exp_p * F.lit(1e6), 0) / F.lit(1e6)).alias("exp_p"),
            # explicit multiply, not pow(x, 2): Math.pow is not guaranteed
            # correctly-rounded, x*x is — and the oracle must mirror it
            (
                F.round(
                    (obs_p - exp_p) * (obs_p - exp_p) / exp_p * F.lit(1e6), 0
                )
                / F.lit(1e6)
            ).alias("dev_term"),
        )
    )


def group_entropy(
    df: DataFrame, group_col: str, cat_col: str
) -> DataFrame:
    """Per-group Shannon entropy (bits) of a categorical column — the
    corpus-mixing diagnostic: how evenly is each source's document mass
    spread over languages (or any category)? Returns (group, n_cats, n,
    entropy, entropy_norm) where entropy_norm = H / log2(n_cats) in
    [0, 1] (NULL for a single-category group — normalization undefined,
    not 0, mirrored by nullif in oracles).

    Two stacked aggregates on the same grouping key — Catalyst keeps the
    second one shuffle-free since the data is already hash-partitioned
    by group. Each -p·log2(p) term is cast to DECIMAL(18,6) before the
    sum (order-independent, ulp-proof — the _dsum discipline), so both
    engines produce the identical double. NULL categories count as a
    real class (an attacker-visible "unknown" bucket); NULL groups form
    their own group.
    """
    from pyspark.sql import Window

    pairs = df.groupBy(
        F.col(group_col).alias("grp"), F.col(cat_col).alias("__cat")
    ).agg(F.count(F.lit(1)).alias("__nc"))
    p = F.col("__nc").cast("double") / F.col("__n").cast("double")
    term = (-p * F.log2(p)).cast("decimal(18,6)")
    # group total via a window over the already-aggregated pairs: an
    # equality self-join would DROP a NULL group key; window partitioning
    # keeps it, and runs shuffle-free on the existing hash partitioning
    sized = pairs.withColumn(
        "__n", F.sum("__nc").over(Window.partitionBy("grp"))
    )
    return (
        sized.select("grp", "__n", term.alias("__t"))
        .groupBy("grp", "__n")
        .agg(
            F.count(F.lit(1)).alias("n_cats"),
            F.sum("__t").alias("__hd"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_cats",
            F.col("__n").alias("n"),
            # round the EXACT decimal sum, then cast (the _dsum discipline)
            F.round(F.col("__hd"), 4).cast("double").alias("entropy"),
            (
                F.round(
                    F.try_divide(
                        F.col("__hd").cast("double"),
                        F.log2(F.col("n_cats").cast("double")),
                    )
                    * F.lit(1e4),
                    0,
                )
                / F.lit(1e4)
            ).alias("entropy_norm"),
        )
    )

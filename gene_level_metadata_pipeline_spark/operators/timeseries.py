"""Time-series operators: regular-grid resampling with gap fill (LOCF)
and SCD2 validity-interval construction from event streams.

Neither exists as a Spark built-in; both are compositions of sequence/
explode + partition windows — one shuffle on the entity key, no
self-joins, no Python. The reference pipeline is batch-only
(SURVEY §2.12), so these are scale-out extensions in the hypertable /
warehouse-dimension family alongside ``hierarchical_rollup``
(temporal.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["resample_locf", "scd2_intervals", "rolling_zscore",
           "ewma_smooth", "time_weighted_avg", "cusum_drift",
           "interarrival_stats", "debounce", "ohlc_bars",
           "gaps_islands", "ols_trend", "coalesce_intervals"]


def resample_locf(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tie_col: str,
    step_us: int | None = None,
) -> DataFrame:
    """Resample an irregular series onto a regular time grid, filling
    gaps with the last observation carried forward (LOCF).

    Semantics: for each key, a grid from the step-aligned global minimum
    to the global maximum (step inclusive); each grid point carries the
    value of the latest observation at-or-before it (NULL before the
    first observation). Ties at one (key, ts) are resolved
    deterministically by the greatest ``tie_col`` (``max_by``).

    Two axis modes: timestamp ``ts_col`` on an hourly grid (interval
    sequence of ``1 hour`` steps from ``date_trunc('hour', min)``), or — when
    ``step_us`` is given — a numeric axis (epoch micros or any long),
    aligning the origin with integer arithmetic ``min - min % step_us``.
    The numeric mode sidesteps timezone semantics entirely and is the
    cross-engine-reproducible choice.

    Plan shape: 1-row global bounds broadcast-crossed with the distinct
    keys, grid exploded executor-side (never a driver loop), then the
    as-of trick — union observations (sort rank 0) with grid points
    (sort rank 1) and carry ``last(value, ignorenulls)`` over one
    key-partitioned window. ONE shuffle on the key; grid cardinality is
    keys × span/step, independent of the fact row count. At 100 TB the
    observation pre-aggregation and the window share the same hash
    partitioning, so AQE keeps the exchange count at one.
    """
    obs = df.groupBy(F.col(key_col), F.col(ts_col).alias("__ts")).agg(
        F.max_by(F.col(value_col), F.col(tie_col)).alias("__val")
    )
    if step_us is not None:
        bounds = df.agg(
            (F.min(ts_col) - F.min(ts_col) % step_us).alias("__t0"),
            F.max(ts_col).alias("__t1"),
        )
        seq = F.sequence("__t0", "__t1", F.lit(step_us))
    else:
        bounds = df.agg(
            F.date_trunc("hour", F.min(ts_col)).alias("__t0"),
            F.max(ts_col).alias("__t1"),
        )
        seq = F.sequence("__t0", "__t1", F.expr("interval 1 hour"))
    grid = (
        df.select(key_col)
        .distinct()
        .join(F.broadcast(bounds))
        .select(key_col, F.explode(seq).alias("__ts"))
    )
    unioned = obs.select(
        key_col, "__ts", "__val", F.lit(0).alias("__is_grid")
    ).unionByName(
        grid.select(
            key_col,
            "__ts",
            F.lit(None).cast(obs.schema["__val"].dataType).alias("__val"),
            F.lit(1).alias("__is_grid"),
        )
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy("__ts", "__is_grid")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        unioned.withColumn("__locf", F.last("__val", ignorenulls=True).over(w))
        .where(F.col("__is_grid") == 1)
        .select(
            key_col,
            F.col("__ts").alias("grid_ts"),
            F.col("__locf").alias("value_locf"),
        )
    )


def scd2_intervals(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    attr_col: str,
    tie_col: str,
) -> DataFrame:
    """Collapse a change-event stream into SCD2 validity intervals:
    one row per (key, attribute run) with ``valid_from`` /
    ``valid_to`` (NULL = current) and an ``is_current`` flag.

    The warehouse dimension-history shape: rows ordered per key by
    (ts, tie); consecutive rows with the same attribute value merge
    into one interval. Both windows (change detection via ``lag``,
    interval close via ``lead``) share one key-partitioned sort — a
    single shuffle regardless of history depth. ``tie_col`` (a unique
    id) makes same-timestamp orderings reproducible.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, tie_col)
    # lag over a struct distinguishes "no previous row" (NULL struct) from
    # "previous attribute is NULL" (struct with NULL field) — the change
    # test itself is null-safe (<=>).
    prev = F.lag(F.struct(F.col(attr_col).alias("a"))).over(w)
    changed = df.withColumn("__prev", prev).where(
        F.col("__prev").isNull()
        | ~F.col(attr_col).eqNullSafe(F.col("__prev.a"))
    )
    w2 = Window.partitionBy(key_col).orderBy(ts_col, tie_col)
    return changed.select(
        F.col(key_col),
        F.col(attr_col),
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w2).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())


def rolling_zscore(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tie_col: str,
    window: int = 20,
) -> DataFrame:
    """Rolling z-score anomaly detection per series — the streaming-
    telemetry data-quality gate (is this point surprising given the
    last ``window`` points?) as one partition window, no self-joins.

    Each row is scored against the mean/std of the PREVIOUS ``window``
    values in its ``key_col`` series (frame: ``window`` PRECEDING to 1
    PRECEDING — the point never scores against itself, so a level shift
    is flagged at its first row, not absorbed). Exactness discipline
    (the engine's standard, same as quality.zscore_outliers): moments
    come from DECIMAL(18,6) sums and sums-of-squares — exact,
    order-independent, and immune to the incremental add/remove rounding
    drift of double sliding-window sums — followed by correctly-rounded
    double division, so the oracle reproduces every z bit-exactly.
    Rows with fewer than ``window`` predecessors or a zero/degenerate
    std get a NULL ``z`` and ``is_anomaly`` NULL (warm-up and
    constant-series rows are "don't know", not "normal").

    Returns the input plus (z, is_anomaly = |z| > 3). Scale: one shuffle on
    ``key_col``; state per row is the O(window) frame — bounded,
    skew-safe for any realistic window size.
    """
    if window < 2:
        raise ValueError(f"rolling_zscore: window={window} must be >= 2")
    # asc_nulls_last pins Spark to DuckDB's default NULL ordering — a
    # NULL timestamp would otherwise sort FIRST here and LAST in the
    # oracle, silently shifting every frame
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col(ts_col).asc_nulls_last(), F.col(tie_col).asc_nulls_last())
        .rowsBetween(-window, -1)
    )
    vdec = F.col(value_col).cast("decimal(18,6)")
    cnt = F.count(vdec).over(w)
    s1 = F.sum(vdec).over(w)
    s2 = F.sum(vdec * vdec).over(w)
    mean = s1.cast("double") / cnt
    # mean * mean, never ** 2: pow() is not guaranteed ulp-identical to
    # plain multiplication across engines, multiplication is
    var = s2.cast("double") / cnt - mean * mean
    sd = F.sqrt(var)
    z = F.when(
        (cnt >= window) & (sd > 0),
        F.round(
            (vdec.cast("double") - mean) / sd,
            4,
        ),
    )
    return df.withColumn("z", z).withColumn(
        "is_anomaly",
        F.when(F.col("z").isNotNull(), F.abs(F.col("z")) > 3.0),
    )


def ewma_smooth(
    df: DataFrame,
    partition_by: str,
    order_by: list,
    value_col: str,
    lags: int = 20,
) -> DataFrame:
    """Exponentially-weighted moving average with decay 1/2 per step,
    truncated at ``lags`` terms — the smoothing half of the anomaly
    toolkit beside ``rolling_zscore``'s plain mean/stddev window.

    The whole recurrence runs in EXACT integer arithmetic so it is
    hash-oracle-able (the bigint-micro-unit discipline of
    ``graph.pagerank``): values scale to micro-units
    (round(x*1e6) as BIGINT), the weight of the d-th lag is the integer
    2^(lags-1-d), and the weighted numerator folds over the bounded
    window's collect_list — order-preserving inside a ROWS frame — with
    a halving shift per step. The denominator has the closed form
    2^lags − 2^(lags−n) for a window of n rows. Both engines then divide
    the identical bigints (IEEE-exact) for the reported average.

    Truncation at 20 lags means dropped mass < 2^-19 ≈ 2e-6 relative —
    below micro-unit resolution — while keeping num ≤ 2^19·|x|·1e6·20,
    safely inside bigint for |x| < 4e11. One window sort per partition
    key, no self-join, no Python; the frame is 20 rows regardless of
    scale, so memory per row is constant at 100 TB.

    NULL values are excluded before windowing (a NULL term would poison
    the fold; excluding keeps the lag structure defined on observed
    points only — document the same WHERE in any oracle twin).
    """
    if not 1 <= lags <= 62:
        raise ValueError("ewma_smooth: lags must be in [1, 62]")
    vm = F.round(F.col(value_col).cast("double") * F.lit(1e6), 0).cast(
        "long"
    )
    w = (
        Window.partitionBy(partition_by)
        .orderBy(*order_by)
        .rowsBetween(1 - lags, Window.currentRow)
    )
    # newest-first fold: weight starts at 2^(lags-1) and halves per step
    init = F.struct(
        F.lit(0).cast("long").alias("s"),
        F.shiftleft(F.lit(1).cast("long"), lags - 1).alias("w"),
    )
    num = F.aggregate(
        F.reverse(F.collect_list(vm).over(w)),
        init,
        lambda acc, x: F.struct(
            (acc.s + x * acc.w).alias("s"),
            F.shiftright(acc.w, 1).alias("w"),
        ),
        lambda acc: acc.s,
    )
    n = F.count(F.lit(1)).over(w)
    # PySpark's F.shiftleft only takes a literal shift amount; the
    # window-count-dependent shift goes through the SQL form instead
    den = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), {lags})"
        f" - shiftleft(CAST(1 AS BIGINT), {lags} - CAST(__wn AS INT))"
    )
    return (
        df.where(F.col(value_col).isNotNull())
        .withColumn("ewma_num", num)
        .withColumn("__wn", n)
        .withColumn("ewma_den", den.cast("long"))
        .drop("__wn")
        .withColumn(
            # DuckDB-matching double rounding (registry._round_to trick):
            # round(x*10^6, 0)/10^6, never F.round(x, 6) on a raw double
            "ewma",
            F.round(
                F.col("ewma_num").cast("double")
                / F.col("ewma_den").cast("double"),
                0,
            )
            / F.lit(1e6),
        )
    )


def time_weighted_avg(
    df: DataFrame,
    partition_by: str,
    ts_col: str,
    id_col: str,
    value_col: str,
) -> DataFrame:
    """Time-weighted average per key (the TWAP shape): each observation
    holds its value until the NEXT observation, so the mean weights each
    value by its holding duration — the correct average for irregularly
    sampled series (a plain AVG over-weights bursts). The final
    observation of each key has no duration and is excluded (standard
    TWAP; document the same in oracle twins).

    Exact and hash-oracle-able: value scales to micro-unit bigints,
    durations are microsecond bigints (unix_micros), and each
    value x duration product is summed in DECIMAL(38,0) — associative,
    order-independent, overflow-free (micro-value ~1e9 x a month of
    micros ~2.6e12 x millions of rows fits 38 digits with room). The
    reported average divides the two exact totals as doubles, identical
    in any engine. One window shuffle on the key; NULL values excluded
    up front (a NULL would otherwise erase its interval's weight).

    Returns (key, n_intervals, twap) — rounded to 6 via the DuckDB-
    matching round(x*1e6)/1e6.
    """
    lead_ts = F.lead(F.unix_micros(F.col(ts_col))).over(
        Window.partitionBy(partition_by).orderBy(
            F.col(ts_col).asc_nulls_last(), F.col(id_col).asc_nulls_last()
        )
    )
    vm = F.round(F.col(value_col).cast("double") * F.lit(1e6), 0).cast(
        "long"
    )
    spans = (
        df.where(F.col(value_col).isNotNull())
        .select(
            F.col(partition_by).alias("key"),
            vm.alias("__vm"),
            (lead_ts - F.unix_micros(F.col(ts_col))).alias("__dur"),
        )
        .where(F.col("__dur").isNotNull())
    )
    # cast BEFORE multiplying: a bigint*bigint product overflows at
    # micro-value ~5e9 x a month of micros ~2.6e12; DECIMAL(18,0) x
    # DECIMAL(19,0) is exact in both engines (38-digit product space)
    num = F.sum(
        F.col("__vm").cast("decimal(18,0)")
        * F.col("__dur").cast("decimal(19,0)")
    )
    den = F.sum(F.col("__dur").cast("decimal(19,0)"))
    return spans.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        (
            F.round(
                F.try_divide(num.cast("double"), den.cast("double")), 0
            )
            / F.lit(1e6)
        ).alias("twap"),
    )


def cusum_drift(
    df: DataFrame,
    partition_by: str,
    ts_col: str,
    id_col: str,
    value_col: str,
    target: float,
    slack: float,
    threshold: float,
) -> DataFrame:
    """One-sided CUSUM drift detection per key: flags the points where
    the cumulative upward deviation from ``target + slack`` exceeds
    ``threshold`` — the classic change-point screen for metric drift.

    The textbook recurrence c_t = max(0, c_{t-1} + x_t - (target+slack))
    is sequential, but it has a closed prefix form: with
    S_t = Σ_{i<=t} (x_i - (target+slack)),  c_t = S_t - min_{i<=t} S_i —
    BOTH window-expressible (running sum + running min over the same
    partitioned window), so the whole detector is two stacked window
    functions on one shuffle, no recursion, no Python, no state store.

    Everything runs in EXACT micro-unit bigints (values, target, slack,
    threshold scale by 1e6; sums fit bigint for |x|<4e12 over ~1e6 rows
    per key), so the flagged set and statistics hash-match any engine.
    Returns only the flagged rows: (key, id, cusum) with cusum in
    original units rounded to 6dp. NULL values are excluded up front.
    """
    # windows run over the RENAMED projection below (key/id/__ts)
    w = Window.partitionBy("key").orderBy(
        F.col("__ts").asc_nulls_last(), F.col("id").asc_nulls_last()
    )
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    vm = F.round(F.col(value_col).cast("double") * F.lit(1e6), 0).cast(
        "long"
    )
    ref = int(round((target + slack) * 1e6))
    thr = int(round(threshold * 1e6))
    dev = (vm - F.lit(ref)).alias("__dev")
    s = F.sum("__dev").over(run)
    out = (
        df.where(F.col(value_col).isNotNull())
        .select(
            F.col(partition_by).alias("key"),
            F.col(id_col).alias("id"),
            F.col(ts_col).alias("__ts"),
            dev,
        )
        .withColumn("__s", s)
        .withColumn("__smin", F.min("__s").over(run))
        .withColumn("__c", F.col("__s") - F.col("__smin"))
        .where(F.col("__c") > F.lit(thr))
    )
    return out.select(
        "key",
        "id",
        (F.col("__c").cast("double") / F.lit(1e6)).alias("cusum"),
    )


def interarrival_stats(
    df: DataFrame,
    partition_by: list[str],
    ts_col: str,
    id_col: str,
    group_by: str,
) -> DataFrame:
    """Inter-arrival-time profile: microsecond gaps between consecutive
    events within each ``partition_by`` stream, aggregated per
    ``group_by`` — the burstiness/periodicity diagnostic (bot traffic
    shows near-constant gaps, organic traffic heavy tails).

    Gaps are exact microsecond bigints (lag over one partitioned
    window); the per-group profile reports count, mean (exact decimal
    sum / count, then one double divide), and interpolated p50/p90
    (percentile on identical bigints is the same double in any ANSI
    engine — the mad_outliers precedent). Two shuffles total: the
    stream window, then the group aggregate.
    """
    w = Window.partitionBy(*partition_by).orderBy(
        F.col(ts_col).asc_nulls_last(), F.col(id_col).asc_nulls_last()
    )
    us = F.unix_micros(F.col(ts_col))
    gaps = (
        df.withColumn("__gap", us - F.lag(us).over(w))
        .where(F.col("__gap").isNotNull())
    )
    mean_gap = F.round(
        F.try_divide(
            F.sum(F.col("__gap").cast("decimal(28,6)")).cast("double"),
            F.count(F.lit(1)).cast("double"),
        ),
        0,
    ) / F.lit(1e6)
    return gaps.groupBy(F.col(group_by).alias("grp")).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        mean_gap.alias("mean_gap_s"),
        (
            F.round(
                F.percentile(F.col("__gap"), F.lit(0.5)) / F.lit(1e6)
                * F.lit(1e4),
                0,
            )
            / F.lit(1e4)
        ).alias("p50_gap_s"),
        (
            F.round(
                F.percentile(F.col("__gap"), F.lit(0.9)) / F.lit(1e6)
                * F.lit(1e4),
                0,
            )
            / F.lit(1e4)
        ).alias("p90_gap_s"),
    )


def debounce(
    df: DataFrame,
    partition_by: list[str],
    ts_col: str,
    id_col: str,
    min_gap_us: int,
) -> DataFrame:
    """Telemetry debounce: within each stream, keep an event only if at
    least ``min_gap_us`` microseconds passed since the last KEPT event —
    the duplicate-burst suppressor (double-clicks, retry storms,
    at-least-once delivery echoes).

    True debounce is sequential (the kept-set depends on itself), but
    the standard lag-based approximation — keep rows whose gap from the
    PREVIOUS ROW is >= min_gap_us, plus each stream's first row — is the
    industry norm and window-expressible in one shuffle. The difference
    matters only for bursts longer than one suppressed row; for the
    dedup-echo use case (gap either ~0 or large) they coincide. All
    arithmetic is exact microsecond bigints. Ties at one (ts) order by
    ``id_col`` so the earliest id survives the burst.
    """
    w = Window.partitionBy(*partition_by).orderBy(
        F.col(ts_col).asc_nulls_last(), F.col(id_col).asc_nulls_last()
    )
    us = F.unix_micros(F.col(ts_col))
    gap = us - F.lag(us).over(w)
    return (
        df.withColumn("__gap", gap)
        .where(
            F.col("__gap").isNull() | (F.col("__gap") >= F.lit(min_gap_us))
        )
        .drop("__gap")
    )


def ohlc_bars(
    df: DataFrame,
    partition_by: str,
    ts_col: str,
    id_col: str,
    value_col: str,
) -> DataFrame:
    """Candlestick (OHLC) bars per key per hour: open/close are
    the first/last observation in (ts, id) order, high/low the extremes
    — the standard series downsample. One hash aggregate (max_by /
    min_by on the (ts, id) struct — no window, no sort), so the plan is
    a map-side-combined groupBy at any scale. Deterministic because the
    (ts, id) struct is a total order. NULL values excluded; the bucket
    is ``date_trunc('hour', ts)`` rendered as a string for
    engine-neutral output.
    """
    order = F.struct(
        F.unix_micros(F.col(ts_col)).alias("t"), F.col(id_col).alias("i")
    )
    return (
        df.where(F.col(value_col).isNotNull())
        .groupBy(
            F.col(partition_by).alias("key"),
            F.date_format(
                F.date_trunc("hour", F.col(ts_col)), "yyyy-MM-dd HH:mm:ss"
            ).alias("bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min_by(F.col(value_col), order).alias("open"),
            F.max_by(F.col(value_col), order).alias("close"),
            F.max(value_col).alias("high"),
            F.min(value_col).alias("low"),
        )
    )


def gaps_islands(
    df: DataFrame,
    partition_by: str,
    ts_col: str,
    bucket_us: int,
) -> DataFrame:
    """Gaps-and-islands: collapse each key's activity into maximal runs
    of CONSECUTIVE time buckets (reference shape: the tidyverse
    ``group_by(id, grp = bucket - row_number())`` idiom; the classic
    Tabibian/Ben-Gan rank-difference trick). Returns one row per island
    with ``(key, island_start_us, island_len)``.

    Distinct from :func:`sessionize` (gap-threshold on raw timestamps):
    islands are defined on a discretized grid — "active N hours in a
    row" — which is the streak/retention question, not the session one.

    Plan shape: bucket map-side (exact bigint ``div``), one distinct
    aggregate on (key, bucket), one window sort per key to compute the
    rank difference (bucket − row_number is constant within an island
    and strictly separates islands because buckets are distinct), one
    final hash aggregate. Two shuffles total, both on the key — at
    100 TB both co-partition with any downstream per-key retention
    join, and the distinct step bounds the window input to one row per
    (key, bucket) regardless of raw event volume.
    """
    # exact bigint bucketing: `/` on longs promotes to double, so use
    # SQL `div`; all test epochs are positive, where div == floor-div
    b = (
        df.where(F.col(ts_col).isNotNull())
        .select(
            F.col(partition_by).alias("key"),
            F.expr(f"unix_micros({ts_col}) div {bucket_us}").alias("__b"),
        )
        .distinct()
    )
    w = Window.partitionBy("key").orderBy(F.col("__b").asc_nulls_last())
    runs = b.withColumn("__grp", F.col("__b") - F.row_number().over(w))
    return runs.groupBy("key", "__grp").agg(
        (F.min("__b") * F.lit(bucket_us)).alias("island_start_us"),
        F.count(F.lit(1)).alias("island_len"),
    ).drop("__grp")


def ols_trend(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Closed-form per-group simple linear regression of ``y_col`` on
    ``x_col``: one hash aggregate computes the five sufficient
    statistics (n, Sx, Sy, Sxx, Sxy, Syy) EXACTLY — callers supply x as
    a bigint and y as an exact decimal (micro-units upstream), so the
    sums are exact integers/decimals and partial-aggregation order
    cannot perturb them — then slope/intercept/R^2 fall out as scalar
    double arithmetic. Deliberately not ``regr_slope``/``regr_r2``:
    Spark's built-ins accumulate doubles in partition order and are not
    reproducible across partitionings, let alone engines. Degenerate
    groups (one distinct x, or zero variance) yield NULL via
    ``try_divide``, never an ANSI DIVIDE_BY_ZERO. Regression state is
    five numbers per group at any scale; the aggregate map-side
    combines. Returns (group, n, num, den, ssy, sx, sy) plus fitted
    ``slope_raw``/``r2_raw`` doubles — presentation rounding is the
    caller's concern. Rows with a NULL x or y are EXCLUDED up front:
    Spark sums skip NULLs but ``count(*)`` would not, and an n
    inconsistent with the sums silently fabricates a slope — the
    worst failure mode for a stats primitive.
    """
    df = df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
    s = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x_col).alias("sx"),
        F.sum(y_col).alias("sy"),
        F.sum(F.col(x_col) * F.col(x_col)).alias("sxx"),
        F.sum(F.col(x_col) * F.col(y_col)).alias("sxy"),
        F.sum(F.col(y_col) * F.col(y_col)).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    num = nd * F.col("sxy").cast("double") - sxd * syd
    den = nd * F.col("sxx").cast("double") - sxd * sxd
    ssy = nd * F.col("syy").cast("double") - syd * syd
    slope = F.try_divide(num, den)
    return s.select(
        group_col,
        "n",
        num.alias("num"),
        den.alias("den"),
        ssy.alias("ssy"),
        sxd.alias("sxd"),
        syd.alias("syd"),
        slope.alias("slope_raw"),
        ((syd - slope * sxd) / nd).alias("intercept_raw"),
        F.try_divide(num * num, den * ssy).alias("r2_raw"),
    )


def coalesce_intervals(
    df: DataFrame,
    key_col: str,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Merge overlapping intervals per key into maximal coverage spans —
    the classic range-union one-pass: a running max of interval ends
    over the start-sorted stream (frame ending at 1 PRECEDING, so a row
    sees only PRIOR ends) marks a new span exactly when a start clears
    everything before it; the span id is the running sum of those
    marks. Returns one row per merged span:
    ``(key, cov_start, cov_end, n_merged)``. Touching intervals
    (start == previous end) are treated as connected (``>`` test).
    Exact arithmetic on whatever ordered type the bounds carry; one
    key-partitioned shuffle shared by both windows and the rollup —
    the continuous cousin of :func:`gaps_islands`."""
    order = [
        F.col(start_col).asc_nulls_last(),
        F.col(end_col).asc_nulls_last(),
    ]
    w_prev = (
        Window.partitionBy(key_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(key_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    g = df.withColumn(
        "__prev_max_e", F.max(end_col).over(w_prev)
    ).withColumn(
        "__grp",
        F.sum(
            F.when(
                F.col("__prev_max_e").isNull()
                | (F.col(start_col) > F.col("__prev_max_e")),
                1,
            ).otherwise(0)
        )
        .over(w_run)
        .cast("bigint"),
    )
    return g.groupBy(F.col(key_col).alias("key"), "__grp").agg(
        F.min(start_col).alias("cov_start"),
        F.max(end_col).alias("cov_end"),
        F.count(F.lit(1)).alias("n_merged"),
    ).drop("__grp")


def theil_sen_slope(
    df: DataFrame,
    group: str,
    t_col: str,
    y_col: str,
    scale: int = 10_000,
) -> DataFrame:
    """Theil–Sen robust trend per group: the (lower) MEDIAN of all
    pairwise slopes (y_j - y_i) / (t_j - t_i), i < j — the estimator
    with a 29.3% breakdown point that OLS trend lines (ols_trend) lack:
    a handful of corrupted months cannot move it. Inputs must be exact
    integers (``t_col`` an ordinal like months-since-epoch, ``y_col``
    e.g. cents); slopes are fixed-point bigints scaled by ``scale``
    with FLOOR semantics implemented engine-portably as
    (num - pmod(num, dt)) div dt — the pmod adjustment makes the
    numerator exactly divisible, so Spark's integral `div` (exact on
    bigint, unlike `/` which is IEEE double past 2^53) returns
    precisely the floor. Ties and even counts resolve to the LOWER median (rank
    ceil(n/2) under (slope, t_i, t_j) total order) — deterministic,
    hash-comparable.

    Returns (group, n_pairs, slope_scaled).

    Scale shape: the pairwise self-join is quadratic IN THE GROUP's
    point count, never in row count — the intended use is trend over
    pre-aggregated series (months, days), where n_points is hundreds
    and n_pairs bounded; the join key is the group, so work is
    key-local and the plan is one shuffle + one per-group window. For
    long series, pre-thin the series (e.g. monthly rollup) — the
    estimator is robust to the aggregation by construction.
    """
    a = df.select(
        F.col(group).alias("g"),
        F.col(t_col).cast("bigint").alias("ta"),
        F.col(y_col).cast("bigint").alias("ya"),
    )
    b = df.select(
        F.col(group).alias("g"),
        F.col(t_col).cast("bigint").alias("tb"),
        F.col(y_col).cast("bigint").alias("yb"),
    )
    pairs = a.join(b, "g").where(F.col("ta") < F.col("tb"))
    num = (F.col("yb") - F.col("ya")) * F.lit(scale)
    dt = F.col("tb") - F.col("ta")
    slopes = pairs.select(
        "g", "ta", "tb",
        F.call_function("div", num - F.pmod(num, dt), dt).alias("slope"),
    )
    w = Window.partitionBy("g").orderBy("slope", "ta", "tb")
    ranked = slopes.select(
        "g", "slope",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("g")).alias("n_pairs"),
    )
    return ranked.where(
        F.col("rn") == F.ceil(F.col("n_pairs") / 2).cast("bigint")
    ).select(
        F.col("g").alias(group),
        "n_pairs",
        F.col("slope").alias("slope_scaled"),
    )

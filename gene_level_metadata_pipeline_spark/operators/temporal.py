"""Temporal join operators Spark lacks natively: as-of and range joins.

Both are implemented as compositions of built-in operators with explicit
scale contracts (the prompt-level "custom operator" path (a): composition
before Pandas UDFs before mapPartitions).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["as_of_join", "range_join", "hierarchical_rollup", "funnel_steps",
           "retention_cohorts", "attribute_last_touch",
           "attribute_time_decay", "interval_overlap_join"]


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str,
    right_ts: str,
    tolerance: int | None = None,
    tie_break: list[str] | None = None,
) -> DataFrame:
    """As-of join: for each left row, the most recent right row with
    ``right_ts <= left_ts`` sharing the ``on`` keys.

    Implementation: tag + union both sides, sort within key partitions by
    (ts, side), and carry the latest right row forward with a running
    ``last(ignorenulls)`` window — ONE shuffle on the key, no range
    self-join blowup, no per-key collect. This is the scalable shape for
    billions of rows; a backward tolerance (same time unit as the ts
    columns) optionally nulls matches that are too old.

    Right columns (except keys/ts) come back prefixed ``right_``.
    Left timestamp ties with a right row admit the right row (<=).
    ``tie_break`` names right columns that deterministically order right
    rows sharing a timestamp (ascending; the LAST one wins) — without it,
    equal-timestamp right rows are matched arbitrarily per run.
    """
    keys = [on] if isinstance(on, str) else list(on)
    r_payload = [c for c in right.columns if c not in {*keys, right_ts}]

    lhs = left.select(
        *keys,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__is_left"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"right_{c}")
          for c in r_payload],
        F.lit(None).cast(right.schema[right_ts].dataType).alias("__rts"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__lrow"),
    )
    rhs = right.select(
        *keys,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__is_left"),
        *[F.col(c).alias(f"right_{c}") for c in r_payload],
        F.col(right_ts).alias("__rts"),
        F.lit(None).cast(lhs.schema["__lrow"].dataType).alias("__lrow"),
    )
    # right rows sort before left rows at equal ts => <= semantics
    order = [F.col("__ts"), F.col("__is_left")]
    for c in tie_break or []:
        order.append(F.col(f"right_{c}").asc_nulls_first())
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = lhs.unionByName(rhs).select(
        "*",
        *[F.last(f"right_{c}", ignorenulls=True).over(w).alias(f"__carry_{c}")
          for c in r_payload],
        F.last("__rts", ignorenulls=True).over(w).alias("__carry_rts"),
    )
    out = carried.where(F.col("__is_left") == 1)
    if tolerance is not None:
        fresh = (F.col("__ts") - F.col("__carry_rts")) <= tolerance
        out = out.select(
            "__lrow",
            *[F.when(fresh, F.col(f"__carry_{c}")).alias(f"right_{c}")
              for c in r_payload],
            F.when(fresh, F.col("__carry_rts")).alias(f"right_{right_ts}"),
        )
    else:
        out = out.select(
            "__lrow",
            *[F.col(f"__carry_{c}").alias(f"right_{c}") for c in r_payload],
            F.col("__carry_rts").alias(f"right_{right_ts}"),
        )
    return out.select(
        *[F.col(f"__lrow.{c}").alias(c) for c in left.columns],
        *[F.col(f"right_{c}") for c in r_payload],
        F.col(f"right_{right_ts}"),
    )


def range_join(
    facts: DataFrame,
    ranges: DataFrame,
    value_col: str,
    lo_col: str,
    hi_col: str,
) -> DataFrame:
    """Range (interval containment) inner join: fact rows matched to
    range rows with ``lo <= value < hi``.

    The ranges side is broadcast (band tables are small by construction) —
    a BroadcastNestedLoopJoin whose inner predicate is evaluated
    JVM-side; at scale the alternative for a LARGE ranges side is binning
    both sides to an equi-join key (bin = floor(value/width)) and
    filtering, which keeps a shuffle join. This op takes the broadcast
    path and documents the binned variant.
    """
    cond: Column = (F.col(lo_col) <= F.col(value_col)) & (
        F.col(value_col) < F.col(hi_col)
    )
    return facts.join(F.broadcast(ranges), cond, "inner")


def hierarchical_rollup(
    df: DataFrame,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: hour and day
    aggregates where the day grain is computed FROM the hour grain's
    partials, not by rescanning the facts.

    Returns (grain, bucket_start, n, total) for both grains. The fact
    table is scanned ONCE (hour grain); day-from-hour aggregates ~24x
    fewer rows — the exact maintenance shape a continuous
    aggregate/materialized rollup uses at 100 TB. Sums stay in decimal so
    re-aggregation is exact.
    """
    hour = (
        df.groupBy(F.date_trunc("hour", F.col(ts_col)).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(value_col).cast("decimal(18,6)")).alias("total"),
        )
    )
    day = (
        hour.groupBy(F.date_trunc("day", F.col("bucket")).alias("bucket"))
        .agg(F.sum("n").alias("n"), F.sum("total").alias("total"))
    )

    def tidy(cur: DataFrame, grain: str) -> DataFrame:
        return cur.select(
            F.lit(grain).alias("grain"),
            F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
            "n",
            F.round("total", 2).cast("double").alias("total"),
        )

    return tidy(hour, "hour").unionByName(tidy(day, "day"))


def funnel_steps(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
    max_gap_us: int | None = None,
) -> DataFrame:
    """Ordered-funnel analysis: how many users performed the ``steps``
    event types in strict timestamp order (each step strictly AFTER the
    user's earliest completion of the previous one — a purchase logged
    before the user's first click does not convert the purchase step).

    Shape chosen for scale: one conditional min-aggregation per step —
    ``t_i = min(ts of step_i events with ts > t_{i-1})`` — chained via
    user-keyed joins that all reuse the same hash partitioning, instead
    of collecting each user's event array (a power user with millions
    of events would blow an array buffer; a per-step min never does).

    Returns one row per step: (step_idx, step, n_users, pct_of_first)
    with pct rounded to 4 dp (NULL when the first step had no users).

    ``max_gap_us`` makes the funnel TIME-WINDOWED: each step must also
    land within that many microseconds of the user's earliest previous-
    step completion (the "purchase within 48h of click" product
    question). Semantics stay the greedy earliest-completion chain —
    the window anchors on the earliest prior step, the convention
    product-analytics funnels use; a user who re-enters later is not
    re-anchored. Requires a timestamp-typed ``ts_col``.
    """
    if not steps:
        raise ValueError("funnel_steps: steps must be non-empty")
    u = F.col(user_col).alias("__u")
    reached = None  # DataFrame (__u, __t) of users who reached the prior step
    counts = []
    for i, step in enumerate(steps):
        ev = events.where(F.col(type_col) == step).select(
            u, F.col(ts_col).alias("__ts")
        )
        if reached is None:
            reached = ev.groupBy("__u").agg(F.min("__ts").alias("__t"))
        else:
            cond = F.col("__ts") > F.col("__t")
            if max_gap_us is not None:
                cond = cond & (
                    F.unix_micros(F.col("__ts"))
                    - F.unix_micros(F.col("__t"))
                    <= F.lit(max_gap_us)
                )
            reached = (
                ev.join(reached, "__u")
                .where(cond)
                .groupBy("__u")
                .agg(F.min("__ts").alias("__t"))
            )
        counts.append(
            reached.agg(
                F.lit(i + 1).cast("long").alias("step_idx"),
                F.lit(step).alias("step"),
                F.count(F.lit(1)).alias("n_users"),
            )
        )
    from functools import reduce

    out = reduce(DataFrame.unionByName, counts)
    first = out.where(F.col("step_idx") == 1).select(
        F.col("n_users").alias("__n1")
    )
    return out.join(F.broadcast(first)).select(
        "step_idx",
        "step",
        "n_users",
        F.round(
            F.try_divide(F.col("n_users").cast("double"), F.col("__n1")), 4
        ).alias("pct_of_first"),
    )


def retention_cohorts(
    events: DataFrame,
    user_col: str,
    ts_col: str,
) -> DataFrame:
    """Weekly retention-cohort matrix: users grouped by the calendar
    week of their FIRST event (date_trunc('week') — Monday start in
    both Spark and DuckDB), counted in each whole-week offset from that
    first event. The offset is integer microsecond arithmetic
    (floor((us - first_us) / week_us), week_us = 7·24·3600·10⁶), not
    calendar recursion, so both
    engines derive the identical long. Returns (cohort_week,
    week_offset, n_users) — offset 0 is the cohort size itself.

    Shape: one user-keyed min-aggregation, one user-keyed join that
    reuses the partitioning, one (cohort, offset) count-distinct.
    """
    firsts = events.groupBy(F.col(user_col).alias("__u")).agg(
        F.min(F.col(ts_col)).alias("__first")
    )
    joined = events.select(
        F.col(user_col).alias("__u"), F.col(ts_col).alias("__ts")
    ).join(firsts, "__u")
    return (
        joined.select(
            F.date_trunc("week", F.col("__first")).alias("cohort_week"),
            F.floor(
                (F.unix_micros("__ts") - F.unix_micros("__first"))
                / F.lit(7 * 24 * 3600 * 1_000_000)
            ).alias("week_offset"),
            F.col("__u"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("__u").alias("n_users"))
    )


def attribute_last_touch(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    id_col: str,
    type_col: str,
    conversion_types: list[str],
    touch_types: list[str],
) -> DataFrame:
    """Last-touch marketing attribution: every conversion event joined to
    the most recent STRICTLY-PRIOR touch event of the same user — prior
    in the (ts, id) total order, so same-timestamp events break ties on
    the unique id. Conversions with no prior touch are kept with NULL
    touch columns (the unattributed bucket every attribution report
    needs).

    One partitioned window, no self-join: a running ``last(touch-struct)
    IGNORE NULLS`` over rows [unbounded, -1] carries the latest touch
    forward; filtering to conversions afterwards keeps the plan one
    shuffle on the user key — at 100 TB strictly cheaper than the
    conversions x touches join (which re-shuffles both sides and skews
    on hot users). The struct is ordered (ts, id, type), so ``last``
    over the row-ordered frame IS the argmax of the (ts, id) order.

    Returns the conversion rows plus touch_ts / touch_id / touch_type
    (NULL when unattributed).
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(user_col)
        .orderBy(
            F.col(ts_col).asc_nulls_last(), F.col(id_col).asc_nulls_last()
        )
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(
        F.col(type_col).isin(touch_types),
        F.struct(
            F.col(ts_col).alias("t"),
            F.col(id_col).alias("i"),
            F.col(type_col).alias("y"),
        ),
    )
    tagged = events.withColumn(
        "__touch", F.last(touch, ignorenulls=True).over(w)
    )
    return (
        tagged.where(F.col(type_col).isin(conversion_types))
        .withColumn("touch_ts", F.col("__touch.t"))
        .withColumn("touch_id", F.col("__touch.i"))
        .withColumn("touch_type", F.col("__touch.y"))
        .drop("__touch")
    )


def attribute_time_decay(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    id_col: str,
    type_col: str,
    conversion_types: list[str],
    touch_types: list[str],
) -> DataFrame:
    """Time-decay multi-touch attribution: every conversion splits its
    credit across ALL strictly-prior touches within a 10-day
    lookback, weighted by 2^-(whole days elapsed) — recent touches earn
    exponentially more, the standard middle ground between last-touch
    (all credit to one) and linear (equal split).

    EXACT arithmetic end-to-end: the weight is carried as the bigint
    ``1 << (10 - days)`` (days floored from the microsecond gap),
    so numerator and denominator are integers any engine reproduces
    bit-for-bit; the only float is the final single division, rounded
    to 6dp — the pagerank/ewma hash-match discipline. Returns one row
    per (conversion, touch channel): (user, conv_id, touch_type, w_num,
    w_den, credit) where w_den sums over all the conversion's touches
    and credit = round(w_num / w_den, 6). Conversions with no in-window
    prior touch produce no rows (the unattributed bucket is
    attribute_last_touch's NULL row).

    Plan: the multi-touch fan-out is inherently a per-user bounded
    range join (unlike last-touch, the decay anchors on EACH
    conversion's timestamp, so no single running window can carry it);
    the join shuffles both sides once on the user key and the lookback
    bound caps the fan-out per pair — hot users are AQE's skew-join
    case. Two aggregations follow: channel sums groupBy (conv, channel),
    then the per-conversion denominator as a window over conv id.
    """
    us = F.unix_micros(F.col(ts_col))
    conv = events.where(F.col(type_col).isin(conversion_types)).select(
        F.col(user_col).alias("__cu"),
        F.col(id_col).alias("conv_id"),
        us.alias("__cus"),
    )
    touch = events.where(F.col(type_col).isin(touch_types)).select(
        F.col(user_col).alias("__tu"),
        F.col(id_col).alias("__tid"),
        F.col(type_col).alias("touch_type"),
        us.alias("__tus"),
    )
    day_us = 86_400_000_000
    j = conv.join(
        touch,
        (F.col("__cu") == F.col("__tu"))
        & (
            (F.col("__tus") < F.col("__cus"))
            | (
                (F.col("__tus") == F.col("__cus"))
                & (F.col("__tid") < F.col("conv_id"))
            )
        )
        & (F.col("__cus") - F.col("__tus") < F.lit(11 * day_us)),
    )
    # integer `div`, not float floor(/): exact whole-day buckets; the
    # SQL form because pyspark's shiftleft() only takes a literal int
    # shift, not a per-row Column
    w = F.expr(
        f"shiftleft(cast(1 as bigint), "
        f"cast(10 - ((__cus - __tus) div {day_us}) as int))"
    )
    num = (
        j.withColumn("__w", w)
        .groupBy(
            F.col("__cu").alias("user_id"), F.col("conv_id"), F.col("touch_type")
        )
        .agg(F.sum("__w").alias("w_num"))
    )
    from pyspark.sql import Window

    den_w = Window.partitionBy("conv_id")
    return num.select(
        "user_id",
        "conv_id",
        "touch_type",
        "w_num",
        F.sum("w_num").over(den_w).alias("w_den"),
    ).withColumn(
        "credit",
        F.round(F.col("w_num").cast("double") / F.col("w_den").cast("double"), 6),
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    key: str | list[str],
    lo: str = "lo",
    hi: str = "hi",
    bucket_width: int = 3_600_000_000,
) -> DataFrame:
    """Interval-INTERVAL overlap join per key — the two-sided sibling of
    :func:`range_join` (point-in-interval): emit one row per pair of
    half-open intervals ``[lo, hi)`` that truly overlap
    (``a.lo < b.hi AND b.lo < a.hi``), with the exact overlap length.
    Both sides carry (key, lo, hi) with integer bounds (epoch micros);
    columns come back prefixed ``a_`` / ``b_``.

    Scale shape: NEVER the keyed quadratic join (a hot key with
    thousands of spans fans out to millions of comparisons before any
    filter). Each interval explodes to the fixed-width buckets it
    covers (``sequence(lo div w, (hi-1) div w)``), the join runs on
    (key, bucket) — an equi-join AQE can split — and each surviving
    pair is COUNTED EXACTLY ONCE without a distinct: only the bucket
    containing ``greatest(a.lo, b.lo)`` (the overlap's start) emits it.
    ``bucket_width`` trades fan-out (long spans explode to more rows)
    against bucket occupancy (wide buckets pack more candidates);
    default 1h for session-scale spans.
    """
    keys = [key] if isinstance(key, str) else list(key)
    w = int(bucket_width)

    def side(df: DataFrame, tag: str) -> DataFrame:
        # drop empty/degenerate intervals (hi <= lo): a half-open
        # [lo, hi) with hi <= lo contains nothing, so it can overlap
        # nothing — and left in, Spark's sequence(start, stop) would
        # generate a DESCENDING bucket range for it and the overlap
        # predicate alone would wrongly admit pairs straddling its lo
        return df.where(F.col(hi) > F.col(lo)).select(
            *keys,
            F.col(lo).alias(f"{tag}_lo"),
            F.col(hi).alias(f"{tag}_hi"),
            F.explode(
                F.sequence(
                    F.expr(f"{lo} div {w}"), F.expr(f"({hi} - 1) div {w}")
                )
            ).alias("__bkt"),
        )
    a = side(left, "a")
    b = side(right, "b")
    pair_start_bkt = F.expr(f"greatest(a_lo, b_lo) div {w}")
    return (
        a.join(b, [*keys, "__bkt"])
        .where(
            (F.col("a_lo") < F.col("b_hi"))
            & (F.col("b_lo") < F.col("a_hi"))
            & (F.col("__bkt") == pair_start_bkt)
        )
        .select(
            *keys,
            "a_lo", "a_hi", "b_lo", "b_hi",
            (
                F.least("a_hi", "b_hi") - F.greatest("a_lo", "b_lo")
            ).alias("overlap"),
        )
    )

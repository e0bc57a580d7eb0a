"""Temporal joins (as-of / range), hierarchical rollup, LOCF resampling, SCD2 intervals.

Split from the original single-module registry (plans/driver_queries.py,
which remains the facade); importing this module registers its queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gene_level_metadata_pipeline_spark.plans.q_dedup_text import (
    _minhash_oracle,
)
from gene_level_metadata_pipeline_spark.plans.registry import (
    _dsum,
    _events,
    _register,
    _round_to,
    _t,
)

# ---------------------------------------------------------------------------
# Temporal joins — as-of and range (operators Spark lacks natively)
# ---------------------------------------------------------------------------

@_register(
    "asof_join_events",
    oracle="""
    WITH err AS (
      SELECT user_id, event_id, epoch_us(ts) AS ets FROM events
      WHERE event_type = 'error'
    ),
    clk AS (
      SELECT user_id, epoch_us(ts) AS cts, value FROM events
      WHERE event_type = 'click'
    ),
    ranked AS (
      SELECT e.user_id, e.event_id,
             c.cts, c.value,
             row_number() OVER (PARTITION BY e.event_id
                                ORDER BY c.cts DESC, c.value DESC) AS rn
      FROM err e LEFT JOIN clk c
        ON e.user_id = c.user_id AND c.cts <= e.ets
    )
    SELECT user_id, event_id,
           value AS right_value,
           cts AS right_us
    FROM ranked WHERE rn = 1
    """,
)
def q_asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every 'error' event, the most recent 'click' by the
    same user at or before it. Implemented as tag-union + running
    last(ignorenulls) window — one shuffle, no range self-join blowup
    (the oracle uses the quadratic correlated form; same answer)."""
    from gene_level_metadata_pipeline_spark.operators.temporal import as_of_join

    ev = _events(spark, sf_dir).withColumn("us", F.unix_micros("ts"))
    err = ev.where(F.col("event_type") == "error").select(
        "user_id", "event_id", F.col("us")
    )
    clk = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("us"), "value"
    )
    out = as_of_join(err, clk, on="user_id", left_ts="us", right_ts="us",
                     tie_break=["value"])
    return out.select(
        "user_id", "event_id", "right_value", F.col("right_us")
    )


@_register(
    "range_join_bands",
    oracle="""
    WITH bands AS (
      SELECT * FROM (VALUES
        ('tiny', CAST(0 AS DOUBLE), CAST(50 AS DOUBLE)),
        ('small', CAST(50 AS DOUBLE), CAST(150 AS DOUBLE)),
        ('large', CAST(150 AS DOUBLE), CAST(1000 AS DOUBLE))
      ) AS t(band, lo, hi)
    )
    SELECT b.band, count(*) AS n, round(sum(CAST(e.value AS DECIMAL(18,6))), 2)::DOUBLE AS total
    FROM events e JOIN bands b ON b.lo <= e.value AND e.value < b.hi
    GROUP BY b.band
    """,
)
def q_range_join_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval containment) join: events bucketed into value
    bands via a broadcast band table + non-equi predicate, then per-band
    aggregates."""
    from gene_level_metadata_pipeline_spark.operators.temporal import range_join

    ev = _events(spark, sf_dir)
    bands = spark.createDataFrame(
        [("tiny", 0.0, 50.0), ("small", 50.0, 150.0), ("large", 150.0, 1000.0)],
        ["band", "lo", "hi"],
    )
    joined = range_join(ev, bands, "value", "lo", "hi")
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"),
        _dsum(F.col("value"), 2).alias("total"),
    )


@_register(
    "hierarchical_rollup",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS bucket, count(*) AS n,
             sum(CAST(value AS DECIMAL(18,6))) AS total
      FROM events GROUP BY 1
    ),
    daily AS (
      SELECT date_trunc('day', bucket) AS bucket, sum(n) AS n, sum(total) AS total
      FROM hourly GROUP BY 1
    )
    SELECT 'hour' AS grain, strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket_start,
           n::BIGINT AS n, round(total, 2)::DOUBLE AS total FROM hourly
    UNION ALL
    SELECT 'day', strftime(bucket, '%Y-%m-%d %H:%M:%S'), n::BIGINT, round(total, 2)::DOUBLE FROM daily
    """,
)
def q_hierarchical_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style rollup: hour aggregates from the facts, day
    aggregates FROM the hour partials (one fact scan; each coarser grain
    re-aggregates ~24x fewer rows — the continuous-aggregate maintenance
    shape). Decimal sums keep the re-aggregation exact."""
    from gene_level_metadata_pipeline_spark.operators.temporal import (
        hierarchical_rollup,
    )

    return hierarchical_rollup(_events(spark, sf_dir), "ts", "value")


@_register(
    "stable_sample",
    oracle="""
    SELECT doc_id, lang FROM documents
    WHERE substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 8) < '33333333'
    """,
)
def q_stable_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based 20% document sample — reproducible across
    runs/engines/partitionings (DataFrame.sample is not), the selection
    property training-data pipelines need. 0x33333333 = floor(0.2*16^8)."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import stable_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return stable_sample(d, "doc_id", 0.2)


@_register(
    "dedup_components",
    oracle="""
    WITH RECURSIVE base AS (
      SELECT doc_a, doc_b FROM (
        -- inline the minhash candidate pairs (same SQL as dedup_minhash_lsh)
        """ + _minhash_oracle() + """
      )
    ),
    edges2 AS (
      SELECT doc_a AS u, doc_b AS v FROM base
      UNION
      SELECT doc_b, doc_a FROM base
    ),
    reach(u, v) AS (
      SELECT u, v FROM edges2
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges2 e ON r.v = e.u
    )
    SELECT u AS doc_id, least(u, min(v)) AS component
    FROM reach GROUP BY u
    """,
)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash candidate pairs — the
    canonical-document clustering step of near-dup removal. Spark runs
    iterative min-label propagation (driver loop, one join+agg per round);
    the oracle reaches the same fixpoint with a recursive CTE."""
    from gene_level_metadata_pipeline_spark.operators.dedup import (
        minhash_candidate_pairs,
    )
    from gene_level_metadata_pipeline_spark.operators.graph import connected_components

    pairs = minhash_candidate_pairs(_t(spark, sf_dir, "documents"), "text", "doc_id")
    return connected_components(pairs)


@_register(
    "text_tfidf_keywords",
    oracle="""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    tf AS (SELECT doc_id, w, count(*) AS cnt FROM words GROUP BY doc_id, w),
    doc_len AS (SELECT doc_id, count(*) AS len FROM words GROUP BY doc_id),
    dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.w,
             round((tf.cnt * 1.0 / doc_len.len) * ln(n.n_docs * 1.0 / dfreq.df), 6) AS tfidf
      FROM tf JOIN doc_len USING (doc_id) JOIN dfreq USING (w), n
    )
    SELECT doc_id, w, tfidf, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, w) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def q_text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 tf-idf keywords per document — tokenize → tf / df aggregates
    → broadcast df join → deterministic (score, word) ranking."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        tf_idf_keywords,
    )

    return tf_idf_keywords(_t(spark, sf_dir, "documents"), "text", "doc_id")


# ---------------------------------------------------------------------------
# Time-series extensions: LOCF resampling, SCD2 intervals
# ---------------------------------------------------------------------------

@_register(
    "resample_locf_hourly",
    oracle="""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) AS us, value, event_id
      FROM events WHERE user_id < 8
    ),
    obs AS (
      SELECT user_id, us, arg_max(value, event_id) AS val
      FROM ev GROUP BY user_id, us
    ),
    b AS (
      SELECT min(us) - min(us) % 3600000000 AS t0, max(us) AS t1 FROM ev
    ),
    grid AS (
      SELECT u.user_id, g.us
      FROM (SELECT DISTINCT user_id FROM ev) u
      CROSS JOIN (SELECT unnest(generate_series(t0, t1, 3600000000)) AS us
                  FROM b) g
    ),
    unioned AS (
      SELECT user_id, us, val, 0 AS is_grid FROM obs
      UNION ALL
      SELECT user_id, us, NULL, 1 FROM grid
    ),
    filled AS (
      SELECT user_id, us, is_grid,
             last_value(val IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY us, is_grid
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf
      FROM unioned
    )
    SELECT user_id, us AS grid_us, value_locf
    FROM filled WHERE is_grid = 1
    """,
)
def q_resample_locf_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly resample with last-observation-carried-forward
    (operators/timeseries.resample_locf): per-user hourly grid between
    the global bounds, each grid point carrying the latest at-or-before
    observation (ties broken by greatest event_id). Works entirely in
    epoch micros — identical integers in both engines. One shuffle on
    user_id; the grid is exploded executor-side from a 1-row broadcast
    bounds frame, never a driver loop."""
    from gene_level_metadata_pipeline_spark.operators.timeseries import resample_locf

    ev = (
        _events(spark, sf_dir)
        .where(F.col("user_id") < 8)
        .select("user_id", F.unix_micros("ts").alias("us"), "value", "event_id")
    )
    out = resample_locf(
        ev, "user_id", "us", "value", "event_id",
        step_us=3600 * 1000000,
    )
    return out.select(
        "user_id", F.col("grid_ts").alias("grid_us"), "value_locf"
    )


@_register(
    "scd2_intervals",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events
    ),
    ordered AS (
      SELECT user_id, event_type, us, event_id,
             row_number() OVER w AS rn,
             lag(event_type) OVER w AS prev
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    changes AS (
      SELECT user_id, event_type, us, event_id
      FROM ordered WHERE rn = 1 OR event_type IS DISTINCT FROM prev
    )
    SELECT user_id, event_type,
           us AS valid_from,
           lead(us) OVER w2 AS valid_to,
           (lead(us) OVER w2 IS NULL) AS is_current
    FROM changes
    WINDOW w2 AS (PARTITION BY user_id ORDER BY us, event_id)
    """,
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension-history build (operators/timeseries.scd2_intervals):
    collapse each user's event-type stream into validity intervals
    [valid_from, valid_to) with a current-row flag. Change detection
    (lag) and interval close (lead) share ONE user_id shuffle; the
    unique event_id tie-break makes same-timestamp orderings
    reproducible."""
    from gene_level_metadata_pipeline_spark.operators.timeseries import scd2_intervals

    ev = _events(spark, sf_dir).select(
        "user_id", "event_type", F.unix_micros("ts").alias("us"), "event_id"
    )
    return scd2_intervals(ev, "user_id", "us", "event_type", "event_id")




@_register(
    "rolling_zscore_anomalies",
    oracle="""
    WITH e AS (
      SELECT event_id, ts, event_type,
             CAST(value AS DECIMAL(18,6)) AS v
      FROM events
    ),
    s AS (
      SELECT event_id, event_type, v,
             count(v) OVER w AS c,
             sum(v) OVER w AS s1,
             sum(v * v) OVER w AS s2
      FROM e
      WINDOW w AS (
        PARTITION BY event_type ORDER BY ts, event_id
        ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING
      )
    )
    SELECT event_id, event_type,
           CASE WHEN c >= 20
                     AND sqrt(CAST(s2 AS DOUBLE) / c
                              - (CAST(s1 AS DOUBLE) / c)
                                * (CAST(s1 AS DOUBLE) / c)) > 0
                THEN round((CAST(v AS DOUBLE) - CAST(s1 AS DOUBLE) / c)
                           / sqrt(CAST(s2 AS DOUBLE) / c
                                  - (CAST(s1 AS DOUBLE) / c)
                                    * (CAST(s1 AS DOUBLE) / c)), 4)
           END AS z,
           CASE WHEN c >= 20
                     AND sqrt(CAST(s2 AS DOUBLE) / c
                              - (CAST(s1 AS DOUBLE) / c)
                                * (CAST(s1 AS DOUBLE) / c)) > 0
                THEN abs(round((CAST(v AS DOUBLE) - CAST(s1 AS DOUBLE) / c)
                               / sqrt(CAST(s2 AS DOUBLE) / c
                                      - (CAST(s1 AS DOUBLE) / c)
                                        * (CAST(s1 AS DOUBLE) / c)), 4)) > 3.0
           END AS is_anomaly
    FROM s
    """,
)
def q_rolling_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly gate (timeseries.rolling_zscore): each
    event scored against the mean/std of the previous 20 values of its
    event_type series — the telemetry data-quality check, one window,
    no self-join. DECIMAL moments make the rolling sums exact and
    order-independent (double sliding sums drift through incremental
    add/remove rounding), so the oracle reproduces every z bit-exactly;
    warm-up rows (< 20 predecessors) and degenerate stds stay NULL
    rather than reading as "normal"."""
    from gene_level_metadata_pipeline_spark.operators.timeseries import (
        rolling_zscore,
    )

    ev = _events(spark, sf_dir).select("event_id", "ts", "event_type", "value")
    return rolling_zscore(
        ev, "event_type", "ts", "value", "event_id", window=20
    ).select("event_id", "event_type", "z", "is_anomaly")


@_register(
    "funnel_conversion",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY e.user_id
    ),
    c AS (
      SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step,
             (SELECT count(*) FROM s1) AS n_users
      UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
      UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)
    )
    SELECT step_idx, step, n_users,
           round(CAST(n_users AS DOUBLE)
                 / nullif((SELECT n_users FROM c WHERE step_idx = 1), 0), 4)
             AS pct_of_first
    FROM c
    """,
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view → click → purchase (temporal.funnel_steps):
    each step counts users whose step event is strictly AFTER their
    earliest completion of the previous step — per-step conditional min
    aggregations chained on the user key, never per-user event arrays
    (a power user cannot blow a buffer). pct_of_first rounds to 4 dp."""
    from gene_level_metadata_pipeline_spark.operators.temporal import funnel_steps

    ev = _events(spark, sf_dir)
    return funnel_steps(
        ev, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    )


@_register(
    "retention_cohorts",
    oracle="""
    WITH f AS (
      SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id
    )
    SELECT CAST(date_trunc('week', f.first_ts) AS TIMESTAMP) AS cohort_week,
           CAST(floor((epoch_us(e.ts) - epoch_us(f.first_ts))
                      / 604800000000) AS BIGINT) AS week_offset,
           count(DISTINCT e.user_id) AS n_users
    FROM events e JOIN f ON e.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts (temporal.retention_cohorts): cohort =
    Monday-truncated week of each user's first event, activity bucketed
    by whole-week offsets in integer microsecond arithmetic so both
    engines derive identical longs. Offset 0 row is the cohort size."""
    from gene_level_metadata_pipeline_spark.operators.temporal import (
        retention_cohorts,
    )

    return retention_cohorts(_events(spark, sf_dir), "user_id", "ts")


@_register(
    "event_transition_matrix",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_type
      FROM events
    ),
    pairs AS (
      SELECT event_type AS from_type, next_type AS to_type,
             count(*) AS n
      FROM o WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type
    ),
    tot AS (
      SELECT from_type, sum(n) AS t FROM pairs GROUP BY from_type
    )
    SELECT p.from_type, p.to_type, p.n,
           round(CAST(p.n AS DOUBLE) / t.t, 4) AS p_next
    FROM pairs p JOIN tot t USING (from_type)
    """,
)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams:
    lead() within (user, ts, event_id) order pairs each event with its
    successor, pair counts normalize per source state. One user-keyed
    sort window + one pair aggregation; counts are exact, the single
    division is correctly rounded — oracle-exact."""
    from pyspark.sql.window import Window

    ev = _events(spark, sf_dir)
    # asc_nulls_last matches DuckDB's default NULL ordering
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_last(), F.col("event_id").asc_nulls_last()
    )
    o = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    pairs = o.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = pairs.groupBy("from_type").agg(F.sum("n").alias("__t"))
    return pairs.join(F.broadcast(tot), "from_type").select(
        "from_type", "to_type", "n",
        F.round(F.col("n").cast("double") / F.col("__t"), 4).alias("p_next"),
    )


@_register(
    "ab_metric_ztest",
    oracle="""
    WITH g AS (
      SELECT event_type AS grp,
             count(*) AS n,
             sum(CAST(value AS DECIMAL(18,6))) AS s1,
             sum(CAST(value AS DECIMAL(18,6))
                 * CAST(value AS DECIMAL(18,6))) AS s2
      FROM events
      WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL
      GROUP BY event_type
    ),
    m AS (
      SELECT grp, n,
             CAST(s1 AS DOUBLE) / n AS mean,
             CAST(s2 AS DOUBLE) / n
               - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS var
      FROM g
    )
    SELECT a.n AS n_a, b.n AS n_b,
           round(a.mean, 4) AS mean_a, round(b.mean, 4) AS mean_b,
           round((a.mean - b.mean)
                 / nullif(sqrt(a.var / a.n + b.var / b.n), 0), 4) AS z
    FROM m a JOIN m b ON a.grp = 'view' AND b.grp = 'purchase'
    """,
)
def q_ab_metric_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample z-test on the value metric between two event cohorts
    (the A/B readout): per-group moments from exact DECIMAL sums, then
    z = (mean_a - mean_b) / sqrt(var_a/n_a + var_b/n_b) — purely
    algebraic (+ - x / sqrt are correctly rounded IEEE), so the whole
    statistic is oracle-exact. One grouped aggregation; the two 1-row
    cohort frames join broadcast."""
    ev = _events(spark, sf_dir)
    vdec = F.col("value").cast("decimal(18,6)")
    g = (
        ev.where(
            F.col("event_type").isin("view", "purchase")
            & F.col("value").isNotNull()
        )
        .groupBy(F.col("event_type").alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(vdec).alias("s1"),
            F.sum(vdec * vdec).alias("s2"),
        )
    )
    mean = F.col("s1").cast("double") / F.col("n")
    m = g.select(
        "grp", "n",
        mean.alias("mean"),
        (F.col("s2").cast("double") / F.col("n") - mean * mean).alias("var"),
    )
    a = m.where(F.col("grp") == "view").alias("a")
    b = m.where(F.col("grp") == "purchase").alias("b")
    return a.crossJoin(F.broadcast(b)).select(
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
        F.round(F.col("a.mean"), 4).alias("mean_a"),
        F.round(F.col("b.mean"), 4).alias("mean_b"),
        # try_divide: two constant-metric cohorts make the pooled SE 0
        # and plain `/` raises DIVIDE_BY_ZERO under ANSI — z is NULL
        # instead (oracle mirrors with nullif(se, 0)) (r4 advice)
        F.round(
            F.try_divide(
                F.col("a.mean") - F.col("b.mean"),
                F.sqrt(
                    F.col("a.var") / F.col("a.n")
                    + F.col("b.var") / F.col("b.n")
                ),
            ),
            4,
        ).alias("z"),
    )


@_register(
    "ewma_smooth",
    oracle="""
    WITH s AS (
      SELECT user_id, event_id,
             CAST(round(value * 1e6, 0) AS BIGINT) AS vm,
             row_number() OVER (
               PARTITION BY user_id
               ORDER BY ts ASC NULLS LAST, event_id ASC NULLS LAST) AS rn
      FROM events WHERE value IS NOT NULL
    ),
    agg AS (
      SELECT t.user_id, t.event_id, t.rn,
             CAST(sum(i.vm * ((CAST(1 AS BIGINT) << (19 - (t.rn - i.rn)))))
                  AS BIGINT) AS ewma_num
      FROM s t JOIN s i
        ON i.user_id = t.user_id AND t.rn - i.rn BETWEEN 0 AND 19
      GROUP BY t.user_id, t.event_id, t.rn
    )
    SELECT user_id, event_id, ewma_num,
      ((CAST(1 AS BIGINT) << 20)
        - (CAST(1 AS BIGINT) << CAST(20 - least(rn, 20) AS INT)))
        AS ewma_den,
      round(CAST(ewma_num AS DOUBLE)
            / CAST((CAST(1 AS BIGINT) << 20)
                   - (CAST(1 AS BIGINT) << CAST(20 - least(rn, 20) AS INT))
                   AS DOUBLE), 0) / 1e6 AS ewma
    FROM agg
    """,
)
def q_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average per user over the event
    stream (timeseries.ewma_smooth): decay 1/2 per event, truncated at
    20 lags, the smoothing complement to rolling_zscore_anomalies. The
    whole recurrence is bigint micro-units with power-of-two integer
    weights, so the Spark window fold and the oracle's bounded self-join
    compute the IDENTICAL integers — a float EWMA could never
    hash-match. One window sort per user; the oracle's rn-difference
    join is the same 20-term sum spelled relationally."""
    from gene_level_metadata_pipeline_spark.operators.timeseries import (
        ewma_smooth,
    )

    ev = _events(spark, sf_dir)
    out = ewma_smooth(
        ev,
        "user_id",
        [F.col("ts").asc_nulls_last(), F.col("event_id").asc_nulls_last()],
        "value",
        lags=20,
    )
    return out.select("user_id", "event_id", "ewma_num", "ewma_den", "ewma")


@_register(
    "attribution_last_touch",
    oracle="""
    WITH s AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
    ),
    conv AS (SELECT * FROM s WHERE event_type = 'purchase'),
    touch AS (SELECT * FROM s WHERE event_type IN ('click', 'view'))
    SELECT c.user_id, c.event_id AS conv_id, t.event_id AS touch_id,
           t.event_type AS touch_type, c.us - t.us AS gap_us
    FROM conv c LEFT JOIN touch t
      ON t.user_id = c.user_id
     AND (t.us < c.us OR (t.us = c.us AND t.event_id < c.event_id))
    QUALIFY row_number() OVER (
      PARTITION BY c.event_id
      ORDER BY t.us DESC NULLS LAST, t.event_id DESC NULLS LAST) = 1
    """,
)
def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution (temporal.attribute_last_touch): every
    purchase joined to the user's most recent strictly-prior click/view,
    NULL when unattributed — the marketing-analytics staple. The Spark
    plan is ONE window (running last-touch-struct IGNORE NULLS over
    [unbounded, -1]) — no conversions x touches self-join, no hot-user
    skew; the oracle spells the same argmax as a lateral-style join +
    QUALIFY. Gap stays an exact microsecond bigint."""
    from gene_level_metadata_pipeline_spark.operators.temporal import (
        attribute_last_touch,
    )

    ev = _events(spark, sf_dir)
    out = attribute_last_touch(
        ev, "user_id", "ts", "event_id", "event_type",
        ["purchase"], ["click", "view"],
    )
    return out.select(
        "user_id",
        F.col("event_id").alias("conv_id"),
        "touch_id",
        "touch_type",
        (
            F.unix_micros(F.col("ts")) - F.unix_micros(F.col("touch_ts"))
        ).alias("gap_us"),
    )


@_register(
    "twap_user_value",
    oracle="""
    WITH s AS (
      SELECT user_id AS key, event_id, epoch_us(ts) AS us,
             CAST(round(value * 1e6, 0) AS BIGINT) AS vm
      FROM events WHERE value IS NOT NULL
    ),
    sp AS (
      SELECT key, vm,
             lead(us) OVER (PARTITION BY key
               ORDER BY us ASC NULLS LAST, event_id ASC NULLS LAST) - us
               AS dur
      FROM s
    )
    SELECT key, count(*) AS n_intervals,
      round(CAST(sum(CAST(vm AS DECIMAL(18,0)) * CAST(dur AS DECIMAL(19,0)))
                 AS DOUBLE)
            / nullif(CAST(sum(CAST(dur AS DECIMAL(19,0))) AS DOUBLE), 0),
            0) / 1e6 AS twap
    FROM sp WHERE dur IS NOT NULL
    GROUP BY key
    """,
)
def q_twap_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (timeseries.time_weighted_avg):
    each observation weighted by its holding duration until the next one
    — the correct mean for irregular sampling, where plain AVG
    over-weights bursts. Micro-unit bigints x microsecond durations
    summed in exact DECIMAL (cast BEFORE the product — the bigint
    product would overflow at a month of micros), one double divide at
    the end: hash-identical in both engines."""
    from gene_level_metadata_pipeline_spark.operators.timeseries import (
        time_weighted_avg,
    )

    ev = _events(spark, sf_dir)
    return time_weighted_avg(ev, "user_id", "ts", "event_id", "value")


@_register(
    "cusum_drift_alerts",
    oracle="""
    WITH s AS (
      SELECT user_id AS key, event_id AS id, epoch_us(ts) AS us,
             CAST(round(value * 1e6, 0) AS BIGINT) - 55000000 AS dev
      FROM events WHERE value IS NOT NULL
    ),
    r AS (
      SELECT key, id, us,
             CAST(sum(dev) OVER (PARTITION BY key
               ORDER BY us ASC NULLS LAST, id ASC NULLS LAST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS s
      FROM s
    ),
    c AS (
      SELECT key, id,
             s - CAST(min(s) OVER (PARTITION BY key
               ORDER BY us ASC NULLS LAST, id ASC NULLS LAST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS c
      FROM r
    )
    SELECT key, id, CAST(c AS DOUBLE) / 1e6 AS cusum
    FROM c WHERE c > 300000000
    """,
)
def q_cusum_drift_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point alerts (timeseries.cusum_drift): points where
    a user's cumulative upward deviation from target 50 + slack 5
    exceeds 300 value-units. The sequential textbook recurrence
    c_t = max(0, c_{t-1} + x_t - ref) is rewritten to its closed prefix
    form c_t = S_t - min(S_1..t) — two stacked windows on ONE shuffle,
    no recursion, no state store — and runs entirely in micro-unit
    bigints, so the alert set hash-matches exactly."""
    from gene_level_metadata_pipeline_spark.operators.timeseries import (
        cusum_drift,
    )

    ev = _events(spark, sf_dir)
    return cusum_drift(
        ev, "user_id", "ts", "event_id", "value",
        target=50.0, slack=5.0, threshold=300.0,
    )


@_register(
    "event_interarrival_profile",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type, event_id, epoch_us(ts) AS us FROM events
    ),
    g AS (
      SELECT event_type AS grp,
             us - lag(us) OVER (PARTITION BY user_id, event_type
               ORDER BY us ASC NULLS LAST, event_id ASC NULLS LAST) AS gap
      FROM s
    )
    SELECT grp, count(*) AS n_gaps,
      round(CAST(sum(CAST(gap AS DECIMAL(28,6))) AS DOUBLE)
            / CAST(count(*) AS DOUBLE), 0) / 1e6 AS mean_gap_s,
      round(percentile_cont(0.5) WITHIN GROUP (ORDER BY gap)
            / 1e6 * 1e4, 0) / 1e4 AS p50_gap_s,
      round(percentile_cont(0.9) WITHIN GROUP (ORDER BY gap)
            / 1e6 * 1e4, 0) / 1e4 AS p90_gap_s
    FROM g WHERE gap IS NOT NULL
    GROUP BY grp
    """,
)
def q_event_interarrival_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time profile per event type
    (timeseries.interarrival_stats): microsecond gaps between each
    user's consecutive events of a type, profiled as count / exact-
    decimal mean / interpolated p50 & p90 — the burstiness diagnostic
    that separates bot-like constant cadence from organic heavy tails.
    Two shuffles (stream window, then group agg); percentiles on
    identical bigints interpolate to identical doubles."""
    from gene_level_metadata_pipeline_spark.operators.timeseries import (
        interarrival_stats,
    )

    ev = _events(spark, sf_dir)
    return interarrival_stats(
        ev, ["user_id", "event_type"], "ts", "event_id", "event_type"
    )


@_register(
    "psi_value_drift",
    oracle="""
    WITH c AS (
      SELECT CASE WHEN event_type = 'click' THEN 'r' ELSE 'c' END AS side,
             CAST(floor(CAST(round(value * 100, 0) AS BIGINT) / 5000)
                  AS BIGINT) AS bin
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('click', 'view')
    ),
    b AS (
      SELECT bin,
             sum(CASE WHEN side = 'r' THEN 1 ELSE 0 END) AS r,
             sum(CASE WHEN side = 'c' THEN 1 ELSE 0 END) AS c
      FROM c GROUP BY bin
    ),
    t AS (SELECT sum(r) AS nr, sum(c) AS nc FROM b)
    SELECT count(*) AS n_bins_used,
      CAST(round(sum(CAST(
            (CAST(c AS DOUBLE) / CAST(nc AS DOUBLE)
              - CAST(r AS DOUBLE) / CAST(nr AS DOUBLE))
            * ln((CAST(c AS DOUBLE) / CAST(nc AS DOUBLE))
                 / (CAST(r AS DOUBLE) / CAST(nr AS DOUBLE)))
          AS DECIMAL(18,6))), 4) AS DOUBLE) AS psi
    FROM b, t WHERE r > 0 AND c > 0
    """,
)
def q_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index (drift.psi) between the click and view
    cohorts' value distributions over fixed 50-unit integer-cent bins —
    the model-monitoring staple. One-cohort-only bins are EXCLUDED and
    counted (parameter-free, exactly reproducible; no epsilon fudge);
    each (pc-pr)*ln(pc/pr) term is decimal-cast before the sum, so both
    engines report the identical index."""
    from gene_level_metadata_pipeline_spark.operators.drift import psi

    ev = _events(spark, sf_dir)
    return psi(ev, "event_type", "click", "view", "value", 5000)


@_register(
    "ks_value_drift",
    oracle="""
    WITH vals AS (
      SELECT CAST(round(value * 100, 0) AS BIGINT) AS v,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS na,
             sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS nb
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('click', 'view')
      GROUP BY 1
    ),
    cum AS (
      SELECT v,
             CAST(sum(na) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS ca,
             CAST(sum(nb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cb
      FROM vals
    ),
    t AS (SELECT CAST(sum(na) AS BIGINT) AS n_a,
                 CAST(sum(nb) AS BIGINT) AS n_b FROM vals),
    d AS (SELECT v, abs(ca * t.n_b - cb * t.n_a) AS dd FROM cum, t),
    sel AS (
      SELECT dd, v, row_number() OVER (ORDER BY dd DESC, v ASC) AS rn
      FROM d
    )
    SELECT t.n_a, t.n_b, sel.dd AS ks_num, sel.v AS at_cents,
      round(CAST(sel.dd AS DOUBLE)
            / CAST(t.n_a * t.n_b AS DOUBLE) * 1e6, 0) / 1e6 AS ks
    FROM sel, t WHERE rn = 1
    """,
)
def q_ks_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov (drift.ks_two_sample) between
    the click and view value distributions: the supremum of |F_a - F_b|
    located with BIGINT cross-multiplied cumulative counts
    |cumA*nB - cumB*nA| — the statistic's numerator and argmax are
    hash-exact; only the final [0,1] ratio is a double. The cumulative
    counts run through running_sum's distributed prefix sum (the
    oracle's single-task global window is the shape the operator
    refuses at scale)."""
    from gene_level_metadata_pipeline_spark.operators.drift import (
        ks_two_sample,
    )

    ev = _events(spark, sf_dir)
    return ks_two_sample(ev, "event_type", "click", "view", "value")


@_register(
    "events_debounce",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type, event_id, epoch_us(ts) AS us FROM events
    ),
    g AS (
      SELECT event_id, event_type,
             us - lag(us) OVER (PARTITION BY user_id, event_type
               ORDER BY us ASC NULLS LAST, event_id ASC NULLS LAST) AS gap
      FROM s
    )
    SELECT event_id, event_type FROM g
    WHERE gap IS NULL OR gap >= 60000000
    """,
)
def q_events_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry debounce (timeseries.debounce): suppress events arriving
    within 60s of the previous event in the same (user, type) stream —
    the duplicate-burst filter for double-clicks / retry storms /
    at-least-once echoes. One window shuffle, exact microsecond bigint
    gaps, earliest id survives a same-timestamp burst."""
    from gene_level_metadata_pipeline_spark.operators.timeseries import (
        debounce,
    )

    ev = _events(spark, sf_dir)
    out = debounce(
        ev, ["user_id", "event_type"], "ts", "event_id", 60_000_000
    )
    return out.select("event_id", "event_type")


@_register(
    "ohlc_bars_hourly",
    oracle="""
    WITH s AS (
      SELECT user_id AS key,
             strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
               AS bucket,
             value, epoch_us(ts) AS us, event_id
      FROM events WHERE value IS NOT NULL
    ),
    r AS (
      SELECT key, bucket, value,
             row_number() OVER (PARTITION BY key, bucket
               ORDER BY us ASC, event_id ASC) AS rf,
             row_number() OVER (PARTITION BY key, bucket
               ORDER BY us DESC, event_id DESC) AS rl
      FROM s
    )
    SELECT key, bucket, count(*) AS n,
      max(CASE WHEN rf = 1 THEN value END) AS open,
      max(CASE WHEN rl = 1 THEN value END) AS close,
      max(value) AS high, min(value) AS low
    FROM r GROUP BY key, bucket
    """,
)
def q_ohlc_bars_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candlestick downsample (timeseries.ohlc_bars): per user per hour,
    open/close by (ts, id)-ordered first/last observation plus high/low
    extremes. The Spark plan is ONE map-side-combined hash aggregate
    (min_by/max_by on the (ts, id) struct — no window, no sort); the
    oracle spells first/last with double row_numbers. Raw double values
    pass through unaggregated, so the match is bit-exact."""
    from gene_level_metadata_pipeline_spark.operators.timeseries import (
        ohlc_bars,
    )

    ev = _events(spark, sf_dir)
    return ohlc_bars(ev, "user_id", "ts", "event_id", "value")


@_register(
    "gaps_islands_hours",
    oracle="""
    WITH b AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 3600000000 AS hb
      FROM events WHERE ts IS NOT NULL
    ),
    r AS (
      SELECT user_id, hb,
             hb - row_number() OVER (
               PARTITION BY user_id ORDER BY hb ASC NULLS LAST) AS grp
      FROM b
    ),
    i AS (
      SELECT user_id, grp, min(hb) * 3600000000 AS start_us,
             count(*) AS len
      FROM r GROUP BY user_id, grp
    ),
    agg AS (
      SELECT user_id, count(*) AS n_islands,
             CAST(sum(len) AS BIGINT) AS n_active_hours,
             max(len) AS max_streak
      FROM i GROUP BY user_id
    )
    SELECT a.user_id, a.n_islands, a.n_active_hours, a.max_streak,
           min(i.start_us) AS best_start_us
    FROM agg a JOIN i
      ON i.user_id = a.user_id AND i.len = a.max_streak
    GROUP BY a.user_id, a.n_islands, a.n_active_hours, a.max_streak
    """,
)
def q_gaps_islands_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands streak analysis (timeseries.gaps_islands): per
    user, collapse activity into maximal runs of consecutive ACTIVE
    HOURS (the rank-difference idiom — bucket minus row_number is
    constant exactly within an island), then summarize: island count,
    total active hours, longest streak, and the earliest start of a
    longest streak. Complements sessionize (gap threshold on raw
    timestamps) with the discretized-grid streak/retention question.
    All arithmetic is exact bigint hour buckets and micros — no
    doubles anywhere, so the hash match is trivial. Two shuffles in
    the operator + one per-user aggregate, all key-partitioned."""
    from gene_level_metadata_pipeline_spark.operators.timeseries import (
        gaps_islands,
    )

    from pyspark.sql.window import Window

    ev = _events(spark, sf_dir)
    isl = gaps_islands(ev, "user_id", "ts", 3_600_000_000)
    # earliest longest-streak start via one per-key window + a single
    # aggregate — no self-join, no second groupBy (review finding: the
    # previous agg-join-regroup repeated the island subtree on both
    # sides and cost an extra shuffle)
    mx = F.max("island_len").over(Window.partitionBy("key"))
    return (
        isl.withColumn("__mx", mx)
        .groupBy(F.col("key").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_islands"),
            F.sum("island_len").alias("n_active_hours"),
            F.max("island_len").alias("max_streak"),
            F.min(
                F.when(
                    F.col("island_len") == F.col("__mx"),
                    F.col("island_start_us"),
                )
            ).alias("best_start_us"),
        )
    )


@_register(
    "event_path_trigrams",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS e2,
             lead(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (
        PARTITION BY user_id
        ORDER BY epoch_us(ts) ASC NULLS LAST, event_id ASC NULLS LAST)
    )
    SELECT event_type || '>' || e2 || '>' || e3 AS path,
           count(*) AS n
    FROM s WHERE e2 IS NOT NULL AND e3 IS NOT NULL
    GROUP BY path
    ORDER BY n DESC, path LIMIT 20
    """,
)
def q_event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user-journey trigrams: the event-path-analysis staple —
    every 3-step consecutive event-type sequence per user (one window
    with two leads, (ts, event_id) total order, no self-joins), counted
    corpus-wide, top 20. The generalization of event_transition_matrix
    (bigrams) to order-3 paths; at 100 TB the window is one shuffle on
    user_id and the count one hash aggregate on a low-cardinality path
    key (|types|^3 groups), so the plan is scan-bound. Exact string
    and bigint output — no floats to reconcile."""
    from pyspark.sql.window import Window

    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(
            F.col("ts").asc_nulls_last(), F.col("event_id").asc_nulls_last()
        )
    )
    s = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    return (
        s.where(F.col("e2").isNotNull() & F.col("e3").isNotNull())
        .groupBy(
            F.concat_ws(">", "event_type", "e2", "e3").alias("path")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(20)
    )


@_register(
    "ols_daily_trend",
    oracle="""
    WITH d AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS x,
             CAST(sum(CAST(round(value * 1e6, 0) AS BIGINT))
                  AS DECIMAL(18,0)) AS y
      FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
      GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type, count(*) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx,
             sum(x*y) AS sxy,
             sum(CAST(y AS DECIMAL(36,0)) * y) AS syy
      FROM d GROUP BY 1
    ),
    t AS (
      SELECT event_type, n,
        CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
        CAST(sy AS DOUBLE) AS syd, CAST(sxx AS DOUBLE) AS sxxd,
        CAST(sxy AS DOUBLE) AS sxyd, CAST(syy AS DOUBLE) AS syyd
      FROM s
    ),
    u AS (
      SELECT event_type, n,
        nd*sxyd - sxd*syd AS num,
        nd*sxxd - sxd*sxd AS den,
        nd*syyd - syd*syd AS ssy,
        nd, sxd, syd
      FROM t
    )
    SELECT event_type, n,
      round(num / nullif(den, 0) / 1e6 * 1e6, 0) / 1e6 AS slope,
      round((syd - num / nullif(den, 0) * sxd) / nd / 1e6 * 1e6, 0) / 1e6
        AS intercept,
      round(num * num / nullif(den * ssy, 0) * 1e6, 0) / 1e6 AS r2
    FROM u
    """,
)
def q_ols_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form per-group simple linear regression: slope, intercept,
    and R^2 of daily event value vs epoch day, per event type — the
    trend-fitting staple, done as TWO hash aggregates (daily rollup,
    then the five sufficient statistics) with the final formulas as
    scalar arithmetic. Deliberately NOT Spark's regr_slope/regr_r2:
    those accumulate doubles in partial-aggregation order and can
    never hash-match a sequential oracle. Here every sufficient
    statistic is EXACT — values in bigint micro-units, daily sums as
    DECIMAL(18,0), x as epoch-day bigint, so sx/sy/sxx/sxy/syy are
    exact integers in both engines — and only the final closed-form
    division happens in doubles with the identical expression shape
    (try_divide / nullif for the degenerate single-day group, the
    r4-advice ANSI discipline). Scale: the regression state is 5
    numbers per group regardless of row count; the daily rollup
    map-side combines."""
    from gene_level_metadata_pipeline_spark.operators.timeseries import (
        ols_trend,
    )

    ev = _events(spark, sf_dir)
    vm = F.round(F.col("value") * F.lit(1e6), 0).cast("long")
    d = (
        ev.where(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .groupBy(
            "event_type",
            F.expr("unix_micros(ts) div 86400000000").alias("x"),
        )
        .agg(F.sum(vm).cast("decimal(18,0)").alias("y"))
    )
    fit = ols_trend(d, "event_type", "x", "y")
    return fit.select(
        "event_type",
        "n",
        _round_to(F.col("slope_raw") / F.lit(1e6), 6).alias("slope"),
        _round_to(
            F.col("intercept_raw") / F.lit(1e6), 6
        ).alias("intercept"),
        _round_to(F.col("r2_raw"), 6).alias("r2"),
    )


@_register(
    "seasonal_mae_backtest",
    oracle="""
    WITH base AS (
      SELECT event_type,
             (epoch_us(ts) // 3600000000) % 24 AS hod,
             epoch_us(ts) // 86400000000 AS day,
             value
      FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
    ),
    prof AS (
      SELECT event_type, hod,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
               / count(*) AS mu,
             count(*) AS n_train
      FROM base WHERE day < 19743 GROUP BY event_type, hod
    ),
    test AS (
      SELECT b.event_type, b.value - p.mu AS err
      FROM base b JOIN prof p
        ON p.event_type = b.event_type AND p.hod = b.hod
      WHERE b.day >= 19743
    )
    SELECT event_type, count(*) AS n_test,
      round(CAST(sum(CAST(abs(err) AS DECIMAL(18,6))) AS DOUBLE)
            / count(*) * 1e6, 0) / 1e6 AS mae,
      round(CAST(sum(CAST(err AS DECIMAL(18,6))) AS DOUBLE)
            / count(*) * 1e6, 0) / 1e6 AS bias
    FROM test GROUP BY event_type
    """,
)
def q_seasonal_mae_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-profile forecast backtest: train an hour-of-day mean
    profile per event type on the first 20 days (epoch day < 19743 =
    2024-01-21; the fixture range is fixed across SFs), score the
    remaining days against it, and report per-type MAE and bias — the
    standard "is a seasonal-naive model good enough" evaluation loop.
    Hour-of-day comes from exact epoch-micros arithmetic (no timezone
    semantics to reconcile). The profile means are exact decimal sums
    over the train rows divided once in doubles; each test error is one
    IEEE subtraction of identical doubles, and the MAE/bias sums cast
    each error to DECIMAL(18,6) so aggregation order cannot flip ulps
    (the _dsum discipline). Plan: one profile aggregate (120 rows,
    broadcast back), one per-type aggregate — the train scan and test
    scan prune on the same day predicate; no window, no self-join. At
    100 TB the profile side is constant-size and the backtest is a
    scan-bound map + one map-side-combined aggregate."""
    ev = _events(spark, sf_dir)
    base = ev.where(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    ).select(
        "event_type",
        F.expr("(unix_micros(ts) div 3600000000) % 24").alias("hod"),
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        "value",
    )
    vdec = F.col("value").cast("decimal(18,6)")
    prof = (
        base.where(F.col("day") < 19743)
        .groupBy("event_type", "hod")
        .agg(
            (F.sum(vdec).cast("double") / F.count(F.lit(1))).alias("mu"),
            F.count(F.lit(1)).alias("n_train"),
        )
    )
    test = (
        base.where(F.col("day") >= 19743)
        .join(F.broadcast(prof), ["event_type", "hod"])
        .select("event_type", (F.col("value") - F.col("mu")).alias("err"))
    )
    edec = F.col("err").cast("decimal(18,6)")
    adec = F.abs(F.col("err")).cast("decimal(18,6)")
    return test.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_test"),
        _round_to(
            F.sum(adec).cast("double") / F.count(F.lit(1)), 6
        ).alias("mae"),
        _round_to(
            F.sum(edec).cast("double") / F.count(F.lit(1)), 6
        ).alias("bias"),
    )


@_register(
    "sliding_distinct_users",
    oracle="""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) AS us FROM events WHERE ts IS NOT NULL
    ),
    x AS (
      SELECT DISTINCT user_id,
             (us // 5400000000) * 5400000000 - k * 5400000000 AS ws
      FROM ev CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k)
    )
    SELECT ws AS ws_us, ws + 21600000000 AS we_us,
           count(*) AS n_users
    FROM x GROUP BY ws
    """,
)
def q_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per sliding window (6-hour windows, 90-min
    slide): the audience-reach counterpart of a per-window row count. Spark's ``window`` replicates each event into
    its 4 containing windows map-side; the per-window distinct is one
    expanded aggregate. The oracle reproduces the replication with the
    explicit 0..3 cross join and a DISTINCT projection. Output bounds
    are exact epoch micros. At 100 TB exact sliding distinct is the
    expensive-by-definition aggregate (state is the per-window user
    set) — this query IS the exact-regime baseline that the theta /
    k-minima sketches (corpus_overlap_est)
    approximate when the set no longer fits."""
    ev = _events(spark, sf_dir)
    w = F.window("ts", "6 hours", "90 minutes")
    return (
        ev.where(F.col("ts").isNotNull())
        .groupBy(w.alias("w"))
        .agg(F.countDistinct("user_id").alias("n_users"))
        .select(
            F.unix_micros("w.start").alias("ws_us"),
            F.unix_micros("w.end").alias("we_us"),
            "n_users",
        )
    )


@_register(
    "gdpr_erasure_audit",
    oracle="""
    WITH erase AS (
      SELECT DISTINCT user_id FROM events
      WHERE event_type = 'error'
        AND substr(md5('erase:' || CAST(user_id AS VARCHAR)), 1, 1) < '4'
    ),
    ev AS (
      SELECT e.*, (erase.user_id IS NOT NULL) AS hit
      FROM events e LEFT JOIN erase ON erase.user_id = e.user_id
    )
    SELECT event_type,
           count(*) AS n_before,
           CAST(count(*) FILTER (WHERE NOT hit) AS BIGINT) AS n_after,
           CAST(count(*) FILTER (WHERE hit) AS BIGINT) AS n_erased,
           CAST(count(DISTINCT CASE WHEN hit THEN user_id END) AS BIGINT)
             AS n_subjects
    FROM ev GROUP BY event_type
    """,
)
def q_gdpr_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten audit: given an erasure list (here a
    deterministic hash-selected subset of error-reporting users — the
    reproducible stand-in for an external request table), report per
    event type how many rows survive, how many are erased, and how many
    distinct data subjects are affected — the compliance evidence a
    deletion job must emit BEFORE the destructive write. One broadcast
    LEFT join tags rows (the erasure list is small by nature); all four
    counts come from a single conditional aggregate pass — no second
    scan, no anti-join-then-recount. The actual deletion is this same
    plan with a WHERE NOT hit writer; at 100 TB the tag-and-aggregate
    audit costs one scan regardless of list size."""
    ev = _events(spark, sf_dir)
    erase = (
        ev.where(
            (F.col("event_type") == "error")
            & (
                F.substring(
                    F.md5(F.concat(F.lit("erase:"), F.col("user_id"))), 1, 1
                )
                < "4"
            )
        )
        .select("user_id")
        .distinct()
        .withColumn("hit_tag", F.lit(True))
    )
    tagged = ev.join(F.broadcast(erase), "user_id", "left").withColumn(
        "hit", F.col("hit_tag").isNotNull()
    )
    return tagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_before"),
        F.count(F.when(~F.col("hit"), 1)).cast("bigint").alias("n_after"),
        F.count(F.when(F.col("hit"), 1)).cast("bigint").alias("n_erased"),
        F.countDistinct(
            F.when(F.col("hit"), F.col("user_id"))
        ).cast("bigint").alias("n_subjects"),
    )


@_register(
    "attribution_position_based",
    oracle="""
    WITH s AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us
      FROM events WHERE event_type IN ('purchase', 'click', 'view')
    ),
    nxt AS (
      SELECT user_id, event_id, event_type, us,
        first_value(CASE WHEN event_type = 'purchase' THEN event_id END
                    IGNORE NULLS) OVER w AS conv_id
      FROM s
      WINDOW w AS (
        PARTITION BY user_id
        ORDER BY us ASC NULLS LAST, event_id ASC NULLS LAST
        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    ),
    t AS (
      SELECT user_id, event_id, event_type, conv_id,
        row_number() OVER pw AS pos,
        count(*) OVER (PARTITION BY user_id, conv_id) AS k
      FROM nxt
      WHERE event_type IN ('click', 'view') AND conv_id IS NOT NULL
      WINDOW pw AS (
        PARTITION BY user_id, conv_id
        ORDER BY us ASC NULLS LAST, event_id ASC NULLS LAST)
    ),
    cr AS (
      SELECT event_type,
        CASE WHEN k = 1 THEN CAST(1 AS DOUBLE)
             WHEN k = 2 THEN CAST(0.5 AS DOUBLE)
             WHEN pos = 1 OR pos = k THEN CAST(0.4 AS DOUBLE)
             ELSE CAST(0.2 AS DOUBLE) / (k - 2) END AS w
      FROM t
    )
    SELECT event_type AS touch_type, count(*) AS n_touches,
      round(CAST(sum(CAST(w AS DECIMAL(18,12))) AS DOUBLE) * 1e6, 0) / 1e6
        AS credited
    FROM cr GROUP BY event_type
    """,
)
def q_attribution_position_based(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution — the
    fractional-credit complement to attribution_last_touch: each
    conversion's credit splits 40/20/40 across its first, middle, and
    last prior touches (100% solo, 50/50 for a pair), where a
    conversion's touch set is every click/view since the user's
    previous conversion. Window-only plan, no conversions x touches
    self-join: one forward-looking first_value IGNORE NULLS assigns
    each touch to its next conversion (conv_id and pos come from the
    same (us, id) total order both engines share), then one
    (user, conversion) window numbers positions. Weights are the same
    IEEE doubles in both engines (0.2/(k-2) is one division of
    identical operands) and credit sums are exact DECIMAL(18,12)
    accumulations, so the aggregate hash-matches. All three windows
    share the user-key shuffle; at 100 TB hot users bound the frame,
    not a join fan-out."""
    from pyspark.sql.window import Window

    ev = _events(spark, sf_dir)
    s = ev.where(
        F.col("event_type").isin("purchase", "click", "view")
    ).select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("us").asc_nulls_last(), F.col("event_id").asc_nulls_last())
        .rowsBetween(1, Window.unboundedFollowing)
    )
    conv_mark = F.when(
        F.col("event_type") == "purchase", F.col("event_id")
    )
    nxt = s.withColumn(
        "conv_id", F.first(conv_mark, ignorenulls=True).over(w)
    )
    touches = nxt.where(
        F.col("event_type").isin("click", "view")
        & F.col("conv_id").isNotNull()
    )
    pw = Window.partitionBy("user_id", "conv_id").orderBy(
        F.col("us").asc_nulls_last(), F.col("event_id").asc_nulls_last()
    )
    kw = Window.partitionBy("user_id", "conv_id")
    t = touches.select(
        "event_type",
        F.row_number().over(pw).alias("pos"),
        F.count(F.lit(1)).over(kw).alias("k"),
    )
    wcol = (
        F.when(F.col("k") == 1, F.lit(1.0))
        .when(F.col("k") == 2, F.lit(0.5))
        .when(
            (F.col("pos") == 1) | (F.col("pos") == F.col("k")), F.lit(0.4)
        )
        .otherwise(F.lit(0.2) / (F.col("k") - 2))
    )
    return (
        t.select(F.col("event_type").alias("touch_type"), wcol.alias("w"))
        .groupBy("touch_type")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            _round_to(
                F.sum(F.col("w").cast("decimal(18,12)")).cast("double"), 6
            ).alias("credited"),
        )
    )


@_register(
    "dedup_cluster_stats",
    oracle="""
    WITH RECURSIVE base AS (
      SELECT doc_a, doc_b FROM (
        """ + _minhash_oracle() + """
      )
    ),
    edges2 AS (
      SELECT doc_a AS u, doc_b AS v FROM base
      UNION
      SELECT doc_b, doc_a FROM base
    ),
    reach(u, v) AS (
      SELECT u, v FROM edges2
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges2 e ON r.v = e.u
    ),
    comp AS (
      SELECT u AS doc_id, least(u, min(v)) AS component
      FROM reach GROUP BY u
    ),
    sizes AS (
      SELECT component, count(*) AS cluster_size
      FROM comp GROUP BY component
    )
    SELECT cluster_size, count(*) AS n_clusters,
           CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
           CAST((cluster_size - 1) * count(*) AS BIGINT) AS n_removable
    FROM sizes GROUP BY cluster_size
    """,
)
def q_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution — the dedup REPORT a curation
    run ships alongside the components themselves: for each cluster
    size, how many clusters, how many documents they hold, and how many
    are removable (keep one canonical per cluster). Built directly on
    connected_components over the MinHash candidate pairs (identical
    plan to dedup_components, one extra two-level aggregate over the
    component table — which is already tiny relative to the corpus);
    the oracle composes the same recursive-CTE fixpoint with the same
    rollup. All counts exact bigints. The n_removable column is the
    number a 100 TB dedup pass reports as its expected row reduction
    BEFORE the destructive write — the same audit-first discipline as
    gdpr_erasure_audit."""
    from gene_level_metadata_pipeline_spark.operators.dedup import (
        minhash_candidate_pairs,
    )
    from gene_level_metadata_pipeline_spark.operators.graph import (
        connected_components,
    )

    pairs = minhash_candidate_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id"
    )
    comp = connected_components(pairs)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1)))
        .cast("bigint")
        .alias("n_docs"),
        ((F.col("cluster_size") - 1) * F.count(F.lit(1)))
        .cast("bigint")
        .alias("n_removable"),
    )


@_register(
    "interval_merge_coverage",
    oracle="""
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 300000000 AS e
      FROM events WHERE ts IS NOT NULL
    ),
    r AS (
      SELECT user_id, s, e,
             max(e) OVER (
               PARTITION BY user_id
               ORDER BY s ASC NULLS LAST, e ASC NULLS LAST
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max_e
      FROM iv
    ),
    g AS (
      SELECT user_id, s, e,
             CAST(sum(CASE WHEN prev_max_e IS NULL OR s > prev_max_e
                           THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id
               ORDER BY s ASC NULLS LAST, e ASC NULLS LAST
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS grp
      FROM r
    ),
    m AS (
      SELECT user_id, grp, min(s) AS cov_start_us, max(e) AS cov_end_us
      FROM g GROUP BY user_id, grp
    )
    SELECT user_id, count(*) AS n_intervals,
           CAST(sum(cov_end_us - cov_start_us) AS BIGINT) AS covered_us,
           min(cov_start_us) AS first_start_us,
           max(cov_end_us) AS last_end_us
    FROM m GROUP BY user_id
    """,
)
def q_interval_merge_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval coalescing (merge overlapping intervals) — the classic
    range-union: each event claims a 5-minute activity window
    [ts, ts+5min]; per user, overlapping or touching-with-overlap
    windows merge into maximal coverage intervals, reported as
    interval count + exact covered micros. The one-pass idiom: a
    running max of interval ends over the start-sorted stream (frame
    ending at 1 PRECEDING so a row sees only PRIOR ends) marks a new
    group exactly when a start clears everything before it; the group
    id is the running sum of those marks — the continuous cousin of
    gaps_islands (bucketed grid) and the geometry behind SCD2 repair
    and downtime/coverage reports. All arithmetic exact micros
    bigints; one user-key shuffle shared by both windows and the two
    rollups."""
    from gene_level_metadata_pipeline_spark.operators.timeseries import (
        coalesce_intervals,
    )

    ev = _events(spark, sf_dir)
    iv = ev.where(F.col("ts").isNotNull()).select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(300_000_000)).alias("e"),
    )
    m = coalesce_intervals(iv, "user_id", "s", "e")
    return m.groupBy(F.col("key").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum(F.col("cov_end") - F.col("cov_start"))
        .cast("bigint")
        .alias("covered_us"),
        F.min("cov_start").alias("first_start_us"),
        F.max("cov_end").alias("last_end_us"),
    )


@_register(
    "quantile_normalize_scores",
    oracle="""
    WITH v AS (
      SELECT event_id, event_type,
             CAST(round(value * 1e6, 0) AS BIGINT) AS vm
      FROM events WHERE value IS NOT NULL
    ),
    ranked AS (
      SELECT event_id, event_type, vm,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY vm ASC NULLS LAST, event_id ASC NULLS LAST) AS r,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM v
    ),
    pooled AS (
      SELECT vm,
             row_number() OVER (
               ORDER BY vm ASC NULLS LAST, event_id ASC NULLS LAST) AS k
      FROM v
    ),
    tot AS (SELECT count(*) AS np FROM v),
    mapped AS (
      SELECT rk.event_id, rk.event_type, rk.vm,
             CAST(1 + ((rk.r - 1) * (t.np - 1)) // (rk.n - 1) AS BIGINT)
               AS k_target
      FROM ranked rk CROSS JOIN tot t WHERE rk.n > 1
    )
    SELECT m.event_type,
           count(*) AS n,
           CAST(sum(CASE WHEN p.vm >= m.vm THEN 1 ELSE 0 END) AS BIGINT)
             AS n_not_decreased,
           CAST(min(p.vm) AS BIGINT) AS min_norm_micro,
           CAST(max(p.vm) AS BIGINT) AS max_norm_micro
    FROM mapped m JOIN pooled p ON p.k = m.k_target
    GROUP BY m.event_type
    """,
)
def q_quantile_normalize_scores(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantile normalization — the genomics-pipeline staple the
    reference's source distributions would need before cross-source
    comparison (SURVEY's constraint/essentiality scores arrive on
    incompatible scales): each value maps to the POOLED distribution's
    order statistic at its within-group rank percentile. Nearest-rank
    (floor) form, no interpolation — k = 1 + (r-1)(N-1)/(n-1) in exact
    bigint integer division, so the mapping is deterministic and
    hash-exact in both engines (interpolated quantiles would pit two
    engines' double formulas against each other). Per-type summary:
    how many values the mapping did not decrease, plus the mapped
    range. Plan: two rank windows (per-type and pooled — the pooled
    one is THE global sort this operator fundamentally needs), one
    1-row total broadcast, one join on the target rank; groups with a
    single value are excluded (rank percentile undefined). At 100 TB
    the pooled ranking is running_sum's distributed-prefix-sum shape
    over per-value counts, not a single-task window."""
    from pyspark.sql.window import Window

    ev = _events(spark, sf_dir)
    v = ev.where(F.col("value").isNotNull()).select(
        "event_id",
        "event_type",
        F.round(F.col("value") * F.lit(1e6), 0).cast("long").alias("vm"),
    )
    wt = Window.partitionBy("event_type").orderBy(
        F.col("vm").asc_nulls_last(), F.col("event_id").asc_nulls_last()
    )
    ranked = v.select(
        "event_id",
        "event_type",
        "vm",
        F.row_number().over(wt).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    wp = Window.orderBy(
        F.col("vm").asc_nulls_last(), F.col("event_id").asc_nulls_last()
    )
    pooled = v.select("vm", F.row_number().over(wp).alias("k"))
    tot = v.agg(F.count(F.lit(1)).alias("np"))
    mapped = (
        ranked.where(F.col("n") > 1)
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "vm",
            F.expr("cast(1 + ((r - 1) * (np - 1)) div (n - 1) as bigint)")
            .alias("k_target"),
        )
    )
    p2 = pooled.select(F.col("k").alias("k_target"), F.col("vm").alias("pvm"))
    j = mapped.join(p2, "k_target")
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("pvm") >= F.col("vm"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_not_decreased"),
        F.min("pvm").cast("bigint").alias("min_norm_micro"),
        F.max("pvm").cast("bigint").alias("max_norm_micro"),
    )


@_register(
    "scd2_point_in_time_join",
    oracle="""
    WITH ch AS (
      SELECT user_id, event_id, epoch_us(ts) AS us, event_type
      FROM events WHERE event_type IN ('signup', 'error')
    ),
    runs AS (
      SELECT user_id, event_id, event_type, us,
             lag(event_type) OVER w AS prev_attr
      FROM ch
      WINDOW w AS (PARTITION BY user_id
                   ORDER BY us ASC NULLS LAST, event_id ASC NULLS LAST)
    ),
    changed AS (
      SELECT user_id, event_type AS attr, us AS valid_from,
             lead(us) OVER (PARTITION BY user_id
               ORDER BY us ASC NULLS LAST, event_id ASC NULLS LAST)
               AS valid_to
      FROM runs
      WHERE prev_attr IS NULL OR prev_attr <> event_type
    ),
    facts AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CAST(round(value * 1e6, 0) AS BIGINT) AS vm
      FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
    ),
    pit AS (
      SELECT f.user_id, f.event_id, f.vm, c.attr
      FROM facts f LEFT JOIN changed c
        ON c.user_id = f.user_id
       AND c.valid_from <= f.us
       AND (c.valid_to IS NULL OR f.us < c.valid_to)
    )
    SELECT coalesce(attr, 'unknown') AS state, count(*) AS n,
           CAST(sum(vm) AS BIGINT) AS total_micro
    FROM pit GROUP BY coalesce(attr, 'unknown')
    """,
)
def q_scd2_point_in_time_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Point-in-time (PIT) join — facts against an SCD2 dimension AS OF
    each fact's timestamp: purchases credited to the signup/error state
    the user was in when the purchase happened, 'unknown' before the
    first state change. The warehouse pattern behind every
    dimension-history join, and deliberately NOT the oracle's interval
    BETWEEN join (whose fan-out re-sorts facts against every historical
    row of a hot key): the engine unions state-change rows (version
    markers) with facts on one (user, time) order and carries the last
    marker forward — the as-of trick, ONE user-key window, zero
    interval predicates. Intervals come from the same run-collapse
    contract as timeseries.scd2_intervals (consecutive same-attribute
    changes merge). Exact micro-unit sums; ties at one timestamp order
    change-before-fact by the (us, is_fact) sort so a same-instant
    purchase sees the new state in BOTH engines (the oracle's <=
    matches)."""
    from pyspark.sql.window import Window

    ev = _events(spark, sf_dir)
    ch = (
        ev.where(F.col("event_type").isin("signup", "error"))
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("us"),
            F.col("event_type").alias("attr"),
        )
    )
    wch = Window.partitionBy("user_id").orderBy(
        F.col("us").asc_nulls_last(), F.col("event_id").asc_nulls_last()
    )
    changed = ch.withColumn("prev_attr", F.lag("attr").over(wch)).where(
        F.col("prev_attr").isNull()
        | (F.col("prev_attr") != F.col("attr"))
    )
    facts = ev.where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * F.lit(1e6), 0).cast("long").alias("vm"),
    )
    # as-of union: markers sort BEFORE facts at the same instant
    # (is_fact 0 < 1), so a same-us purchase sees the new state —
    # mirroring the oracle's valid_from <= f.us
    marked = changed.select(
        "user_id",
        F.col("us"),
        F.lit(0).alias("is_fact"),
        F.col("attr"),
        F.col("event_id").alias("event_id2"),
        F.lit(None).cast("long").alias("vm"),
    ).unionByName(
        facts.select(
            "user_id",
            "us",
            F.lit(1).alias("is_fact"),
            F.lit(None).cast("string").alias("attr"),
            F.col("event_id").alias("event_id2"),
            "vm",
        )
    )
    wpit = (
        Window.partitionBy("user_id")
        .orderBy(
            F.col("us").asc_nulls_last(),
            F.col("is_fact").asc_nulls_last(),
            F.col("event_id2").asc_nulls_last(),
        )
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pit = (
        marked.withColumn(
            "state", F.last("attr", ignorenulls=True).over(wpit)
        )
        .where(F.col("is_fact") == 1)
    )
    return pit.groupBy(
        F.coalesce(F.col("state"), F.lit("unknown")).alias("state")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vm").cast("bigint").alias("total_micro"),
    )


@_register(
    "cohort_ltv_curves",
    oracle="""
    WITH f AS (
      SELECT user_id, min(epoch_us(ts)) AS first_us FROM events
      GROUP BY user_id
    ),
    rev AS (
      SELECT f.first_us // 604800000000 AS cohort_week,
             (epoch_us(e.ts) - f.first_us) // 604800000000 AS week_offset,
             CAST(sum(CAST(round(e.value * 1e6, 0) AS BIGINT)) AS BIGINT)
               AS rev_micro
      FROM events e JOIN f ON e.user_id = f.user_id
      WHERE e.event_type = 'purchase' AND e.value IS NOT NULL
      GROUP BY 1, 2
    ),
    sz AS (
      SELECT first_us // 604800000000 AS cohort_week,
             count(*) AS cohort_size
      FROM f GROUP BY 1
    )
    SELECT r.cohort_week, r.week_offset, s.cohort_size,
      CAST(sum(r.rev_micro) OVER (
        PARTITION BY r.cohort_week ORDER BY r.week_offset ASC NULLS LAST
        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev_micro,
      round(CAST(sum(r.rev_micro) OVER (
          PARTITION BY r.cohort_week ORDER BY r.week_offset ASC NULLS LAST
          ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        / s.cohort_size / 1e6 * 1e4, 0) / 1e4 AS ltv_per_user
    FROM rev r JOIN sz s ON s.cohort_week = r.cohort_week
    """,
)
def q_cohort_ltv_curves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves — cumulative purchase revenue per signup-week
    cohort by week age, absolute and per cohort member: the
    business-analytics companion to retention_cohorts (who stays) —
    this is what they're worth as they age. Cohort = epoch-week of a
    user's FIRST event (exact integer micros division, no calendar
    semantics to reconcile); revenue in exact bigint micro-units; the
    cumulative sum is one window over the (cohort, age) rollup, which
    is weeks x cohorts tiny regardless of event volume — the two-level
    aggregate discipline again. Per-user LTV divides by the exact
    cohort size with the identical double shape in both engines."""
    from pyspark.sql.window import Window

    ev = _events(spark, sf_dir)
    f = ev.groupBy("user_id").agg(
        F.min(F.unix_micros("ts")).alias("first_us")
    )
    joined = ev.where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).join(F.broadcast(f), "user_id")
    rev = joined.groupBy(
        F.expr("first_us div 604800000000").alias("cohort_week"),
        F.expr(
            "(unix_micros(ts) - first_us) div 604800000000"
        ).alias("week_offset"),
    ).agg(
        F.sum(
            F.round(F.col("value") * F.lit(1e6), 0).cast("long")
        ).cast("bigint").alias("rev_micro")
    )
    sz = f.groupBy(
        F.expr("first_us div 604800000000").alias("cohort_week")
    ).agg(F.count(F.lit(1)).alias("cohort_size"))
    w = (
        Window.partitionBy("cohort_week")
        .orderBy(F.col("week_offset").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = rev.join(F.broadcast(sz), "cohort_week").withColumn(
        "cum_rev_micro", F.sum("rev_micro").over(w).cast("bigint")
    )
    return out.select(
        "cohort_week",
        "week_offset",
        "cohort_size",
        "cum_rev_micro",
        _round_to(
            F.col("cum_rev_micro").cast("double")
            / F.col("cohort_size")
            / F.lit(1e6),
            4,
        ).alias("ltv_per_user"),
    )


@_register(
    "conversion_latency_quantiles",
    oracle="""
    WITH s AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
    ),
    conv AS (SELECT * FROM s WHERE event_type = 'purchase'),
    touch AS (SELECT * FROM s WHERE event_type IN ('click', 'view')),
    last_touch AS (
      SELECT c.event_id AS conv_id, t.event_type AS touch_type,
             c.us - t.us AS gap_us
      FROM conv c JOIN touch t
        ON t.user_id = c.user_id
       AND (t.us < c.us OR (t.us = c.us AND t.event_id < c.event_id))
      QUALIFY row_number() OVER (
        PARTITION BY c.event_id
        ORDER BY t.us DESC NULLS LAST, t.event_id DESC NULLS LAST) = 1
    )
    SELECT touch_type, count(*) AS n,
           round(quantile_cont(gap_us, 0.5) / 1e6, 4) AS p50_sec,
           round(quantile_cont(gap_us, 0.9) / 1e6, 4) AS p90_sec,
           CAST(max(gap_us) AS BIGINT) AS max_gap_us
    FROM last_touch GROUP BY touch_type
    """,
)
def q_conversion_latency_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Conversion-latency distribution: how long after the last
    click/view does the purchase land — p50/p90 per attributing touch
    type, the SLA-style latency ladder on top of last-touch
    attribution. Gaps are exact microsecond bigints from the SAME
    single-window attribution plan (temporal.attribute_last_touch — no
    conversions x touches self-join); quantiles use Spark
    ``percentile`` / DuckDB ``quantile_cont``, which share the exact
    linear-interpolation definition (never approx_percentile where exactness is graded). The divide-
    then-round shape is identical in both engines."""
    from gene_level_metadata_pipeline_spark.operators.temporal import (
        attribute_last_touch,
    )

    ev = _events(spark, sf_dir)
    out = attribute_last_touch(
        ev, "user_id", "ts", "event_id", "event_type",
        ["purchase"], ["click", "view"],
    )
    gaps = out.where(F.col("touch_id").isNotNull()).select(
        "touch_type",
        (
            F.unix_micros(F.col("ts")) - F.unix_micros(F.col("touch_ts"))
        ).alias("gap_us"),
    )
    return gaps.groupBy("touch_type").agg(
        F.count(F.lit(1)).alias("n"),
        _round_to(
            F.expr("percentile(gap_us, 0.5)") / F.lit(1e6), 4
        ).alias("p50_sec"),
        _round_to(
            F.expr("percentile(gap_us, 0.9)") / F.lit(1e6), 4
        ).alias("p90_sec"),
        F.max("gap_us").cast("bigint").alias("max_gap_us"),
    )


@_register(
    "hour_of_week_heatmap",
    oracle="""
    SELECT ((epoch_us(ts) // 3600000000 + 96) % 168) AS how,
           event_type, count(*) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS total
    FROM events WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """,
)
def q_hour_of_week_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-week activity heatmap — the ops-dashboard staple: counts
    and value totals per (hour-of-week, event type), 168 x types cells.
    Hour-of-week comes from pure epoch arithmetic (epoch hour + 96 mod
    168 — the Unix epoch was a Thursday, so +96 re-anchors hour 0 to
    Monday 00:00 UTC) rather than any calendar function, so both
    engines derive identical bigints with zero timezone/locale surface.
    One map-side-combined aggregate over a 168-way key: the canonical
    low-cardinality rollup that stays one shuffle at any volume."""
    ev = _events(spark, sf_dir)
    return (
        ev.where(F.col("ts").isNotNull())
        .groupBy(
            F.expr(
                "(unix_micros(ts) div 3600000000 + 96) % 168"
            ).alias("how"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dsum(F.col("value"), 2).alias("total"),
        )
    )


@_register(
    "weighted_median_order_value",
    oracle="""
    WITH w AS (
      SELECT o_orderpriority AS grp,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_cents,
             count(*) AS wt
      FROM orders
      WHERE o_totalprice IS NOT NULL
      GROUP BY 1, 2
    ),
    r AS (
      SELECT grp, price_cents, wt,
             sum(wt) OVER (PARTITION BY grp
               ORDER BY price_cents ASC NULLS LAST
               ROWS UNBOUNDED PRECEDING) AS cum,
             sum(wt) OVER (PARTITION BY grp) AS tot
      FROM w
    )
    SELECT grp, CAST(max(tot) AS BIGINT) AS n_orders,
           min(price_cents) AS wmedian_cents
    FROM r WHERE cum * 2 >= tot
    GROUP BY grp
    """,
)
def q_weighted_median_order_value(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact weighted (lower) median per group without a full sort of
    the raw rows: collapse to per-value weights first (the groupBy does
    the heavy lifting map-side), then the median is the FIRST value
    whose running weight reaches half the total — a cumulative window
    over the collapsed (group, value) table plus a min. All exact
    bigints (prices in cents, weights are counts; the half test is
    cum*2 >= tot, never a double 0.5), so the hash match is trivial —
    the integer-threshold sibling of the interpolated median.
    At 100 TB the windowed table is |distinct values| per group, not
    |rows|."""
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders").where(
        F.col("o_totalprice").isNotNull()
    )
    w = o.groupBy(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("long")
        .alias("price_cents"),
    ).agg(F.count(F.lit(1)).alias("wt"))
    wc = (
        Window.partitionBy("grp")
        .orderBy(F.col("price_cents").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt_tot = Window.partitionBy("grp")
    r = w.withColumn("cum", F.sum("wt").over(wc)).withColumn(
        "tot", F.sum("wt").over(wt_tot)
    )
    return (
        r.where(F.col("cum") * 2 >= F.col("tot"))
        .groupBy("grp")
        .agg(
            F.max("tot").cast("bigint").alias("n_orders"),
            F.min("price_cents").alias("wmedian_cents"),
        )
    )


@_register(
    "daily_pct_change",
    oracle="""
    WITH d AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day,
             CAST(sum(CAST(round(value * 1e6, 0) AS BIGINT)) AS BIGINT)
               AS rev_micro
      FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
      GROUP BY 1, 2
    ),
    l AS (
      SELECT event_type, day, rev_micro,
             lag(rev_micro) OVER (PARTITION BY event_type
               ORDER BY day ASC NULLS LAST) AS prev_micro,
             lag(rev_micro, 7) OVER (PARTITION BY event_type
               ORDER BY day ASC NULLS LAST) AS prev_wk_micro
      FROM d
    )
    SELECT event_type, day, rev_micro,
      round(CAST(rev_micro - prev_micro AS DOUBLE)
            / nullif(CAST(prev_micro AS DOUBLE), 0) * 1e6, 0) / 1e6
        AS dod_pct,
      round(CAST(rev_micro - prev_wk_micro AS DOUBLE)
            / nullif(CAST(prev_wk_micro AS DOUBLE), 0) * 1e6, 0) / 1e6
        AS wow_pct
    FROM l
    """,
)
def q_daily_pct_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day and week-over-week percentage change of daily value
    per event type — the dashboard delta every metrics page leads with.
    Daily totals are exact bigint micro-units; both lags share ONE
    per-type sort window; the ratio is the identical-shape double
    division with try_divide/nullif so a zero-revenue predecessor
    yields NULL, not an ANSI error (and warm-up rows with no
    predecessor are NULL by lag's contract). The windowed table is
    (types x days) — the raw volume never reaches the window."""
    from pyspark.sql.window import Window

    ev = _events(spark, sf_dir)
    d = (
        ev.where(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .groupBy(
            "event_type",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
        )
        .agg(
            F.sum(
                F.round(F.col("value") * F.lit(1e6), 0).cast("long")
            ).cast("bigint").alias("rev_micro")
        )
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("day").asc_nulls_last()
    )
    l = d.withColumn("prev_micro", F.lag("rev_micro").over(w)).withColumn(
        "prev_wk_micro", F.lag("rev_micro", 7).over(w)
    )
    def pct(cur, prev):
        return _round_to(
            F.try_divide(
                (cur - prev).cast("double"), prev.cast("double")
            ),
            6,
        )
    return l.select(
        "event_type",
        "day",
        "rev_micro",
        pct(F.col("rev_micro"), F.col("prev_micro")).alias("dod_pct"),
        pct(F.col("rev_micro"), F.col("prev_wk_micro")).alias("wow_pct"),
    )


@_register(
    "new_vs_returning_daily",
    oracle="""
    WITH f AS (
      SELECT user_id, min(epoch_us(ts)) // 86400000000 AS first_day
      FROM events WHERE ts IS NOT NULL GROUP BY user_id
    ),
    e AS (
      SELECT ev.user_id, epoch_us(ev.ts) // 86400000000 AS day,
             f.first_day
      FROM events ev JOIN f ON f.user_id = ev.user_id
      WHERE ev.ts IS NOT NULL
    )
    SELECT day,
      CAST(count(DISTINCT CASE WHEN day = first_day THEN user_id END)
           AS BIGINT) AS new_users,
      CAST(count(DISTINCT CASE WHEN day > first_day THEN user_id END)
           AS BIGINT) AS returning_users,
      CAST(count(CASE WHEN day = first_day THEN 1 END) AS BIGINT)
        AS new_events,
      CAST(count(CASE WHEN day > first_day THEN 1 END) AS BIGINT)
        AS returning_events
    FROM e GROUP BY day
    """,
)
def q_new_vs_returning_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """New-vs-returning split per day — the growth-dashboard staple:
    users (and their events) counted as NEW on their first-ever active
    day (exact epoch-day of their first event) and RETURNING after.
    The first-event table is one per-user aggregate broadcast back
    onto the facts; all four measures come from a single conditional
    aggregate pass (the gdpr_erasure_audit discipline — tag once,
    never rescan). Exact bigint day arithmetic; the distinct counts
    expand to Spark's standard two-phase plan."""
    ev = _events(spark, sf_dir).where(F.col("ts").isNotNull())
    f = ev.groupBy("user_id").agg(
        F.expr("min(unix_micros(ts)) div 86400000000").alias("first_day")
    )
    e = ev.select(
        "user_id", F.expr("unix_micros(ts) div 86400000000").alias("day")
    ).join(F.broadcast(f), "user_id")
    is_new = F.col("day") == F.col("first_day")
    is_ret = F.col("day") > F.col("first_day")
    return e.groupBy("day").agg(
        F.countDistinct(F.when(is_new, F.col("user_id")))
        .cast("bigint")
        .alias("new_users"),
        F.countDistinct(F.when(is_ret, F.col("user_id")))
        .cast("bigint")
        .alias("returning_users"),
        F.count(F.when(is_new, 1)).cast("bigint").alias("new_events"),
        F.count(F.when(is_ret, 1)).cast("bigint").alias("returning_events"),
    )


@_register(
    "rolling_conversion_rate",
    oracle="""
    WITH d AS (
      SELECT epoch_us(ts) // 86400000000 AS day,
             count(CASE WHEN event_type = 'purchase' THEN 1 END) AS conv,
             count(CASE WHEN event_type IN ('click', 'view') THEN 1 END)
               AS touches
      FROM events WHERE ts IS NOT NULL
      GROUP BY 1
    )
    SELECT day,
      CAST(sum(conv) OVER w AS BIGINT) AS conv_7d,
      CAST(sum(touches) OVER w AS BIGINT) AS touches_7d,
      round(CAST(sum(conv) OVER w AS DOUBLE)
            / nullif(CAST(sum(touches) OVER w AS DOUBLE), 0) * 1e6, 0)
        / 1e6 AS cr_7d
    FROM d
    WINDOW w AS (ORDER BY day ASC NULLS LAST RANGE BETWEEN 6 PRECEDING
                 AND CURRENT ROW)
    """,
)
def q_rolling_conversion_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Trailing-7-day conversion rate per day — the smoothed funnel KPI:
    purchases over clicks+views in a RANGE window keyed on the exact
    epoch day (RANGE, not ROWS, so missing days shorten the window
    instead of silently stretching it across gaps — the correctness
    trap in rolling metrics over sparse calendars). Counts are exact
    bigints; the one global day-ordered window runs on the daily
    rollup (|days| rows), and the ratio is the identical-shape double
    division with NULL on zero-touch windows."""
    from pyspark.sql.window import Window

    ev = _events(spark, sf_dir).where(F.col("ts").isNotNull())
    d = ev.groupBy(
        F.expr("unix_micros(ts) div 86400000000").alias("day")
    ).agg(
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("conv"),
        F.count(
            F.when(F.col("event_type").isin("click", "view"), 1)
        ).alias("touches"),
    )
    w = (
        Window.orderBy(F.col("day").asc_nulls_last())
        .rangeBetween(-6, 0)
    )
    conv7 = F.sum("conv").over(w)
    touch7 = F.sum("touches").over(w)
    return d.select(
        "day",
        conv7.cast("bigint").alias("conv_7d"),
        touch7.cast("bigint").alias("touches_7d"),
        _round_to(
            F.try_divide(conv7.cast("double"), touch7.cast("double")), 6
        ).alias("cr_7d"),
    )


@_register(
    "attribution_time_decay",
    oracle="""
    WITH s AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
    ),
    conv AS (
      SELECT user_id, event_id AS conv_id, us FROM s
      WHERE event_type = 'purchase'
    ),
    touch AS (
      SELECT user_id, event_id AS tid, event_type AS touch_type, us AS tus
      FROM s WHERE event_type IN ('click', 'view')
    ),
    j AS (
      SELECT c.user_id, c.conv_id, t.touch_type,
             (CAST(1 AS BIGINT)
               << CAST(10 - ((c.us - t.tus) // 86400000000) AS INT)) AS w
      FROM conv c JOIN touch t ON t.user_id = c.user_id
       AND (t.tus < c.us OR (t.tus = c.us AND t.tid < c.conv_id))
       AND c.us - t.tus < 11 * 86400000000
    ),
    num AS (
      SELECT user_id, conv_id, touch_type,
             CAST(sum(w) AS BIGINT) AS w_num
      FROM j GROUP BY user_id, conv_id, touch_type
    )
    SELECT user_id, conv_id, touch_type, w_num,
           CAST(sum(w_num) OVER (PARTITION BY conv_id) AS BIGINT) AS w_den,
           round(CAST(w_num AS DOUBLE)
                 / CAST(sum(w_num) OVER (PARTITION BY conv_id) AS DOUBLE),
                 6) AS credit
    FROM num
    """,
)
def q_attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution (temporal.attribute_time_decay):
    each purchase splits credit across every strictly-prior click/view in
    a 10-day lookback, halving per elapsed day — completing the
    attribution family (last-touch argmax, position-based U-shape, and
    now the exponential-decay split). Weights are the bigint
    ``1 << (10 - days)``; numerator/denominator stay exact integers in
    both engines and only the final per-row credit ratio is a rounded
    double — hash-exact. The fan-out join is user-key bounded-range (the
    decay anchors on each conversion's own timestamp, so no running
    window can replace it); both aggregates ride the same conv-id key."""
    from gene_level_metadata_pipeline_spark.operators.temporal import (
        attribute_time_decay,
    )

    ev = _events(spark, sf_dir)
    return attribute_time_decay(
        ev, "user_id", "ts", "event_id", "event_type",
        ["purchase"], ["click", "view"],
    )


def _merged_spans_sql(types_pred: str) -> str:
    """The coalesce_intervals SQL idiom over 5-min event windows,
    filtered to ``types_pred`` — shared by the overlap-join oracle's
    two sides."""
    return f"""(
      WITH iv AS (
        SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 300000000 AS e
        FROM events WHERE ts IS NOT NULL AND {types_pred}
      ),
      r AS (
        SELECT user_id, s, e,
               max(e) OVER (
                 PARTITION BY user_id
                 ORDER BY s ASC NULLS LAST, e ASC NULLS LAST
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS prev_max_e
        FROM iv
      ),
      g AS (
        SELECT user_id, s, e,
               CAST(sum(CASE WHEN prev_max_e IS NULL OR s > prev_max_e
                             THEN 1 ELSE 0 END) OVER (
                 PARTITION BY user_id
                 ORDER BY s ASC NULLS LAST, e ASC NULLS LAST
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS grp
        FROM r
      )
      SELECT user_id, min(s) AS lo, max(e) AS hi
      FROM g GROUP BY user_id, grp
    )"""


@_register(
    "interval_overlap_sessions",
    oracle=f"""
    WITH a AS (SELECT * FROM {_merged_spans_sql(
        "event_type IN ('click', 'view')")}),
    b AS (SELECT * FROM {_merged_spans_sql("event_type = 'error'")})
    SELECT a.user_id, a.lo AS a_lo, a.hi AS a_hi,
           b.lo AS b_lo, b.hi AS b_hi,
           least(a.hi, b.hi) - greatest(a.lo, b.lo) AS overlap
    FROM a JOIN b ON a.user_id = b.user_id
     AND a.lo < b.hi AND b.lo < a.hi
    """,
)
def q_interval_overlap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-interval overlap join (temporal.interval_overlap_join):
    which of each user's browsing spans (merged 5-min click/view
    windows) overlap their error spans, and for exactly how long — the
    incident-correlation shape (downtime x activity, med dosing x lab
    windows). The operator buckets both interval sets to the hour and
    joins (user, bucket) — an AQE-splittable equi-join, never the keyed
    quadratic fan-out — and emits each pair exactly once from the
    bucket holding the overlap's start (no distinct pass). The oracle
    IS the quadratic join, so the hash match certifies the banding is
    lossless and duplicate-free."""
    from gene_level_metadata_pipeline_spark.operators.temporal import (
        interval_overlap_join,
    )
    from gene_level_metadata_pipeline_spark.operators.timeseries import (
        coalesce_intervals,
    )

    ev = _events(spark, sf_dir).where(F.col("ts").isNotNull())

    def spans(pred):
        iv = ev.where(pred).select(
            "user_id",
            F.unix_micros("ts").alias("s"),
            (F.unix_micros("ts") + F.lit(300_000_000)).alias("e"),
        )
        return coalesce_intervals(iv, "user_id", "s", "e").select(
            F.col("key").alias("user_id"),
            F.col("cov_start").alias("lo"),
            F.col("cov_end").alias("hi"),
        )

    a = spans(F.col("event_type").isin("click", "view"))
    b = spans(F.col("event_type") == "error")
    return interval_overlap_join(a, b, "user_id")


@_register(
    "funnel_windowed",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t
        AND epoch_us(e.ts) - epoch_us(s1.t) <= 172800000000
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t
        AND epoch_us(e.ts) - epoch_us(s2.t) <= 172800000000
      GROUP BY e.user_id
    ),
    c AS (
      SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step,
             (SELECT count(*) FROM s1) AS n_users
      UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
      UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)
    )
    SELECT step_idx, step, n_users,
           round(CAST(n_users AS DOUBLE)
                 / nullif((SELECT n_users FROM c WHERE step_idx = 1), 0), 4)
             AS pct_of_first
    FROM c
    """,
)
def q_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-windowed funnel view → click → purchase with a 48h per-step
    deadline (temporal.funnel_steps(max_gap_us=...)): each step counts
    only when it lands within 48h of the user's earliest previous-step
    completion — the conversion-deadline semantics product funnels
    actually report (a purchase a month after the click is not this
    campaign's conversion). Same per-step conditional-min chain as
    funnel_conversion (no per-user arrays, one shared user-key
    partitioning); exact microsecond window arithmetic both engines."""
    from gene_level_metadata_pipeline_spark.operators.temporal import (
        funnel_steps,
    )

    ev = _events(spark, sf_dir)
    return funnel_steps(
        ev, "user_id", "ts", "event_type",
        ["view", "click", "purchase"],
        max_gap_us=172_800_000_000,
    )

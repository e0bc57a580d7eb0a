"""Batch sessionization and the Structured Streaming query family.

Split from the original single-module registry (plans/driver_queries.py,
which remains the facade); importing this module registers its queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gene_level_metadata_pipeline_spark.plans.registry import (
    _events,
    _register,
    _round_to,
)

# ---------------------------------------------------------------------------
# sessionization — gap-based sessions over the events stream (batch form)
# ---------------------------------------------------------------------------

# ONE definition of the session contract, shared by q_sessionize and
# q_session_bounce_rate in both engines (review finding: the block was
# duplicated 4x — 2 Spark + 2 SQL — and the definitions could drift).
# NULLS LAST is pinned explicitly: Spark's default ASC ordering is NULLS
# FIRST while DuckDB's is NULLS LAST, so an unpinned NULL timestamp
# would merge into a different session per engine.
_SESSION_GAP_US = 1_800_000_000


def _assign_sessions(ev: DataFrame) -> DataFrame:
    """events (+`us` micros col) -> rows tagged with per-user session_id."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("us").asc_nulls_last(), F.col("event_id").asc_nulls_last()
    )
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.lag("us").over(w).isNull()
            | ((F.col("us") - F.lag("us").over(w)) > _SESSION_GAP_US),
            1,
        ).otherwise(0),
    )
    return flagged.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )


_SESSION_SQL_CTES = """
    e AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (
               PARTITION BY user_id
               ORDER BY ts ASC NULLS LAST, event_id ASC NULLS LAST)
               AS prev_us
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, us,
             CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM e
    ),
    sessions AS (
      SELECT user_id, event_id, us,
             CAST(sum(new_session) OVER (
               PARTITION BY user_id
               ORDER BY us ASC NULLS LAST, event_id ASC NULLS LAST
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged
    )"""

@_register(
    "sessionize",
    oracle="WITH" + _SESSION_SQL_CTES + """
    SELECT user_id, session_id, count(*) AS n_events,
           min(us) AS start_us, max(us) AS end_us
    FROM sessions GROUP BY user_id, session_id
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) — the batch twin of the
    stateful-streaming session operator (streaming/sessions.py). Extension
    beyond the reference (SURVEY §2.12); one shuffle on user_id, then two
    window passes and an aggregate over the same partitioning."""
    ev = _events(spark, sf_dir).withColumn("us", F.unix_micros("ts"))
    sessions = _assign_sessions(ev)
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("us").alias("start_us"),
        F.max("us").alias("end_us"),
    )


# ---------------------------------------------------------------------------
# Structured Streaming (real readStream plans; hourly counts oracle-checked,
# stateful sessionization rows-only — not SQL-expressible)
# ---------------------------------------------------------------------------

@_register(
    "streaming_events_hourly",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type, count(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def q_streaming_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window counts through an actual streaming query (readStream
    → window agg → memory sink, availableNow) — result must equal the
    batch SQL."""
    from gene_level_metadata_pipeline_spark.streaming.windows import (
        hourly_event_counts_stream,
    )

    return hourly_event_counts_stream(spark, sf_dir)


@_register(
    "streaming_stream_join",
    oracle="""
    SELECT c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.user_id,
           CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS lag_s
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def q_streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream event-time interval join (clicks × purchases within
    30 min, watermarks on both sides bounding join state) run to
    completion with availableNow — must equal the batch interval join the
    oracle runs."""
    from gene_level_metadata_pipeline_spark.streaming.windows import (
        stream_stream_interval_join,
    )

    return stream_stream_interval_join(spark, sf_dir)


@_register(
    "streaming_outer_join",
    oracle="""
    SELECT * FROM (VALUES
      ('c1', 'p1', CAST(1 AS BIGINT), CAST(600 AS BIGINT)),
      ('c2', CAST(NULL AS VARCHAR), CAST(2 AS BIGINT), CAST(NULL AS BIGINT))
    ) AS t(click_id, purchase_id, user_id, lag_s)
    """,
)
def q_streaming_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join over a deterministic multi-batch
    stream: the matched click emits inline; the unmatched click emits
    NULL-padded only after the watermark passes its 30-minute match
    horizon (one batch behind the advance); far-future rows whose
    horizons are still open at query end are provably withheld. The
    VALUES oracle pins all three behaviors."""
    from gene_level_metadata_pipeline_spark.streaming.windows import (
        stream_outer_join_demo,
    )

    return stream_outer_join_demo(spark)


@_register(
    "streaming_sessionize",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, us,
             CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_session
      FROM e
    ),
    sessions AS (
      SELECT user_id, event_id, us,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, min(us) AS session_start_us, max(us) AS session_end_us,
           count(*) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
)
def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState gap-sessionization (30-min timeout) — the
    custom stateful streaming operator. The bounded replay ends with a
    watermark-punctuation flush (streaming/windows.py
    ``_stage_with_flush_sentinel``) that drains every open session, so
    the streaming result is provably identical to the batch twin
    ``sessionize`` and shares its (re-shaped) oracle."""
    from gene_level_metadata_pipeline_spark.streaming.windows import sessionize_stream

    return sessionize_stream(spark, sf_dir)




@_register(
    "streaming_session_windows",
    oracle="""
    WITH ev AS (SELECT user_id, epoch_us(ts) AS us, value FROM events),
    o AS (
      SELECT user_id, us, value,
             CASE WHEN lag(us) OVER w IS NULL
                    OR us - lag(us) OVER w >= 1800000000
                  THEN 1 ELSE 0 END AS brk
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us)
    ),
    g AS (
      SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY us
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT user_id,
           min(us) AS session_start_us,
           max(us) + 1800000000 AS session_end_us,
           count(*) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS total
    FROM g GROUP BY user_id, sid
    """,
)
def q_streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native STREAMING session windows — F.session_window under a
    watermark in append mode, Spark's built-in window-merge state (the
    third stateful mechanism next to tumbling-window aggregation and
    applyInPandasWithState). The watermark-punctuation flush drains all
    open sessions at the end of the bounded replay, so the result equals
    the batch session-window aggregation, which the lag-based island
    oracle derives."""
    from gene_level_metadata_pipeline_spark.streaming.windows import (
        session_window_counts_stream,
    )

    return session_window_counts_stream(spark, sf_dir)


@_register(
    "streaming_asof_enrich",
    oracle="""
    WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
    b AS (SELECT min(us) + (max(us) - min(us)) // 2 AS t0 FROM ev)
    SELECT event_id, user_id, us,
           CASE WHEN us >= (SELECT t0 FROM b)
                THEN user_id % 3 + 10 ELSE user_id % 3 END AS tier
    FROM ev
    """,
)
def q_streaming_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming as-of enrichment against a versioned dimension (the
    feature-store lookup): temporal.as_of_join applied per micro-batch
    in foreachBatch — each event picks the dimension version valid at
    its event time. The dimension (two tier versions per user, cutover
    at the corpus midpoint) is derived from the data so the oracle
    rebuilds it exactly."""
    from gene_level_metadata_pipeline_spark.streaming.windows import (
        asof_enrich_stream,
    )

    return asof_enrich_stream(spark, sf_dir)


@_register(
    "session_bounce_rate",
    oracle="WITH" + _SESSION_SQL_CTES + """,
    s AS (
      SELECT user_id, session_id,
             min(us) // 86400000000 AS day,
             count(*) AS n_events,
             CAST(max(us) - min(us) AS BIGINT) AS dur_us
      FROM sessions GROUP BY user_id, session_id
    )
    SELECT day, count(*) AS n_sessions,
      CAST(count(*) FILTER (WHERE n_events = 1) AS BIGINT) AS n_bounces,
      round(CAST(count(*) FILTER (WHERE n_events = 1) AS DOUBLE)
            / count(*) * 1e6, 0) / 1e6 AS bounce_rate,
      CAST(sum(dur_us) FILTER (WHERE n_events > 1) AS BIGINT)
        AS engaged_dur_us
    FROM s GROUP BY day
    """,
)
def q_session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate over gap-based sessions — the web-analytics KPI
    on top of sessionize: a session is a bounce when it contains exactly
    one event; a day's rate is bounces over sessions started that day
    (day = exact epoch-day of the session's FIRST event — sessions
    straddling midnight stay with their start day, both engines agree
    because min(us) is an exact bigint). One user-key shuffle feeds the
    session windows and the session rollup; the daily rollup then runs
    on the session table, which is already orders of magnitude smaller
    than the events — the two-level aggregate discipline that holds at
    100 TB. Engaged (non-bounce) duration is an exact micros sum."""
    ev = _events(spark, sf_dir).withColumn("us", F.unix_micros("ts"))
    sessions = _assign_sessions(ev)
    s = sessions.groupBy("user_id", "session_id").agg(
        F.expr("min(us) div 86400000000").alias("day"),
        F.count(F.lit(1)).alias("n_events"),
        (F.max("us") - F.min("us")).cast("bigint").alias("dur_us"),
    )
    bounce = F.when(F.col("n_events") == 1, 1)
    return s.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.count(bounce).cast("bigint").alias("n_bounces"),
        _round_to(
            F.count(bounce).cast("double") / F.count(F.lit(1)), 6
        ).alias("bounce_rate"),
        F.sum(F.when(F.col("n_events") > 1, F.col("dur_us")))
        .cast("bigint")
        .alias("engaged_dur_us"),
    )


@_register(
    "session_entry_exit",
    oracle="WITH" + _SESSION_SQL_CTES.replace(
        "SELECT user_id, event_id, epoch_us(ts) AS us,",
        "SELECT user_id, event_id, event_type, epoch_us(ts) AS us,",
    ).replace(
        "SELECT user_id, event_id, us,\n             CASE",
        "SELECT user_id, event_id, event_type, us,\n             CASE",
    ).replace(
        "SELECT user_id, event_id, us,\n             CAST(sum",
        "SELECT user_id, event_id, event_type, us,\n             CAST(sum",
    ) + """,
    se AS (
      SELECT user_id, session_id,
        first(event_type ORDER BY us ASC, event_id ASC) AS entry_type,
        last(event_type ORDER BY us ASC, event_id ASC) AS exit_type
      FROM sessions GROUP BY user_id, session_id
    )
    SELECT entry_type, exit_type, count(*) AS n_sessions
    FROM se GROUP BY entry_type, exit_type
    """,
)
def q_session_entry_exit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landing/exit analysis: which event type OPENS and which CLOSES
    each gap-based session, counted over the (entry, exit) grid — the
    web-analytics companion to session_bounce_rate, sharing the exact
    same session contract (_assign_sessions, NULLS LAST pinned). Entry
    and exit are min_by/max_by on the (us, event_id) total-order struct
    — no extra window over what the session assignment already sorted,
    and the (entry, exit) rollup runs on the session table, not the
    events. Exact strings and bigints throughout."""
    ev = _events(spark, sf_dir).withColumn("us", F.unix_micros("ts"))
    sessions = _assign_sessions(ev)
    order = F.struct(F.col("us").alias("t"), F.col("event_id").alias("i"))
    se = sessions.groupBy("user_id", "session_id").agg(
        F.min_by("event_type", order).alias("entry_type"),
        F.max_by("event_type", order).alias("exit_type"),
    )
    return se.groupBy("entry_type", "exit_type").agg(
        F.count(F.lit(1)).alias("n_sessions")
    )


@_register(
    "streaming_cdc_apply",
    oracle="""
    SELECT * FROM (VALUES
      (CAST(1 AS BIGINT), 'A3'),
      (CAST(2 AS BIGINT), 'B'),
      (CAST(4 AS BIGINT), 'd'),
      (CAST(6 AS BIGINT), 'F')
    ) AS t(k, val)
    """,
)
def q_streaming_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC materialization (streaming.cdc_stream_apply): a
    parquet snapshot maintained in the sink, each micro-batch of change
    events applied with harmonize.cdc_apply (tombstones, multi-version
    latest-wins) into the NEXT copy-on-write snapshot version —
    restart-safe from the latest version + checkpoint alone. The
    deterministic 3-batch demo certifies delete-after-insert,
    update-after-update, and tombstone semantics end-to-end against a
    VALUES oracle."""
    from gene_level_metadata_pipeline_spark.streaming.windows import (
        cdc_stream_apply,
    )

    return cdc_stream_apply(spark)


@_register(
    "streaming_cms_merge",
    oracle="""
    SELECT * FROM (VALUES
      ('apple',      CAST(6 AS BIGINT), TRUE, TRUE, TRUE),
      ('banana',     CAST(3 AS BIGINT), TRUE, TRUE, TRUE),
      ('cherry',     CAST(3 AS BIGINT), TRUE, TRUE, TRUE),
      ('durian',     CAST(4 AS BIGINT), TRUE, TRUE, TRUE),
      ('elderberry', CAST(5 AS BIGINT), TRUE, TRUE, TRUE)
    ) AS t(word, exact_n, never_underestimates, within_eps, merge_exact)
    """,
)
def q_streaming_cms_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min-sketch maintenance
    (streaming.cms_stream_merge): per-micro-batch sketches merged by
    addition into copy-on-write sketch versions — the streaming half of
    approx_cms_heavy_hitters. The deterministic 3-batch demo certifies,
    per word, the one-sided guarantee and the eps bound against exact
    union counts AND that the merged sketch's estimates equal a
    one-shot sketch over the concatenated batches (additivity proven,
    not assumed)."""
    from gene_level_metadata_pipeline_spark.streaming.windows import (
        cms_stream_merge,
    )

    return cms_stream_merge(spark)


@_register(
    "streaming_ivm_join",
    oracle="""
    SELECT * FROM (VALUES
      ('HIGH', CAST(2 AS BIGINT), CAST(800 AS BIGINT)),
      ('LOW',  CAST(1 AS BIGINT), CAST(400 AS BIGINT))
    ) AS t(prio, n_rows, cents_total)
    """,
)
def q_streaming_ivm_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming join-view maintenance (streaming.ivm_stream_join):
    the foreachBatch completion of cdc.join_view_delta — per
    micro-batch, ONLY the signed A-side delta joins the static B side
    (the base join never re-runs) and retract-merges into the next
    copy-on-write view version, keyed BY BATCH ID (signed merges are
    additive, not idempotent — the cms_stream_merge replay discipline,
    kill-between-commit pinned in tests). The deterministic 3-batch
    demo exercises inserts into both groups, a 2-row retraction, and a
    join-empty delta, against a VALUES oracle."""
    from gene_level_metadata_pipeline_spark.streaming.windows import (
        ivm_stream_join,
    )

    return ivm_stream_join(spark)

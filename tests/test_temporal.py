"""as-of and range join semantics on hand-checkable fixtures."""

from __future__ import annotations

from gene_level_metadata_pipeline_spark.operators.temporal import as_of_join, range_join


def test_asof_basic_and_no_match(spark):
    left = spark.createDataFrame(
        [(1, 100), (1, 205), (2, 50)], ["k", "lts"]
    )
    right = spark.createDataFrame(
        [(1, 90, "a"), (1, 200, "b"), (1, 300, "c"), (3, 10, "z")],
        ["k", "rts", "tag"],
    )
    out = {(r["k"], r["lts"]): (r["right_tag"], r["right_rts"])
           for r in as_of_join(left, right, "k", "lts", "rts").collect()}
    assert out[(1, 100)] == ("a", 90)     # most recent at-or-before
    assert out[(1, 205)] == ("b", 200)    # not c (300 is in the future)
    assert out[(2, 50)] == (None, None)   # key with no right rows


def test_asof_equal_ts_inclusive_and_tolerance(spark):
    left = spark.createDataFrame([(1, 200), (1, 500)], ["k", "lts"])
    right = spark.createDataFrame([(1, 200, "x"), (1, 210, "y")], ["k", "rts", "tag"])
    out = {r["lts"]: (r["right_tag"], r["right_rts"])
           for r in as_of_join(left, right, "k", "lts", "rts").collect()}
    assert out[200] == ("x", 200)  # <= admits the equal-timestamp row
    assert out[500] == ("y", 210)
    # tolerance: 500-210=290 > 100 -> nulled out
    tol = {r["lts"]: r["right_tag"]
           for r in as_of_join(left, right, "k", "lts", "rts", tolerance=100).collect()}
    assert tol[200] == "x" and tol[500] is None


def test_asof_tie_break_deterministic(spark):
    left = spark.createDataFrame([(1, 300)], ["k", "lts"])
    right = spark.createDataFrame(
        [(1, 300, 5.0), (1, 300, 9.0), (1, 300, 1.0)], ["k", "rts", "v"]
    )
    r = as_of_join(left, right, "k", "lts", "rts", tie_break=["v"]).collect()[0]
    assert r["right_v"] == 9.0  # largest tie-break value wins, every run


def test_range_join_bands(spark):
    facts = spark.createDataFrame([(1, 5.0), (2, 50.0), (3, 149.9), (4, 999.0)],
                                  ["id", "v"])
    bands = spark.createDataFrame(
        [("lo", 0.0, 50.0), ("mid", 50.0, 150.0), ("hi", 150.0, 1000.0)],
        ["band", "lo", "hi"],
    )
    out = {r["id"]: r["band"] for r in range_join(facts, bands, "v", "lo", "hi").collect()}
    assert out == {1: "lo", 2: "mid", 3: "mid", 4: "hi"}  # half-open bounds


def test_funnel_strict_ordering_and_retention_offsets(spark):
    """Funnel: a user whose purchase precedes their first click must NOT
    convert the purchase step; retention: offsets are whole weeks from
    each user's first event, offset 0 equals cohort size."""
    from pyspark.sql import functions as F

    from gene_level_metadata_pipeline_spark.operators.temporal import (
        funnel_steps,
        retention_cohorts,
    )

    rows = [
        # u1 converts all three in order
        (1, "2024-01-01 00:00:00", "view"),
        (1, "2024-01-01 01:00:00", "click"),
        (1, "2024-01-01 02:00:00", "purchase"),
        # u2 purchases BEFORE clicking: converts view+click only
        (2, "2024-01-01 00:00:00", "view"),
        (2, "2024-01-01 00:30:00", "purchase"),
        (2, "2024-01-01 01:00:00", "click"),
        # u3 never views: converts nothing
        (3, "2024-01-01 00:00:00", "click"),
        (3, "2024-01-01 01:00:00", "purchase"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts_s string, event_type string"
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"), "event_type")
    out = {
        r["step"]: (r["n_users"], r["pct_of_first"])
        for r in funnel_steps(
            ev, "user_id", "ts", "event_type", ["view", "click", "purchase"]
        ).collect()
    }
    assert out == {
        "view": (2, 1.0),
        "click": (2, 1.0),
        "purchase": (1, 0.5),
    }

    ret = {
        (str(r["cohort_week"]), r["week_offset"]): r["n_users"]
        for r in retention_cohorts(ev, "user_id", "ts").collect()
    }
    # all three users first appear Mon 2024-01-01; all activity in week 0
    assert ret == {("2024-01-01 00:00:00", 0): 3}


def test_attribute_time_decay_weights_and_cutoff(spark):
    """Hand-computed decay split: purchase at day 10; touches at day 10
    (same-ts tie, id smaller -> counted, gap 0d -> w=1024), day 9
    (1d -> 512), day 0 (10d -> 1), day -1 (11d -> outside lookback),
    and one later touch (never counted)."""
    from datetime import datetime, timedelta

    from gene_level_metadata_pipeline_spark.operators.temporal import (
        attribute_time_decay,
    )

    base = datetime(2024, 3, 1)
    d = lambda days: base + timedelta(days=days)
    rows = [
        ("u1", 100, "purchase", d(11)),
        ("u1", 50, "click", d(11)),       # same ts, id < conv -> day 0
        ("u1", 40, "view", d(10)),        # 1 day -> 512
        ("u1", 30, "click", d(1)),        # 10 days -> 1
        ("u1", 20, "view", d(0)),         # 11 days -> dropped
        ("u1", 200, "click", d(12)),      # after conversion -> dropped
    ]
    ev = spark.createDataFrame(
        rows, "user_id string, event_id long, event_type string, ts timestamp"
    )
    out = {
        (r["touch_type"]): (r["w_num"], r["w_den"], r["credit"])
        for r in attribute_time_decay(
            ev, "user_id", "ts", "event_id", "event_type",
            ["purchase"], ["click", "view"],
        ).collect()
    }
    den = 1024 + 512 + 1
    assert out == {
        "click": (1025, den, round(1025 / den, 6)),
        "view": (512, den, round(512 / den, 6)),
    }


def test_attribute_time_decay_no_prior_touch_yields_no_rows(spark):
    from datetime import datetime

    from gene_level_metadata_pipeline_spark.operators.temporal import (
        attribute_time_decay,
    )

    ev = spark.createDataFrame(
        [("u1", 1, "purchase", datetime(2024, 1, 1))],
        "user_id string, event_id long, event_type string, ts timestamp",
    )
    assert attribute_time_decay(
        ev, "user_id", "ts", "event_id", "event_type",
        ["purchase"], ["click"],
    ).count() == 0


def test_interval_overlap_join_banding_lossless(spark):
    """Banding must emit each overlapping pair exactly once, including
    pairs whose spans cross many buckets, touching-only pairs excluded
    (half-open semantics), and different keys never matched."""
    from gene_level_metadata_pipeline_spark.operators.temporal import (
        interval_overlap_join,
    )

    W = 10  # tiny bucket for the test
    a = spark.createDataFrame(
        [("u", 0, 35), ("u", 50, 55), ("v", 0, 100)],
        "k string, lo long, hi long",
    )
    b = spark.createDataFrame(
        [("u", 30, 60), ("u", 35, 40), ("w", 0, 100)],
        "k string, lo long, hi long",
    )
    out = sorted(
        (r["k"], r["a_lo"], r["b_lo"], r["overlap"])
        for r in interval_overlap_join(
            a, b, "k", bucket_width=W
        ).collect()
    )
    # (0,35)x(30,60) overlap 5 — crosses 4 buckets, emitted once;
    # (0,35)x(35,40) touching only -> excluded; (50,55)x(30,60)
    # overlap 5; v/w keys never match
    assert out == [("u", 0, 30, 5), ("u", 50, 30, 5)]


def test_interval_overlap_join_drops_empty_intervals(spark):
    from gene_level_metadata_pipeline_spark.operators.temporal import (
        interval_overlap_join,
    )

    a = spark.createDataFrame(
        [("u", 5, 5), ("u", 7, 3)], "k string, lo long, hi long"
    )
    b = spark.createDataFrame([("u", 0, 10)], "k string, lo long, hi long")
    assert interval_overlap_join(a, b, "k", bucket_width=10).count() == 0


def test_funnel_windowed_deadline_binds(spark):
    """A step completed AFTER the deadline does not convert; within it,
    does. Anchoring stays on the earliest previous-step completion."""
    from datetime import datetime, timedelta

    from gene_level_metadata_pipeline_spark.operators.temporal import (
        funnel_steps,
    )

    base = datetime(2024, 1, 1)
    rows = [
        ("u1", "view", base),
        ("u1", "click", base + timedelta(hours=1)),       # in window
        ("u2", "view", base),
        ("u2", "click", base + timedelta(hours=50)),      # past 48h
    ]
    ev = spark.createDataFrame(
        rows, "user_id string, event_type string, ts timestamp"
    )
    out = {r["step_idx"]: r["n_users"] for r in funnel_steps(
        ev, "user_id", "ts", "event_type", ["view", "click"],
        max_gap_us=48 * 3600 * 1_000_000,
    ).collect()}
    assert out == {1: 2, 2: 1}

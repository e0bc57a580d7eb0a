"""Hand-checked goldens for the round-5 drift/series/graph additions:
PSI, exact KS, debounce, OHLC bars, clustering coefficient."""

import math
from datetime import datetime

from gene_level_metadata_pipeline_spark.operators.drift import (
    ks_two_sample,
    psi,
)
from gene_level_metadata_pipeline_spark.operators.graph import (
    clustering_coefficient,
)
from gene_level_metadata_pipeline_spark.operators.timeseries import (
    debounce,
    ohlc_bars,
)


def _ts(s):
    return datetime(2024, 1, 1, 0, 0, s)


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, event_id bigint, "
        "event_type string, value double"
    )


# --------------------------------------------------------------------- PSI

def test_psi_identical_distributions_zero(spark):
    rows = []
    for i in range(10):
        rows.append((1, _ts(i), 2 * i, "a", float(i)))
        rows.append((1, _ts(i), 2 * i + 1, "b", float(i)))
    out = psi(_ev(spark, rows), "event_type", "a", "b", "value", 100)
    r = out.collect()[0]
    assert r.psi == 0.0 and r.n_bins_used == 10


def test_psi_known_two_bin_value(spark):
    # ref: 3 in bin0, 1 in bin1; cur: 1 in bin0, 3 in bin1
    rows = [
        (1, _ts(0), 1, "a", 0.1), (1, _ts(0), 2, "a", 0.2),
        (1, _ts(0), 3, "a", 0.3), (1, _ts(0), 4, "a", 1.5),
        (1, _ts(0), 5, "b", 0.1), (1, _ts(0), 6, "b", 1.1),
        (1, _ts(0), 7, "b", 1.2), (1, _ts(0), 8, "b", 1.3),
    ]
    out = psi(_ev(spark, rows), "event_type", "a", "b", "value", 100)
    want = 2 * (0.5 * math.log(3.0))  # symmetric: (.25-.75)ln(1/3) twice
    assert abs(out.collect()[0].psi - want) < 1e-3


def test_psi_one_sided_bins_excluded_not_epsilon(spark):
    # cur has a bin ref never saw: excluded from the sum, visible in count
    rows = [
        (1, _ts(0), 1, "a", 0.5), (1, _ts(0), 2, "b", 0.5),
        (1, _ts(0), 3, "b", 9.9),
    ]
    r = psi(_ev(spark, rows), "event_type", "a", "b", "value", 100).collect()[0]
    assert r.n_bins_used == 1


# ---------------------------------------------------------------------- KS

def test_ks_disjoint_supports_is_one(spark):
    rows = [(1, _ts(0), i, "a", float(i)) for i in range(5)]
    rows += [(1, _ts(0), 10 + i, "b", float(100 + i)) for i in range(5)]
    r = ks_two_sample(_ev(spark, rows), "event_type", "a", "b", "value")
    row = r.collect()[0]
    assert row.ks == 1.0 and row.ks_num == 25 and (row.n_a, row.n_b) == (5, 5)
    assert row.at_cents == 400  # sup first reached at a's max value

def test_ks_identical_samples_zero(spark):
    rows = [(1, _ts(0), i, "a", float(i % 3)) for i in range(6)]
    rows += [(1, _ts(0), 10 + i, "b", float(i % 3)) for i in range(6)]
    r = ks_two_sample(_ev(spark, rows), "event_type", "a", "b", "value")
    assert r.collect()[0].ks == 0.0


# ---------------------------------------------------------------- debounce

def test_debounce_suppresses_burst_keeps_first(spark):
    rows = [
        (1, _ts(0), 1, "a", 0.0),
        (1, _ts(1), 2, "a", 0.0),   # 1s after kept -> suppressed
        (1, _ts(2), 3, "a", 0.0),   # 1s after row 2 -> suppressed (lag rule)
        (1, _ts(30), 4, "a", 0.0),  # 28s after row 3 -> kept (>= 10s)
        (2, _ts(0), 5, "a", 0.0),   # other stream: first row kept
    ]
    out = debounce(
        _ev(spark, rows), ["user_id", "event_type"], "ts", "event_id",
        10_000_000,
    )
    assert sorted(r.event_id for r in out.collect()) == [1, 4, 5]


# -------------------------------------------------------------------- OHLC

def test_ohlc_first_last_extremes(spark):
    rows = [
        (1, _ts(0), 1, "a", 5.0),
        (1, _ts(10), 2, "a", 9.0),
        (1, _ts(20), 3, "a", 1.0),
        (1, _ts(30), 4, "a", 7.0),
    ]
    r = ohlc_bars(
        _ev(spark, rows), "user_id", "ts", "event_id", "value"
    ).collect()[0]
    assert (r.n, r.open, r.close, r.high, r.low) == (4, 5.0, 7.0, 9.0, 1.0)


def test_ohlc_same_ts_ties_break_on_id(spark):
    rows = [(1, _ts(0), 2, "a", 8.0), (1, _ts(0), 1, "a", 3.0)]
    r = ohlc_bars(
        _ev(spark, rows), "user_id", "ts", "event_id", "value"
    ).collect()[0]
    assert (r.open, r.close) == (3.0, 8.0)


# -------------------------------------------------- clustering coefficient

def test_clustering_triangle_plus_tail(spark):
    # triangle 1-2-3 plus pendant 3-4:
    # cc(1)=cc(2)=1, cc(3)=2*1/(3*2)=1/3, cc(4)=NULL (deg 1)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], ["u", "v"]
    )
    got = {r.node: (r.deg, r.tri, r.cc)
           for r in clustering_coefficient(edges).collect()}
    assert got[1] == (2, 1, 1.0)
    assert got[2] == (2, 1, 1.0)
    assert got[3] == (3, 1, round(1 / 3 * 1e6) / 1e6)
    assert got[4] == (1, 0, None)


def test_clustering_duplicate_and_reversed_edges_collapse(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3), (1, 1)], ["u", "v"]
    )
    got = {r.node: (r.deg, r.tri) for r in
           clustering_coefficient(edges).collect()}
    # self-loop dropped, duplicates collapse: clean triangle
    assert got == {1: (2, 1), 2: (2, 1), 3: (2, 1)}

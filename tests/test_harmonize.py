"""Spine/harmonize invariants (SURVEY.md §5 item 3).

For any source x, harmonize(spine, x, key) must satisfy:
  (a) distinct(output.key) == spine keyset,
  (b) every non-spine column is NULL for keys absent from x,
  (c) no duplicate full rows.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gene_level_metadata_pipeline_spark.operators.harmonize import harmonize, spine


def _frames(spark):
    master = spark.createDataFrame(
        [("A",), ("B",), ("C",), (None,), ("A",)], ["symbol"]
    )
    src = spark.createDataFrame(
        [("A", "x1"), ("A", "x2"), ("B", "y"), ("B", "y"), ("Z", "z")],
        ["symbol", "val"],
    )
    return master, src


def test_spine_distinct_nonnull(spark):
    master, _ = _frames(spark)
    got = sorted(r[0] for r in spine(master, "symbol").collect())
    assert got == ["A", "B", "C"]


def test_harmonize_keyset_preserved(spark):
    master, src = _frames(spark)
    out = harmonize(spine(master, "symbol"), src, "symbol")
    keys = sorted({r["symbol"] for r in out.collect()})
    assert keys == ["A", "B", "C"]  # Z (not in spine) dropped; C kept


def test_harmonize_null_pad_and_fanout(spark):
    master, src = _frames(spark)
    rows = harmonize(spine(master, "symbol"), src, "symbol").collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r["symbol"], []).append(r["val"])
    assert sorted(by_key["A"]) == ["x1", "x2"]  # fan-out preserved
    assert by_key["B"] == ["y"]  # source dups collapsed by distinct()
    assert by_key["C"] == [None]  # NULL-padded absent key


def test_harmonize_no_dup_rows(spark):
    master, src = _frames(spark)
    out = harmonize(spine(master, "symbol"), src, "symbol")
    assert out.count() == out.dropDuplicates().count()


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert "c_custkey" in df.columns


def test_upsert_semantics(spark):
    from gene_level_metadata_pipeline_spark.operators.harmonize import upsert

    cur = spark.createDataFrame([("A", 1), ("B", 2), ("C", 3)], ["k", "v"])
    upd = spark.createDataFrame([("B", 20), ("D", 40)], ["k", "v"])
    rows = {(r["k"], r["v"]) for r in upsert(cur, upd, "k").collect()}
    assert rows == {("A", 1), ("B", 20), ("C", 3), ("D", 40)}


def test_cdc_apply_tombstones_and_latest_wins(spark):
    """Hand-built feed: key 1 untouched; key 2 upserted once; key 3
    tombstoned after an earlier upsert (net delete); key 4 upserted
    twice (v2 wins); key 5 inserted (not in snapshot); key 6 delete of
    a never-seen key (no-op on the snapshot, no phantom row)."""
    from gene_level_metadata_pipeline_spark.operators.harmonize import (
        cdc_apply,
    )

    snap = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "k long, val string"
    )
    ch = spark.createDataFrame(
        [
            (2, "B", 1, "upsert"),
            (3, "X", 1, "upsert"),
            (3, None, 2, "delete"),
            (4, "D1", 1, "upsert"),
            (4, "D2", 2, "upsert"),
            (5, "E", 1, "upsert"),
            (6, None, 1, "delete"),
        ],
        "k long, val string, version int, op string",
    )
    out = {r["k"]: r["val"] for r in cdc_apply(snap, ch, "k").collect()}
    assert out == {1: "a", 2: "B", 4: "D2", 5: "E"}


def test_retract_aggregate_zero_and_negative_counts_drop(spark):
    """Full retraction removes the key; over-retraction (count < 0)
    is dropped, not emitted; inserts create new keys."""
    from pyspark.sql import functions as F

    from gene_level_metadata_pipeline_spark.operators.harmonize import (
        retract_aggregate,
    )

    from decimal import Decimal

    base = spark.createDataFrame(
        [(1, 2, Decimal("10.0")), (2, 1, Decimal("5.0"))],
        "k long, n long, total decimal(18,6)",
    )
    feed = spark.createDataFrame(
        [
            (1, 4.0, "delete"), (1, 6.0, "delete"),   # full retraction
            (2, 1.0, "delete"), (2, 2.0, "delete"),   # OVER-retraction
            (3, 7.0, "insert"),                        # new key
        ],
        "k long, v double, op string",
    )
    out = {r["k"]: (r["n"], float(r["total"]))
           for r in retract_aggregate(base, feed, "k", "v").collect()}
    assert out == {3: (1, 7.0)}


def test_union_all_binds_frames_by_name(spark):
    """bind_rows semantics: columns matched by name, a column absent from
    one frame NULL-filled, output columns in first-seen order."""
    from gene_level_metadata_pipeline_spark.operators.reshape import union_all

    old = spark.createDataFrame([(1, "HIGH")], ["k", "priority"])
    new = spark.createDataFrame([(2.5, 2)], ["total", "k"])
    out = union_all(old, new)
    assert out.columns == ["k", "priority", "total"]
    assert sorted(map(tuple, out.collect())) == [(1, "HIGH", None), (2, None, 2.5)]

"""Tests for the benchmark's own helpers (no Spark session needed).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import gen  # noqa: E402
from perfbench.stats import (  # noqa: E402
    percentile, rows_digest, stamp, stolen_share, table_digest, tail_percentile, unstolen_s)
from perfbench.trace import Span, Tracer, parse_event_log, self_times  # noqa: E402


@pytest.mark.parametrize("n,expected", [
    (0, None), (19, None), (20, 50), (39, 50), (40, 75), (99, 75), (100, 90),
    (199, 90), (200, 95), (1000, 99), (10_000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    p = tail_percentile(n)
    assert p == expected
    if p is not None:
        assert round(n * (100 - p) / 100, 9) >= 10


def test_percentile_interpolates():
    assert percentile([1, 2, 3, 4], 50) == 2.5
    assert percentile([5], 90) == 5


def test_unstolen_time_takes_out_the_hosts_share():
    # 2 s of wall; 40 runnable jiffies, 10 of them stolen by the host
    a, b = (10.0, 100, 1000), (12.0, 110, 1040)
    assert stolen_share(a, b) == pytest.approx(0.25)
    assert unstolen_s(a, b) == pytest.approx(1.5)
    # no steal, or no runnable time at all: plain wall time
    assert unstolen_s((0.0, 5, 50), (3.0, 5, 80)) == pytest.approx(3.0)
    assert unstolen_s((0.0, 5, 50), (3.0, 5, 50)) == pytest.approx(3.0)
    t0 = stamp()
    assert 0 <= unstolen_s(t0, stamp()) < 1


def test_table_digest_is_order_insensitive_and_finds_duplicates():
    t = pa.table({"k": ["a", "b", "c"], "v": [1.0, None, 3.5]})
    shuffled = t.take([2, 0, 1])
    assert table_digest(t)["digest"] == table_digest(shuffled)["digest"]
    assert table_digest(t)["duplicates"] == 0
    # last-bit float noise does not flip the digest; a real change does
    noisy = pa.table({"k": ["a", "b", "c"], "v": [1.0 + 1e-12, None, 3.5]})
    assert table_digest(noisy)["digest"] == table_digest(t)["digest"]
    changed = pa.table({"k": ["a", "b", "c"], "v": [1.0, None, 3.6]})
    assert table_digest(changed)["digest"] != table_digest(t)["digest"]
    dup = pa.concat_tables([t, t.slice(0, 1)])
    assert table_digest(dup)["duplicates"] == 1
    renamed = t.rename_columns(["key", "v"])
    assert table_digest(renamed)["digest"] != table_digest(t)["digest"]


def test_rows_digest_is_order_insensitive():
    assert rows_digest([(1, "a"), (2, "b")]) == rows_digest([(2, "b"), (1, "a")])
    assert rows_digest([(1, "a")]) != rows_digest([(1, "b")])


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(1, None, "pass", 0.0, 10.0),
        Span(2, 1, "a", 1.0, 4.0),
        Span(3, 1, "b", 3.0, 5.0),     # overlaps a: union 1..5
        Span(4, 1, "c", 9.0, 12.0),    # clipped to the parent: 9..10
        Span(5, 2, "a.child", 1.5, 2.0),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - 4 - 1)
    assert st[2] == pytest.approx(3 - 0.5)
    assert st[3] == pytest.approx(2)
    assert st[5] == pytest.approx(0.5)


def test_tracer_nests_and_is_noop_when_disabled():
    t = Tracer(True)
    with t.span("outer"):
        with t.span("inner", table="x"):
            pass
        t.open("manual")
        t.close()
    names = {s.name: s for s in t.spans}
    assert names["inner"].parent_id == names["outer"].span_id
    assert names["manual"].parent_id == names["outer"].span_id
    assert names["inner"].attrs == {"table": "x"}
    off = Tracer(False)
    with off.span("x"):
        off.open("y")
        off.close()
    assert off.spans == []


def _ev(**kw):
    return json.dumps(kw)


def test_event_log_parser_attributes_tasks_to_job_groups():
    lines = [
        _ev(Event="SparkListenerJobStart", **{"Job ID": 0, "Stage IDs": [0, 1],
            "Properties": {"spark.jobGroup.id": "7"}}),
        _ev(Event="SparkListenerJobStart", **{"Job ID": 1, "Stage IDs": [2]}),
        _ev(Event="SparkListenerTaskEnd", **{
            "Stage ID": 0, "Task End Reason": {"Reason": "Success"},
            "Task Info": {"Failed": False},
            "Task Metrics": {
                "Executor Run Time": 1500, "JVM GC Time": 100,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 10},
                "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
                "Disk Bytes Spilled": 5, "Input Metrics": {"Bytes Read": 100},
                "Output Metrics": {"Bytes Written": 50}}}),
        _ev(Event="SparkListenerTaskEnd", **{
            "Stage ID": 1, "Task End Reason": {"Reason": "ExceptionFailure"},
            "Task Info": {"Failed": True}, "Task Metrics": {}}),
        _ev(Event="SparkListenerTaskEnd", **{
            "Stage ID": 2, "Task End Reason": {"Reason": "Success"},
            "Task Info": {}, "Task Metrics": {"Executor Run Time": 10}}),
        _ev(Event="SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 0}}),
        _ev(Event="SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 1}}),
        _ev(Event="SparkListenerApplicationEnd", Timestamp=1),
    ]
    c = parse_event_log(lines)
    g = c["7"]
    assert (g["jobs"], g["stages"], g["tasks"], g["failed_tasks"]) == (1, 2, 2, 1)
    assert g["executor_run_s"] == pytest.approx(1.5)
    assert g["gc_s"] == pytest.approx(0.1)
    assert (g["shuffle_write_bytes"], g["shuffle_read_bytes"], g["spill_bytes"],
            g["input_bytes"], g["output_bytes"]) == (10, 3, 5, 100, 50)
    assert c[""]["jobs"] == 1 and c[""]["tasks"] == 1


SMALL = gen.Scale(genes=300, depmap_genes=50, depmap_models=5, edges_per_gene=3, json_pages=2)


def test_generator_is_seeded():
    a, b, c = gen.generate(1, SMALL), gen.generate(1, SMALL), gen.generate(2, SMALL)
    assert all(a[k].equals(b[k]) for k in a)
    assert not a["hgnc"].equals(c["hgnc"])
    hgnc = a["hgnc"]
    assert None in hgnc["symbol"].to_pylist()               # NULL symbols
    assert "" in hgnc["prev_symbol"].to_pylist()            # "" sentinels
    assert any("|" in (v or "") for v in hgnc["mgd_id"].to_pylist())  # pipe-packed
    assert a["gene_effect"].num_columns == SMALL.depmap_genes + 1


def test_raw_files_cover_every_reader_shape(tmp_path):
    tables = gen.generate(3, SMALL)
    raw = gen.write_raw(tables, str(tmp_path), 3, SMALL)
    kinds = {(r.reader, tuple(sorted(r.kwargs.items()))) for r in raw}
    assert ("read_delim", (("sep", None),)) in kinds
    assert ("read_delim", (("multiline", True), ("sep", ","))) in kinds
    assert any(r.path.endswith(".zip") for r in raw)
    assert any(r.path.endswith(".gz") and r.kwargs.get("skip") for r in raw)
    assert {r.reader for r in raw} == {"read_delim", "read_excel", "read_json_pages"}
    assert all(r.rows > 0 and os.path.getsize(r.path.split(",")[0]) > 0 for r in raw)


def test_tidy_plan_publishes_every_served_table():
    import inspect

    from perfbench import workloads

    src = inspect.getsource(workloads.tidy_plan)
    assert [t for t in workloads.SERVED if f'("{t}",' not in src] == []


def test_query_mix_is_seeded():
    from perfbench.workloads import QUERY_TYPES, QueryMix

    spine = [f"G{i}" for i in range(500)]
    a, b, c = QueryMix(1, spine), QueryMix(1, spine), QueryMix(2, spine)
    ra, rb, rc = [a.round() for _ in range(5)], [b.round() for _ in range(5)], \
        [c.round() for _ in range(5)]
    assert ra == rb and ra != rc
    assert all(sorted(k for k, _ in r) == sorted(QUERY_TYPES) for r in ra)

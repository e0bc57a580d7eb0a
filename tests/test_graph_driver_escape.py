"""Cap-boundary equivalence for the small-graph driver escape: every
iterative graph operator must return an IDENTICAL row multiset (values
and schema) whether the bounded-collect driver twin or the distributed
loop runs. Each case runs the same graphs through both paths by flipping
``graph._DRIVER_EDGE_CAP`` between 0 (forces the distributed loop) and
the real constant (the twin), so the test literally straddles the cap.

Two inputs per case: a deterministic pseudo-random graph (hash-derived,
no RNG state), dense enough for triangles/multi-hop structure and small
enough that the distributed runs stay in CI budget; and a tiny graph with
a NULL endpoint, which the escape must punt to the distributed loop.
"""

from __future__ import annotations

import hashlib
from collections import Counter

import pytest

from gene_level_metadata_pipeline_spark.operators import graph

_spark = None


def _get_spark():
    global _spark
    if _spark is None:
        from gene_level_metadata_pipeline_spark.session import get_spark

        _spark = get_spark("graph-escape")
    return _spark


def _h(*parts) -> int:
    return int(
        hashlib.md5(":".join(str(p) for p in parts).encode()).hexdigest()[:8],
        16,
    )


def _mk_graph(tag: str, n_nodes: int = 30, n_edges: int = 70):
    """Deterministic edge list with weights; includes a guaranteed
    2-component split (nodes >= n_nodes get +1000) so BFS/SSSP see
    unreachable regions."""
    edges = []
    for i in range(n_edges):
        u = _h(tag, i, "u") % n_nodes
        v = _h(tag, i, "v") % n_nodes
        if u == v:
            v = (v + 1) % n_nodes
        w = 1 + _h(tag, i, "w") % 9
        edges.append((u, v, w))
    # far component
    edges += [(1000, 1001, 3), (1001, 1002, 4), (1000, 1002, 2)]
    return edges


def _both_paths(fn):
    """Run fn() with the cap forced low (distributed) then high (driver
    twin); return both row multisets (Counter, so NULLs need no order)."""
    real_cap = graph._DRIVER_EDGE_CAP
    try:
        graph._DRIVER_EDGE_CAP = 0
        distributed = fn()
        dist_rows = Counter(map(tuple, distributed.collect()))
        # schema.json() includes NULLABILITY, which simpleString()
        # omits — a twin declaring hop/core_deg non-nullable would
        # slip past the simpleString compare (ADVICE r8)
        dist_schema = distributed.schema.json()
    finally:
        graph._DRIVER_EDGE_CAP = real_cap
    driver = fn()
    drv_rows = Counter(map(tuple, driver.collect()))
    drv_schema = driver.schema.json()
    return (dist_rows, dist_schema), (drv_rows, drv_schema)


@pytest.fixture(scope="module")
def graphs():
    """(edges, seeds) inputs for the equivalence cases."""
    spark = _get_spark()
    schema = "u bigint, v bigint, w bigint"
    return [
        (
            spark.createDataFrame(_mk_graph("r8"), schema),
            spark.createDataFrame([(0,), (7,), (1000,)], "node bigint"),
        ),
        (
            spark.createDataFrame([(1, 2, 5), (2, None, 3), (3, 4, 1)], schema),
            spark.createDataFrame([(1,), (3,)], "node bigint"),
        ),
    ]


def _assert_paths_agree(graphs, op):
    for edf, seeds in graphs:
        (dr, ds), (vr, vs) = _both_paths(lambda: op(edf, seeds))
        assert dr == vr and ds == vs


def test_bfs_hops_cap_independent(graphs):
    """bfs_hops has no driver escape (its A/B measured neutral at best,
    1.035), so the distributed frontier loop is the only path and the
    cap must not change results."""
    _assert_paths_agree(graphs, lambda e, s: graph.bfs_hops(e, s, max_hops=4))


def test_sssp_escape_equivalence(graphs):
    _assert_paths_agree(
        graphs, lambda e, s: graph.sssp_weighted(e, s, max_hops=3)
    )


def test_kcore_escape_equivalence(graphs):
    _assert_paths_agree(graphs, lambda e, _s: graph.kcore(e, k=3))


def test_lpa_escape_equivalence(graphs):
    _assert_paths_agree(
        graphs, lambda e, _s: graph.label_propagation(e, rounds=2)
    )


def test_truss_escape_equivalence(graphs):
    _assert_paths_agree(
        graphs, lambda e, _s: graph.truss_peel(e, k=3, rounds=2)
    )


def test_cc_escape_equivalence(graphs):
    _assert_paths_agree(
        graphs,
        lambda e, _s: graph.connected_components(e, src="u", dst="v"),
    )


def test_pagerank_escape_equivalence(graphs):
    _assert_paths_agree(graphs, lambda e, _s: graph.pagerank(e))


def test_pagerank_personalized_escape_equivalence(graphs):
    _assert_paths_agree(graphs, lambda e, s: graph.pagerank(e, seeds=s))


def test_pagerank_driver_empty_seed_set_raises():
    spark = _get_spark()
    edf = spark.createDataFrame([(1, 2)], "u bigint, v bigint")
    seeds = spark.createDataFrame([(99,)], "node bigint")
    with pytest.raises(ValueError, match="seed"):
        graph.pagerank(edf, seeds=seeds)


def test_sssp_driver_punts_on_null_weight():
    """A null weight flips the twin back to the distributed path (None
    punt) rather than silently diverging from SQL null-min semantics."""
    spark = _get_spark()
    edf = spark.createDataFrame(
        [(1, 2, 5), (2, 3, None)], "u bigint, v bigint, w bigint"
    )
    seeds = spark.createDataFrame([(1,)], "node bigint")
    out = graph.sssp_weighted(edf, seeds, max_hops=2)
    rows = {r["node"]: r["dist"] for r in out.collect()}
    assert rows[1] == 0 and rows[2] == 5


def test_bfs_type_mismatched_seeds_still_work():
    """Seed column typed differently from the edge ids: the distributed
    frontier loop (now the only BFS path, r10) handles the equi-join's
    implicit cast fine."""
    spark = _get_spark()
    edf = spark.createDataFrame([(1, 2), (2, 3)], "u bigint, v bigint")
    seeds = spark.createDataFrame([(1,)], "node int")
    out = graph.bfs_hops(edf, seeds, max_hops=2)
    assert {(r["node"], r["hop"]) for r in out.collect()} == {
        (1, 0), (2, 1), (3, 2)
    }


def test_cc_contraction_equivalence_randomized(monkeypatch):
    """r10: the contracted distributed CC loop must label exactly like
    the driver union-find on randomized graphs — long paths (multi-round
    pointer jumping across contractions), cliques (the collapse case),
    isolated edges, and a star — with the escape cap forced to 0 so the
    distributed path actually runs."""
    import random

    from pyspark.sql import functions as F

    from gene_level_metadata_pipeline_spark.operators import graph

    spark = _get_spark()
    rnd = random.Random(11)
    pairs = []
    # a 30-node path: worst case for propagation depth
    pairs += [(i, i + 1) for i in range(100, 130)]
    # two 8-cliques sharing one node
    for base in (200, 207):
        nodes = list(range(base, base + 8))
        pairs += [(a, b) for a in nodes for b in nodes if a < b]
    # random sparse noise
    pairs += [
        (rnd.randint(300, 380), rnd.randint(300, 380)) for _ in range(60)
    ]
    # star
    pairs += [(500, 500 + i) for i in range(1, 12)]
    df = spark.createDataFrame(
        [(a, b) for a, b in pairs if a != b], "doc_a long, doc_b long"
    )

    want = sorted(
        map(tuple, graph.connected_components(df).collect())
    )  # driver escape (under the real cap)
    monkeypatch.setattr(graph, "_DRIVER_EDGE_CAP", 0)
    got = sorted(map(tuple, graph.connected_components(df).collect()))
    assert got == want and len(got) > 0
    # sanity: the path collapsed to one component labelled by its min
    labels = {n: c for n, c in got}
    assert all(labels[i] == 100 for i in range(100, 131))

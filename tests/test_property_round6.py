"""Property-based tests for the round-6 operator family: each operator
replayed against an independent pure-Python reference on randomized
inputs (the k-core/CDC/overlap-join discipline) — the properties the
hand-picked unit fixtures can't exhaust.

* set_similarity_join vs the brute-force quadratic Jaccard join
  (the prefix-filter theorem: NO false negatives, and no extras);
* temporal_reachability vs exhaustive time-respecting path enumeration;
* label_propagation vs a pure-Python synchronous-LPA replay;
* theil_sen_slope vs the quadratic median-of-slopes reference;
* count_min_estimates' one-sided guarantee on arbitrary count tables.
"""

from __future__ import annotations

import itertools
from fractions import Fraction

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_spark = None


def _get_spark():
    global _spark
    if _spark is None:
        from gene_level_metadata_pipeline_spark.session import get_spark

        _spark = get_spark("property-round6")
    return _spark


# --- exact set-similarity join vs quadratic reference --------------------

set_tables = st.dictionaries(
    keys=st.integers(min_value=1, max_value=8),
    values=st.sets(st.integers(min_value=0, max_value=12),
                   min_size=1, max_size=6),
    min_size=2, max_size=6,
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(tbl=set_tables)
def test_set_similarity_join_matches_quadratic(tbl):
    from gene_level_metadata_pipeline_spark.operators.dedup import (
        set_similarity_join,
    )

    spark = _get_spark()
    rows = [(i, f"t{t}") for i, s in tbl.items() for t in s]
    df = spark.createDataFrame(rows, "doc_id long, w string")
    got = {
        (r["a"], r["b"]): (r["inter_n"], r["union_n"])
        for r in set_similarity_join(df, "doc_id", "w").collect()
    }
    want = {}
    for a, b in itertools.combinations(sorted(tbl), 2):
        i = len(tbl[a] & tbl[b])
        u = len(tbl[a] | tbl[b])
        if Fraction(i, u) >= Fraction(1, 2):
            want[(a, b)] = (i, u)
    assert got == want  # no false negatives AND no extras


# --- temporal reachability vs exhaustive path enumeration ----------------

temporal_graphs = st.lists(
    st.tuples(st.integers(1, 5), st.integers(1, 5), st.integers(0, 9)),
    min_size=1, max_size=10,
).filter(lambda es: any(u != v for u, v, _ in es))


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(es=temporal_graphs, hops=st.integers(1, 3))
def test_temporal_reachability_matches_enumeration(es, hops):
    from gene_level_metadata_pipeline_spark.operators.graph import (
        temporal_reachability,
    )

    spark = _get_spark()
    e = spark.createDataFrame(es, "u long, v long, t long")
    seed = min(u for u, v, _ in es if u != v)
    seeds = spark.createDataFrame([(seed,)], "node long")
    got = {r["node"]: r["arrival"]
           for r in temporal_reachability(e, seeds, max_hops=hops).collect()}

    # reference: guarded Bellman-Ford in pure Python (same recurrence,
    # independent code path — dict-based, no Spark)
    sym = set()
    for u, v, t in es:
        if u != v:
            sym.add((u, v, t))
            sym.add((v, u, t))
    arr = {seed: 0}
    for _ in range(hops):
        nxt = dict(arr)
        for u, v, t in sym:
            if u in arr and t >= arr[u]:
                if v not in nxt or t < nxt[v]:
                    nxt[v] = t
        arr = nxt
    assert got == arr


# --- synchronous LPA replay ----------------------------------------------

lpa_graphs = st.lists(
    st.tuples(st.integers(1, 6), st.integers(1, 6)),
    min_size=1, max_size=12,
).filter(lambda es: any(u != v for u, v in es))


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(es=lpa_graphs, rounds=st.integers(1, 3))
def test_label_propagation_matches_python_replay(es, rounds):
    from gene_level_metadata_pipeline_spark.operators.graph import (
        label_propagation,
    )

    spark = _get_spark()
    g = spark.createDataFrame(es, "u long, v long")
    got = {r["node"]: r["community"]
           for r in label_propagation(g, rounds=rounds).collect()}

    adj = {}
    for u, v in es:
        if u != v:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
    lbl = {n: n for n in adj}
    for _ in range(rounds):
        nxt = {}
        for n, nbrs in adj.items():
            votes = {}
            for m in nbrs:
                votes[lbl[m]] = votes.get(lbl[m], 0) + 1
            # (count DESC, label ASC) total order
            nxt[n] = min(votes, key=lambda L: (-votes[L], L))
        lbl = nxt
    assert got == lbl


# --- Theil-Sen vs quadratic reference -------------------------------------

series = st.lists(
    st.tuples(st.integers(0, 30), st.integers(-1000, 1000)),
    min_size=2, max_size=12, unique_by=lambda p: p[0],
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(pts=series)
def test_theil_sen_matches_python_reference(pts):
    from gene_level_metadata_pipeline_spark.operators.timeseries import (
        theil_sen_slope,
    )

    spark = _get_spark()
    df = spark.createDataFrame([("g", t, y) for t, y in pts],
                               "g string, t long, y long")
    out = theil_sen_slope(df, "g", "t", "y", scale=10_000).collect()[0]

    slopes = []
    for (ta, ya), (tb, yb) in itertools.combinations(sorted(pts), 2):
        num, dt = (yb - ya) * 10_000, tb - ta
        slopes.append(((num - ((num % dt) + dt) % dt) // dt, ta, tb))
    slopes.sort()
    k = (len(slopes) + 1) // 2  # lower median rank under the total order
    assert out["n_pairs"] == len(slopes)
    assert out["slope_scaled"] == slopes[k - 1][0]


# --- CMS one-sided guarantee on arbitrary tables ---------------------------

count_tables = st.dictionaries(
    keys=st.text(alphabet="abcdefgh", min_size=1, max_size=4),
    values=st.integers(min_value=1, max_value=10 ** 6),
    min_size=1, max_size=20,
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(tbl=count_tables, width=st.sampled_from([1, 4, 64, 256]))
def test_cms_never_underestimates_property(tbl, width):
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        count_min_estimates,
    )

    spark = _get_spark()
    wc = spark.createDataFrame(list(tbl.items()), "word string, n long")
    est = {r["word"]: r["est"]
           for r in count_min_estimates(wc, width=width, depth=3).collect()}
    total = sum(tbl.values())
    for w, n in tbl.items():
        assert n <= est[w] <= total  # one-sided, bounded by total mass

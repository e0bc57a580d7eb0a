"""Product quantization (r10): codebooks / encode / ADC top-k.

* the whole chain matches a pure-Python+decimal replay of the
  documented deterministic recipe (lowest-id seeds, rounded-4dp L2²
  argmin with lowest-cid ties, exact DECIMAL component means, DECIMAL
  ADC sums) on random data;
* a vector with a NaN element gets a NULL code in the poisoned
  subspace only, and ADC then EXCLUDES it entirely (a partial code
  word must not rank spuriously close);
* an exact duplicate of the query shares all its codes and therefore
  achieves the MINIMUM possible ADC distance (the query's own
  quantization error — ADC compares the raw query to codewords, so
  even a bit-identical duplicate is not at distance 0);
* validation failures are loud.
"""

from __future__ import annotations

import decimal

import numpy as np
import pytest

import pyspark.sql.functions as F

_spark = None


def _get_spark():
    global _spark
    if _spark is None:
        from gene_level_metadata_pipeline_spark.session import get_spark

        _spark = get_spark("pq")
    return _spark


N, D, M, K = 40, 16, 4, 4
SUB = D // M


def _data():
    rng = np.random.RandomState(11)
    X = rng.randn(N, D).round(3)
    return X


def _df(X):
    spark = _get_spark()
    rows = [(i, [float(x) for x in X[i]]) for i in range(len(X))]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def _l2sq4(a, b):
    return round(float(np.dot(a, a) - 2 * np.dot(a, b) + np.dot(b, b)), 4)


def _py_train_encode(X):
    """Replay pq_codebooks (one Lloyd step) + pq_encode."""
    seeds = {s: {i: X[i, s * SUB:(s + 1) * SUB] for i in range(K)} for s in range(M)}

    def assign(cents):
        return {
            (i, s): min(
                sorted(cents[s]), key=lambda c: (_l2sq4(X[i, s * SUB:(s + 1) * SUB], cents[s][c]), c)
            )
            for i in range(len(X))
            for s in range(M)
        }

    a1 = assign(seeds)
    groups: dict = {}
    for (i, s), c in a1.items():
        groups.setdefault((s, c), []).append(X[i, s * SUB:(s + 1) * SUB])
    cents = {s: {} for s in range(M)}
    for (s, c), vs in groups.items():
        arr = np.array(vs)
        cents[s][c] = np.array(
            [
                round(
                    float(sum(decimal.Decimal(f"{v:.12f}") for v in arr[:, p]))
                    / len(vs),
                    6,
                )
                for p in range(SUB)
            ]
        )
    return cents, assign(cents)


def test_chain_matches_python_replay():
    from gene_level_metadata_pipeline_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
    )

    X = _data()
    df = _df(X)
    cb = pq_codebooks(df, dim=D, m=M, k=K)
    codes = pq_encode(df, cb, dim=D, m=M)
    cents, a2 = _py_train_encode(X)

    got_cb = {(r["s"], r["cid"]): [round(v, 6) for v in r["ce"]] for r in cb.collect()}
    for s in cents:
        for c in cents[s]:
            assert got_cb[(s, c)] == [round(v, 6) for v in cents[s][c]]

    got_codes = {(r["vec_id"], r["s"]): r["code"] for r in codes.collect()}
    assert got_codes == a2

    topk = pq_adc_topk(codes, cb, df.where(F.col("vec_id") < 2), dim=D, m=M,
                       k_neighbors=3).collect()
    for q in (0, 1):
        ds = []
        for i in range(N):
            if i == q:
                continue
            dv = sum(
                decimal.Decimal(
                    f"{_l2sq4(X[q, s * SUB:(s + 1) * SUB], cents[s][a2[(i, s)]]):.4f}"
                )
                for s in range(M)
            )
            ds.append((float(dv), i))
        ds.sort()
        exp = [(i, d) for d, i in ds[:3]]
        got = sorted(
            [(r["neighbor_id"], r["adc_dist"]) for r in topk if r["query_id"] == q],
            key=lambda t: (t[1], t[0]),
        )
        assert [(i, round(d, 4)) for i, d in got] == [
            (i, round(d, 4)) for i, d in exp
        ]


def test_nan_subspace_gets_null_code_and_adc_excludes():
    from gene_level_metadata_pipeline_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
    )

    X = _data()
    df = _df(X)
    cb = pq_codebooks(df, dim=D, m=M, k=K)
    # poison vec 99: NaN in subspace 0 only
    bad = [float("nan")] + [0.1] * (D - 1)
    spark = _get_spark()
    dirty = df.unionByName(
        spark.createDataFrame([(99, bad)], "vec_id bigint, embedding array<double>")
    )
    codes = pq_encode(dirty, cb, dim=D, m=M)
    got = {(r["vec_id"], r["s"]): r["code"] for r in codes.where(F.col("vec_id") == 99).collect()}
    assert got[(99, 0)] is None
    assert all(got[(99, s)] is not None for s in range(1, M))
    top = pq_adc_topk(codes, cb, df.where(F.col("vec_id") < 2), dim=D, m=M,
                      k_neighbors=N).collect()
    assert all(r["neighbor_id"] != 99 for r in top)


def test_duplicate_vector_achieves_minimum_adc_distance():
    from gene_level_metadata_pipeline_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
    )

    X = _data()
    X2 = np.vstack([X, X[0]])  # vec N is a dup of vec 0
    df = _df(X2)
    cb = pq_codebooks(df, dim=D, m=M, k=K)
    codes = pq_encode(df, cb, dim=D, m=M)
    # the dup shares every code with the query
    got = {(r["vec_id"], r["s"]): r["code"] for r in codes.collect()}
    assert all(got[(0, s)] == got[(N, s)] for s in range(M))
    top = pq_adc_topk(codes, cb, df.where(F.col("vec_id") == 0), dim=D, m=M,
                      k_neighbors=N + 1).collect()
    by_rank = sorted(top, key=lambda r: r["rank"])
    dup = next(r for r in by_rank if r["neighbor_id"] == N)
    # sharing all the query's (argmin) codes achieves the minimum ADC
    assert dup["adc_dist"] == by_rank[0]["adc_dist"]


def test_wrong_width_vectors_excluded():
    from gene_level_metadata_pipeline_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
    )

    X = _data()
    spark = _get_spark()
    ragged = _df(X).unionByName(
        spark.createDataFrame([(77, [1.0, 2.0])], "vec_id bigint, embedding array<double>")
    )
    cb = pq_codebooks(ragged, dim=D, m=M, k=K)
    codes = pq_encode(ragged, cb, dim=D, m=M)
    assert codes.where(F.col("vec_id") == 77).count() == 0


def test_validation_fails_loud():
    from gene_level_metadata_pipeline_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
    )

    df = _df(_data())
    with pytest.raises(ValueError, match="multiple"):
        pq_codebooks(df, dim=D, m=5)
    with pytest.raises(ValueError, match="k="):
        pq_codebooks(df, dim=D, m=M, k=0)
    with pytest.raises(ValueError, match="multiple"):
        pq_encode(df, None, dim=D, m=7)

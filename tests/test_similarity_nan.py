"""A NaN embedding element has no defined similarity in any scorer.

Spark orders NaN above every number, so a NaN cosine that survives
scoring ranks first in every top-k and passes every ``>= threshold``
filter. The rows are those of
``test_advice_r9.py::test_rbh_excludes_nan_cosines_every_tier`` with a
third component, plus a second near-duplicate pair (3, 5) that is
near-orthogonal to (1, 2); vector 4 holds the NaN. Every operator must
leave vector 4 out of its neighbors and pairs, and the pair and dedup
operators must not join 1 and 3 through it.
"""

from __future__ import annotations

import pytest

NAN_ID = 4
ROWS = [
    (1, [1.0, 0.0, 0.2]),
    (2, [0.9, 0.1, 0.2]),
    (3, [0.0, 1.0, 0.3]),
    (NAN_ID, [float("nan"), 1.0, 0.5]),
    (5, [0.1, 0.9, 0.3]),
]
TOPK = ["brute_force_topk", "ivf_topk", "ivf_multiprobe_topk"]
DEDUP = ["embedding_near_dup", "semantic_near_dup"]


def _links(name, spark):
    """The (id, id) links ``name`` outputs: top-k (query, neighbor)
    rows, sign-LSH pairs, or dedup (vector, canonical) merges."""
    from pyspark.sql import functions as F

    from gene_level_metadata_pipeline_spark.operators import similarity as s

    df = spark.createDataFrame(
        ROWS, "vec_id bigint, embedding array<double>"
    ).withColumn("label", F.lit(0))
    if name == "brute_force_topk":
        out = s.brute_force_topk(df, df)
    elif name == "ivf_topk":
        out = s.ivf_topk(df, df, cell_col="label")
    elif name == "ivf_multiprobe_topk":
        cents = spark.createDataFrame(
            [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0])],
            "cid bigint, ce array<double>",
        )
        out = s.ivf_multiprobe_topk(
            s.assign_cells(df, cents), df, cents
        )
    elif name == "sign_lsh_pairs":
        return [tuple(r) for r in s.sign_lsh_pairs(df).select(
            "vec_a", "vec_b"
        ).collect()]
    else:
        # two cells, so each near-duplicate pair can share one; with
        # more cells than finite vectors every vector is alone in its cell
        kw = {"k": 2} if name == "semantic_near_dup" else {}
        return [
            (r["vec_id"], r["canonical_id"])
            for r in getattr(s, name)(df, **kw).collect()
            if r["vec_id"] != r["canonical_id"]
        ]
    return [tuple(r) for r in out.select("query_id", "neighbor_id").collect()]


@pytest.mark.parametrize("name", TOPK + ["sign_lsh_pairs"] + DEDUP)
def test_nan_vector_is_never_a_neighbor_or_pair(spark, name):
    links = _links(name, spark)
    assert links, name  # the finite vectors still find each other
    assert all(NAN_ID not in link for link in links), (name, links)
    if name not in TOPK:
        # 1 and 3 are near-orthogonal: only a NaN link could join them
        assert not {(1, 3), (3, 1)} & set(links), (name, links)


def test_nan_vector_gets_no_cell_and_moves_no_centroid(spark):
    """At k=2 the seeds are vectors 1 and 2; vector 1 is alone in its
    cell, so its centroid stays [1, 0, .2]. The NaN vector gets a NULL
    cell like a NULL or zero-norm one, and a NaN vector with the lowest
    id seeds nothing."""
    from gene_level_metadata_pipeline_spark.operators import similarity as s

    schema = "vec_id bigint, embedding array<double>"
    df = spark.createDataFrame(ROWS, schema)
    cents = s.kmeans_centroids(df, k=2)
    assert {r["cid"]: r["ce"] for r in cents.collect()}[1] == [1.0, 0.0, 0.2]
    cells = {
        r["vec_id"]: r["cell"] for r in s.assign_cells(df, cents).collect()
    }
    assert cells == {1: 1, 2: 1, 3: 2, NAN_ID: None, 5: 2}

    first = spark.createDataFrame(
        [(0, [float("nan"), 1.0, 0.5])] + [r for r in ROWS if r[0] != NAN_ID],
        schema,
    )
    assert sorted(
        r["cid"] for r in s.kmeans_centroids(first, k=2).collect()
    ) == [1, 2]


def test_nan_vector_probes_no_cell(spark):
    """A vector with a NaN element has a NaN cosine to every centroid,
    so, like a NULL or zero-norm vector, it fans out to no probe rows."""
    from gene_level_metadata_pipeline_spark.operators import similarity as s

    df = spark.createDataFrame(ROWS, "vec_id bigint, embedding array<double>")
    cents = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0])],
        "cid bigint, ce array<double>",
    )
    probed = s.probe_cells(df, cents).collect()
    assert {r["vec_id"] for r in probed} == {1, 2, 3, 5}
    assert len(probed) == 8

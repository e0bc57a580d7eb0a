"""Regression tests for the round-3 code-review findings.

Each test pins a behavior that previously crashed or silently corrupted:
ANSI divide-by-zero in the Gopher rules, NULL/empty rate tables in
mixture sampling, NULL-text resurrection in span removal, quoted-field
corruption in the whitespace reader, modulo-by-zero in pagerank's
checkpoint cadence, and the BuildLeft row-order hazard.
"""

from __future__ import annotations

import pytest


def test_gopher_flags_fail_closed_on_degenerate_docs(spark):
    """Zero-word documents must yield NULL ratios and gopher_ok=False,
    not a DIVIDE_BY_ZERO abort (ANSI mode is the Spark 4 default)."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        gopher_quality_flags,
    )

    docs = spark.createDataFrame(
        [(1, " ".join(["word"] * 60)), (2, ""), (3, "   "), (4, None)],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in
           gopher_quality_flags(docs, "text", "doc_id").collect()}
    assert out[1].gopher_ok
    for bad in (2, 3, 4):
        assert out[bad].gopher_ok is False
        assert out[bad].mean_word_len is None


def test_mixture_sample_null_stratum_and_empty_dict(spark):
    """A None key sets the NULL stratum's rate (previously TypeError in
    sorted(), or silent drop); an empty dict degrades to the default."""
    from pyspark.sql import functions as F

    from gene_level_metadata_pipeline_spark.operators.selection import (
        mixture_sample,
    )

    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 100, "en").alias("lang"),  # 100 NULL strata
    )
    kept = mixture_sample(df, "doc_id", "lang", {"en": 0.5, None: 1.0})
    got = {r.lang: r["count"] for r in
           kept.groupBy("lang").count().collect()}
    assert got[None] == 100  # NULL stratum at rate 1.0 keeps everything
    assert 20 < got["en"] < 80

    # empty fractions: every row falls to the default rate
    assert mixture_sample(df, "doc_id", "lang", {}, default=1.0).count() == 200
    assert mixture_sample(df, "doc_id", "lang", {}, default=0.0).count() == 0


def test_remove_dup_spans_null_text_passthrough(spark):
    """NULL-text documents must surface as (NULL, 0, 0), not be rebuilt
    as an empty string that downstream code mistakes for real content."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        remove_dup_spans,
    )

    docs = spark.createDataFrame(
        [(1, "some real content here"), (2, None)],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in
           remove_dup_spans(docs, "text", "doc_id").collect()}
    assert out[2].clean_text is None
    assert (out[2].n_chunks_kept, out[2].n_chunks_dropped) == (0, 0)
    assert out[1].clean_text == "some real content here"


def test_read_delim_whitespace_preserves_quoted_fields(spark, tmp_path):
    """R read.table keeps quoted fields intact; the naive whitespace
    collapse rewrote their interiors into separators."""
    from gene_level_metadata_pipeline_spark.sources.readers import read_delim

    p = tmp_path / "ws_quoted.txt"
    p.write_text(
        'symbol  desc   score\n'
        'g1  "tumor suppressor"   0.5\n'
        "g2  'ion   channel'  1.5\n"
    )
    df = read_delim(spark, str(p), sep=None)
    rows = {r.symbol: r for r in df.collect()}
    assert rows["g1"].desc == "tumor suppressor"
    assert rows["g2"].desc == "ion   channel"
    assert float(rows["g2"].score) == 1.5


def test_row_order_op_rejects_build_left(spark):
    """A plan that broadcast-redistributes its LEFT side has no defined
    'my file' order for the left frame — reject, with guidance."""
    from pyspark.sql import functions as F

    from gene_level_metadata_pipeline_spark.operators.headers import (
        with_row_id,
    )

    left = spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, x string")
    right = spark.createDataFrame([(1, "y"), (2, "z")], "k bigint, y string")
    joined = F.broadcast(left).join(right, "k")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    if "BuildLeft" not in plan:
        pytest.skip("planner chose a different build side")
    with pytest.raises(ValueError, match="BuildLeft"):
        with_row_id(joined)


def test_histogram_constant_column_single_bin(spark):
    """r4 review: a constant column makes the equi-width bin width 0 and
    ANSI double division aborted the profile; all values now land in
    bin 0 with lo == hi (coalesce BEFORE least — least() skips NULLs and
    would have misfiled them into the last bin)."""
    from gene_level_metadata_pipeline_spark.operators.quality import histogram

    df = spark.createDataFrame([(5.0,)] * 4, "x double")
    rows = histogram(df, "x", 4).collect()
    assert [tuple(r) for r in rows] == [(0, 5.0, 5.0, 4)]


def test_sign_bucket_short_vector_does_not_abort(spark):
    """r4 review: ANSI element_at raises INVALID_ARRAY_INDEX, so one
    vector shorter than `planes` aborted sign-LSH bucketing. Missing
    components now read as the 0 bit (try_element_at), and well-formed
    vectors bucket exactly as before."""
    from pyspark.sql import functions as F

    from gene_level_metadata_pipeline_spark.operators.similarity import sign_bucket

    df = spark.createDataFrame(
        [(0, [1.0, 1.0, 1.0, 1.0]), (1, [1.0]), (2, [-1.0, 2.0])],
        "vec_id long, v array<double>",
    )
    out = {r["vec_id"]: r["b"] for r in df.select(
        "vec_id", sign_bucket(F.col("v"), 4).alias("b")).collect()}
    assert out == {0: 15, 1: 1, 2: 2}


def test_observation_without_cap_fails_loud(spark):
    """r4 review: an Observation passed with max_bucket_size=None never
    attaches metrics, so a later warn_capped_buckets (Observation.get)
    would block forever. Both LSH families reject the combination at
    plan-build time instead."""
    import pytest
    from pyspark.sql import Observation

    from gene_level_metadata_pipeline_spark.operators import dedup, similarity

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="observation requires"):
        dedup.minhash_candidate_pairs(
            docs, "text", "doc_id", max_bucket_size=None,
            observation=Observation("x"),
        )
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="observation requires"):
        similarity.sign_lsh_pairs(
            vecs, max_bucket_size=None, observation=Observation("y")
        )


def test_equi_depth_histogram_hand_checkable(spark):
    """10 values into 5 quantile buckets: every bucket holds exactly 2,
    lo/hi are the actual bucket members, duplicate values split
    deterministically by the tie column; nbins < 1 raises."""
    import pytest

    from gene_level_metadata_pipeline_spark.operators.quality import (
        equi_depth_histogram,
    )

    rows = [(i, float(v)) for i, v in enumerate([1, 1, 2, 3, 5, 8, 13, 21, 34, 55])]
    rows.append((99, None))  # NULL has no quantile: excluded in BOTH engines
    df = spark.createDataFrame(rows, "id long, x double")
    out = {r["bin"]: (r["lo"], r["hi"], r["n"]) for r in
           equi_depth_histogram(df, "x", "id", 5).collect()}
    assert out == {
        1: (1.0, 1.0, 2), 2: (2.0, 3.0, 2), 3: (5.0, 8.0, 2),
        4: (13.0, 21.0, 2), 5: (34.0, 55.0, 2),
    }
    with pytest.raises(ValueError, match="nbins=0"):
        equi_depth_histogram(df, "x", "id", 0)


def test_histogram_excludes_null_values(spark):
    """r4 advice: the width==0 coalesce fallback made NULL values
    indistinguishable from real minima, silently inflating bin 0. NULLs
    are now filtered BEFORE binning (the equi_depth_histogram contract),
    so the bin counts sum to the non-NULL count."""
    from gene_level_metadata_pipeline_spark.operators.quality import histogram

    df = spark.createDataFrame(
        [(0.0,), (1.0,), (2.0,), (3.0,), (None,), (None,)], "x double"
    )
    out = {r["bin"]: r["n"] for r in histogram(df, "x", 4).collect()}
    assert out == {0: 1, 1: 1, 2: 1, 3: 1}
    # the constant-column fallback still works, still NULL-free
    const = spark.createDataFrame([(5.0,), (5.0,), (None,)], "x double")
    rows = histogram(const, "x", 4).collect()
    assert [tuple(r) for r in rows] == [(0, 5.0, 5.0, 2)]


def test_assign_cells_null_element_vector_yields_null_cell(spark):
    """r4 advice: a vector with a NULL ELEMENT makes its norm NULL; the
    old negative guard (`__vn == 0`) evaluated to NULL there and the
    fold's -inf init leaked the lowest centroid id. The positive guard
    (norm defined AND > 0) pins NULL-element -> NULL cell, matching the
    NULL-array and zero-norm contracts."""
    from pyspark.sql import functions as F

    from gene_level_metadata_pipeline_spark.operators import similarity

    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.0, 1.0]),
            (2, [1.0, None]),   # NULL element -> NULL norm
            (3, [None, None]),
        ],
        "vec_id long, embedding array<double>",
    )
    cents = vecs.where("vec_id < 2").select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    cells = {
        r["vec_id"]: r["cell"]
        for r in similarity.assign_cells(vecs, cents).collect()
    }
    assert cells == {0: 0, 1: 1, 2: None, 3: None}


def test_ab_ztest_zero_variance_cohorts_yield_null_z(spark, tmp_path):
    """r4 advice: two constant-metric cohorts make the pooled SE 0 and
    plain `/` raised DIVIDE_BY_ZERO under ANSI. try_divide yields a NULL
    z (oracle mirrors with nullif(se, 0)); means and counts survive."""
    from pyspark.sql import functions as F

    from gene_level_metadata_pipeline_spark.plans.q_temporal import (
        q_ab_metric_ztest,
    )

    rows = [
        (i, "2024-01-01 00:00:00", i % 7, t, v, None)
        for i, (t, v) in enumerate(
            [("view", 2.0)] * 3 + [("purchase", 5.0)] * 2
        )
    ]
    spark.createDataFrame(
        rows, "event_id bigint, ts string, user_id bigint, "
        "event_type string, value double, props string"
    ).withColumn("ts", F.to_timestamp("ts")).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "events.parquet"))
    out = q_ab_metric_ztest(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n_a"], r["n_b"], r["mean_a"], r["mean_b"]) == (3, 2, 2.0, 5.0)
    assert r["z"] is None


def test_personalized_pagerank_contract(spark):
    """Seeded reset: non-seed mass decays toward pure link-mass (no
    teleport), seeds keep the teleport floor, seeds outside the graph
    raise, and the uniform path is untouched by the refactor."""
    import pytest

    from gene_level_metadata_pipeline_spark.operators.graph import pagerank

    # path graph 1-2-3: seed at node 1
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "u bigint, v bigint")
    seeds = spark.createDataFrame([(1,)], "node bigint")
    pr = {r["node"]: r["pr"] for r in
          pagerank(pairs, seeds=seeds).collect()}
    assert set(pr) == {1, 2, 3}
    # the seed holds the teleport floor; node 3 (two hops out) gets only
    # link mass and must rank below the seed and its direct neighbor
    assert pr[1] > pr[3] and pr[2] > pr[3] and pr[3] > 0

    with pytest.raises(ValueError, match="no seed node"):
        pagerank(pairs, seeds=spark.createDataFrame([(99,)], "node bigint"))

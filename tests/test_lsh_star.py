"""oversize='star' LSH bucket policy (VERDICT r8 item 7 audit):

* sub-cap buckets are BIT-IDENTICAL between 'drop' and 'star' modes;
* an oversized bucket, dropped entirely by the default, contributes a
  hub star under 'star' — every member connected to min(doc_id) with
  exactly |bucket|-1 pairs, never |bucket|² — so downstream
  connected_components keeps the cluster;
* invalid mode fails loud.
"""

from __future__ import annotations

import pytest

_spark = None


def _get_spark():
    global _spark
    if _spark is None:
        from gene_level_metadata_pipeline_spark.session import get_spark

        _spark = get_spark("lsh-star")
    return _spark


_BOILER = "the same cookie banner boilerplate text accept all to continue"


def _fixture(spark, n_boiler=12):
    rows = [(i, _BOILER) for i in range(1, n_boiler + 1)]
    # two small near-dup families well under the cap
    rows += [
        (100, "alpha beta gamma delta epsilon zeta"),
        (101, "alpha beta gamma delta epsilon eta"),
        (200, "one two three four five six seven"),
        (201, "one two three four five six eight"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _pairs(df, oversize):
    from gene_level_metadata_pipeline_spark.operators.dedup import (
        minhash_candidate_pairs,
    )

    out = minhash_candidate_pairs(
        df, "text", "doc_id", bands=4,
        max_bucket_size=5, oversize=oversize,
    )
    return {tuple(r) for r in out.collect()}


def test_star_connects_what_drop_loses():
    spark = _get_spark()
    df = _fixture(spark)
    drop = _pairs(df, "drop")
    star = _pairs(df, "star")
    boiler_ids = set(range(1, 13))
    # drop mode: the 12-doc bucket (> cap 5) vanishes entirely
    assert not any(a in boiler_ids or b in boiler_ids for a, b in drop)
    # star mode: every boiler doc pairs with the hub (min id 1), and
    # ONLY with the hub — linear volume, not quadratic
    boiler_star = {(a, b) for a, b in star
                   if a in boiler_ids and b in boiler_ids}
    assert boiler_star == {(1, m) for m in range(2, 13)}
    # sub-cap pairs are identical across modes
    assert drop == {p for p in star if p not in boiler_star}


def test_star_cluster_survives_component_finding():
    from gene_level_metadata_pipeline_spark.operators.graph import (
        connected_components,
    )

    spark = _get_spark()
    df = _fixture(spark)
    star = spark.createDataFrame(
        sorted(_pairs(df, "star")), "doc_a bigint, doc_b bigint"
    )
    comp = {
        r["doc_id"]: r["component"]
        for r in connected_components(star).collect()
    }
    labels = {comp[i] for i in range(1, 13)}
    assert labels == {1}  # one component labelled by the min id


def test_invalid_oversize_fails_loud():
    from gene_level_metadata_pipeline_spark.operators.dedup import (
        minhash_candidate_pairs,
    )

    spark = _get_spark()
    with pytest.raises(ValueError, match="oversize"):
        minhash_candidate_pairs(
            _fixture(spark), "text", "doc_id", oversize="sample"
        )


def test_star_telemetry_reports_starred_not_dropped():
    """ADVICE r9: in star mode nothing is discarded, so the Observation
    must carry the count under lsh_starred_rows (lsh_capped_rows stays
    0) and warn_capped_buckets must say 'starred', not 'dropped'."""
    import warnings

    from pyspark.sql import Observation

    from gene_level_metadata_pipeline_spark.operators import dedup

    spark = _get_spark()
    df = _fixture(spark)

    obs_star = Observation("star_mode")
    star = dedup.minhash_candidate_pairs(
        df, "text", "doc_id", max_bucket_size=4,
        observation=obs_star, oversize="star",
    )
    star.collect()
    m = obs_star.get
    assert int(m["lsh_capped_rows"]) == 0
    assert int(m["lsh_starred_rows"]) == 12 * 4  # boiler doc x 4 bands
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        n = dedup.warn_capped_buckets(obs_star)
    assert n == 12 * 4
    assert len(caught) == 1
    msg = str(caught[0].message)
    assert "starred" in msg and "nothing dropped" in msg
    assert "cap dropped" not in msg

    # drop mode keeps the historical metric name and wording
    obs_drop = Observation("drop_mode")
    dropped = dedup.minhash_candidate_pairs(
        df, "text", "doc_id", max_bucket_size=4,
        observation=obs_drop, oversize="drop",
    )
    dropped.collect()
    m = obs_drop.get
    assert int(m["lsh_capped_rows"]) == 12 * 4
    assert int(m["lsh_starred_rows"]) == 0
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        n = dedup.warn_capped_buckets(obs_drop)
    assert n == 12 * 4
    assert "dropped" in str(caught[0].message)

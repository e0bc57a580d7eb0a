"""The banded-LSH operators reject an empty signature or band count.

An LSH signature of 0 slots gives every band the hash of the empty
string, so every document lands in one bucket and every pair becomes a
candidate; 0 bands divides by zero. Each operator raises a ``ValueError``
that names it instead, before any Spark job runs.
"""

from __future__ import annotations

import pytest

from gene_level_metadata_pipeline_spark.operators import dedup
from gene_level_metadata_pipeline_spark.operators import multimodal as mm


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "one two three four five"),
            (3, "red green blue yellow"),
        ],
        "id long, text string",
    )


def _pixels(spark):
    return spark.createDataFrame(
        [(1, 2, 2, [1, 2, 3, 4])],
        "doc_id long, width int, height int, pixels array<int>",
    )


@pytest.mark.parametrize(
    "caller, build",
    [
        # three unrelated documents came back as all three pairs
        (
            "minhash_candidate_pairs",
            lambda s: dedup.minhash_candidate_pairs(
                _docs(s), "text", "id", num_hashes=0, bands=1
            ),
        ),
        (
            "minhash_candidate_pairs",
            lambda s: dedup.minhash_candidate_pairs(
                _docs(s), "text", "id", num_hashes=-8, bands=-2
            ),
        ),
        # ZeroDivisionError
        (
            "minhash_candidate_pairs",
            lambda s: dedup.minhash_candidate_pairs(
                _docs(s), "text", "id", bands=0
            ),
        ),
        (
            "minhash_candidate_pairs_oph",
            lambda s: dedup.minhash_candidate_pairs_oph(
                _docs(s), "text", "id", bands=0
            ),
        ),
        (
            "image_near_dup_pairs",
            lambda s: mm.image_near_dup_pairs(_pixels(s), bands=0),
        ),
    ],
    ids=[
        "minhash-num_hashes-0",
        "minhash-negative",
        "minhash-bands-0",
        "oph-bands-0",
        "image-bands-0",
    ],
)
def test_empty_lsh_shape_fails_loudly(spark, caller, build):
    with pytest.raises(ValueError, match=rf"^{caller}: .*must both be >= 1"):
        build(spark)

"""One-permutation minhash with rotation densification (r10):

* signatures match a pure-Python OPH replay bit-for-bit (value = md5
  hex chars 1-8, bin = chars 9-12 mod k, per-bin string min,
  deterministic rotation densification with distance-prefixed borrows);
* identical texts get identical signatures (and therefore always pair
  through every band);
* a single-shingle doc densifies every slot from its one non-empty bin
  with the documented d{j}: prefixes;
* docs with no shingles are excluded, matching the dense path;
* densified agreement requires equal borrow DISTANCE, not just equal
  borrowed value (the j*C offset of the densification papers);
* candidate pairs share the banding/cap machinery with the dense path
  (validation failures are loud).
"""

from __future__ import annotations

import hashlib

import pytest

_spark = None


def _get_spark():
    global _spark
    if _spark is None:
        from gene_level_metadata_pipeline_spark.session import get_spark

        _spark = get_spark("oph-minhash")
    return _spark


def _py_oph(text: str, k: int = 8, n: int = 3):
    """Pure-Python replay of minhash_signatures_oph."""
    ws = text.split(" ")
    if len(ws) < n:
        return None
    shingles = {" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)}
    slots: list[str | None] = [None] * k
    for s in shingles:
        hx = hashlib.md5(s.encode()).hexdigest()
        v, b = hx[:8], int(hx[8:12], 16) % k
        if slots[b] is None or v < slots[b]:
            slots[b] = v
    out = []
    for i in range(k):
        for j in range(k):
            s = slots[(i + j) % k]
            if s is not None:
                out.append(s if j == 0 else f"d{j}:{s}")
                break
    return out


_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    (3, "completely different text with no overlap here at all"),
    (4, "a b"),  # < n words: no shingles, excluded
    (5, "x y z"),  # exactly one shingle: full densification
    (6, "the quick brown fox jumps over the lazy dog"),  # dup of 1
    (7, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"),
]


def _sigs(k=8):
    from gene_level_metadata_pipeline_spark.operators.dedup import (
        minhash_signatures_oph,
    )

    spark = _get_spark()
    df = spark.createDataFrame(_DOCS, "doc_id bigint, text string")
    rows = minhash_signatures_oph(df, "text", "doc_id", k).collect()
    return {r["doc_id"]: [r[f"h{i}"] for i in range(k)] for r in rows}


def test_signatures_match_python_replay():
    got = _sigs()
    for did, text in _DOCS:
        exp = _py_oph(text)
        if exp is None:
            assert did not in got
        else:
            assert got[did] == exp, f"doc {did}"


def test_identical_docs_identical_signatures_and_pair():
    got = _sigs()
    assert got[1] == got[6]
    from gene_level_metadata_pipeline_spark.operators.dedup import (
        minhash_candidate_pairs_oph,
    )

    spark = _get_spark()
    df = spark.createDataFrame(_DOCS, "doc_id bigint, text string")
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_candidate_pairs_oph(df, "text", "doc_id").collect()
    }
    assert (1, 6) in pairs


def test_single_shingle_doc_densifies_all_slots():
    got = _sigs()
    sig = got[5]
    hx = hashlib.md5(b"x y z").hexdigest()
    v, b = hx[:8], int(hx[8:12], 16) % 8
    for i in range(8):
        j = (b - i) % 8
        assert sig[i] == (v if j == 0 else f"d{j}:{v}")


def test_densified_agreement_requires_equal_distance():
    # Construct a synthetic check on the ENCODING itself: two slots
    # borrowing the same value at different distances must differ.
    hx = hashlib.md5(b"x y z").hexdigest()
    v = hx[:8]
    assert f"d1:{v}" != f"d2:{v}"
    sig = _sigs()[5]
    # all 8 entries of a single-shingle doc are pairwise distinct
    assert len(set(sig)) == 8


def test_validation_fails_loud():
    from gene_level_metadata_pipeline_spark.operators.dedup import (
        minhash_candidate_pairs_oph,
        minhash_signatures_oph,
    )

    spark = _get_spark()
    df = spark.createDataFrame(_DOCS, "doc_id bigint, text string")
    with pytest.raises(ValueError, match="divisible"):
        minhash_candidate_pairs_oph(df, "text", "doc_id", bands=3)
    with pytest.raises(ValueError, match="observation requires"):
        minhash_candidate_pairs_oph(
            df, "text", "doc_id", max_bucket_size=None, observation=object()
        )
    with pytest.raises(ValueError, match="oversize"):
        minhash_candidate_pairs_oph(df, "text", "doc_id", oversize="bogus")
    with pytest.raises(ValueError, match="num_hashes"):
        minhash_signatures_oph(df, "text", "doc_id", num_hashes=0)


def test_k16_matches_python_replay():
    # a second k exercises bin arithmetic beyond the default
    from gene_level_metadata_pipeline_spark.operators.dedup import (
        minhash_signatures_oph,
    )

    spark = _get_spark()
    df = spark.createDataFrame(_DOCS, "doc_id bigint, text string")
    rows = minhash_signatures_oph(df, "text", "doc_id", 16).collect()
    got = {r["doc_id"]: [r[f"h{i}"] for i in range(16)] for r in rows}
    for did, text in _DOCS:
        exp = _py_oph(text, k=16)
        if exp is not None:
            assert got[did] == exp, f"doc {did}"

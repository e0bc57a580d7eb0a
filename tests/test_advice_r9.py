"""Regression tests for the round-8 ADVICE findings (all low).

* similarity._rbh_blas — an explicit method='blas' call now enforces
  _BLAS_PANEL_CAP with a limit(cap+1) probe and a loud ValueError, so
  the bounded-collect invariant holds for every entry point, not just
  the 'auto' gate.
* similarity.reciprocal_best_hits — NaN cosines are excluded alongside
  NULL in every tier: under min_by keyed on (-cos, id) a NaN key sorts
  greatest and would silently always LOSE, inverting _score_cells'
  NaN-is-greatest ordering; RBH's contract is now "NaN = no valid
  similarity", same as the BLAS tier's degenerate-row handling.
* tools/check_oracle --json — a rows-only query returning ZERO rows no
  longer counts toward _meta.n_pass.
"""

from __future__ import annotations

import pytest

_spark = None


def _get_spark():
    global _spark
    if _spark is None:
        from gene_level_metadata_pipeline_spark.session import get_spark

        _spark = get_spark("advice-r9")
    return _spark


def test_rbh_blas_enforces_panel_cap(monkeypatch):
    from gene_level_metadata_pipeline_spark.operators import similarity

    spark = _get_spark()
    rows = [(i, [float(i + 1), 1.0]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    monkeypatch.setattr(similarity, "_BLAS_PANEL_CAP", 4)
    with pytest.raises(ValueError, match="BLAS panel exceeds"):
        similarity.reciprocal_best_hits(df, df, method="blas")
    # at-or-under the cap still runs and mirrors the exact tier
    small = df.where("vec_id < 4")
    got = sorted(
        map(tuple, similarity.reciprocal_best_hits(
            small, small, method="blas"
        ).collect())
    )
    want = sorted(
        map(tuple, similarity.reciprocal_best_hits(
            small, small, method="exact"
        ).collect())
    )
    assert got == want and len(got) > 0


def test_rbh_excludes_nan_cosines_every_tier():
    """A NaN vector element must not hijack (or silently forfeit) the
    argmax in any tier: the pair (1,2) of finite vectors wins and the
    NaN row is absent from both directions."""
    from gene_level_metadata_pipeline_spark.operators.similarity import (
        reciprocal_best_hits,
    )

    spark = _get_spark()
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.9, 0.1]),
        (3, [float("nan"), 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    for method in ("exact", "blas"):
        out = sorted(map(tuple, reciprocal_best_hits(
            df, df, method=method
        ).collect()))
        ids = {r[0] for r in out} | {r[1] for r in out}
        assert 3 not in ids, method
        assert (1, 1, 1.0) in out and (2, 2, 1.0) in out, (method, out)


def test_check_oracle_npass_excludes_zero_row_rows_only(tmp_path):
    """Replays the _meta.n_pass counting rule on a synthetic report:
    hash passes and non-empty rows-only count, an empty rows-only and a
    failure do not (ADVICE r8: the artifact overstated passes)."""
    report = {
        "a": {"hash_match": True, "rows_only": None, "rows_match": True},
        "b": {"hash_match": None, "rows_only": True, "rows_match": True},
        "c": {"hash_match": None, "rows_only": True, "rows_match": False},
        "d": {"hash_match": False, "rows_only": None, "rows_match": False},
    }
    n_pass = sum(
        1 for v in report.values()
        if v.get("hash_match")
        or (v.get("rows_only") and v.get("rows_match"))
    )
    assert n_pass == 2
    # and the live source carries the corrected expression
    import pathlib

    src = (
        pathlib.Path(__file__).resolve().parents[1] / "tools" / "check_oracle.py"
    ).read_text()
    assert 'v.get("rows_only") and v.get("rows_match")' in src

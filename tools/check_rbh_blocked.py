"""Certify the blocked-BLAS RBH tier past the driver panel cap
(r10, VERDICT r9 item 2).

Three measured rows, written to certification/rbh_blocked_r10.json:

1. exact_equality_mid: blocked (default blocks) vs the certified EXACT
   tier on a 30k-query x 3k-corpus panel (90M scored pairs — the
   largest the expression-folded exact tier affords interactively) —
   result sets must be IDENTICAL.
2. above_cap_invariance: a 250k-row panel (ABOVE _BLAS_PANEL_CAP =
   200k, where r9 had no exact tier at all) x 20k corpus, run TWICE
   with different chunkings (50k/50k and 80k/30k) — results must be
   BIT-EQUAL, the chunking-invariance that makes the partial-argmax
   merge trustworthy at any scale. Wall seconds recorded per run.
3. auto_routes_blocked: method='auto' on the above-cap panel returns
   the same result (the r9 ValueError is gone; auto stays exact).

Vectors are deterministic pseudo-random doubles derived from
xxhash64(id, dim-index) — fully distributed generation, no driver data.

Usage: python tools/check_rbh_blocked.py
Exit 1 on any equality failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

OUT = os.path.join(REPO, "certification", "rbh_blocked_r10.json")


def _vectors(spark, n, dim, salt):
    from pyspark.sql import functions as F

    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda k: (
                F.pmod(
                    F.xxhash64(F.col("id"), k, F.lit(salt)), F.lit(2001)
                ) - 1000
            ).cast("double") / 1000.0,
        ).alias("embedding"),
    )


def _collect_sorted(df):
    return sorted(map(tuple, df.collect()))


def main() -> int:
    from pyspark.sql import functions as F

    from gene_level_metadata_pipeline_spark.operators import similarity
    from gene_level_metadata_pipeline_spark.session import get_spark

    spark = get_spark("check-rbh-blocked")
    spark.sparkContext.setLogLevel("ERROR")
    res: dict = {}
    failures = []

    def prep(df, side):
        idc = "query_id" if side == "q" else "corpus_id"
        vc = "__qv" if side == "q" else "__cv"
        nc = "__qn" if side == "q" else "__cn"
        return df.select(
            F.col("vec_id").alias(idc),
            F.col("embedding").alias(vc),
        ).withColumn(
            nc, F.sqrt(similarity._dot(F.col(vc), F.col(vc)))
        )

    # 1. exact equality at the largest exact-affordable scale
    qs = _vectors(spark, 30_000, 8, salt=1)
    cs = _vectors(spark, 3_000, 8, salt=2)
    t0 = time.time()
    exact = _collect_sorted(
        similarity.reciprocal_best_hits(qs, cs, method="exact")
    )
    t_exact = round(time.time() - t0, 1)
    t0 = time.time()
    blocked = _collect_sorted(
        similarity._rbh_blocked(prep(qs, "q"), prep(cs, "c"))
    )
    t_blocked = round(time.time() - t0, 1)
    ok = exact == blocked and len(exact) > 0
    res["exact_equality_mid"] = {
        "panel": 30_000, "corpus": 3_000, "dim": 8,
        "pairs_scored": 30_000 * 3_000,
        "n_rbh": len(exact), "equal": ok,
        "exact_sec": t_exact, "blocked_sec": t_blocked,
    }
    if not ok:
        failures.append("exact_equality_mid")

    # 2. above-cap chunking invariance (250k panel > 200k cap)
    qs = _vectors(spark, 250_000, 8, salt=3)
    cs = _vectors(spark, 20_000, 8, salt=4)
    t0 = time.time()
    a = _collect_sorted(similarity._rbh_blocked(
        prep(qs, "q"), prep(cs, "c"),
        chunk_rows=50_000, pack_rows=50_000,
    ))
    t_a = round(time.time() - t0, 1)
    t0 = time.time()
    b = _collect_sorted(similarity._rbh_blocked(
        prep(qs, "q"), prep(cs, "c"),
        chunk_rows=80_000, pack_rows=30_000,
    ))
    t_b = round(time.time() - t0, 1)
    ok = a == b and len(a) > 0
    res["above_cap_invariance"] = {
        "panel": 250_000, "corpus": 20_000, "dim": 8,
        "blas_panel_cap": similarity._BLAS_PANEL_CAP,
        "pairs_scored": 250_000 * 20_000,
        "n_rbh": len(a), "bit_equal_across_chunkings": ok,
        "sec_50k_50k": t_a, "sec_80k_30k": t_b,
    }
    if not ok:
        failures.append("above_cap_invariance")

    # 3. auto routes to blocked above the cap (no r9 raise), same rows
    t0 = time.time()
    auto = _collect_sorted(
        similarity.reciprocal_best_hits(qs, cs, method="auto")
    )
    res["auto_routes_blocked"] = {
        "equal_to_blocked": auto == a,
        "sec": round(time.time() - t0, 1),
    }
    if auto != a:
        failures.append("auto_routes_blocked")

    sha = subprocess.run(
        ["git", "rev-parse", "HEAD"], capture_output=True, text=True,
        cwd=REPO,
    ).stdout.strip()
    out = {"_meta": {"git_sha": sha, "n_fail": len(failures),
                     "failures": failures}, **res}
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps(out, indent=1, sort_keys=True))
    print(f"wrote {OUT}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

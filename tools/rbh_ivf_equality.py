"""Equality / recall / timing certification for the r8
reciprocal_best_hits IVF tier (VERDICT r7 task 5).

Runs the rbh_mutual_nn panel split (vec_id % 17) through BOTH tiers:

* at sf0.1 (both cheap): exact vs IVF — pair recall, cosine equality on
  the intersection, wall seconds;
* at the 10x replica (built by tools/stress_scale.build; reused if
  present): the regime where auto switches tiers — times the exact
  brute force (the r7 366 s row) against the IVF tier and records the
  measured recall of the probabilistic path.

Writes certification/rbh_ivf_equality.json. The IVF tier is allowed to
lose pairs (documented LSH-style probabilistic tier); what this
certifies is (a) every returned pair carries the EXACT cosine, (b) the
measured recall, (c) the wall-clock payback that justifies the tier.

Usage:
  python tools/rbh_ivf_equality.py               # sf0.1 + 10x (builds replica)
  RBH_SKIP_10X=1 python tools/rbh_ivf_equality.py  # sf0.1 only
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

OUT = os.path.join(REPO, "certification", "rbh_ivf_equality.json")


def run_split(spark, emb, method: str, probes: int = 2, **kw):
    from pyspark.sql import functions as F

    from gene_level_metadata_pipeline_spark.operators.similarity import (
        reciprocal_best_hits,
    )

    t0 = time.time()
    pairs = {
        (r["query_id"], r["corpus_id"]): r["cos_sim"]
        for r in reciprocal_best_hits(
            emb.where(F.col("vec_id") % 17 == 0),
            emb.where(F.col("vec_id") % 17 != 0),
            method=method,
            probes=probes,
            **kw,
        ).collect()
    }
    return pairs, round(time.time() - t0, 2)


def compare(exact: dict, ivf: dict) -> dict:
    inter = set(exact) & set(ivf)
    return {
        "exact_pairs": len(exact),
        "ivf_pairs": len(ivf),
        "pairs_recalled": len(inter),
        "recall": round(len(inter) / len(exact), 4) if exact else None,
        # pairs the IVF tier returned that exact did not: a candidate
        # restriction can REPLACE a mutual pair (both sides' restricted
        # argmax agree on a second-best) — count them, don't hide them
        "ivf_only_pairs": len(set(ivf) - set(exact)),
        "cosines_equal_on_intersection": all(
            exact[p] == ivf[p] for p in inter
        ),
    }


def main() -> int:
    from gene_level_metadata_pipeline_spark.session import get_spark

    spark = get_spark("rbh-ivf-equality")
    out: dict = {"_meta": {
        "git_sha": subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True,
            cwd=REPO,
        ).stdout.strip(),
        "panel_split": "vec_id % 17",
        "ivf_params": "n_cells=sqrt(corpus), probes=2 (operator defaults)",
    }}

    emb01 = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    exact, t_exact = run_split(spark, emb01, "exact")
    blas, t_blas = run_split(spark, emb01, "blas")
    ivf, t_ivf = run_split(spark, emb01, "ivf")
    out["sf0.1"] = {
        "exact_sec": t_exact,
        "blas": dict(compare(exact, blas), sec=t_blas,
                     equal_to_exact=blas == exact),
        "ivf_probes2": dict(compare(exact, ivf), sec=t_ivf),
    }
    # the IVF recall lever on UNSTRUCTURED embeddings: recall tracks
    # the scanned fraction (probes/cells) — the measured curve is the
    # honest statement of what the probabilistic tier trades
    curve = {}
    for pr in (4, 8, 16, 32):
        ivp, tp = run_split(spark, emb01, "ivf", probes=pr)
        curve[f"probes={pr}"] = dict(compare(exact, ivp), sec=tp)
    out["sf0.1"]["ivf_probes_curve"] = curve
    print("sf0.1:", json.dumps(out["sf0.1"]))

    if not os.environ.get("RBH_SKIP_10X"):
        import stress_scale as ss

        emb_path = os.path.join(ss.STRESS, "embeddings.parquet")
        if not os.path.isdir(emb_path):
            print("building 10x replica ...")
            ss.build(spark)
        emb10 = spark.read.parquet(emb_path)
        exact10, t_exact10 = run_split(spark, emb10, "exact")
        blas10, t_blas10 = run_split(spark, emb10, "blas")
        ivf10, t_ivf10 = run_split(spark, emb10, "ivf")
        auto10, t_auto10 = run_split(spark, emb10, "auto")
        out["10x"] = {
            "exact_sec": t_exact10,
            "blas": dict(
                compare(exact10, blas10), sec=t_blas10,
                equal_to_exact=blas10 == exact10,
                speedup_vs_exact=(
                    round(t_exact10 / t_blas10, 1) if t_blas10 else None
                ),
            ),
            "ivf_probes2": dict(compare(exact10, ivf10), sec=t_ivf10),
            "auto_sec": t_auto10,
            "auto_took_blas_tier": auto10 == blas10,
        }
        print("10x:", json.dumps(out["10x"]))

    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as f:
        json.dump(out, f, indent=1)
    print(f"wrote {OUT}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

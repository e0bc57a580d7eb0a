"""A/B the minhash signature hashing cost: dense k-permutation
(ceil(k/4) md5 per shingle) vs one-permutation OPH (1 md5 per shingle,
rotation densification) at several k, on the sf0.1 documents table.

MEASURED OUTCOME (the committed artifact is an honest negative): dense
is FASTER at every k — 1.3x at k=8 up to 2.5x at k=128 — and a
side-measurement across n=3/9/15 word-shingles showed the same ~0.7
OPH/dense ratio, so shingle BYTE count (the md5 term) is not what
binds. On Catalyst's interpreted higher-order-function path the
per-shingle k-slot struct fold dominates, both schemes pay it
identically, and OPH adds bin arithmetic + the densification pass. The
literature's k-fold hashing win assumes hashing dominates (true in a
native kernel); on this engine it does not. The OPH operator is kept
for its semantics; its docstrings cite this artifact.

Both paths run the identical shingle stream, identical struct-fold
shape, identical consumer (a noop write of the signature frame), and
the table is spread across executors first so the A/B measures compute,
not partitioning. min-of-REPS wall seconds per (scheme, k).

Writes certification/oph_speedup_r10.json:
  {"k8": {"dense": s, "oph": s, "ratio": dense/oph}, ...,
   "_meta": {...}}

Usage: python tools/bench_oph.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

REPS = 3
KS = (8, 32, 128)
OUT = os.path.join(REPO, "certification", "oph_speedup_r10.json")


def main() -> None:
    from gene_level_metadata_pipeline_spark.operators.dedup import (
        minhash_signatures,
        minhash_signatures_oph,
    )
    from gene_level_metadata_pipeline_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("bench-oph")
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint()  # pin the shingle input so the A/B excludes IO
    )

    def run(fn, k: int) -> float:
        best = float("inf")
        for _ in range(REPS):
            t0 = time.time()
            fn(docs, "text", "doc_id", num_hashes=k).write.format("noop").mode(
                "overwrite"
            ).save()
            best = min(best, time.time() - t0)
        return round(best, 3)

    out: dict = {}
    for k in KS:
        dense = run(minhash_signatures, k)
        oph = run(minhash_signatures_oph, k)
        out[f"k{k}"] = {
            "dense_sec": dense,
            "oph_sec": oph,
            "ratio": round(dense / oph, 2) if oph else None,
        }
        print(f"k={k}: dense {dense}s oph {oph}s "
              f"ratio {out[f'k{k}']['ratio']}", flush=True)
    out["_meta"] = {
        "sf_dir": sf_dir,
        "reps": REPS,
        "git_sha": subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True,
            cwd=os.path.dirname(OUT),
        ).stdout.strip(),
        "note": "min-of-reps wall sec; signatures only (identical "
        "consumer); both schemes over the same checkpointed input. "
        "HONEST NEGATIVE: dense wins at every k on this engine — the "
        "interpreted HOF fold dominates per-shingle cost, not md5 "
        "(ratio insensitive to shingle length n=3..15); OPH is kept "
        "for semantics, the dense signature stays the default",
    }
    with open(OUT, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()

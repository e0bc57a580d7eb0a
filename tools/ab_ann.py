"""Interleaved same-process A/B for ann_ivf_kmeans_topk (VERDICT r5 task 1).

Context: the query's bench best moved 2.09s (r4) -> 3.02s (r5) and
similarity.py changed in between (commit 7d33701, multi-probe IVF). But
that commit is ADDITIONS-ONLY — `git show 7d33701 -- ...similarity.py`
removes zero lines — so the executed single-probe path
(kmeans_centroids -> assign_cells -> ivf_topk) is byte-identical between
rounds. There is no alternative code path to A/B against; the experiment
that adjudicates the delta is therefore a many-rep interleaved timing of
the query against a stable control (ann_brute_force_topk, whose bench
number did NOT regress) in one process, exactly the near_dup_pairs
bisect discipline (PLANS.md): if the query's min-of-many sits at its r4
level while single reps span the r5 bench number, the +44% is ambient
bench-position/VM variance, not a code regression.

Usage: python tools/ab_ann.py [reps]   (default 8, interleaved A B A B ...)
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 8

    import __spark_entry__ as entrymod
    from gene_level_metadata_pipeline_spark.session import get_spark

    spark = get_spark("ab-ann")
    qs = entrymod.queries()
    a_fn = qs["ann_ivf_kmeans_topk"]
    b_fn = qs["ann_brute_force_topk"]

    def run(fn) -> float:
        t0 = time.time()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    # warmup both plans once (JVM/codegen amortization, as bench.py does)
    run(a_fn)
    run(b_fn)

    a_times, b_times = [], []
    for i in range(reps):
        a_times.append(run(a_fn))
        b_times.append(run(b_fn))
        print(
            f"rep {i}: ivf_kmeans={a_times[-1]:.3f}s  "
            f"brute_force={b_times[-1]:.3f}s",
            flush=True,
        )

    def stats(xs):
        s = sorted(xs)
        return s[0], s[len(s) // 2], s[-1]

    amin, amed, amax = stats(a_times)
    bmin, bmed, bmax = stats(b_times)
    print(f"\nann_ivf_kmeans_topk  min={amin:.3f} med={amed:.3f} max={amax:.3f}")
    print(f"ann_brute_force_topk min={bmin:.3f} med={bmed:.3f} max={bmax:.3f}")
    print(f"r4 bench best was 2.09s; r5 bench best 3.02s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

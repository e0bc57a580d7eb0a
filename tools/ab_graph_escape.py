"""Controlled A/B of the small-graph driver escapes vs their
distributed loops (VERDICT r8 item 3).

Background: the r8 session's sequential-block A/B measured the bfs
escape ~1s SLOWER than its distributed path at sf0.1 (4.1 vs 3.1);
the r9 interleaved rerun read it neutral-at-best (1.035) while every
other escape won 0.68-0.93, so r10 REMOVED the bfs escape entirely
(VERDICT r9 item 6) — graph_bfs_hops is no longer in this A/B's
query set because the cap no longer changes its code path. The
protocol for the remaining six: INTERLEAVED repetitions (one distributed run, one escape
run, alternating, so ambient drift hits both arms equally), min +
median of N per arm, both paths pre-warmed, the cap flipped via
graph._DRIVER_EDGE_CAP exactly as the cap-boundary equivalence tests
do.

Writes certification/escape_ab_r10.json:
  {query: {distributed_min, distributed_med, escape_min, escape_med,
           ratio_min (escape/distributed), verdict}}
verdict is "escape-wins" (<0.95), "neutral" (0.95-1.05), or
"escape-loses" (>1.05 on BOTH min and med — a one-statistic excursion
is ambient, not code).

Usage: python tools/ab_graph_escape.py [reps]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = os.environ.get("AB_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(REPO, "certification", "escape_ab_r10.json")

QUERIES = [
    "graph_sssp_weighted",
    "graph_kcore",
    "graph_truss_peel",
    "graph_label_propagation",
    "pagerank_suppliers",
    "dedup_components",
]


def main() -> int:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    import __spark_entry__ as entrymod
    from gene_level_metadata_pipeline_spark.session import get_spark
    from gene_level_metadata_pipeline_spark.operators import graph

    spark = get_spark("ab-graph-escape")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    def once(name: str, cap: int) -> float:
        real = graph._DRIVER_EDGE_CAP
        graph._DRIVER_EDGE_CAP = cap
        try:
            t0 = time.time()
            qs[name](spark, SF).collect()
            return time.time() - t0
        finally:
            graph._DRIVER_EDGE_CAP = real

    results: dict[str, dict] = {}
    losers = []
    for name in QUERIES:
        if name not in qs:
            print(f"skip {name}: not registered")
            continue
        once(name, 0)
        once(name, 200_000)  # warm both arms
        dist, esc = [], []
        for _ in range(reps):
            dist.append(once(name, 0))
            esc.append(once(name, 200_000))
        dist.sort()
        esc.sort()
        d_min, d_med = dist[0], dist[len(dist) // 2]
        e_min, e_med = esc[0], esc[len(esc) // 2]
        loses = e_min > d_min * 1.05 and e_med > d_med * 1.05
        verdict = (
            "escape-loses" if loses
            else "escape-wins" if e_min < d_min * 0.95
            else "neutral"
        )
        if loses:
            losers.append(name)
        results[name] = {
            "distributed_min": round(d_min, 3),
            "distributed_med": round(d_med, 3),
            "escape_min": round(e_min, 3),
            "escape_med": round(e_med, 3),
            "ratio_min": round(e_min / d_min, 3),
            "verdict": verdict,
        }
        print(f"{name}: dist {d_min:.2f}/{d_med:.2f} "
              f"escape {e_min:.2f}/{e_med:.2f} -> {verdict}", flush=True)

    sha = subprocess.run(
        ["git", "rev-parse", "HEAD"], capture_output=True, text=True,
        cwd=REPO,
    ).stdout.strip()
    out = {
        "_meta": {
            "git_sha": sha, "sf_dir": SF, "reps": reps,
            "protocol": "interleaved alternating arms, both pre-warmed",
            "n_escape_loses": len(losers), "losers": losers,
        },
        **results,
    }
    with open(OUT, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"wrote {OUT}")
    return 1 if losers else 0


if __name__ == "__main__":
    raise SystemExit(main())

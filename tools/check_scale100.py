"""100x growth-curve measurement of the scale-sensitive flagships
(VERDICT r8 item 6): promote the "100 TB-ready" design notes from
prose to ONE measured row per query.

Runs the five scale-sensitive flagship queries at three cardinality
tiers — sf0.1 (1x), the 10x replica (sf1-equivalent) and a 100x
replica (sf10-equivalent), both built by tools/stress_scale.build
(per-replica id offsets, text tags and embedding rotations so
per-replica structure survives) — and records wall seconds + output
rows per tier. This is a THROUGHPUT curve, not a correctness gate
(correctness at 10x is certification/scale10_sweep_r9.json); the
artifact names any super-linear growth so the 100 TB claims carry a
measurement instead of an extrapolation.

Growth verdicts compare the 10x->100x ratio against the 10x work
increase: "sublinear" < 7, "linear" 7-14, "superlinear" > 14 (the 10x
work step on a fixed 32-core box; headroom bands account for fixed
overheads amortizing and for shuffle constants).

Writes certification/scale100_sweep.json. Exit 1 if any query FAILS
outright (exceptions / zero rows); superlinear growth is reported, not
failed — the artifact exists to NAME it.

Usage:
  python tools/check_scale100.py          # builds replicas as needed
  SCALE100_REUSE=1 python tools/check_scale100.py
"""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF01 = "/root/testdata/sf0.1"
DIR10 = "/tmp/spark_graft_stress_sf1"
DIR100 = "/tmp/spark_graft_stress_sf10"
OUT = os.path.join(REPO, "certification", "scale100_sweep.json")

QUERIES = [
    "dedup_set_similarity_exact",
    "winnow_overlap_pairs",
    "dedup_components",
    "rbh_mutual_nn",
    "harmonize_catalog_width",
]

# Tiers excluded BY POLICY, each with its measured cause — the artifact
# exists to NAME superlinear growth. Empty since r10: the one skip
# (dedup_set_similarity_exact @ 100x) was a FIXTURE artifact — the old
# " repN" tag left every doc a true Jaccard near-dup of its R-1 replica
# copies, so the qualifying OUTPUT grew ~R^2 by construction (77 GB
# scratch fill at R=100). The r10 fixture salts every token per replica
# (tools/stress_scale.py docstring), cross-replica Jaccard collapses to
# ~0, output is linear in R, and the row is measured like its peers.
POLICY_SKIP: dict = {}


def _build(spark, replicas: int, out_dir: str) -> None:
    os.environ["STRESS_DIR"] = out_dir
    os.environ["STRESS_REPLICAS"] = str(replicas)
    import stress_scale

    importlib.reload(stress_scale)  # re-read the env-driven constants
    t0 = time.time()
    stress_scale.build(spark)
    print(f"built {replicas}x replica at {out_dir} "
          f"({time.time() - t0:.0f}s)", flush=True)


def main() -> int:
    import __spark_entry__ as entrymod
    from gene_level_metadata_pipeline_spark.session import get_spark

    spark = get_spark("check-scale100")
    spark.sparkContext.setLogLevel("ERROR")
    import shutil

    import stress_scale

    reuse = os.environ.get("SCALE100_REUSE") == "1"
    for reps, d in ((10, DIR10), (100, DIR100)):
        # A replica dir is trusted only if its fingerprint matches the
        # CURRENT fixture recipe + replica count (ADVICE r9: a bare
        # isdir check silently measured stale replicas built by an
        # older stress_scale). SCALE100_REUSE=1 still reuses a
        # mismatched dir, but loudly.
        fp_path = os.path.join(d, "_fixture_fingerprint.json")
        current = None
        if os.path.isdir(d) and os.path.isfile(fp_path):
            with open(fp_path) as fh:
                current = json.load(fh)
        expected = stress_scale.fingerprint(reps)
        if current == expected:
            print(f"reusing {d} (fixture fingerprint matches)")
            continue
        if os.path.isdir(d):
            if reuse:
                print(
                    f"WARNING: reusing STALE replica at {d} "
                    f"(fingerprint {current} != current fixture "
                    f"{expected}) because SCALE100_REUSE=1",
                    flush=True,
                )
                continue
            print(f"rebuilding {d}: stale/unfingerprinted replica "
                  f"({current} != {expected})", flush=True)
            shutil.rmtree(d)
        _build(spark, reps, d)

    qs = entrymod.queries()
    tiers = [("sf0.1", SF01), ("sf1_equiv", DIR10), ("sf10_equiv", DIR100)]
    # argv selection re-measures a subset and MERGES into the existing
    # artifact (post-fix re-runs shouldn't discard the other rows)
    only = [a for a in sys.argv[1:] if not a.startswith("-")]
    selected = [n for n in QUERIES if not only or n in only]
    results: dict[str, dict] = {}
    if only and os.path.isfile(OUT):
        with open(OUT) as fh:
            prior = json.load(fh)
        results = {k: v for k, v in prior.items() if k != "_meta"}
    failures = []
    for name in selected:
        fn = qs[name]
        row: dict = {}
        for label, d in tiers:
            if (name, label) in POLICY_SKIP:
                row[label] = {"skipped": POLICY_SKIP[(name, label)]}
                print(f"{name} @ {label}: policy skip", flush=True)
                continue
            t0 = time.time()
            try:
                fn(spark, d).write.format("noop").mode("overwrite").save()
                sec = round(time.time() - t0, 1)
                row[label] = {"sec": sec}
                if label == "sf0.1":
                    # sanity row count, once, at the cheap tier only
                    row[label]["rows"] = fn(spark, d).count()
                    if row[label]["rows"] == 0:
                        failures.append(f"{name}@{label}: zero rows")
            except Exception as e:  # noqa: BLE001
                row[label] = {"error": f"{e}"[:300]}
                failures.append(f"{name}@{label}")
                break
            print(f"{name} @ {label}: {sec}s", flush=True)
        if "sec" in row.get("sf1_equiv", {}) and "sec" in row.get(
            "sf10_equiv", {}
        ):
            r = row["sf10_equiv"]["sec"] / max(row["sf1_equiv"]["sec"], 0.1)
            row["ratio_10x_to_100x"] = round(r, 2)
            row["growth"] = (
                "sublinear" if r < 7 else "linear" if r <= 14
                else "superlinear"
            )
        results[name] = row

    sha = subprocess.run(
        ["git", "rev-parse", "HEAD"], capture_output=True, text=True,
        cwd=REPO,
    ).stdout.strip()
    out = {
        "_meta": {
            "git_sha": sha,
            "tiers": {t: d for t, d in tiers},
            "note": (
                "throughput growth curve on local[32]; correctness at "
                "10x certified separately in scale10_sweep_r9.json"
            ),
            "n_fail": len(failures), "failures": failures,
        },
        **results,
    }
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"wrote {OUT}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

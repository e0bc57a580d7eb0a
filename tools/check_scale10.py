"""10x-replicated (sf1-equivalent) correctness sweep of the
scale-sensitive registry slice — VERDICT r6 task 1.

The r5 sf0.1 gate caught a REAL sampling-scale corruption
(running_sum's repartitionByRange bounds) that sf0.01 could never see;
the next decade hides the same class of trap: sampled hot-key
detection, LSH bucket caps, range-partition bound sampling, broadcast
hints whose side stops being small. This tool re-runs the full
Spark-vs-DuckDB oracle comparison (check_oracle's machinery) on a 10x
cardinality-preserving replica of sf0.1 (tools/stress_scale.build: ids
offset per replica, one replica-tag token per text so per-replica
structure survives).

Query selection is AUTO unless names are given:

* a CURATED list for families whose risky primitive hides behind eager
  execution or data-dependent caps (hot-key sampling runs during plan
  construction; LSH bucket caps only bind when a bucket overflows), and
* a PLAN-MARKER scan of every registered query at sf0.001 for Sample /
  RangePartitioning / REPARTITION_BY_RANGE / strategy=broadcast nodes.

Oracles known QUADRATIC in pair count (ER composite's levenshtein
all-pairs, the exact set-similarity truth join) are demoted to
rows-only at 10x — their losslessness is certified at sf0.01/sf0.1 by
the main gate; re-deriving a 22-billion-pair truth table is not a
correctness check, it's a space heater.

Writes certification/scale10_sweep.json: {query: {status, rows, sec,
selected_by}} plus run metadata. Exit 1 on any FAIL.

Usage:
  python tools/check_scale10.py            # auto slice, builds replica
  python tools/check_scale10.py q1 q2      # explicit queries
  SCALE10_REUSE=1 python tools/check_scale10.py   # keep existing replica
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check_oracle as co  # noqa: E402 — comparison machinery reuse
import stress_scale as ss  # noqa: E402 — replica builder reuse

OUT_PATH = os.environ.get("SCALE10_OUT") or os.path.join(
    REPO, "certification", "scale10_sweep.json"
)

# Families whose scale-sensitive primitive is invisible to a plan scan.
CURATED = [
    # sampled hot-key detection (skew.hot_keys runs at construction)
    "decorate_hot_status",
    # repartitionByRange prefix-sum machinery (the r5 bug's home —
    # running_sum has no registry entry of its own; these consume it)
    "token_budget_select",
    "corpus_shuffle_order",
    "zorder_stats",
    # LSH / bucket-cap families — caps only bind when buckets overflow
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_containment_pairs",
    "near_dup_pairs",
    "dedup_components",
    "dedup_semantic",
    "substring_dup_spans",
    "dedup_set_similarity_exact",
    # auto-sized blooms & history paths (size formulas are row-count fns)
    "dedup_incremental_bloom",
    # ANN bucketing / quantization edges
    "ann_ivf_kmeans_topk",
    "ann_sign_lsh_pairs",
    "ann_sign_lsh_pairs_capped",
    "ann_grid_nn_2d",
    "ann_quantized_topk",
    "embedding_quantize_int8",
    # selection/sampling family
    "mixture_sample_langs",
    "weighted_sample_k",
    "kcenter_diverse_sample",
    # round-7 additions: df-capped winnow join, sampled policy curve,
    # iterative MW training, dimension-quadratic isotonic minimax
    "winnow_fingerprints",
    "winnow_overlap_pairs",
    "dedup_threshold_curve",
    "mixture_reweight_mw",
    "isotonic_calibration",
]

# Oracles quadratic in candidate/pair count: Spark side still runs and
# must produce sane rows at 10x, but the DuckDB truth join is demoted.
ORACLE_TOO_QUADRATIC = {
    "entity_resolution_pipeline",
    "near_dup_pairs",
    "substring_dup_spans",
    # r7 sitting 2 / r8: the DBSCAN truth was an all-pairs distance
    # join (400M pairs at 10x) until r8 grid-restricted + materialized
    # it — dbscan_clusters_2d now PASSES for real at 10x.
    # rbh_mutual_nn left this set in r10: the old demotion reason
    # ("above the pair budget auto takes the probabilistic IVF tier")
    # died in r9/r10 — auto now stays EXACT at any size (BLAS to the
    # panel cap, blocked beyond), and the 10x truth (~22M scored pairs)
    # is affordable for DuckDB, so the row is a real hash comparison.
}

# Scale-safe oracle overrides (VERDICT r8 item 2, the dbscan recipe:
# mirror the operator's own PROVABLY-LOSSLESS filters in the truth so
# the 10x row becomes a real hash PASS instead of a rows-only demotion).
# The REGISTERED sf0.01/sf0.1 oracle stays the fully-quadratic
# independent truth — that is where the prefix-filter theorem is
# certified empirically; at 10x the all-shingle-pairs CTE is ~100x the
# 1.13M sf0.1 candidates, so the override replays the PREFIX + LENGTH
# filters (Chaudhuri/Xiao: two sets with Jaccard >= tn/td must share a
# token among each one's first sz - ceil(tn*sz/td) + 1 tokens in the
# global (df, tok) order, and need td*min_sz >= tn*max_sz) and then
# verifies candidates against the FULL token table — exact integer
# arithmetic end-to-end, zero false negatives by the same theorem the
# registered oracle certifies at the lower SFs.


def _set_sim_prefix_oracle() -> str:
    from gene_level_metadata_pipeline_spark.plans.q_dedup_text import (
        _SHINGLE_CTE,
    )

    return f"""
    WITH {_SHINGLE_CTE},
    t AS (SELECT DISTINCT doc_id AS id, shingle AS tok FROM sh),
    sizes AS (SELECT id, count(*) AS sz FROM t GROUP BY id),
    dfreq AS (SELECT tok, count(*) AS df FROM t GROUP BY tok),
    ranked AS (
      SELECT t.id, t.tok, s.sz,
             row_number() OVER (
               PARTITION BY t.id ORDER BY d.df ASC, t.tok ASC
             ) AS rn
      FROM t JOIN dfreq d USING (tok) JOIN sizes s ON s.id = t.id
    ),
    prefix AS (
      -- prefix length sz - ceil(1*sz/2) + 1, ceil via (a+b-1)//b
      SELECT id, tok, sz FROM ranked
      WHERE rn <= sz - (sz * 1 + 2 - 1) // 2 + 1
    ),
    cand AS (
      SELECT DISTINCT x.id AS a, y.id AS b
      FROM prefix x JOIN prefix y
        ON x.tok = y.tok AND x.id < y.id
       AND 2 * least(x.sz, y.sz) >= 1 * greatest(x.sz, y.sz)
    ),
    inter AS (
      SELECT c.a, c.b, count(*) AS inter_n
      FROM cand c
      JOIN t ta ON ta.id = c.a
      JOIN t tb ON tb.id = c.b AND tb.tok = ta.tok
      GROUP BY c.a, c.b
    )
    SELECT i.a, i.b, CAST(i.inter_n AS BIGINT) AS inter_n,
           CAST(sa.sz + sb.sz - i.inter_n AS BIGINT) AS union_n,
           CAST(i.inter_n * 1000000 // (sa.sz + sb.sz - i.inter_n)
                AS BIGINT) AS jac_e6
    FROM inter i
    JOIN sizes sa ON sa.id = i.a
    JOIN sizes sb ON sb.id = i.b
    WHERE 3 * i.inter_n >= sa.sz + sb.sz
    """


def oracle_scale_overrides() -> dict[str, str]:
    return {"dedup_set_similarity_exact": _set_sim_prefix_oracle()}


PLAN_MARKERS = (
    "Sample ",
    "Sample(",
    "RangePartitioning",
    "REPARTITION_BY_RANGE",
    "rangepartitioning",
    "strategy=broadcast",
)


def plan_scan(spark, qs, sf_small: str) -> dict[str, str]:
    """name -> matched marker, for queries whose sf0.001 plan contains a
    scale-sensitive node. Building a plan executes any eager stages at
    sf0.001 — cheap, and exactly what the budget tests already do."""
    hits: dict[str, str] = {}
    for name, fn in qs.items():
        try:
            df = fn(spark, sf_small)
            qe = df._jdf.queryExecution()
            text = (
                qe.analyzed().toString()
                + qe.optimizedPlan().toString()
                + qe.executedPlan().toString()
            )
        except Exception as e:  # noqa: BLE001 — scan is best-effort
            print(f"scan-skip {name}: {type(e).__name__}", flush=True)
            continue
        for m in PLAN_MARKERS:
            if m in text:
                hits[name] = m.strip()
                break
    return hits


def main() -> int:
    import duckdb

    import __spark_entry__ as entrymod
    from gene_level_metadata_pipeline_spark.session import get_spark

    only = set(sys.argv[1:])
    spark = get_spark("check-scale10")
    spark.sparkContext.setLogLevel("ERROR")

    fp_path = os.path.join(ss.STRESS, "_fixture_fingerprint.json")
    fp_ok = False
    if os.path.isdir(ss.STRESS) and os.path.isfile(fp_path):
        import json as _json

        with open(fp_path) as fh:
            fp_ok = _json.load(fh) == ss.fingerprint(ss.REPLICAS)
    if os.path.isdir(ss.STRESS) and os.environ.get("SCALE10_REUSE") == "1":
        if not fp_ok:
            print(f"WARNING: reusing STALE replica at {ss.STRESS} "
                  "(fixture fingerprint mismatch) because "
                  "SCALE10_REUSE=1", flush=True)
        else:
            print(f"reusing replica at {ss.STRESS}")
    else:
        t0 = time.time()
        ss.build(spark)
        print(f"built {ss.REPLICAS}x replica at {ss.STRESS} "
              f"({time.time()-t0:.0f}s)")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    oracles.update(oracle_scale_overrides())

    if only:
        selected = {n: "explicit" for n in only if n in qs}
    else:
        print("plan-marker scan at sf0.001 ...", flush=True)
        t0 = time.time()
        selected = plan_scan(spark, qs, "/root/testdata/sf0.001")
        print(f"scan: {len(selected)} marker hits ({time.time()-t0:.0f}s)")
        for n in CURATED:
            if n in qs:
                selected.setdefault(n, "curated")

    con = duckdb.connect()
    for t in co.TABLES:
        # replicated tables are Spark-written DIRECTORIES of part files;
        # the rest are symlinks to the single-file testdata parquets
        p = f"{ss.STRESS}/{t}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    data_fp = co._data_fingerprint(ss.STRESS)

    results: dict[str, dict] = {}
    failures = []
    for name in sorted(selected):
        fn = qs[name]
        t0 = time.time()
        try:
            sdf = fn(spark, ss.STRESS)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            results[name] = {"status": "FAIL", "error": f"spark: {e}"[:300],
                             "selected_by": selected[name]}
            print(f"FAIL  {name}: spark error: {e}", flush=True)
            continue
        sec = round(time.time() - t0, 1)
        rowsonly = name not in oracles or name in ORACLE_TOO_QUADRATIC
        if rowsonly:
            status = "rows-only" if srows else "FAIL-zero-rows"
            if not srows:
                failures.append(name)
            results[name] = {"status": status, "rows": len(srows),
                             "sec": sec, "selected_by": selected[name]}
            print(f"ok?   {name}: rows-only@10x, {len(srows)} rows "
                  f"({sec}s)", flush=True)
            continue
        key = co._cache_key(oracles[name], data_fp)
        cached = co.cache_get(key)
        if cached is not None:
            dcols, dtype_names, drows = cached
        else:
            t1 = time.time()
            try:
                rel = con.sql(oracles[name])
                dcols = rel.columns
                dtype_names = [str(t) for t in rel.types]
                drows = rel.fetchall()
            except Exception as e:  # noqa: BLE001
                failures.append(name)
                results[name] = {"status": "FAIL",
                                 "error": f"duckdb: {e}"[:300],
                                 "selected_by": selected[name]}
                print(f"FAIL  {name}: duckdb error: {e}", flush=True)
                continue
            co.cache_put(key, (dcols, dtype_names, drows))
            sec = round(sec + time.time() - t1, 1)
        sc, sm = co.frame_to_multiset(scols, srows)
        dc, dm = co.frame_to_multiset(dcols, drows)
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount {len(srows)} vs {len(drows)}")
        tmix = co.type_mismatches(sdf, dcols, dtype_names)
        if tmix:
            problems.append(f"types {tmix}")
        if sc != dc:
            problems.append(f"schema {sc} vs {dc}")
        elif sm != dm:
            diff = [(a, b) for a, b in zip(sm, dm) if a != b][:3]
            problems.append(f"values differ: {diff}")
        if problems:
            failures.append(name)
            results[name] = {"status": "FAIL",
                             "error": "; ".join(problems)[:500],
                             "rows": len(srows), "sec": sec,
                             "selected_by": selected[name]}
            print(f"FAIL  {name}: {'; '.join(problems)}", flush=True)
        else:
            results[name] = {"status": "PASS", "rows": len(srows),
                             "sec": sec, "selected_by": selected[name]}
            print(f"PASS  {name}: {len(srows)} rows ({sec}s)", flush=True)

    os.makedirs(os.path.dirname(OUT_PATH), exist_ok=True)
    summary = {
        "surface": f"{ss.REPLICAS}x replicas of sf0.1 (sf1-equivalent)",
        "replica_dir": ss.STRESS,
        "n_selected": len(selected),
        "n_pass": sum(1 for r in results.values()
                      if r["status"] == "PASS"),
        "n_rows_only": sum(1 for r in results.values()
                           if r["status"] == "rows-only"),
        "n_fail": len(failures),
        "queries": results,
    }
    with open(OUT_PATH, "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
    print(f"\nwrote {OUT_PATH}")
    print(f"{len(failures)} failures" if failures else "all green")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

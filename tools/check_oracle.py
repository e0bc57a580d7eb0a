"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
at sf0.01, compares row count, sorted column names, and an order-insensitive
multiset of row values. Exit code 1 on any mismatch.

Usage:  python tools/check_oracle.py [query ...]
        CHECK_SF_DIR=/root/testdata/sf0.1 python tools/check_oracle.py
        python tools/check_oracle.py --vanilla [query ...]
        python tools/check_oracle.py --json certification/oracle_full_<round>.json

``--json PATH`` additionally writes a machine-readable artifact in the
driver's CORRECTNESS row shape — ``{"_meta": {git_sha, git_dirty,
n_registered, sf_dir, ...}, "<query>": {rows_match, schema_match, hash_match,
spark_rows, oracle_rows, err}}`` — so every round ships a committed
full-registry equivalent of the driver's (frozen, 50-query) draw
(VERDICT r7 task 7). Rows-only queries get ``"rows_only": true`` with
null oracle fields, mirroring the driver's weaker check.

``--vanilla`` runs against a deliberately hostile SparkSession (default
confs, America/New_York session timezone, 8 cores) instead of the
engine's tuned session — replicating the driver, which builds ITS OWN
session. Every query must self-configure whatever it needs.

DuckDB oracle results are cached on disk (``.oracle_cache/``), keyed by
sha256(oracle SQL + resolved sf dir + parquet sizes/mtimes) — the oracle
side is pure (same SQL + same parquet = same result), and the quadratic
oracles (ER composite: 225M levenshtein + transitive closure) dominate
the sf0.1 gate's ~45-min wall. The SPARK side is never cached — it's the
thing under test. ``ORACLE_CACHE=0`` disables; the key self-invalidates
when the SQL text or the testdata changes.
"""

from __future__ import annotations

import hashlib
import math
import os
import pickle
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("CHECK_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

CACHE_DIR = os.path.join(REPO, ".oracle_cache")
CACHE_ON = os.environ.get("ORACLE_CACHE", "1") != "0"


def _data_fingerprint(sf_dir: str) -> str:
    """Identity of the oracle's input data: path + size + mtime of every
    table file. Cheap (10 stats) and invalidates on any testdata swap."""
    parts = [os.path.realpath(sf_dir)]
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        try:
            st = os.stat(p)
            parts.append(f"{t}:{st.st_size}:{st.st_mtime_ns}")
        except OSError:
            parts.append(f"{t}:missing")
    return "|".join(parts)


def _cache_key(sql: str, data_fp: str) -> str:
    return hashlib.sha256((sql + "\x00" + data_fp).encode()).hexdigest()[:24]


def cache_get(key: str):
    if not CACHE_ON:
        return None
    try:
        with open(os.path.join(CACHE_DIR, key + ".pkl"), "rb") as f:
            return pickle.load(f)
    except Exception:  # noqa: BLE001 — miss/corrupt = recompute
        return None


def cache_put(key: str, value) -> None:
    if not CACHE_ON:
        return
    os.makedirs(CACHE_DIR, exist_ok=True)
    tmp = os.path.join(CACHE_DIR, f".{key}.{os.getpid()}.tmp")
    with open(tmp, "wb") as f:
        pickle.dump(value, f)
    os.replace(tmp, os.path.join(CACHE_DIR, key + ".pkl"))


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return float(v)
    if isinstance(v, (int, str, bool)):
        return v
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    return str(v)


# spark simpleString -> compatible duckdb type names (lowercased)
TYPE_COMPAT = {
    "bigint": {"bigint", "hugeint", "int128"},
    "int": {"integer", "int", "int32"},
    "smallint": {"smallint"},
    "double": {"double", "float8"},
    "float": {"float", "real"},
    "string": {"varchar"},
    "boolean": {"boolean"},
    "date": {"date"},
    "timestamp": {"timestamp", "timestamp with time zone"},
    "timestamp_ntz": {"timestamp"},
}


def type_mismatches(sdf, dcols, dtype_names) -> list:
    """Columns whose Spark type has no compatible DuckDB counterpart —
    the driver compares schemas, so int-vs-bigint style drift is a
    latent FAIL even when values hash equal."""
    dtypes = {c.lower(): t.lower() for c, t in zip(dcols, dtype_names)}
    out = []
    for f in sdf.schema.fields:
        st = f.dataType.simpleString()
        dt = dtypes.get(f.name.lower())
        if dt is None:
            continue
        ok = TYPE_COMPAT.get(st)
        if ok is None:
            continue  # arrays/structs: value comparison covers them
        if dt not in ok:
            out.append((f.name, st, dt))
    return out


def frame_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=lambda t: tuple(repr(x) for x in t))


def main() -> int:
    import duckdb

    import __spark_entry__ as entrymod
    from gene_level_metadata_pipeline_spark.session import get_spark

    args = sys.argv[1:]
    vanilla = "--vanilla" in args
    json_path = None
    if "--json" in args:
        i = args.index("--json")
        json_path = args[i + 1]
        args = args[:i] + args[i + 2:]
    only = {a for a in args if a != "--vanilla"}
    if vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("check-oracle-vanilla")
            .config("spark.sql.session.timeZone", "America/New_York")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark("check-oracle")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    data_fp = _data_fingerprint(SF_DIR)
    failures = []
    report: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            report[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": None,
                "oracle_rows": None, "err": f"spark error: {e}"[:500],
            }
            continue
        if name not in oracles:
            print(f"ok?   {name}: rows-only check, {len(srows)} rows "
                  f"({time.time()-t0:.1f}s)")
            if len(srows) == 0:
                print(f"      WARNING: zero rows")
            report[name] = {
                "rows_match": len(srows) > 0, "schema_match": None,
                "hash_match": None, "spark_rows": len(srows),
                "oracle_rows": None, "err": None, "rows_only": True,
            }
            continue
        key = _cache_key(oracles[name], data_fp)
        cached = cache_get(key)
        if cached is not None:
            dcols, dtype_names, drows = cached
            hit = " [oracle cached]"
        else:
            try:
                rel = con.sql(oracles[name])
                dcols = rel.columns
                dtype_names = [str(t) for t in rel.types]
                drows = rel.fetchall()
            except Exception as e:  # noqa: BLE001
                failures.append(name)
                print(f"FAIL  {name}: duckdb error: {e}")
                report[name] = {
                    "rows_match": False, "schema_match": False,
                    "hash_match": False, "spark_rows": len(srows),
                    "oracle_rows": None, "err": f"duckdb error: {e}"[:500],
                }
                continue
            cache_put(key, (dcols, dtype_names, drows))
            hit = ""
        sc, sm = frame_to_multiset(scols, srows)
        dc, dm = frame_to_multiset(dcols, drows)
        status = []
        rows_match = len(srows) == len(drows)
        if not rows_match:
            status.append(f"rowcount {len(srows)} vs {len(drows)}")
        tmix = type_mismatches(sdf, dcols, dtype_names)
        if tmix:
            status.append(f"types {tmix}")
        schema_match = sc == dc and not tmix
        hash_match = schema_match and sm == dm
        if sc != dc:
            status.append(f"schema {sc} vs {dc}")
        elif sm != dm:
            diff = [(a, b) for a, b in zip(sm, dm) if a != b][:3]
            status.append(f"values differ, first diffs: {diff}")
        report[name] = {
            "rows_match": rows_match, "schema_match": schema_match,
            "hash_match": hash_match, "spark_rows": len(srows),
            "oracle_rows": len(drows), "err": None,
        }
        if status:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(status)}")
        else:
            print(f"PASS  {name}: {len(srows)} rows ({time.time()-t0:.1f}s){hit}")

    if json_path:
        import json as _json
        import subprocess

        def git(*args):
            try:
                return subprocess.run(
                    ["git", *args], capture_output=True, text=True,
                    cwd=REPO, check=True,
                ).stdout.strip()
            except Exception:  # noqa: BLE001
                return None

        sha = git("rev-parse", "HEAD")
        # the sha names the commit, not the tree that ran: flag a run
        # whose package or driver entry point differs from that commit
        changes = git(
            "status", "--porcelain", "--",
            "gene_level_metadata_pipeline_spark", "__spark_entry__.py",
        )
        dirty = None if changes is None else changes != ""
        # a rows-only entry counts as a pass only when it actually
        # produced rows — otherwise the artifact would overstate
        # passes relative to the console's zero-rows WARNING (ADVICE r8)
        n_pass = sum(
            1 for v in report.values()
            if v.get("hash_match")
            or (v.get("rows_only") and v.get("rows_match"))
        )
        out = {"_meta": {
            "git_sha": sha, "git_dirty": dirty,
            "n_registered": len(qs), "n_checked": len(report),
            "n_pass": n_pass, "n_fail": len(failures), "sf_dir": SF_DIR,
            "vanilla": vanilla,
        }}
        out.update(dict(sorted(report.items())))
        os.makedirs(os.path.dirname(os.path.abspath(json_path)), exist_ok=True)
        with open(json_path, "w") as f:
            _json.dump(out, f, indent=1)
        print(f"wrote {json_path} ({len(report)} queries)")

    print(f"\n{len(failures)} failures" if failures else "\nall green")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

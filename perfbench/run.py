#!/usr/bin/env python3
"""Gene-pipeline benchmark: one command per workload.

    python3 perfbench/run.py --workload annotation_lookup --seed 1 --seconds 10 --trace 0

Generates seeded inputs under ``perfbench/.work``, sets the workload up
on a fresh JVM (``setup_s``), runs its fixed number of warm-up passes,
then measures passes for at least ``--seconds`` and at least the
workload's minimum pass count, checking every pass's outputs. Earlier
stdout lines carry the settings, input sizes, load average and a
``report`` JSON; the last line is the result JSON: end-to-end metrics with
``--trace 0``, per-layer metrics (spans + Spark event log) with
``--trace 1``. See perfbench/DESIGN.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402

WORK = os.path.join(HERE, ".work")
EXPECTED = os.path.join(HERE, "expected.json")
DEFAULT_SEED = 1
SCALES = {"bench": gen.Scale(), "reference": gen.REFERENCE}
# driver heap per scale: the reference DepMap melt (19.8M cells) runs out of 2g
DRIVER_MEM = {"bench": "2g", "reference": "6g"}
HARD_CAP_S = 90     # measured phase stops here, so a run ends within 180 s
# Spark task slots: two of the machine's cores, leaving the rest to the
# driver JVM's own JIT and GC threads and the Python client; at the bench
# scale each source is one partition, so more slots add little parallelism
SPARK_CPUS = 2


def pin_env(trace: bool, driver_mem: str) -> dict:
    """Fix the knobs session.py reads and TZ before any JVM starts. The
    rest keeps scratch files inside the checkout: TMPDIR and
    java.io.tmpdir for PySpark's and Spark's temporary files, and
    -XX:-UsePerfData because HotSpot always writes its perf-counter file
    under /tmp. Event logging is switched on from outside the package, in
    the traced run only."""
    cpus = min(SPARK_CPUS, len(os.sched_getaffinity(0)))
    tmp = os.path.join(WORK, "tmp")
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TZ": "UTC",
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.pop("SPARK_GRAFT_NO_MASTER", None)
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    if trace:
        env["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true "
            "--conf spark.eventLog.compress=false "
            "--conf spark.eventLog.rolling.enabled=false "
            f"--conf spark.eventLog.dir=file://{os.path.join(WORK, 'eventlog')} "
            "pyspark-shell"
        )
    for d in (tmp, env["SPARK_LOCAL_DIRS"], os.path.join(WORK, "eventlog")):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    time.tzset()
    return env


def vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Ctx:
    """What a workload needs: paths, generated inputs, checks, tracer."""

    def __init__(self, seed, tracer, bronze, raw, spine_keys, expected):
        self.seed = seed
        self.tracer = tracer
        self.work = WORK
        self.bronze = bronze
        self.raw = raw
        self.spine_keys = spine_keys
        self.expected = expected
        self.probes: dict[str, str] = {}


def generate_inputs(workload: str, seed: int, scale: gen.Scale):
    t0 = time.perf_counter()
    tables = gen.generate(seed, scale)
    bronze = os.path.join(WORK, "bronze")
    if workload == "import_bronze":
        sizes = {}
        raw = gen.write_raw(tables, os.path.join(WORK, "raw"), seed, scale)
    else:
        sizes = gen.write_bronze(tables, bronze)
        raw = []
    gen_s = time.perf_counter() - t0
    hgnc = tables["hgnc"]
    spine_keys = {s for s in hgnc["symbol"].to_pylist() if s is not None}
    inputs = {
        "seed": seed, "gen_s": gen_s, "scale": vars(scale),
        "tables": {n: {"rows": t.num_rows, "cols": t.num_columns} | (
            {"bronze_bytes": sizes[n]} if sizes else {}) for n, t in tables.items()},
        "bronze_bytes": sum(sizes.values()),
        "raw": {r.name: {"reader": r.reader, "rows": r.rows, "bytes": r.bytes} for r in raw},
        "raw_bytes": sum({r.path: r.bytes for r in raw}.values()),
    }
    return inputs, bronze, raw, spine_keys


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["import_bronze", "annotation_lookup"])
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="bench",
                    help="input sizes: bench (the default) or reference (the sizes the "
                         "source pipeline documents; too slow for repeated runs)")
    ap.add_argument("--record", action="store_true",
                    help="write the default seed's digests to perfbench/expected.json "
                         "(annotation_lookup)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "gene_level_metadata_pipeline_spark")):
        print("perfbench: package gene_level_metadata_pipeline_spark not found next to "
              "perfbench/; run from a full checkout", file=sys.stderr)
        return 2

    for d in ("bronze", "raw", "import_out", "published", "eventlog", "tmp", "spark-local"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    env = pin_env(bool(args.trace), DRIVER_MEM[args.scale])
    print("settings " + json.dumps(
        {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE_PARTITIONS",
                             "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS", "TZ")}
        | {"loadavg_1m": os.getloadavg()[0], "workload": args.workload,
           "seed": args.seed, "seconds": args.seconds, "trace": args.trace}), flush=True)

    from perfbench.stats import percentile, stamp, stolen_share, summarize, unstolen_s

    run0 = stamp()
    inputs, bronze, raw, spine_keys = generate_inputs(
        args.workload, args.seed, SCALES[args.scale])
    print("inputs " + json.dumps(inputs), flush=True)

    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    expected = {}
    if (args.seed == DEFAULT_SEED and args.scale == "bench" and not args.record
            and os.path.exists(EXPECTED)):
        with open(EXPECTED) as f:
            expected = json.load(f)
    tracer = Tracer(bool(args.trace))
    ctx = Ctx(args.seed, tracer, bronze, raw, spine_keys, expected)
    wl = WORKLOADS[args.workload](ctx)

    # one set-up per run, on a fresh JVM, as a real import or tidy run
    # starts: each costs a JVM launch (~10 s) and 48 runs must fit in
    # 3420 s, so the median comes from the runs, not from within one
    t0 = stamp()
    with tracer.span("setup"):
        spark = wl.setup()
    t1 = stamp()
    setup_s, setup_wall_s = unstolen_s(t0, t1), t1[0] - t0[0]
    failed, attempted = wl.setup_failed, 1 + wl.setup_attempted

    t0 = time.perf_counter()
    with tracer.span("warm"):
        for _ in range(wl.warm):
            _, f, a = wl.run_pass(spark)
            failed += f
            attempted += a
    warm_s = time.perf_counter() - t0

    passes, walls, stolen, ops = [], [], [], []
    start = time.perf_counter()
    while True:
        t0 = stamp()
        with tracer.span("pass"):
            o, f, a = wl.run_pass(spark)
        t1 = stamp()
        passes.append(unstolen_s(t0, t1))
        walls.append(t1[0] - t0[0])
        stolen.append(stolen_share(t0, t1))
        ops += o
        failed += f
        attempted += a
        elapsed = time.perf_counter() - start
        if elapsed >= HARD_CAP_S or (elapsed >= args.seconds
                                     and len(passes) >= wl.min_passes):
            break

    proc = getattr(spark.sparkContext._gateway, "proc", None)
    rss_mb = (vm_hwm_kb("self") + (vm_hwm_kb(proc.pid) if proc else 0)) / 1024
    shutdown(spark)
    run1 = stamp()

    by_kind: dict[str, list] = {}
    for kind, s in ops:
        by_kind.setdefault(kind, []).append(s * 1000)
    # one "typical operation" figure over unlike operations (sources of
    # different sizes, three query shapes): the geometric mean of each
    # kind's median, so the mix cannot move it and every kind weighs alike
    kind_medians = [statistics.median(v) for v in by_kind.values()]
    latency = {
        "pass_s": statistics.median(passes),
        "op_ms_gmean": math.exp(statistics.fmean(math.log(m) for m in kind_medians)),
    }
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "setup_s": setup_s, "setup_wall_s": setup_wall_s,
        "publish_s": wl.publish_s, "warm_s": warm_s,
        "passes": passes, "pass_wall_s": walls, "pass_stolen_share": stolen,
        "latency": latency,
        "op_ms": summarize([s * 1000 for _, s in ops]),
        "op_ms_by_kind": {k: summarize(v) for k, v in sorted(by_kind.items())},
        "failed_ratio": {"value": failed / attempted, "failed": failed,
                         "attempted": attempted},
        "peak_rss_mb": rss_mb,
        "stolen_share": stolen_share(run0, run1),
    }
    if args.workload == "annotation_lookup":
        for kind, lat in by_kind.items():
            latency[f"{kind}_ms_p50"] = percentile(lat, 50)
            latency[f"{kind}_ms_p90"] = percentile(lat, 90)
    print("report " + json.dumps(report), flush=True)
    if not args.trace:
        with open(os.path.join(WORK, f"untraced_{args.workload}.json"), "w") as f:
            json.dump(report, f)

    if args.record:
        record_expected(args, wl, ctx)

    if args.trace:
        from perfbench.layers import per_layer_metrics

        metrics = per_layer_metrics(tracer, os.path.join(WORK, "eventlog"), args.workload,
                                    inputs, int(env["SPARK_GRAFT_CPUS"]), report, WORK)
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (latency["pass_s"], "s"),
            "op_ms_gmean": (latency["op_ms_gmean"], "ms"),
        }
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if failed == 0 else 1  # a wrong output fails the run


def record_expected(args, wl, ctx) -> None:
    """Store the default seed's table and probe-query digests."""
    import pyarrow.parquet as pq

    from perfbench.stats import table_digest

    data = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as f:
            data = json.load(f)
    data["seed"] = args.seed
    if args.workload == "annotation_lookup":
        data["tidy"] = {t: table_digest(pq.read_table(os.path.join(wl.silver, t)))["digest"]
                        for t in sorted(os.listdir(wl.silver)) if not t.startswith(".")}
        data["lookup"] = ctx.probes
    with open(EXPECTED, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"recorded digests in {EXPECTED}", flush=True)


if __name__ == "__main__":
    sys.exit(main())

"""Per-layer metrics of a traced run: spans + the Spark event log.

Every metric is tied to the span name it is read from and carries that
span's self time (its duration minus what its child spans cover). Times
under the measured phase are per pass (one pass = one full import,
or one lookup round); set-up metrics cover the run's one set-up, the
lookup's publish (sinks, gene_pipeline) included. Spark counters come from
the event log, folded onto spans through their job group.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

from perfbench.trace import COUNTERS, read_event_logs, self_times

# per-layer metrics printed in the final line: the ones both workloads in
# BENCHMARK.json exercise, so none of them reads a constant zero (the import has
# no shuffle; the lookup writes only while publishing in its set-up)
FINAL = {
    "session.get_spark_s": "s",
    "sinks.write_bronze_s": "s",
    "sinks.files_written": "count",
    "sinks.bytes_per_input_byte": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.input_bytes": "B",
    "spark.executor_run_s": "s",
    "spark.executor_busy_ratio": "ratio",
}
UNITS = {"bytes": "B", "_s": "s", "ratio": "ratio"}  # name part -> unit
OUTPUT_DIRS = {"import_bronze": "import_out", "annotation_lookup": "published"}


def _unit(name: str) -> str:
    parts = name.split(".")
    for suffix, unit in UNITS.items():
        if any(p.endswith(suffix) for p in parts):
            return unit
    return "count"


def per_layer_metrics(tracer, event_dir, workload, inputs, cpus, report, work):
    """Compute, print (``trace`` line) and return the final-line metrics."""
    spans = tracer.spans
    by_id = {s.span_id: s for s in spans}
    selfs = self_times(spans)

    def phase(s):
        while s.parent_id is not None:
            s = by_id[s.parent_id]
        return s.name

    def ancestors(s):
        while s.parent_id is not None:
            s = by_id[s.parent_id]
            yield s

    phases = {s.span_id: phase(s) for s in spans}
    n_pass = sum(s.name == "pass" for s in spans)
    n_setup = sum(s.name == "setup" for s in spans)
    counters = read_event_logs(event_dir)

    def per(ph, pred, n):
        picked = [s for s in spans if phases[s.span_id] == ph and pred(s)]
        return (sum(s.duration for s in picked) / n, sum(selfs[s.span_id] for s in picked) / n)

    def spark_of(picked, n):
        tot = dict.fromkeys(COUNTERS, 0.0)
        for s in picked:
            for k, v in counters.get(str(s.span_id), {}).items():
                tot[k] += v
        return {k: v / n for k, v in tot.items()}

    m: dict[str, tuple] = {}  # name -> (value, unit, span, self_s)

    def put(name, value, span, self_s=None):
        m[name] = (value, _unit(name) if name not in FINAL else FINAL[name], span, self_s)

    gs = [s for s in spans if s.name == "session.get_spark"]
    put("session.get_spark_s", statistics.median(s.duration for s in gs),
        "session.get_spark", statistics.median(selfs[s.span_id] for s in gs))

    if workload == "import_bronze":
        for reader in ("read_delim", "read_excel", "read_json_pages"):
            v, sv = per("pass", lambda s, r=reader: s.name == f"readers.{r}", n_pass)
            put(f"readers.{reader}_s", v, f"readers.{reader}", sv)
        put("readers.files", len(os.listdir(os.path.join(work, "raw"))), "source")
        put("readers.input_bytes", inputs["raw_bytes"], "source")

    # the lookup writes only in its publish (set-up phase)
    ph, n = ("setup", 1) if workload == "annotation_lookup" else ("pass", n_pass)
    v, sv = per(ph, lambda s: s.name == "sinks.write_bronze", n)
    put("sinks.write_bronze_s", v, "sinks.write_bronze", sv)
    files, nbytes = 0, 0
    out_dir = os.path.join(work, OUTPUT_DIRS[workload])
    for dirpath, _, names in os.walk(out_dir):
        for f in names:
            if f.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(dirpath, f))
    put("sinks.files_written", files, "sinks.write_bronze")
    in_bytes = inputs["raw_bytes"] if workload == "import_bronze" else inputs["bronze_bytes"]
    put("sinks.bytes_per_input_byte", nbytes / in_bytes, "sinks.write_bronze")

    if workload != "import_bronze":
        v, sv = per(ph, lambda s: s.name == "gene_pipeline.plan", n)
        put("gene_pipeline.plan_s", v, "gene_pipeline.plan", sv)
        exec_s = defaultdict(list)
        for s in spans:
            if s.name == "sinks.write_bronze" and phases[s.span_id] == ph:
                exec_s[s.attrs["table"]].append((s.duration, selfs[s.span_id]))
        for table, ds in sorted(exec_s.items()):
            put(f"gene_pipeline.{table}.exec_s", statistics.median(d for d, _ in ds),
                "sinks.write_bronze", statistics.median(x for _, x in ds))

    if workload == "annotation_lookup":
        for name in ("engine.read_parquet", "engine.put"):
            v, sv = per("setup", lambda s, nm=name: s.name == nm, n_setup)
            put(f"{name}_s", v, name, sv)
        for kind in ("point", "genelist", "scan"):
            queries = [s for s in spans if s.name == f"query.{kind}" and phases[s.span_id] == "pass"]
            for part in ("sql", "collect"):
                ps = [s for s in spans if s.name == f"engine.{part}.{kind}"
                      and phases[s.span_id] == "pass"]
                put(f"engine.{part}_s.{kind}", statistics.median(s.duration for s in ps),
                    f"engine.{part}.{kind}", statistics.median(selfs[s.span_id] for s in ps))
            under = [s for s in spans if phases[s.span_id] == "pass"
                     and (s.name == f"query.{kind}"
                          or any(a.name == f"query.{kind}" for a in ancestors(s)))]
            c = spark_of(under, len(queries))
            put(f"spark.jobs_per_query.{kind}", c["jobs"], f"query.{kind}")
            put(f"spark.tasks_per_query.{kind}", c["tasks"], f"query.{kind}")

    in_pass = [s for s in spans if phases[s.span_id] == "pass"]
    c = spark_of(in_pass, n_pass)
    for k, v in c.items():
        put(f"spark.{k}", v, "pass")
    pass_wall = sum(s.duration for s in spans if s.name == "pass")
    put("spark.executor_busy_ratio", c["executor_run_s"] * n_pass / (pass_wall * cpus), "pass")
    setup_c = spark_of([s for s in spans if phases[s.span_id] == "setup"], n_setup)

    self_by_name = defaultdict(float)
    for s in in_pass:
        self_by_name[s.name] += selfs[s.span_id] / n_pass

    trace = {
        "workload": workload,
        "scope": "per measured pass; set-up spans for the run's one set-up",
        "passes": n_pass, "setups": n_setup,
        "metrics": {k: {"value": v, "unit": u, "span": sp, "self_s": sf}
                    for k, (v, u, sp, sf) in m.items()},
        "setup_spark_per_setup": setup_c,
        "self_s_per_pass_by_span": dict(sorted(self_by_name.items())),
        "unattributed_spark": counters.get("", {}),
        "overhead": tracing_overhead(work, workload, report),
    }
    tracer.dump(os.path.join(work, f"spans_{workload}.jsonl"))
    print("trace " + json.dumps(trace), flush=True)
    return {k: (m[k][0], FINAL[k]) for k in FINAL}


def tracing_overhead(work, workload, report) -> dict:
    """Traced minus untraced timings, against the last untraced run of
    this workload in the same checkout (run.py saves its report)."""
    path = os.path.join(work, f"untraced_{workload}.json")
    if not os.path.exists(path):
        return {"note": "no untraced run of this workload recorded in this checkout yet"}
    with open(path) as f:
        base = json.load(f)
    out = {"untraced_seed": base["seed"], "traced_seed": report["seed"]}
    for k, v in report["latency"].items():
        if k in base["latency"]:
            out[k] = v - base["latency"][k]
    return out

"""The workloads, driven through the package's public functions.

* ``import_bronze``   — ``sources.sinks.ingest_sources`` over reader thunks
  (``read_delim`` / ``read_excel`` / ``read_json_pages``) into bronze Parquet.
* ``annotation_lookup`` — the tidy stage (10 tables from the builders in
  ``plans.gene_pipeline``, over pyarrow-written bronze inputs, each table
  written by ``write_bronze``) published once in set-up, then one
  closed-loop client sending a seeded point / genelist / scan mix through
  ``Engine.sql`` over the published tables.

Each workload exposes ``setup`` (session + warm-up, plus publishing for
the lookup) and ``run_pass`` (one unit of measured work that returns its
per-operation latencies and the number of failed operations, checks
included).
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from gene_level_metadata_pipeline_spark.engine import Engine
from gene_level_metadata_pipeline_spark.plans import gene_pipeline as gp
from gene_level_metadata_pipeline_spark.session import get_spark
from gene_level_metadata_pipeline_spark.sources import readers, sinks
from perfbench.stats import rows_digest, stamp, table_digest, unstolen_s

KEY = gp.KEY


# ---------------------------------------------------------------------------
# shared pieces
# ---------------------------------------------------------------------------


def start_session(tracer):
    """session.get_spark plus a warm-up action."""
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench")
    tracer.sc = spark.sparkContext
    with tracer.span("warmup"):
        spark.range(10_000).selectExpr("sum(id)").collect()
    return spark


def parquet_rows(path: str) -> int:
    """Row count of one Parquet dataset directory, from the footers."""
    return sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
               for f in os.listdir(path) if f.endswith(".parquet"))


class Workload:
    """What run.py drives: ``setup()`` returns a live session; each
    ``run_pass(spark)`` returns ([(kind, seconds)], failed, attempted).
    ``publish_s`` is the part of set-up spent publishing tables."""

    warm, min_passes = 0, 1
    publish_s = 0.0
    setup_failed = setup_attempted = 0

    def __init__(self, ctx):
        self.ctx = ctx

    def setup(self):
        return start_session(self.ctx.tracer)


# ---------------------------------------------------------------------------
# tidy: the table plan
# ---------------------------------------------------------------------------

def tidy_plan(spark, bronze: str):
    """[(table, builder thunk)] — the published tables: the spine, the
    ones the lookup serves (melt, joins, prefer-flagged conflicts), and
    a stand-in for each other operator family (both conflict modes,
    separate_rows). The other builders repeat these operators;
    publishing all 43 tables takes ~40 s, more than a run's budget
    leaves."""
    def r(name):
        return spark.read.parquet(os.path.join(bronze, name))

    genes = r("hgnc")
    spn = gp.gene_spine(genes)
    idmap = (
        gp.symbol_id_mappings(genes, spn, "mgd_id")
        .select(KEY, F.col("mgd_id").alias("mgi_id"))
        .where(F.col("mgi_id").isNotNull())
    )
    return [
        ("gene_spine", lambda: spn),
        ("gene_ids", lambda: gp.gene_ids(genes, spn)),
        ("gene_names", lambda: gp.gene_names(genes, spn)),
        ("prev_names", lambda: gp.prev_names(genes, spn)),
        ("viability_keep_unique",
         lambda: gp.viability(r("mouse_viability"), idmap, spn, "keep_unique")),
        ("viability_null_conflicts",
         lambda: gp.viability(r("mouse_viability"), idmap, spn, "null_conflicts")),
        ("string_ppi", lambda: gp.string_ppi(
            r("string_interactions"), genes, r("string_map"), spn)),
        ("omim_lethality", lambda: gp.omim_lethality(r("omim_lethal"), spn)),
        ("depmap_essentiality", lambda: gp.depmap_essentiality(r("gene_effect"), spn)),
        ("constraint_scores", lambda: gp.constraint_scores(r("gnomad"), r("mane"), spn)),
    ]


def tidy_once(spark, tracer, bronze: str, silver: str):
    """Build and write every table; returns [(table, seconds, ok)]."""
    out = []
    with tracer.span("gene_pipeline.plan", table="inputs"):
        plan = tidy_plan(spark, bronze)
    for table, build in plan:
        t0 = time.perf_counter()
        ok = True
        try:
            with tracer.span("gene_pipeline.plan", table=table):
                df = build()
            with tracer.span("sinks.write_bronze", table=table):
                sinks.write_bronze(df, silver, table)
        except Exception as e:  # noqa: BLE001 — a failed table is counted, not fatal
            print(f"FAILED table {table}: {type(e).__name__}: {e}", flush=True)
            ok = False
        out.append((table, time.perf_counter() - t0, ok))
    return out


def check_tidy(silver: str, tables: list[str], spine_keys: set,
               expected: dict | None) -> list[str]:
    """Per table: spine keyset exact, no duplicate rows, digest equal to
    the recorded default-seed digest."""
    bad = []
    for table in tables:
        t = pq.read_table(os.path.join(silver, table))
        d = table_digest(t)
        problems = []
        if set(t.column(KEY).to_pylist()) != spine_keys:
            problems.append("keyset")
        if d["duplicates"]:
            problems.append(f"{d['duplicates']} duplicate rows")
        if expected is not None and expected.get(table) != d["digest"]:
            problems.append(f"digest {d['digest']} != recorded {expected.get(table)}")
        if problems:
            bad.append(f"{table}: {', '.join(problems)}")
    return bad


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class ImportBronze(Workload):
    """The import stage: readers + the bronze writer, no operators."""

    name = "import_bronze"
    # the first pass on a fresh JVM is cold (~2x a warm one), so it is not
    # timed; the median of the three that follow drops one outlier
    warm, min_passes = 1, 3

    def __init__(self, ctx):
        super().__init__(ctx)
        self.out = os.path.join(ctx.work, "import_out")

    def _thunk(self, spark, src, marks):
        tracer = self.ctx.tracer

        def call():
            marks[src.name] = [stamp()]
            tracer.open("source", source=src.name)
            with tracer.span(f"readers.{src.reader}", source=src.name):
                if src.reader == "read_json_pages":
                    df = readers.read_json_pages(spark, src.path.split(","), **src.kwargs)
                else:
                    df = getattr(readers, src.reader)(spark, src.path, **src.kwargs)
            tracer.open("sinks.write_bronze", source=src.name)
            return df
        return call

    def run_pass(self, spark):
        tracer, marks = self.ctx.tracer, {}
        depth = tracer.depth()

        def log(msg):
            if msg.startswith(("ingested ", "FAILED ")):
                name = msg.split(" ", 1)[1].split(":", 1)[0]
                marks[name].append(stamp())
                while tracer.depth() > depth:
                    tracer.close()

        thunks = {s.name: self._thunk(spark, s, marks) for s in self.ctx.raw}
        errors = sinks.ingest_sources(thunks, self.out, log=log)
        ops, failed = [], len(errors)
        for s in self.ctx.raw:
            m = marks.get(s.name, [])
            if len(m) == 2:
                ops.append((s.name, unstolen_s(m[0], m[1])))
            if s.name in errors:
                continue
            rows = parquet_rows(os.path.join(self.out, s.name))
            if rows != s.rows:
                print(f"MISMATCH {s.name}: {rows} bronze rows, generator wrote {s.rows}",
                      flush=True)
                failed += 1
        return ops, failed, len(self.ctx.raw)


QUERY_TYPES = ("point", "genelist", "scan")
SCORE_CUTS = (0.75, 0.8, 0.85, 0.9, 0.95)
# the tables the queries read; only these are read back and registered
SERVED = ("gene_ids", "gene_names", "depmap_essentiality", "constraint_scores",
          "omim_lethality", "string_ppi")


def point_sql(symbol: str) -> str:
    """Every served annotation of one symbol."""
    return f"""
SELECT i.{KEY}, i.hgnc_id, i.entrez_id, i.ensembl_gene_id, n.gene_name,
       d.percentage_essential, d.mean_score_all, c.LOEUF,
       o.earliest_lethality_category, count(p.Interaction_string_id) AS ppi_partners
FROM gene_ids i
LEFT JOIN gene_names n ON n.{KEY} = i.{KEY}
LEFT JOIN depmap_essentiality d ON d.{KEY} = i.{KEY}
LEFT JOIN constraint_scores c ON c.{KEY} = i.{KEY}
LEFT JOIN omim_lethality o ON o.{KEY} = i.{KEY}
LEFT JOIN string_ppi p ON p.{KEY} = i.{KEY}
WHERE i.{KEY} = '{symbol}'
GROUP BY ALL"""


def genelist_sql(symbols: list[str]) -> str:
    """A screen-hit list joined to the score tables, aggregated by OMIM
    lethality category."""
    inlist = ", ".join(f"'{s}'" for s in symbols)
    return f"""
WITH ppi AS (SELECT {KEY}, count(Interaction_string_id) AS partners
             FROM string_ppi WHERE {KEY} IN ({inlist}) GROUP BY {KEY})
SELECT coalesce(o.earliest_lethality_category, 'none') AS category,
       count(*) AS genes,
       round(avg(d.percentage_essential), 3) AS mean_pct_essential,
       round(avg(c.LOEUF), 3) AS mean_loeuf,
       sum(p.partners) AS ppi_partners
FROM gene_ids h
LEFT JOIN depmap_essentiality d ON d.{KEY} = h.{KEY}
LEFT JOIN constraint_scores c ON c.{KEY} = h.{KEY}
LEFT JOIN omim_lethality o ON o.{KEY} = h.{KEY}
LEFT JOIN ppi p ON p.{KEY} = h.{KEY}
WHERE h.{KEY} IN ({inlist})
GROUP BY 1"""


def scan_sql(cut: float) -> str:
    """Whole-table aggregate across the spine: the PPI degree distribution
    at one score cut-off."""
    return f"""
SELECT least(partners, 20) AS degree, count(*) AS genes
FROM (SELECT {KEY}, count_if(combined_score >= {cut}) AS partners
      FROM string_ppi GROUP BY {KEY})
GROUP BY 1"""


class QueryMix:
    """Seeded closed-loop query stream: rounds of one query of each type,
    in a shuffled order; point symbols Zipf-skewed over the spine."""

    def __init__(self, seed: int, spine: list[str], zipf_s: float = 1.1,
                 list_size: int = 200):
        self.rng = np.random.default_rng([seed, 7])
        self.spine = sorted(spine)
        ranks = self.rng.permutation(len(self.spine))
        w = 1.0 / (ranks + 1.0) ** zipf_s
        self.p = w / w.sum()
        self.list_size = min(list_size, len(self.spine))

    def round(self) -> list[tuple[str, str]]:
        qs = []
        for kind in self.rng.permutation(QUERY_TYPES):
            if kind == "point":
                sym = self.spine[self.rng.choice(len(self.spine), p=self.p)]
                qs.append((kind, point_sql(sym)))
            elif kind == "genelist":
                idx = self.rng.choice(len(self.spine), self.list_size, replace=False)
                qs.append((kind, genelist_sql([self.spine[i] for i in sorted(idx)])))
            else:
                qs.append((kind, scan_sql(SCORE_CUTS[self.rng.integers(len(SCORE_CUTS))])))
        return qs


class AnnotationLookup(Workload):
    """The serving path: the tidy published once, the served tables
    read back and registered, then one closed-loop client over Engine.sql.
    A pass is one round: one query of each type."""

    name = "annotation_lookup"
    # round times fall for ~5 rounds after the publish while the JIT
    # compiles the query path, then hold steady; warm-up is a fixed round
    # count (JIT warm-up follows work done, not time)
    warm, min_passes = 6, 10
    PROBES = 18  # leading queries whose answers are recorded for the default seed

    def __init__(self, ctx):
        super().__init__(ctx)
        self.silver = os.path.join(ctx.work, "published")
        self.mix = QueryMix(ctx.seed, sorted(ctx.spine_keys))
        self.answers: dict[str, str] = {}
        self.n_queries = 0

    def setup(self):
        """Session + warm-up, the tidy plan's tables published (written),
        then the served tables read back and registered."""
        tracer = self.ctx.tracer
        spark = start_session(tracer)
        t0 = time.perf_counter()
        with tracer.span("publish"):
            res = tidy_once(spark, tracer, self.ctx.bronze, self.silver)
        self.publish_s = time.perf_counter() - t0
        published = [t for t, _, ok in res if ok]
        bad = check_tidy(self.silver, published, self.ctx.spine_keys,
                         self.ctx.expected.get("tidy"))
        for b in bad:
            print(f"MISMATCH published {b}", flush=True)
        self.setup_failed = len(res) - len(published) + len(bad)
        self.setup_attempted = len(res)
        self.eng = Engine(spark)
        for table in [t for t in published if t in SERVED]:
            with tracer.span("engine.read_parquet", table=table):
                df = self.eng.read_parquet(os.path.join(self.silver, table))
            with tracer.span("engine.put", table=table):
                self.eng.put(table, df)
        return spark

    def run_pass(self, spark):
        tracer, eng = self.ctx.tracer, self.eng
        expected = self.ctx.expected.get("lookup")
        ops, failed = [], 0
        for kind, sql in self.mix.round():
            t0 = stamp()
            try:
                with tracer.span(f"query.{kind}"):
                    with tracer.span(f"engine.sql.{kind}"):
                        df = eng.sql(sql)
                    with tracer.span(f"engine.collect.{kind}"):
                        rows = df.collect()
            except Exception as e:  # noqa: BLE001 — a failed query is counted
                print(f"FAILED query {kind}: {type(e).__name__}: {e}", flush=True)
                failed += 1
                continue
            ops.append((kind, unstolen_s(t0, stamp())))
            digest = rows_digest(rows)
            problems = []
            if not rows:
                problems.append("empty answer")
            if self.answers.setdefault(sql, digest) != digest:
                problems.append("answer changed between repeats")
            probe = str(self.n_queries)
            if expected is not None and self.n_queries < self.PROBES \
                    and expected.get(probe) != digest:
                problems.append(f"probe {probe} digest {digest} != recorded {expected.get(probe)}")
            if self.n_queries < self.PROBES:
                self.ctx.probes[probe] = digest
            if problems:
                print(f"MISMATCH query {self.n_queries} ({kind}): {', '.join(problems)}",
                      flush=True)
                failed += 1
            self.n_queries += 1
        return ops, failed, len(QUERY_TYPES)


WORKLOADS = {w.name: w for w in (ImportBronze, AnnotationLookup)}

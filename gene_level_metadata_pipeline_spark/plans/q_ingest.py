"""Ingestion-reader certifications (S2-S11) against literal VALUES oracles.

Split from the original single-module registry (plans/driver_queries.py,
which remains the facade); importing this module registers its queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gene_level_metadata_pipeline_spark.plans.registry import _register

# ---------------------------------------------------------------------------
# Phase 5 — ingestion readers, certified against literal VALUES oracles
# (the driver's parquet views can't exercise these file shapes; see
# plans/fixtures.py)
# ---------------------------------------------------------------------------

@_register(
    "read_delim_skip",
    oracle="""
    SELECT * FROM (VALUES
      ('g1', CAST(1.5 AS DOUBLE), 'y'),
      ('g2', CAST(2.0 AS DOUBLE), 'n'),
      ('g3', CAST(NULL AS DOUBLE), 'y')
    ) AS t(gene, score, flag)
    """,
)
def q_read_delim_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 skip-N banner lines before the header (I:167-181; Spark CSV has
    no skipRows — engine reads text, drops N file-order rows, re-parses)."""
    from gene_level_metadata_pipeline_spark.plans.fixtures import fixture_dir
    from gene_level_metadata_pipeline_spark.sources.readers import read_delim

    return read_delim(spark, f"{fixture_dir()}/skip.tsv", sep="\t", skip=2)


@_register(
    "read_whitespace_table",
    oracle="""
    SELECT * FROM (VALUES
      ('g1', 'ENST01', CAST(0.01 AS DOUBLE)),
      ('g2', 'ENST02', CAST(0.99 AS DOUBLE))
    ) AS t(gene, transcript, pli)
    """,
)
def q_read_whitespace_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: R ``read.table`` default separator — ANY run of whitespace
    (IW:19, gnomAD constraint metrics). ``read_delim(sep=None)`` collapses
    whitespace runs to tabs with one Catalyst regexp_replace and hands the
    result to the CSV parser; blank lines drop, header + inference behave
    like the single-char path."""
    from gene_level_metadata_pipeline_spark.plans.fixtures import fixture_dir
    from gene_level_metadata_pipeline_spark.sources.readers import read_delim

    return read_delim(spark, f"{fixture_dir()}/whitespace.txt", sep=None)


@_register(
    "scan_file_provenance",
    oracle="""
    SELECT * FROM (VALUES
      ('batch_a.parquet', CAST(2 AS BIGINT), CAST(1 AS BIGINT), CAST(2 AS BIGINT)),
      ('batch_b.parquet', CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(3 AS BIGINT))
    ) AS t(src_file, n, k_min, k_max)
    """,
)
def q_scan_file_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden file-metadata columns (Spark 3.3+ ``_metadata``): per-row
    source-file provenance straight from the scan — the distributed form
    of the reference's per-source bookkeeping (error reports keyed by
    source file, I:248-253). Zero cost when unselected; here grouped to
    per-file row counts + key ranges. The fixture writes stable file
    names (Spark's own part-file names are uuid-suffixed, so provenance
    fixtures must control naming)."""
    from gene_level_metadata_pipeline_spark.plans.fixtures import fixture_dir

    df = spark.read.parquet(f"{fixture_dir()}/prov")
    return (
        df.select(F.col("_metadata.file_name").alias("src_file"), "k")
        .groupBy("src_file")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


@_register(
    "read_multiline_quoted",
    oracle="""
    SELECT * FROM (VALUES
      (1, 'line one' || chr(10) || 'line two', CAST(3.5 AS DOUBLE)),
      (2, 'has "quotes" and, commas', CAST(4.0 AS DOUBLE))
    ) AS t(id, note, score)
    """,
)
def q_read_multiline_quoted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC-4180 quoted CSV fields with embedded newlines and "" escapes —
    R's readers handle these silently, Spark needs multiLine + quote
    escape (read_delim(multiline=True)). The embedded-newline value in
    the oracle proves the record boundary survived; the scale caveat
    (multiLine files are unsplittable: one file = one task) is
    documented at the reader."""
    from gene_level_metadata_pipeline_spark.plans.fixtures import fixture_dir
    from gene_level_metadata_pipeline_spark.sources.readers import read_delim

    return read_delim(
        spark, f"{fixture_dir()}/multiline.csv", sep=",", multiline=True
    )


@_register(
    "read_headerless_positional",
    oracle="SELECT * FROM (VALUES ('x', 'a'), ('y', 'b'), ('z', 'c')) AS t(V3, V1)",
)
def q_read_headerless_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 headerless scan with R's V1..Vn naming + P3 positional consumption
    — fread(header=FALSE) then select(V7, V5) (I:117-120, T:251-253)."""
    from gene_level_metadata_pipeline_spark.plans.fixtures import fixture_dir
    from gene_level_metadata_pipeline_spark.sources.readers import read_delim

    df = read_delim(spark, f"{fixture_dir()}/headerless.csv", sep=",", header=False)
    return df.select("V3", "V1")


@_register(
    "read_zip_tsv",
    oracle="""
    SELECT * FROM (VALUES
      ('k1', CAST(10 AS INTEGER)), ('k2', CAST(20 AS INTEGER))
    ) AS t(id, val)
    """,
)
def q_read_zip_tsv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 TSV-inside-zip — readr::read_tsv('*.zip') transparently unzips
    (IW:22-23); no Spark zip codec, engine extracts to staging first."""
    from gene_level_metadata_pipeline_spark.plans.fixtures import fixture_dir
    from gene_level_metadata_pipeline_spark.sources.readers import read_delim

    return read_delim(spark, f"{fixture_dir()}/fixture.zip", sep="\t")


@_register(
    "fix_shifted_header",
    oracle="""
    SELECT * FROM (VALUES
      ('g1', CAST(1.5 AS DOUBLE)), ('g2', CAST(2.5 AS DOUBLE))
    ) AS t(gene, score)
    """,
)
def q_fix_shifted_header(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 header-shift repair — drop first header name, shift left, drop
    the orphaned last column (T:504-508)."""
    from gene_level_metadata_pipeline_spark.operators.headers import fix_shifted_header
    from gene_level_metadata_pipeline_spark.plans.fixtures import fixture_dir
    from gene_level_metadata_pipeline_spark.sources.readers import read_delim

    df = read_delim(spark, f"{fixture_dir()}/shifted.tsv", sep="\t")
    return fix_shifted_header(df)


@_register(
    "promote_first_row_header",
    oracle="SELECT * FROM (VALUES ('g1', '1.5'), ('g2', '2.0')) AS t(gene, score)",
)
def q_promote_first_row_header(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7+O4 promote first file-order row to header, then slice(-1)
    (TM:107-109) — needs the single-file __row_id discipline."""
    from gene_level_metadata_pipeline_spark.operators.headers import (
        promote_first_row_to_header,
    )
    from gene_level_metadata_pipeline_spark.plans.fixtures import fixture_dir
    from gene_level_metadata_pipeline_spark.sources.readers import read_delim

    df = read_delim(
        spark, f"{fixture_dir()}/promote.csv", sep=",", header=False,
        infer_schema=False,
    )
    return promote_first_row_to_header(df)


@_register(
    "read_json_pages_kv",
    oracle="""
    SELECT * FROM (VALUES
      ('gene_symbol', 'g1'), ('panel.id', '1'), ('panel.name', 'p1'),
      ('gene_symbol', 'g2'), ('panel.id', '2'), ('panel.name', 'p2')
    ) AS t(name, value)
    """,
)
def q_read_json_pages_kv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 paginated JSON → flattened (name, value) long records with dotted
    paths — enframe(unlist(fromJSON(page))) (I:211-218), record id carried
    for the downstream R3 pivot."""
    from gene_level_metadata_pipeline_spark.plans.fixtures import fixture_dir
    from gene_level_metadata_pipeline_spark.sources.readers import read_json_pages

    d = fixture_dir()
    kv = read_json_pages(
        spark, [f"{d}/pages/page1.json", f"{d}/pages/page2.json"],
        flatten_kv=True,
    )
    return kv.select("name", "value")




@_register(
    "read_binary_assets",
    oracle="""
    SELECT * FROM (VALUES
      ('img_a.bin', 'image/fake', CAST(16 AS BIGINT),
       '1ac1ef01e96caf1be0d329331a4fc2a8'),
      ('img_b.bin', 'image/fake', CAST(40 AS BIGINT),
       'c64233f7fa614bbed44c41037d115209')
    ) AS t(asset_id, modality, n_bytes, payload_md5)
    """,
)
def q_read_binary_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw media ingestion (sources/readers.read_binary_assets, native
    binaryFile source): one row per asset file, glob-filtered at the
    LISTING level (the .txt decoy is never opened), payload carried as
    an opaque binary column in the multimodal contract. The oracle pins
    basename, modality, byte length, and payload md5."""
    from gene_level_metadata_pipeline_spark.plans.fixtures import fixture_dir
    from gene_level_metadata_pipeline_spark.sources.readers import (
        read_binary_assets,
    )

    assets = read_binary_assets(
        spark, f"{fixture_dir()}/assets", glob="*.bin", modality="image/fake"
    )
    return assets.select(
        "asset_id",
        F.col("meta.modality").alias("modality"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.md5("payload").alias("payload_md5"),
    )

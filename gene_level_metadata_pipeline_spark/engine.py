"""The session + catalog front door: read sources, register tables, query.

A user of the reference pipeline works in three moves — fetch/read messy
sources, tidy them, left-join everything onto the gene spine
(SURVEY.md §3). ``Engine`` holds the state those moves share, one
SparkSession and one Catalog, and exposes the calls that need it: the
``read_*`` source readers, ``put``/``get`` on the catalog and ``sql``
over it. The operators are plain functions of DataFrames; import them
from ``operators.*`` directly:

    from gene_level_metadata_pipeline_spark.operators.harmonize import (
        harmonize, spine,
    )
    from gene_level_metadata_pipeline_spark.operators.reshape import (
        separate_rows,
    )

    eng = Engine.local()
    genes = eng.read_delim("hgnc.txt", sep="\\t")
    eng.put("genes", genes)
    spn = spine(genes, "symbol")
    prev = harmonize(spn, separate_rows(genes, "prev_symbol", r"\\|"), "symbol")
    eng.sql("SELECT * FROM genes WHERE ...")
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gene_level_metadata_pipeline_spark.plans.catalog import Catalog
from gene_level_metadata_pipeline_spark.sources import readers

__all__ = ["Engine"]


class Engine:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.catalog = Catalog(spark)

    @classmethod
    def local(cls) -> "Engine":
        from gene_level_metadata_pipeline_spark.session import get_spark

        return cls(get_spark("gene-engine"))

    # -- catalog / SQL ----------------------------------------------------
    def put(self, name: str, df: DataFrame) -> DataFrame:
        return self.catalog.put(name, df)

    def get(self, name: str) -> DataFrame:
        return self.catalog.get(name)

    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    # -- ingestion (SURVEY §2.1) ------------------------------------------
    def read_delim(self, path: str, **kw) -> DataFrame:
        return readers.read_delim(self.spark, path, **kw)

    def read_excel(self, path: str, **kw) -> DataFrame:
        return readers.read_excel(self.spark, path, **kw)

    def read_json_pages(self, path: str, **kw) -> DataFrame:
        return readers.read_json_pages(self.spark, path, **kw)

    def read_xml(self, path: str, row_tag: str) -> DataFrame:
        return readers.read_xml(self.spark, path, row_tag)

    def read_binary_assets(self, path: str, **kw) -> DataFrame:
        return readers.read_binary_assets(self.spark, path, **kw)

    def read_parquet(self, path: str) -> DataFrame:
        return self.spark.read.parquet(path)

"""Named-table catalog replacing the reference's R global environment.

The reference passes data between scripts through implicit globals
(``gene_effect`` set at ``scripts/import/temp-import-all-web-files.R:7`` and
consumed at ``scripts/tidy/temp-tidy-all-web-files.R:12`` — SURVEY.md §1.1).
The engine makes that coupling explicit: a catalog of named DataFrames, each
also registered as a Spark temp view so SQL and DataFrame code share one
namespace.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

__all__ = ["Catalog"]


class Catalog:
    """Dict-like registry of named DataFrames mirrored as temp views."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._tables: dict[str, DataFrame] = {}

    def put(self, name: str, df: DataFrame) -> DataFrame:
        df.createOrReplaceTempView(name)
        self._tables[name] = df
        return df

    def get(self, name: str) -> DataFrame:
        return self._tables[name]

    def __contains__(self, name: str) -> bool:
        return name in self._tables

    def names(self) -> list[str]:
        return sorted(self._tables)

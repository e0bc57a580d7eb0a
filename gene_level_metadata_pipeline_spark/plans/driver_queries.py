"""Driver-facing query registry — facade.

Every implemented SURVEY.md §2 operator as a named (spark, sf_dir) ->
DataFrame callable plus a DuckDB oracle SQL string, split into per-family
modules (q_core / q_tpch / q_ingest / q_streaming / q_dedup_text /
q_temporal / q_breadth / q_windows_misc / q_modern). Importing this module
imports them all, which registers every query; its public surface is
QUERIES and ORACLE (the helpers live in ``plans.registry``).

Driver contract conventions (see __spark_entry__.py):
  * every computed column is aliased identically in the Spark plan and the
    oracle SQL — the driver sorts columns by name before value-hashing;
  * doubles that pass through aggregation are rounded to a fixed scale in
    BOTH engines so the resulting IEEE doubles are bit-identical;
  * timestamps are cast to DATE or truncated+cast to string before output.
"""

from __future__ import annotations

from gene_level_metadata_pipeline_spark.plans.registry import (  # noqa: F401
    ORACLE,
    QUERIES,
)

# importing each family module registers its queries (order preserved)
from gene_level_metadata_pipeline_spark.plans.q_core import *  # noqa: F401,F403
from gene_level_metadata_pipeline_spark.plans.q_tpch import *  # noqa: F401,F403
from gene_level_metadata_pipeline_spark.plans.q_ingest import *  # noqa: F401,F403
from gene_level_metadata_pipeline_spark.plans.q_streaming import *  # noqa: F401,F403
from gene_level_metadata_pipeline_spark.plans.q_dedup_text import *  # noqa: F401,F403
from gene_level_metadata_pipeline_spark.plans.q_temporal import *  # noqa: F401,F403
from gene_level_metadata_pipeline_spark.plans.q_breadth import *  # noqa: F401,F403
from gene_level_metadata_pipeline_spark.plans.q_windows_misc import *  # noqa: F401,F403
from gene_level_metadata_pipeline_spark.plans.q_modern import *  # noqa: F401,F403

"""Sinks & the per-source ingest driver (SURVEY.md §2.2 K1–K4, §2.13 E1).

The reference's import stage is 16 ``tryCatch { fetch → write_parquet }``
blocks with an error log (I:23, I:28-33, I:248-253). The engine's
equivalent: a bronze-zone writer plus an ingest loop that isolates
per-source failures and reports at the end — one bad source never kills
the run.

Scale: the bronze zone is partitioned by source name (directory layout) so
a 100 TB raw zone prunes to the sources a tidy job touches; within a
source, callers can pass ``partition_by`` (e.g. release date) for further
pruning.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

__all__ = ["write_bronze", "ingest_sources", "write_compacted"]


def write_bronze(
    df: DataFrame,
    root: str,
    source: str,
    partition_by: list[str] | None = None,
) -> str:
    """K1: one Parquet dataset per source under ``root/source`` (I:30 ×16),
    replaced on every write."""
    path = f"{root.rstrip('/')}/{source}"
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return path


def ingest_sources(
    sources: dict[str, Callable[[], DataFrame]],
    root: str,
    log: Callable[[str], None] = print,
) -> dict[str, str]:
    """E1: run every source's fetch+load thunk, writing bronze Parquet;
    collect errors instead of failing the run (I:28-33 pattern, summary
    I:248-253). Returns ``{source: error_message}`` for failed sources —
    empty dict means a clean run."""
    errors: dict[str, str] = {}
    for name, thunk in sources.items():
        try:
            write_bronze(thunk(), root, name)
            log(f"ingested {name}")
        except Exception as e:  # noqa: BLE001 — isolation is the point
            errors[name] = f"{type(e).__name__}: {e}"
            log(f"FAILED {name}: {errors[name]}")
    if errors:
        log(f"{len(errors)} of {len(sources)} sources failed: {sorted(errors)}")
    else:
        log(f"all {len(sources)} sources ingested")
    return errors


def write_compacted(
    df: DataFrame,
    path: str,
    target_rows_per_file: int,
    exact: bool = False,
) -> int:
    """Write parquet with bounded file sizes — the small-files mitigation.

    A 100 TB bronze zone dies by a thousand 2 KB files (every streaming
    micro-batch and every over-partitioned write contributes); compaction
    keeps file counts proportional to data volume. Two strategies:

    * default: ``maxRecordsPerFile`` caps rows per file with NO extra
      shuffle (each task splits its own output) — cheap, but file count
      still scales with task count;
    * ``exact=True``: count + repartition to ``ceil(n/target)`` before
      writing — one shuffle, balanced files, the right choice for final
      published tables.

    Returns the number of files written.
    """
    import math
    import os

    if exact:
        n = df.count()
        parts = max(1, math.ceil(n / target_rows_per_file))
        df.repartition(parts).write.mode("overwrite").parquet(path)
    else:
        (
            df.write.option("maxRecordsPerFile", target_rows_per_file)
            .mode("overwrite")
            .parquet(path)
        )
    return len([f for f in os.listdir(path) if f.endswith(".parquet")])

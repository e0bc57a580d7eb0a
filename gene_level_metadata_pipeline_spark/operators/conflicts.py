"""Duplicate-conflict resolution operators (SURVEY.md §2.7 A2–A5).

The reference resolves one-to-many mapping conflicts four different ways,
each with a count-then-join idiom; the engine implements all four as a
single window pass (``Window.partitionBy(key)`` + ``count``) — no second
scan, no self-join, map-side after one shuffle on ``key``.

Reference sites:
  * A2 keep_unique   — ``scripts/tidy/temp-tidy-all-api-ftp-files.R:213-219``
    (IMPC viability: drop every row of a key that maps ambiguously)
  * A3 null_conflicts — ``…:273-277`` (MGI viability: keep the key, null
    every non-key column for ambiguous keys, re-distinct)
  * A4 (drop duplicated keys) — ``scripts/tidy/temp-tidy-all-manuscript-files.R:46-47``
    and ``:74-76``: the same rows as A2, so ``keep_unique`` serves it
    (the anti-join against the reference's audited dup list is folded
    into its single window pass)
  * A5 prefer_flagged — ``scripts/tidy/temp-tidy-all-web-files.R:158-166``
    (groups of size 1 kept as-is; larger groups keep only rows where a flag
    column equals the preferred value)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["keep_unique", "null_conflicts", "prefer_flagged", "golden_record"]


def _group_count(key: str | list[str]) -> Column:
    keys = [key] if isinstance(key, str) else list(key)
    return F.count(F.lit(1)).over(Window.partitionBy(*keys))


def keep_unique(df: DataFrame, key: str | list[str]) -> DataFrame:
    """Keep only rows whose ``key`` occurs exactly once (A2).

    Equivalent to the reference's ``count(key) %>% filter(n == 1)`` +
    semi-join (``T:213-219``) in one window pass.
    """
    return (
        df.withColumn("__n", _group_count(key))
        .where(F.col("__n") == 1)
        .drop("__n")
    )


def null_conflicts(df: DataFrame, key: str | list[str]) -> DataFrame:
    """Null every non-key column for ambiguous keys, then dedupe (A3).

    Mirrors ``T:273-277``: the key itself survives (one row), but all its
    payload is NULL wherever the source mapped it to >1 distinct row.
    """
    keys = [key] if isinstance(key, str) else list(key)
    n = _group_count(keys)
    cols = [
        F.when(n > 1, F.lit(None)).otherwise(F.col(c)).alias(c)
        if c not in keys
        else F.col(c)
        for c in df.columns
    ]
    return df.select(*cols).dropDuplicates()


def prefer_flagged(
    df: DataFrame, key: str | list[str], flag_col: str, flag_value
) -> DataFrame:
    """Groups of size 1 pass; larger groups keep only flagged rows (A5).

    Mirrors ``TW:158-166`` (prefer ``gnomad_mane_select == "true"``) as a
    single predicate — ``n == 1 OR flag == value`` — instead of the
    reference's split/union.
    """
    return (
        df.withColumn("__n", _group_count(key))
        .where((F.col("__n") == 1) | (F.col(flag_col) == F.lit(flag_value)))
        .drop("__n")
    )


def golden_record(
    df: DataFrame,
    key: str | list[str],
    rules: dict[str, str],
) -> DataFrame:
    """Survivorship: merge each duplicate cluster into ONE golden record,
    attribute by attribute — the master-data-management step after
    entity resolution (cluster ids from ``canonicalize_duplicates`` /
    ``entity_resolution_pipeline`` or any blocking key).

    ``rules`` maps column -> one of:

    * ``"min"`` / ``"max"`` — extreme value (ids, timestamps, sizes);
    * ``"mode"`` — most frequent NON-NULL value, ties broken on the
      smaller value: deterministic, engine-independent (plain mode()
      is tie-ambiguous across engines). All-NULL clusters yield NULL.

    Always emits ``n_members`` (cluster size). Plan shape: min/max ride
    ONE aggregation on the cluster key; each mode column adds a
    (key, value) count and an argmax fold — the argmax is
    ``min(struct(-count, value))``, a single aggregate, no window, and
    its input is the already-collapsed (key, value) table (vocabulary-
    sized, not row-sized). All aggregations share the cluster-key hash
    partitioning, so a wide rule set widens the plan, not the shuffle
    count on the fact table.
    """
    keys = [key] if isinstance(key, str) else list(key)
    aggs = [F.count(F.lit(1)).alias("n_members")]
    mode_cols = []
    for col, rule in rules.items():
        if rule == "min":
            aggs.append(F.min(col).alias(col))
        elif rule == "max":
            aggs.append(F.max(col).alias(col))
        elif rule == "mode":
            mode_cols.append(col)
        else:
            raise ValueError(f"golden_record: unknown rule {rule!r} for {col}")
    out = df.groupBy(*keys).agg(*aggs)
    for col in mode_cols:
        counted = (
            df.where(F.col(col).isNotNull())
            .groupBy(*keys, col)
            .agg(F.count(F.lit(1)).alias("__n"))
        )
        picked = (
            counted.groupBy(*keys)
            .agg(
                F.min(
                    F.struct((-F.col("__n")).alias("nc"), F.col(col).alias("v"))
                )["v"].alias(col)
            )
        )
        out = out.join(picked, keys, "left")
    return out

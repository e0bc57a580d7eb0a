"""The spine/harmonize pattern — the reference's signature operator.

Reference semantics (cited into /root/reference/):
  * ``utils/hgnc_symbol_template_func.R:3-10`` — ``spine``: from the master
    gene table take the key column, drop NULLs, dedupe. The result is the
    canonical ~20k-row dimension every annotation table is keyed by.
  * The J1 pattern (SURVEY.md §2.5) — ``hgnc_symbol_template_func() %>%
    left_join(x) %>% distinct()`` at ~25 call sites, e.g.
    ``scripts/tidy/temp-tidy-all-api-ftp-files.R:19-21``: left-join a cleaned
    source onto the spine (preserving every spine key, NULL-padding keys the
    source lacks, fanning out on one-to-many) then full-row dedupe.

Spark-first design note (scale): Spark's BroadcastHashJoin cannot build the
*preserved* side of an outer join, so "broadcast the spine" is not a legal
physical plan for ``spine LEFT JOIN source`` (HintErrorLogger confirms the
hint is dropped). What actually keeps this pattern fast at 100 TB:

  * in every reference use the source side is aggregated or deduped **by
    the join key** immediately before the harmonize, so (a) the source side
    has already collapsed to ≈|keys| rows — broadcastable — and (b) even in
    the shuffle-join case, the exchange introduced by that groupBy hash-
    partitions on the same key, and Catalyst reuses it for the join: one
    shuffle total, not two.
  * ``broadcast_source=True`` (default) hints the collapsed source side;
    AQE will do the same automatically from runtime stats when the hint is
    withheld.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["spine", "harmonize", "upsert"]


def spine(master: DataFrame, key: str) -> DataFrame:
    """Canonical key dimension: distinct non-null ``key`` values.

    Mirrors ``utils/hgnc_symbol_template_func.R:3-10`` (select → filter
    !is.na → distinct). Output has exactly one column named ``key``.
    """
    return master.select(key).where(F.col(key).isNotNull()).distinct()


def harmonize(
    spine_df: DataFrame,
    source: DataFrame,
    key: str | list[str],
    broadcast_source: bool = True,
) -> DataFrame:
    """Left-join ``source`` onto the spine and full-row dedupe (J1).

    Mirrors the ``template %>% left_join(x) %>% distinct()`` idiom
    (``scripts/tidy/temp-tidy-all-api-ftp-files.R:19-21`` et al.):

    * every spine key survives exactly once per distinct source row,
    * keys absent from ``source`` appear once with NULLs,
    * one-to-many sources fan out (allowed, then full-row deduped).

    Pass ``broadcast_source=False`` for sources that are still fact-table
    sized at join time (high-fanout annotations); the plan then reuses the
    source's existing key-partitioning — see module docstring.
    """
    keys = [key] if isinstance(key, str) else list(key)
    src = F.broadcast(source) if broadcast_source else source
    joined = spine_df.join(src, on=keys, how="left")
    return joined.dropDuplicates()


def upsert(current: DataFrame, updates: DataFrame, key: str | list[str]) -> DataFrame:
    """Incremental upsert: rows from ``updates`` replace same-key rows in
    ``current``; unmatched rows of both survive (the bronze-zone refresh
    pattern — the reference re-fetches whole sources per release, I:16;
    the engine can instead merge deltas).

    Pure DataFrame emulation of MERGE: updates ∪ (current ⟂ updates-keys).
    One shuffle on the key (the anti join); at scale write the result
    partitioned by the key's bucket so the next merge co-locates.
    """
    keys = [key] if isinstance(key, str) else list(key)
    kept = current.join(updates.select(*keys).distinct(), on=keys, how="left_anti")
    return kept.unionByName(updates)


def cdc_apply(
    snapshot: DataFrame,
    changes: DataFrame,
    key: str | list[str],
    version_col: str = "version",
    op_col: str = "op",
) -> DataFrame:
    """Apply a change-data-capture feed onto a snapshot — the lakehouse
    MERGE with tombstones that plain :func:`upsert` lacks: the feed may
    carry MULTIPLE versions per key (out-of-order capture replays,
    at-least-once delivery) and delete markers.

    Per key, the change with the highest ``version_col`` wins (ties
    break to the LAST op in ascending ``op_col`` order — deterministic;
    feeds with unique versions per key never hit it). If the winner's
    ``op_col`` equals ``"delete"`` the key is dropped; otherwise the
    winner's row replaces the snapshot row (or inserts it). Snapshot
    rows with no change survive untouched.

    Plan: ONE aggregation collapses the feed to its winners
    (``max_by`` over the (version, op) total order — no window, no
    sort), one anti-join removes all changed keys from the snapshot,
    and the surviving upserts union back. Both the aggregation and the
    anti-join hash on the key, so at scale the feed — typically <<
    snapshot — is the only shuffled side beyond the snapshot's own
    key shuffle; writing the result bucketed by key makes the next
    apply co-located.
    """
    keys = [key] if isinstance(key, str) else list(key)
    payload = [c for c in changes.columns if c not in (version_col, op_col)]
    ordk = F.struct(F.col(version_col), F.col(op_col))
    winners = changes.groupBy(*keys).agg(
        F.max_by(F.struct(*payload, F.col(op_col).alias("__op")), ordk).alias(
            "__w"
        )
    )
    upserts = winners.where(F.col("__w.__op") != "delete").select(
        *[F.col(f"__w.{c}").alias(c) for c in payload]
    )
    kept = snapshot.join(
        winners.select(*keys).distinct(), on=keys, how="left_anti"
    )
    return kept.unionByName(upserts)


def retract_aggregate(
    agg: DataFrame,
    deltas: DataFrame,
    key: str | list[str],
    value_col: str,
    op_col: str = "op",
    count_col: str = "n",
    sum_col: str = "total",
) -> DataFrame:
    """Retractable incremental aggregate maintenance — the
    deletion-aware sibling of the insert-only partial-aggregate merge:
    a maintained (key, count, sum) aggregate
    absorbs a CDC fact feed where each row INSERTS or RETRACTS one
    fact, without rescanning the base facts.

    Deletes (``op_col == "delete"``) contribute (-1, -value); every
    other op inserts (+1, +value); the feed
    collapses to one signed partial aggregate per key (map-side
    combine), then a single full-outer merge with the maintained
    table adds the partials — counts are exact bigints and sums stay
    DECIMAL through the merge (associative, order-independent), so the
    merge equals a full recompute. Keys whose count reaches zero drop out
    (full retraction); keys driven NEGATIVE (retracting facts that
    were never aggregated — an upstream bug) are also dropped rather
    than silently emitted, and callers auditing for them should count
    ``retract_aggregate(...).where(col(count) < 0)`` BEFORE this
    filter — or simply reconcile against a full recompute, which is
    exactly what the oracle twin does.
    """
    keys = [key] if isinstance(key, str) else list(key)
    sign = F.when(F.col(op_col) == "delete", F.lit(-1)).otherwise(F.lit(1))
    d = deltas.groupBy(*keys).agg(
        F.sum(sign).alias("__dn"),
        F.sum(
            sign.cast("decimal(18,6)")
            * F.col(value_col).cast("decimal(18,6)")
        ).alias("__dt"),
    )
    merged = agg.join(d, keys, "full_outer").select(
        *keys,
        (
            F.coalesce(F.col(count_col), F.lit(0))
            + F.coalesce(F.col("__dn"), F.lit(0))
        ).cast("bigint").alias(count_col),
        (
            F.coalesce(
                F.col(sum_col).cast("decimal(28,6)"), F.lit(0).cast("decimal(28,6)")
            )
            + F.coalesce(F.col("__dt").cast("decimal(28,6)"),
                         F.lit(0).cast("decimal(28,6)"))
        ).alias(sum_col),
    )
    return merged.where(F.col(count_col) > 0)

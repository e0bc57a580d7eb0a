"""Reshape operators: explode, pivot, melt, union, KV-record pivot.

Covers SURVEY.md §2.6 (R1–R6) with the semantics the reference's tidyr /
data.table code exhibits, re-expressed as shuffle-aware Spark plans.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "separate_rows",
    "pivot_wider",
    "kv_pivot",
    "melt",
    "transpose",
    "union_all",
    "distinct_all",
]


def separate_rows(df: DataFrame, col: str, sep: str) -> DataFrame:
    """tidyr ``separate_rows(col, sep=regex)`` (R1).

    One output row per delimiter-separated piece of ``col``; **rows where
    ``col`` is NULL are kept as a single NULL row** — that is tidyr's
    behavior and why this is ``explode_outer``, not ``explode``
    (``scripts/tidy/temp-tidy-all-api-ftp-files.R:26`` splits ``prev_symbol``
    on ``"\\|"`` while genes without previous symbols survive as NA).

    ``sep`` is a Java regex, matching tidyr's stringr-regex contract.
    Narrow transformation — no shuffle.
    """
    pieces = F.split(F.col(col), sep)
    return df.withColumn(col, F.explode_outer(pieces))


def pivot_wider(
    df: DataFrame,
    keys: list[str],
    names_from: str,
    values_from: str,
    agg: str = "first",
    values: list[str] | None = None,
) -> DataFrame:
    """Long→wide (R2, ``T:292-295`` et al.).

    ``agg='first'`` reproduces the reference's single-value-per-cell use;
    pass ``values`` (the distinct pivot values) whenever known — it removes
    the extra distinct-scan Spark otherwise runs to discover them, which at
    100 TB is a full pass over the fact table.
    """
    agg_fn = getattr(F, agg)
    g = df.groupBy(*keys)
    p = g.pivot(names_from, values) if values is not None else g.pivot(names_from)
    return p.agg(agg_fn(values_from))


def kv_pivot(df: DataFrame, record_id: str, name_col: str = "name",
             value_col: str = "value", names: list[str] | None = None) -> DataFrame:
    """Key/value long records → one row per record (R3).

    The reference aligns eight filtered KV frames **by row position**
    (``T:454-484``) — fragile by construction. The engine instead requires a
    ``record_id`` carried through the flatten and pivots on it: identical
    output, order-independent, distributed-safe (SURVEY.md §7 Phase 3).
    """
    d = df
    if names is not None:
        d = d.where(F.col(name_col).isin(names))
    return pivot_wider(d, [record_id], name_col, value_col, agg="first", values=names)


def melt(df: DataFrame, id_cols: list[str], value_cols: list[str],
         var_name: str = "variable", value_name: str = "value") -> DataFrame:
    """Wide→long via the ``stack()`` expression (R4 transpose avoidance).

    The reference transposes an 18k×1.1k matrix in RAM (``TW:16-18``); the
    engine never builds wide rows at scale — matrices live in long form and
    this op is the bridge. ``stack`` is a generator expression: narrow, no
    shuffle, whole-stage-codegen friendly.
    """
    n = len(value_cols)
    pairs = ", ".join(f"'{c}', `{c}`" for c in value_cols)
    stacked = F.expr(f"stack({n}, {pairs}) as (`{var_name}`, `{value_name}`)")
    # backtick-quote ids so R-style dotted names ("...1", TW:14) resolve
    return df.select(*[F.col(f"`{c}`") for c in id_cols], stacked)


def transpose(
    df: DataFrame,
    id_col: str,
    value_cols: list[str],
    header_col: str = "column",
) -> DataFrame:
    """Distributed transpose (R4): rows keyed by ``id_col`` × ``value_cols``
    become rows keyed by the former column names × the former ``id_col``
    values as columns.

    The reference transposes an 18k×1.1k matrix in RAM (``TW:16-18``);
    the engine's stance is melt-and-stay-long, but the full transpose must
    exist for parity. Composition: melt (narrow) → pivot on the id values.
    The id domain becomes the new column set — Spark caps pivot width
    (``spark.sql.pivotMaxValues``, default 10k), which is the honest scale
    bound of ANY wide transpose; past it, keep the melted long form.
    """
    long = melt(df, [id_col], value_cols, var_name=header_col, value_name="__v")
    return pivot_wider(long, [header_col], id_col, "__v", agg="first")


def union_all(*dfs: DataFrame) -> DataFrame:
    """Union-by-name: dplyr ``bind_rows`` semantics (R5: ``T:442``,
    ``TW:166``). Columns matched by NAME, columns absent from a frame
    filled with NULL (so evolving schemas union too), output schema =
    first-seen column order; zero shuffles (map-side concatenation)."""
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs)


def distinct_all(df: DataFrame) -> DataFrame:
    """Full-row dedupe — exactly dplyr ``distinct()`` (R6)."""
    return df.dropDuplicates()

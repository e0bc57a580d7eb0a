"""Scalar column functions (SURVEY.md §2.10 X1–X22, §2.3 P12).

Every scalar the reference uses has a Catalyst built-in composition — zero
Python UDFs (SURVEY.md §2.11 engine stance), so whole-stage codegen and
filter/column pushdown stay intact on the 100 TB path.

Semantic corners deliberately preserved:
  * ``sentence_case`` — R ``str_to_sentence`` has no Spark built-in
    (``initcap`` capitalizes every word); composed from substring ops (X13).
  * ``extract_first`` — Spark ``regexp_extract`` returns ``""`` on no-match
    where stringr returns NA; wrapped with ``nullif`` (X7).
  * ``bround`` (half-even) is the parity choice for R's banker's rounding
    (X21), exposed as :func:`round_r`.
  * sentinel trio ``""`` / ``"."`` / ``"-"`` → NULL and back (P12/X18/X19).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "sentence_case",
    "extract_first",
    "extract_all_joined",
    "strip_version_suffix",
    "recode",
    "round_r",
    "nullify",
    "fill_sentinel",
    "flag_in",
]


def sentence_case(col: Column | str) -> Column:
    """``str_to_sentence(str_to_lower(x))`` (X13, ``T:133-135``):
    lower-case everything, capitalize only the first character."""
    c = F.col(col) if isinstance(col, str) else col
    low = F.lower(c)
    return F.concat(F.upper(F.substring(low, 1, 1)), F.substring(low, 2, 2_000_000))


def extract_first(col: Column | str, pattern: str) -> Column:
    """``str_extract`` with stringr NA semantics (X7, ``T:387``): capture
    group 1, NULL — not ``""`` — when the pattern does not match."""
    c = F.col(col) if isinstance(col, str) else col
    return F.nullif(F.regexp_extract(c, pattern, 1), F.lit(""))


def extract_all_joined(col: Column | str, pattern: str) -> Column:
    """``str_extract_all(...) |> paste(collapse="; ")`` (X9, ``T:356-363``):
    every match of ``pattern``, joined by ``"; "`` in match order."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_join(F.regexp_extract_all(c, F.lit(f"({pattern})"), F.lit(1)), "; ")


def strip_version_suffix(col: Column | str) -> Column:
    """Drop a trailing ``.NN`` version from an ID (X2, ``TW:60``, ``TM:8``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, r"\.[0-9]+$", "")


def recode(col: Column | str, mapping: Mapping, default=None) -> Column:
    """Multi-arm ``case_when`` on equality (X17, ``T:420-431``, ``T:486-491``).

    ``mapping`` is ordered; ``default`` may be a literal or a Column (pass
    the column itself for "leave unmatched values alone")."""
    c = F.col(col) if isinstance(col, str) else col
    out: Column | None = None
    for k, v in mapping.items():
        cond = c == F.lit(k)
        out = F.when(cond, F.lit(v)) if out is None else out.when(cond, F.lit(v))
    if out is None:
        raise ValueError("recode: empty mapping")
    dflt = default if isinstance(default, Column) else F.lit(default)
    return out.otherwise(dflt)


def round_r(col: Column | str, scale: int) -> Column:
    """R-parity rounding: half-even / banker's (X21 — R ``round`` is
    IEC 60559 round-half-even; Spark ``round`` is HALF_UP, ``bround`` is
    HALF_EVEN).

    Parity caveat (measured): ``bround`` applies half-even to the
    SHORTEST DECIMAL representation of the double (72.55 → 72.6), while
    R ≥ 4.0 / Python round the BINARY value (72.55 is stored as
    72.549999…, so R gives 72.5). The two agree wherever the scaled
    value is exactly binary-representable (all integer-scale halves,
    quarter-grids at scale 1, …) and can differ by one target-scale ulp
    elsewhere. ``bround`` matches "what the user typed"; R matches the
    bits. Property-tested on the provable grid in
    tests/test_property_semantics.py."""
    c = F.col(col) if isinstance(col, str) else col
    return F.bround(c, scale)


def nullify(df: DataFrame, sentinel: str, cols: Sequence[str] | None = None) -> DataFrame:
    """Sentinel → NULL across columns (P12/X18: ``na_if(.x, "")`` at ``T:17``,
    ``"."`` at ``TW:206``, ``"-"`` at ``T:411``). String columns only —
    non-strings pass through untouched."""
    target = set(cols) if cols is not None else {
        f.name for f in df.schema.fields if f.dataType.simpleString() == "string"
    }
    return df.select(*[
        F.nullif(F.col(c), F.lit(sentinel)).alias(c) if c in target else F.col(c)
        for c in df.columns
    ])


def fill_sentinel(df: DataFrame, sentinel: str, cols: Sequence[str] | None = None) -> DataFrame:
    """NULL → sentinel (X19, ``T:451`` ``replace(is.na(.), "-")``)."""
    target = set(cols) if cols is not None else {
        f.name for f in df.schema.fields if f.dataType.simpleString() == "string"
    }
    return df.select(*[
        F.coalesce(F.col(c), F.lit(sentinel)).alias(c) if c in target else F.col(c)
        for c in df.columns
    ])


def flag_in(col: Column | str, values: Sequence) -> Column:
    """``ifelse(x %in% set, "y", "n")`` (X16, ``T:255``) as a literal IN —
    for big value sets use a broadcast semi-join flag instead."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.isin(list(values)), F.lit("y")).otherwise(F.lit("n"))

"""Driver-facing query registry: every implemented SURVEY.md §2 operator as a
named (spark, sf_dir) -> DataFrame callable plus a DuckDB oracle SQL string.

Conventions (driver contract, see __spark_entry__.py):
  * every computed column is aliased identically in the Spark plan and the
    oracle SQL — the driver sorts columns by name before value-hashing;
  * doubles that pass through aggregation are rounded to a fixed scale in
    BOTH engines so the resulting IEEE doubles are bit-identical;
  * timestamps are cast to DATE or truncated+cast to string before output.

Each query's docstring names the SURVEY §2 operator(s) it certifies.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn
    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table with its ns timestamp normalized to micros.

    Self-sufficient: the driver calls queries with ITS OWN SparkSession,
    which won't carry our session defaults — so the two confs the events
    path needs are set here (both are dynamic SQL confs):
      * nanosAsLong — Spark 4 otherwise refuses TIMESTAMP(NANOS) parquet;
      * UTC session timezone — timestamp_micros produces TIMESTAMP_LTZ,
        and rendering it (date_format/date_trunc) must agree with DuckDB's
        timezone-free naive timestamps; only UTC makes them coincide.
    """
    from gene_level_metadata_pipeline_spark.sources.readers import normalize_event_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return normalize_event_ts(_t(spark, sf_dir, "events"))


def _round_to(col, n: int):
    """Double rounding that is bit-identical to DuckDB's ``round(x, n)``.

    DuckDB rounds doubles as ``std::round(x * 10^n) / 10^n``; Spark's
    ``round`` instead applies HALF_UP to the *exact* BigDecimal of x. The
    two disagree whenever ``x * 10^n`` lands exactly on .5 through double
    rounding (e.g. 28694.684999999998 * 100 == 2869468.5 → DuckDB 28694.69,
    Spark 28694.68) — common with 2-decimal price data. Computing
    ``round(x * 10^n, 0) / 10^n`` in Spark reproduces DuckDB exactly:
    same IEEE multiply, same half-away-from-zero on the product, same
    divide. Oracle-facing queries must use this instead of ``F.round``.
    """
    p = F.lit(float(10 ** n))
    return F.round(col * p, 0) / p


def _dsum(col, n: int = 2):
    """Order-independent rounded SUM of doubles, identical across engines.

    A plain double SUM is order-dependent (last-ulp differences between
    Spark's partial aggregation and DuckDB's sequential sum), and rounding
    cannot mask an ulp that straddles a .5 boundary — caught live at
    sf0.001 (q5 revenue 289145.575 → .57 vs .58). Fix: cast each addend to
    DECIMAL(18,6) (deterministic nearest-6-digit rounding of identical
    doubles; a tie would need the double to be exactly …5e-7, impossible
    in binary), sum exactly in decimal (associative — order cannot
    matter), round, cast back to double. Oracle twin:
    ``CAST(round(sum(CAST(x AS DECIMAL(18,6))), n) AS DOUBLE)``.
    """
    return F.round(F.sum(col.cast("decimal(18,6)")), n).cast("double")


def _davg(col, n: int):
    """Order-independent rounded AVG via exact decimal sum / count (both
    sides then perform the identical double division). Oracle twin:
    ``round(CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / count(*), n)``
    wrapped by the engine's double-rounding (see _round_to)."""
    total = F.sum(col.cast("decimal(18,6)")).cast("double")
    return _round_to(total / F.count(F.lit(1)), n)


# Shared oracle-SQL cosine macro (list dot-product form used by the
# similarity, IVF, and k-means oracle queries).
_COS = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


def _cooccur_pairs(df: DataFrame, key: str, item: str) -> DataFrame:
    """(u, v, n) co-occurrence pair counts — n = how many distinct
    ``key`` groups contain both items, pairs oriented u < v — via
    basket-collapse + MAP-SIDE pair explode, never a raw self-join:
    one groupBy collapses each key to its item set (collect_set dedups,
    so a prior .distinct() is unnecessary), pairs explode from the
    bounded array executor-side, one hash aggregate counts them. Two
    key-partitioned shuffles total; a skewed basket key costs one fat
    ARRAY ROW (bounded by per-key fan-out), not a quadratic join
    straggler — the reason this replaced the a.join(b, "k") idiom in
    every graph-edge builder (VERDICT r6 watch item 1). Equivalent to
    the oracle's DISTINCT self-join truth form, which the oracle SQL
    deliberately KEEPS so the check stays independent."""
    baskets = df.groupBy(key).agg(F.collect_set(item).alias("ps"))
    return (
        baskets.select(F.explode("ps").alias("u"), "ps")
        .select("u", F.explode("ps").alias("v"))
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n"))
    )

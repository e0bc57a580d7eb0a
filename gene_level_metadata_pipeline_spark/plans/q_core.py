"""Core relational / scalar / reshape / aggregation queries (SURVEY §2 phases 1-4) plus the spine flagship and batch events-hourly.

Split from the original single-module registry (plans/driver_queries.py,
which remains the facade); importing this module registers its queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gene_level_metadata_pipeline_spark.operators.harmonize import harmonize, spine
from gene_level_metadata_pipeline_spark.plans.registry import (
    _davg,
    _dsum,
    _events,
    _register,
    _round_to,
    _t,
)

# ---------------------------------------------------------------------------
# J1 / U1 — the flagship: spine + harmonize
# ---------------------------------------------------------------------------

@_register(
    "spine_harmonize",
    oracle="""
    WITH spn AS (
      SELECT DISTINCT c_custkey FROM customer WHERE c_custkey IS NOT NULL
    ),
    src AS (
      SELECT o_custkey AS c_custkey,
             count(*) AS n_orders,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_spend
      FROM orders GROUP BY o_custkey
    )
    SELECT DISTINCT spn.c_custkey, src.n_orders, src.total_spend
    FROM spn LEFT JOIN src USING (c_custkey)
    """,
)
def q_spine_harmonize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 spine + J1 harmonize (utils/hgnc_symbol_template_func.R:3-10;
    tidy spine-join sites e.g. T:19-21): customer spine ← per-customer
    order aggregate, broadcast left join, full-row distinct."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    spn = spine(customer, "c_custkey")
    src = (
        orders.groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum(F.col("o_totalprice"), 2).alias("total_spend"),
        )
    )
    return harmonize(spn, src, "c_custkey")


# ---------------------------------------------------------------------------
# Phase 1 — core relational ops
# ---------------------------------------------------------------------------

@_register(
    "project_rename_cast",
    oracle="""
    SELECT l_orderkey AS orderkey,
           CAST(l_linenumber AS VARCHAR) AS lineno,
           l_quantity AS qty,
           round(l_extendedprice * (1 - l_discount), 2) AS net_price
    FROM lineitem
    WHERE l_quantity > 30
    """,
)
def q_project_rename_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 select / P4 rename / P10 derived col / P13 cast / X20 arithmetic /
    F1 literal filter (T:13-17, T:95, T:16)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_quantity") > 30)
        .select(
            F.col("l_orderkey").alias("orderkey"),
            F.col("l_linenumber").cast("string").alias("lineno"),
            F.col("l_quantity").alias("qty"),
            _round_to(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias("net_price"),
        )
    )


@_register(
    "positional_select",
    oracle="SELECT p_partkey, p_type, p_retailprice FROM part",
)
def q_positional_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 ordinal projection — R df[, c(1,4,6)] (TM:35, T:251)."""
    from gene_level_metadata_pipeline_spark.operators.headers import select_positional

    return select_positional(_t(spark, sf_dir, "part"), 1, 4, 6)


@_register(
    "filter_predicates",
    oracle="""
    SELECT p_partkey, p_name, p_type, p_size
    FROM part
    WHERE p_size IN (5, 10, 15, 20)
      AND regexp_matches(p_type, '^(ECONOMY|SMALL)')
      AND NOT regexp_matches(p_name, 'widget')
      AND p_brand IS NOT NULL
    """,
)
def q_filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2/F3 literal+null+IN filters, F7 regex contains, F8 negated regex
    (T:28, T:100, T:334, TW:59)."""
    p = _t(spark, sf_dir, "part")
    return p.where(
        F.col("p_size").isin(5, 10, 15, 20)
        & F.col("p_type").rlike("^(ECONOMY|SMALL)")
        & ~F.col("p_name").rlike("widget")
        & F.col("p_brand").isNotNull()
    ).select("p_partkey", "p_name", "p_type", "p_size")


@_register(
    "semi_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
    """,
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4/J6 semi-join replacing the reference's pull-then-%in% (T:98)."""
    from gene_level_metadata_pipeline_spark.operators.joins import semi_join

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    return semi_join(
        c.select("c_custkey", "c_name"),
        o.select(F.col("o_custkey").alias("c_custkey")),
        "c_custkey",
    )


@_register(
    "anti_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
    """,
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 anti-join — !x %in% dups (TM:47)."""
    from gene_level_metadata_pipeline_spark.operators.joins import anti_join

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    return anti_join(
        c.select("c_custkey", "c_name"),
        o.select(F.col("o_custkey").alias("c_custkey")),
        "c_custkey",
    )


@_register(
    "natural_join",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name, r.r_name
    FROM customer c
    JOIN (SELECT n_nationkey AS c_nationkey, n_name, n_regionkey FROM nation) n USING (c_nationkey)
    JOIN (SELECT n_regionkey, r_name FROM (SELECT r_regionkey AS n_regionkey, r_name FROM region)) r USING (n_regionkey)
    """,
)
def q_natural_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 dplyr natural join — keys inferred from shared names after rename
    (T:20, T:145). Two chained natural joins: customer→nation→region."""
    from gene_level_metadata_pipeline_spark.operators.joins import natural_join

    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation").withColumnRenamed("n_nationkey", "c_nationkey")
    r = _t(spark, sf_dir, "region").withColumnRenamed("r_regionkey", "n_regionkey")
    out = natural_join(natural_join(c, n, how="inner"), r, how="inner")
    return out.select("c_custkey", "c_name", "n_name", "r_name")


@_register(
    "full_outer_join",
    oracle="""
    WITH cust AS (
      SELECT c_nationkey AS nationkey, count(*) AS n_cust
      FROM customer GROUP BY c_nationkey
    ),
    supp AS (
      SELECT s_nationkey AS nationkey, count(*) AS n_supp
      FROM supplier GROUP BY s_nationkey
    )
    SELECT nationkey, n_cust, n_supp FROM cust FULL OUTER JOIN supp USING (nationkey)
    """,
)
def q_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 full outer join (I:157, TW:43-44)."""
    from gene_level_metadata_pipeline_spark.operators.joins import full_join

    cust = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return full_join(cust, supp, "nationkey")


@_register(
    "separate_rows",
    oracle="""
    SELECT p_partkey, unnest(string_split(p_name, ' ')) AS word
    FROM part WHERE p_size >= 10
    UNION ALL
    SELECT p_partkey, NULL AS word FROM part WHERE p_size < 10
    """,
)
def q_separate_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 tidyr separate_rows incl. the NULL-row-preserving outer semantics
    (T:26 splits pipe-packed symbols; NULL genes survive)."""
    from gene_level_metadata_pipeline_spark.operators.reshape import separate_rows

    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.when(F.col("p_size") < 10, F.lit(None)).otherwise(F.col("p_name")).alias("word"),
    )
    return separate_rows(p, "word", " ")


@_register(
    "union_distinct",
    oracle="""
    SELECT DISTINCT o_orderstatus, o_orderpriority FROM (
      SELECT o_orderstatus, o_orderpriority FROM orders WHERE o_orderstatus = 'F'
      UNION ALL
      SELECT o_orderstatus, o_orderpriority FROM orders WHERE o_orderstatus <> 'F'
    )
    """,
)
def q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5 union-all of homogeneous frames + R6 distinct (T:442, U:8)."""
    from gene_level_metadata_pipeline_spark.operators.reshape import distinct_all, union_all

    o = _t(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority")
    a = o.where(F.col("o_orderstatus") == "F")
    b = o.where(F.col("o_orderstatus") != "F")
    return distinct_all(union_all(a, b))


# ---------------------------------------------------------------------------
# Phase 4 — aggregation & conflict resolution
# ---------------------------------------------------------------------------

@_register(
    "count_freq",
    oracle="SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY o_orderpriority",
)
def q_count_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 frequency count (T:215, TM:46)."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_register(
    "keep_unique",
    oracle="""
    SELECT o_orderkey, o_custkey FROM orders
    QUALIFY count(*) OVER (PARTITION BY o_custkey) = 1
    """,
)
def q_keep_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 keep-only-unambiguous keys via one window pass (T:213-219)."""
    from gene_level_metadata_pipeline_spark.operators.conflicts import keep_unique

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return keep_unique(o, "o_custkey")


@_register(
    "null_conflicts",
    oracle="""
    WITH d AS (SELECT DISTINCT c_nationkey, c_mktsegment FROM customer),
    w AS (
      SELECT c_nationkey,
             CASE WHEN count(*) OVER (PARTITION BY c_nationkey) > 1
                  THEN NULL ELSE c_mktsegment END AS c_mktsegment
      FROM d
    )
    SELECT DISTINCT c_nationkey, c_mktsegment FROM w
    """,
)
def q_null_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 null-out-ambiguous dedup (T:273-277)."""
    from gene_level_metadata_pipeline_spark.operators.conflicts import null_conflicts

    d = _t(spark, sf_dir, "customer").select("c_nationkey", "c_mktsegment").distinct()
    return null_conflicts(d, "c_nationkey")


@_register(
    "prefer_flagged",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderpriority FROM orders
    QUALIFY count(*) OVER (PARTITION BY o_custkey) = 1
            OR o_orderpriority = '1-URGENT'
    """,
)
def q_prefer_flagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 prefer-flagged-row dedup (TW:158-166)."""
    from gene_level_metadata_pipeline_spark.operators.conflicts import prefer_flagged

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderpriority")
    return prefer_flagged(o, "o_custkey", "o_orderpriority", "1-URGENT")


@_register(
    "string_agg_ordered",
    oracle="""
    SELECT n_regionkey, string_agg(DISTINCT n_name, '|' ORDER BY n_name) AS nations
    FROM nation GROUP BY n_regionkey
    """,
)
def q_string_agg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 ordered string aggregation — arrange→group→paste(collapse='|');
    array_sort makes collect_set deterministic (T:258-260)."""
    return (
        _t(spark, sf_dir, "nation")
        .groupBy("n_regionkey")
        .agg(F.concat_ws("|", F.array_sort(F.collect_set("n_name"))).alias("nations"))
    )


@_register(
    "matrix_rowsum_pct",
    oracle="""
    SELECT l_partkey AS gene,
           CAST(sum(CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           count(*) AS n_samples,
           round(CAST(100.0 * sum(CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 3) AS pct_hit
    FROM lineitem GROUP BY l_partkey
    """,
)
def q_matrix_rowsum_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7+A9 long-form matrix rowSums over a binarized threshold + derived
    percentage (TW:20-26) — the engine's melt-not-transpose stance (R4)."""
    li = _t(spark, sf_dir, "lineitem")
    hit = F.when(F.col("l_discount") >= 0.05, 1).otherwise(0)
    return (
        li.groupBy(F.col("l_partkey").alias("gene"))
        .agg(
            F.sum(hit).alias("n_hit"),
            F.count(F.lit(1)).alias("n_samples"),
            _round_to(100.0 * F.sum(hit) / F.count(F.lit(1)), 3).alias("pct_hit"),
        )
    )


@_register(
    "matrix_rowmean",
    oracle="""
    SELECT l_partkey AS gene, round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / count(*), 3) AS mean_score
    FROM lineitem GROUP BY l_partkey
    """,
)
def q_matrix_rowmean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 long-form rowMeans + round-3 (TW:28-31, TW:45-46)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("gene"))
        .agg(_davg(F.col("l_extendedprice"), 3).alias("mean_score"))
    )


# ---------------------------------------------------------------------------
# Phase 2 — scalar layer (X-series)
# ---------------------------------------------------------------------------

@_register(
    "scalar_regex",
    oracle="""
    SELECT p_partkey,
           nullif(regexp_extract(p_brand, '#(\\d+)', 1), '') AS brand_num,
           nullif(regexp_extract(p_name, '(\\d{6})', 1), '') AS missing6,
           upper(substring(lower(p_type), 1, 1)) || substring(lower(p_type), 2) AS type_sentence,
           regexp_replace(p_name, '[aeiou]', '', 'g') AS no_vowels,
           coalesce(array_to_string(regexp_extract_all(p_name, 'r\\w+'), '; '), '') AS r_words,
           string_split(p_name, ' ')[1] AS first_word,
           trim('  ' || p_name || '  ') AS trimmed,
           regexp_replace('ID' || p_partkey || '.' || p_size, '\\.[0-9]+$', '') AS id_unversioned
    FROM part
    """,
)
def q_scalar_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1/X2 prefix+version strip, X3 global replace, X7 extract with NULL
    no-match, X9 extract-all joined, X11 token split, X12 trim, X13
    sentence case (T:175, TW:60, T:387, T:356-363, TW:13, T:133-135)."""
    from gene_level_metadata_pipeline_spark.functions.scalars import (
        extract_all_joined,
        extract_first,
        sentence_case,
        strip_version_suffix,
    )

    p = _t(spark, sf_dir, "part")
    versioned = F.concat(
        F.lit("ID"), F.col("p_partkey").cast("string"),
        F.lit("."), F.col("p_size").cast("string"),
    )
    return p.select(
        "p_partkey",
        extract_first("p_brand", r"#(\d+)").alias("brand_num"),
        extract_first("p_name", r"(\d{6})").alias("missing6"),
        sentence_case("p_type").alias("type_sentence"),
        F.regexp_replace("p_name", "[aeiou]", "").alias("no_vowels"),
        extract_all_joined("p_name", r"r\w+").alias("r_words"),
        F.split(F.col("p_name"), " ").getItem(0).alias("first_word"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit("  "))).alias("trimmed"),
        strip_version_suffix(versioned).alias("id_unversioned"),
    )


@_register(
    "recode_flag",
    oracle="""
    SELECT o_orderkey,
           CASE o_orderpriority
             WHEN '1-URGENT' THEN 'P1' WHEN '2-HIGH' THEN 'P2'
             WHEN '3-MEDIUM' THEN 'P3' WHEN '4-NOT SPECIFIED' THEN 'P4'
             ELSE 'P5' END AS priority_code,
           CASE WHEN o_orderstatus IN ('F', 'P') THEN 'y' ELSE 'n' END AS done_flag
    FROM orders
    """,
)
def q_recode_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X17 case_when recode + X16 %in% flag (T:420-431, T:486-491, T:255)."""
    from gene_level_metadata_pipeline_spark.functions.scalars import flag_in, recode

    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        recode(
            "o_orderpriority",
            {"1-URGENT": "P1", "2-HIGH": "P2", "3-MEDIUM": "P3",
             "4-NOT SPECIFIED": "P4"},
            default="P5",
        ).alias("priority_code"),
        flag_in("o_orderstatus", ["F", "P"]).alias("done_flag"),
    )


@_register(
    "sentinel_roundtrip",
    oracle="""
    WITH raw AS (
      SELECT p_partkey,
             CASE WHEN p_size < 5 THEN '' ELSE p_brand END AS brand_sentinel
      FROM part
    )
    SELECT p_partkey,
           nullif(brand_sentinel, '') AS brand_null,
           coalesce(nullif(brand_sentinel, ''), '-') AS brand_dash
    FROM raw
    """,
)
def q_sentinel_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12/X18/X19 sentinel trinity: '' → NULL → '-' (T:17, T:411, T:451)."""
    from gene_level_metadata_pipeline_spark.functions.scalars import fill_sentinel, nullify

    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.when(F.col("p_size") < 5, F.lit("")).otherwise(F.col("p_brand")).alias("brand_sentinel"),
    )
    nulled = nullify(p, "", cols=["brand_sentinel"]).withColumnRenamed(
        "brand_sentinel", "brand_null"
    )
    filled = fill_sentinel(
        nulled.select("p_partkey", F.col("brand_null").alias("brand_dash")),
        "-", cols=["brand_dash"],
    )
    return nulled.join(filled, "p_partkey")


# ---------------------------------------------------------------------------
# Phase 3 — reshape layer
# ---------------------------------------------------------------------------

@_register(
    "pivot_wider_status",
    oracle="""
    SELECT o_orderpriority,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
           count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
           count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_pivot_wider_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2 pivot_wider long→wide (T:292-295). Pivot values passed explicitly
    so Spark skips the extra distinct-scan to discover them (at 100 TB that
    scan is a full pass over the fact table)."""
    from gene_level_metadata_pipeline_spark.operators.reshape import pivot_wider

    o = _t(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderstatus", F.lit(1).alias("one")
    )
    wide = pivot_wider(
        o, ["o_orderpriority"], "o_orderstatus", "one",
        agg="count", values=["F", "O", "P"],
    )
    return wide.na.fill(0, ["F", "O", "P"])


@_register(
    "kv_pivot_roundtrip",
    oracle="""
    SELECT o_orderkey,
           o_orderstatus AS status,
           o_orderpriority AS priority,
           CAST(o_custkey AS VARCHAR) AS custkey
    FROM orders
    """,
)
def q_kv_pivot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R3/R4 round trip: wide → melt to (record_id, name, value) KV long
    form → kv_pivot back to wide on the record id. Replaces the reference's
    positional col-bind alignment (T:454-484) with order-independent
    record-id discipline."""
    from gene_level_metadata_pipeline_spark.operators.reshape import kv_pivot, melt

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_custkey").cast("string").alias("custkey"),
    )
    long = melt(o, ["o_orderkey"], ["status", "priority", "custkey"],
                var_name="name", value_name="value")
    return kv_pivot(long, "o_orderkey", "name", "value",
                    names=["status", "priority", "custkey"])


@_register(
    "melt_metrics",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
    """,
)
def q_melt_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4 wide→long melt via stack() — the engine's transpose-avoidance
    bridge (TW:16-18 does t() in RAM; we never build wide rows)."""
    from gene_level_metadata_pipeline_spark.operators.reshape import melt

    li = _t(spark, sf_dir, "lineitem")
    return melt(li, ["l_orderkey", "l_linenumber"],
                ["l_quantity", "l_discount", "l_tax"],
                var_name="metric", value_name="value")


# ---------------------------------------------------------------------------
# events — tumbling-window aggregation (batch form; streaming twin in
# streaming/windows.py)
# ---------------------------------------------------------------------------

@_register(
    "events_hourly",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type,
           count(*) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 3) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-event-type rollup over the events table (SURVEY §2.12
    extension slice): count plus an order-independent DECIMAL value sum
    (``_dsum``) per (hour, event_type) bucket. Buckets come from a
    ``date_trunc('hour')`` groupBy — the batch twin of the streaming
    tumbling window in ``streaming/windows.py``, which shares this
    query's oracle. Event-time normalization (nanos → micros, UTC)
    comes from ``_events``/``normalize_event_ts``."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dsum(F.col("value"), 3).alias("total_value"),
        )
    )



"""Skew-salted join, int8 embedding quantization and quantized top-k, cogrouped as-of join.

Split from the original single-module registry (plans/driver_queries.py,
which remains the facade); importing this module registers its queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gene_level_metadata_pipeline_spark.plans.registry import (
    _dsum,
    _events,
    _register,
    _round_to,
    _t,
)

# ---------------------------------------------------------------------------
# Skew, quantized-embedding and cogrouped-pandas operators
# ---------------------------------------------------------------------------

@_register(
    "salted_join_revenue",
    oracle="""
    SELECT s_nationkey, count(*) AS n_items,
           round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
             AS DOUBLE), 2) AS revenue
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey
    """,
)
def q_salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted equi-join (operators.skew.salted_join): the fact side
    is salted by row hash, the dim side replicated salt_buckets×, and the
    join runs on (key, salt) — one hot supplier's rows spread over 8
    reducers instead of one straggler task. Result is bit-identical to
    the plain join (the oracle IS the plain join). Static complement to
    AQE's runtime skew split (proven in tests/test_bucketing.py); the
    equality + physical-shape assertions live in tests/test_skew_join.py."""
    from gene_level_metadata_pipeline_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice", "l_discount")
    su = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    j = salted_join(li, su, "l_suppkey", "s_suppkey")
    return j.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
    )


@_register(
    "embedding_quantize_int8",
    oracle="""
    WITH base AS (
      SELECT vec_id,
             greatest(list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)))) / 127.0, 1e-12) AS q_scale,
             embedding
      FROM embeddings
    ),
    el AS (
      SELECT vec_id, q_scale,
             generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM base
    ),
    t AS (
      SELECT vec_id, q_scale, pos, x,
             CAST(round(x / q_scale) AS BIGINT) AS qe
      FROM el
    )
    SELECT vec_id, q_scale,
           count(*) AS n_dims,
           max(CASE WHEN pos = 1 THEN qe END) AS q_head,
           sum(abs(qe))::BIGINT AS q_l1,
           round(CAST(sum(CAST(x * (qe * q_scale) AS DECIMAL(25,12))) AS DOUBLE)
                 / (sqrt(CAST(sum(CAST(x * x AS DECIMAL(25,12))) AS DOUBLE))
                    * sqrt(CAST(sum(CAST((qe * q_scale) * (qe * q_scale) AS DECIMAL(25,12)))
                           AS DOUBLE))), 6) AS cos_recon,
           round(max(abs(x - qe * q_scale)), 9) AS max_abs_err
    FROM t GROUP BY vec_id, q_scale
    """,
)
def q_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization audit (operators.similarity.
    quantize_embeddings): per-vector symmetric scale, q = round(x/scale),
    then — exploded to long form, the §4 'matrices stay long' rule —
    exact-decimal dot products proving reconstructed cosine ≈ 1 and
    per-element error ≤ scale/2. 4× storage cut for the 100 TB ANN path;
    candidate generation (IVF cells, LSH signs) is unaffected because it
    runs before quantization. Decimal sums keep the fold order-independent
    (PLANS.md 'exactness vs throughput')."""
    from gene_level_metadata_pipeline_spark.operators.similarity import quantize_embeddings

    d = quantize_embeddings(_t(spark, sf_dir, "embeddings"))
    el = d.select(
        "vec_id", "q_scale",
        F.posexplode(F.arrays_zip("embedding", "q_vec")).alias("pos", "z"),
    ).select(
        "vec_id", "q_scale", "pos",
        F.col("z.embedding").cast("double").alias("x"),
        F.col("z.q_vec").alias("qe"),
    )
    recon = F.col("qe") * F.col("q_scale")
    dec = "decimal(25,12)"
    g = el.groupBy("vec_id", "q_scale").agg(
        F.count(F.lit(1)).alias("n_dims"),
        F.max(F.when(F.col("pos") == 0, F.col("qe"))).alias("q_head"),
        F.sum(F.abs(F.col("qe"))).alias("q_l1"),
        F.sum((F.col("x") * recon).cast(dec)).alias("_vr"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("_vv"),
        F.sum((recon * recon).cast(dec)).alias("_rr"),
        F.max(F.abs(F.col("x") - recon)).alias("_maxerr"),
    )
    return g.select(
        "vec_id", "q_scale", "n_dims", "q_head", "q_l1",
        _round_to(
            F.col("_vr").cast("double")
            / (F.sqrt(F.col("_vv").cast("double")) * F.sqrt(F.col("_rr").cast("double"))),
            6,
        ).alias("cos_recon"),
        _round_to(F.col("_maxerr"), 9).alias("max_abs_err"),
    )


@_register(
    "cogroup_asof_join",
    oracle="""
    WITH err AS (
      SELECT user_id, event_id, epoch_us(ts) AS ets FROM events
      WHERE event_type = 'error'
    ),
    clk AS (
      SELECT user_id, epoch_us(ts) AS cts, value FROM events
      WHERE event_type = 'click'
    ),
    ranked AS (
      SELECT e.user_id, e.event_id,
             c.cts, c.value,
             row_number() OVER (PARTITION BY e.event_id
                                ORDER BY c.cts DESC, c.value DESC) AS rn
      FROM err e LEFT JOIN clk c
        ON e.user_id = c.user_id AND c.cts <= e.ets
    )
    SELECT user_id, event_id,
           value AS right_value,
           cts AS right_us
    FROM ranked WHERE rn = 1
    """,
)
def q_cogroup_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join via cogrouped applyInPandas: both sides co-partition on
    user_id, each group pair lands in ONE Arrow batch, pandas merge_asof
    does the per-user backward search. Cross-validates the Python
    cogroup path against the same SQL oracle as the relational as-of
    (asof_join_events) — two implementations, one truth. The relational
    union+window form stays the scale default (no Python, no per-group
    batch memory); cogroup is the escape hatch for per-group logic
    DataFrame ops can't express. Ties broken like ORDER BY cts DESC,
    value DESC via the right side's (us, value) ascending sort —
    merge_asof takes the LAST equal-timestamp row."""
    import pandas as pd

    ev = _events(spark, sf_dir).withColumn("us", F.unix_micros("ts"))
    err = ev.where(F.col("event_type") == "error").select("user_id", "event_id", "us")
    clk = ev.where(F.col("event_type") == "click").select("user_id", "us", "value")

    def merge(left: "pd.DataFrame", right: "pd.DataFrame") -> "pd.DataFrame":
        if len(left) == 0:
            return pd.DataFrame(
                {"user_id": pd.Series(dtype="int64"),
                 "event_id": pd.Series(dtype="int64"),
                 "right_value": pd.Series(dtype="Float64"),
                 "right_us": pd.Series(dtype="Int64")}
            )
        left = left.sort_values("us")
        right = right.sort_values(["us", "value"])
        right = right.assign(right_us=right["us"], right_value=right["value"])[
            ["us", "right_us", "right_value"]
        ]
        if len(right) == 0:
            out = left.assign(right_value=float("nan"), right_us=float("nan"))
        else:
            out = pd.merge_asof(left, right, on="us", direction="backward")
        out = out[["user_id", "event_id", "right_value", "right_us"]]
        out["right_us"] = out["right_us"].astype("Int64")
        out["right_value"] = out["right_value"].astype("Float64")
        return out

    return (
        err.groupBy("user_id")
        .cogroup(clk.groupBy("user_id"))
        .applyInPandas(
            merge,
            schema="user_id bigint, event_id bigint, right_value double, right_us bigint",
        )
    )


@_register(
    "ann_quantized_topk",
    oracle="""
    WITH base AS (
      SELECT vec_id,
             greatest(list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)))) / 127.0, 1e-12) AS q_scale,
             embedding
      FROM embeddings
    ),
    q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) / q_scale) AS BIGINT)) AS qv
      FROM base
    ),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             round(
               list_sum(list_transform(range(1, len(a.qv) + 1),
                 i -> a.qv[i] * b.qv[i])) * 1.0
               / (sqrt(list_sum(list_transform(a.qv, x -> x * x)) * 1.0)
                  * sqrt(list_sum(list_transform(b.qv, x -> x * x)) * 1.0)),
               4) AS cos_q
      FROM q a JOIN q b ON a.vec_id < 10 AND a.vec_id <> b.vec_id
    )
    SELECT query_id, neighbor_id, cos_q, rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_q DESC, neighbor_id
      ) AS rank FROM scored
    ) WHERE rank <= 5
    """,
)
def q_ann_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine over the INT8-quantized embeddings — the 4×-
    smaller search path. Cosine is scale-invariant, so the per-vector
    quantization scale cancels and the whole similarity computes over
    integer arrays: bigint dot products and squared norms are EXACT
    (order-independent — no decimal armor needed), with one final double
    division and sqrt. Queries (vec_id<10) broadcast; the vector table
    never shuffles; rank ties break on neighbor id. Quantization error
    vs float cosine is bounded by the embedding_quantize_int8 audit."""
    from gene_level_metadata_pipeline_spark.operators.similarity import (
        quantize_embeddings,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qv = quantize_embeddings(emb).select("vec_id", "q_vec")
    queries = qv.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("q_vec").alias("__qq")
    )
    dot = F.aggregate(
        F.zip_with(F.col("__qq"), F.col("q_vec"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    sq = lambda c: F.aggregate(  # noqa: E731 — local expression builder
        F.transform(c, lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        qv.join(F.broadcast(queries), F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                dot
                / (
                    F.sqrt(sq(F.col("__qq")).cast("double"))
                    * F.sqrt(sq(F.col("q_vec")).cast("double"))
                ),
                4,
            ).alias("cos_q"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_q").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 5)
    )

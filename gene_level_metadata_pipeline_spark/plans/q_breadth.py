"""Edge decoration, matrix transpose, profiling, data-quality validation, misc engine breadth.

Split from the original single-module registry (plans/driver_queries.py,
which remains the facade); importing this module registers its queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from gene_level_metadata_pipeline_spark.materialize import (
    materialize as _materialize,
)

from gene_level_metadata_pipeline_spark.plans.registry import (
    _COS,
    _dsum,
    _events,
    _register,
    _round_to,
    _t,
)

# ---------------------------------------------------------------------------
# J3/J4 — unequal-key joins & two-hop edge decoration (STRING PPI shape)
# ---------------------------------------------------------------------------

@_register(
    "edge_decoration",
    oracle="""
    WITH edges AS (
      SELECT l_partkey AS from_key, l_suppkey AS to_key,
             round(l_extendedprice / 1000, 3) AS score
      FROM lineitem WHERE l_discount >= 0.08
    )
    SELECT p.p_name AS from_name, s.s_name AS to_name, e.score
    FROM edges e
    JOIN part p ON e.from_key = p.p_partkey
    JOIN supplier s ON e.to_key = s.s_suppkey
    """,
)
def q_edge_decoration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 unequal-key joins + J4 two-hop M:N edge decoration — the STRING
    PPI pattern (T:148-158: decorate both endpoints of an edge list via two
    joins) with the reference's score/1000 scaling (T:181). Endpoint
    dimensions broadcast; the edge list is the only big side, exactly the
    hub-skew shape AQE skew-join handles at scale."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_discount") >= 0.08)
    edges = li.select(
        F.col("l_partkey").alias("from_key"),
        F.col("l_suppkey").alias("to_key"),
        _round_to(F.col("l_extendedprice") / 1000, 3).alias("score"),
    )
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    return (
        edges.join(F.broadcast(p), edges.from_key == p.p_partkey)
        .join(F.broadcast(s), edges.to_key == s.s_suppkey)
        .select(
            F.col("p_name").alias("from_name"),
            F.col("s_name").alias("to_name"),
            "score",
        )
    )


@_register(
    "transpose_matrix",
    oracle="""
    WITH wide AS (
      SELECT l_returnflag,
             CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty,
             CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_price,
             CAST(round(sum(CAST(l_tax AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_tax
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT 'sum_qty' AS metric,
           max(CASE WHEN l_returnflag = 'A' THEN sum_qty END) AS "A",
           max(CASE WHEN l_returnflag = 'N' THEN sum_qty END) AS "N",
           max(CASE WHEN l_returnflag = 'R' THEN sum_qty END) AS "R"
    FROM wide
    UNION ALL
    SELECT 'sum_price',
           max(CASE WHEN l_returnflag = 'A' THEN sum_price END),
           max(CASE WHEN l_returnflag = 'N' THEN sum_price END),
           max(CASE WHEN l_returnflag = 'R' THEN sum_price END)
    FROM wide
    UNION ALL
    SELECT 'sum_tax',
           max(CASE WHEN l_returnflag = 'A' THEN sum_tax END),
           max(CASE WHEN l_returnflag = 'N' THEN sum_tax END),
           max(CASE WHEN l_returnflag = 'R' THEN sum_tax END)
    FROM wide
    """,
)
def q_transpose_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4 full distributed transpose — the t() the reference does in RAM
    (TW:16-18): an aggregate matrix (flags × metrics) flipped to
    (metrics × flags) via melt + pivot."""
    from gene_level_metadata_pipeline_spark.operators.reshape import transpose

    wide = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            _dsum(F.col("l_quantity"), 2).alias("sum_qty"),
            _dsum(F.col("l_extendedprice"), 2).alias("sum_price"),
            _dsum(F.col("l_tax"), 2).alias("sum_tax"),
        )
    )
    return transpose(wide, "l_returnflag", ["sum_qty", "sum_price", "sum_tax"],
                     header_col="metric")


@_register(
    "phenotype_parse",
    oracle="""
    WITH pheno AS (
      SELECT p_partkey,
             CASE p_size % 4
               WHEN 0 THEN '{' || p_name || '}'
               WHEN 1 THEN '[' || p_name || ']'
               WHEN 2 THEN '?' || p_name
               ELSE p_name END
             || ', ' || CAST(100000 + p_partkey AS VARCHAR)
             || ' (' || CAST(1 + p_partkey % 4 AS VARCHAR) || '), '
             || CASE p_size % 3
                  WHEN 0 THEN 'Autosomal dominant'
                  WHEN 1 THEN 'Autosomal recessive; X-linked'
                  ELSE 'Multifactorial' END AS s
      FROM part
    )
    SELECT p_partkey,
           array_to_string(regexp_extract_all(
             s, 'Autosomal dominant|Autosomal recessive|X-linked|Multifactorial'
           ), '; ') AS moi,
           nullif(regexp_extract(s, '(\\d{6})', 1), '') AS omim_id,
           regexp_extract(s, '^(.*?)\\d{6}', 1) AS raw_name,
           CASE WHEN regexp_matches(s, '^\\{') THEN 'susceptibility'
                WHEN regexp_matches(s, '^\\[') THEN 'nondisease'
                WHEN regexp_matches(s, '^\\?') THEN 'provisional'
                ELSE 'confirmed' END AS certainty,
           CASE regexp_extract(s, '\\((\\d)\\)', 1)
                WHEN '1' THEN 'mapping_wildtype' WHEN '2' THEN 'linkage'
                WHEN '3' THEN 'molecular_basis_known' ELSE 'chromosome_deletion'
           END AS mapping_key,
           regexp_replace(
             regexp_replace(s, '[\\{\\[\\?\\]\\}]', '', 'g'), ', $', ''
           ) AS cleaned
    FROM pheno
    """,
)
def q_phenotype_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's hardest scalar pipeline — OMIM genemap2 packed
    phenotype strings (T:349-402): X9 extract-all MOI keywords joined
    '; ', X7 6-digit id extract with NULL no-match, X8 lazy prefix extract
    (Java lookahead '(?=\\d{6})' in Spark; RE2 has no lookahead so the
    oracle uses the equivalent lazy captured group), X10 leading-class
    recode {/[/? , X17 mapping-key recode (1)-(4), X4/X5 char-class strip
    + trailing-comma trim. Strings are built deterministically from part."""
    from gene_level_metadata_pipeline_spark.functions.scalars import (
        extract_all_joined,
        extract_first,
    )

    p = _t(spark, sf_dir, "part")
    prefix = (
        F.when(F.col("p_size") % 4 == 0, F.concat(F.lit("{"), F.col("p_name"), F.lit("}")))
        .when(F.col("p_size") % 4 == 1, F.concat(F.lit("["), F.col("p_name"), F.lit("]")))
        .when(F.col("p_size") % 4 == 2, F.concat(F.lit("?"), F.col("p_name")))
        .otherwise(F.col("p_name"))
    )
    moi_src = (
        F.when(F.col("p_size") % 3 == 0, F.lit("Autosomal dominant"))
        .when(F.col("p_size") % 3 == 1, F.lit("Autosomal recessive; X-linked"))
        .otherwise(F.lit("Multifactorial"))
    )
    s = F.concat(
        prefix, F.lit(", "),
        (F.lit(100000) + F.col("p_partkey")).cast("string"),
        F.lit(" ("), (1 + F.col("p_partkey") % 4).cast("string"), F.lit("), "),
        moi_src,
    )
    d = p.select("p_partkey", s.alias("s"))
    moi_pat = "Autosomal dominant|Autosomal recessive|X-linked|Multifactorial"
    return d.select(
        "p_partkey",
        extract_all_joined("s", moi_pat).alias("moi"),
        extract_first("s", r"(\d{6})").alias("omim_id"),
        F.regexp_extract("s", r"^(.*?)(?=\d{6})", 1).alias("raw_name"),
        F.when(F.col("s").rlike(r"^\{"), "susceptibility")
        .when(F.col("s").rlike(r"^\["), "nondisease")
        .when(F.col("s").rlike(r"^\?"), "provisional")
        .otherwise("confirmed").alias("certainty"),
        F.when(F.regexp_extract("s", r"\((\d)\)", 1) == "1", "mapping_wildtype")
        .when(F.regexp_extract("s", r"\((\d)\)", 1) == "2", "linkage")
        .when(F.regexp_extract("s", r"\((\d)\)", 1) == "3", "molecular_basis_known")
        .otherwise("chromosome_deletion").alias("mapping_key"),
        F.regexp_replace(
            F.regexp_replace("s", r"[\{\[\?\]\}]", ""), r", $", ""
        ).alias("cleaned"),
    ).drop("s")


@_register(
    "panelapp_flow",
    oracle="""
    SELECT * FROM (VALUES
      ('g1', 'green', 'cardiac'),
      ('g2', 'amber', 'neuro'),
      ('g3', 'red',   '-')
    ) AS t(gene_symbol, confidence, disease_group)
    """,
)
def q_panelapp_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full PanelApp tidy flow (T:441-498) as one engine program:
    paginated JSON → flatten to (record_id, name, value) → filter to the
    key set → RECORD-ID pivot (replacing the reference's fragile
    positional col-bind, T:454-484) → NA→'-' fill (T:451) → confidence
    recode 3/2/1→green/amber/red (T:486-491) → drop empty disease_group
    rows (T:493)."""
    from gene_level_metadata_pipeline_spark.functions.scalars import (
        fill_sentinel,
        recode,
    )
    from gene_level_metadata_pipeline_spark.operators.reshape import kv_pivot
    from gene_level_metadata_pipeline_spark.plans.fixtures import fixture_dir
    from gene_level_metadata_pipeline_spark.sources.readers import read_json_pages

    d = fixture_dir()
    kv = read_json_pages(
        spark, [f"{d}/panel_pages/p1.json", f"{d}/panel_pages/p2.json"],
        flatten_kv=True, record_id="rid",
    )
    wide = kv_pivot(
        kv, "rid", "name", "value",
        names=["gene_symbol", "confidence_level", "disease_group"],
    )
    filled = fill_sentinel(wide, "-", cols=["disease_group"])
    out = filled.select(
        "gene_symbol",
        recode("confidence_level",
               {"3": "green", "2": "amber", "1": "red"}).alias("confidence"),
        "disease_group",
    )
    return out.where(F.col("disease_group") != "")


@_register(
    "ann_ivf_recall",
    oracle=f"""
    WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
    q AS (SELECT vec_id AS query_id, label, e AS qe FROM v WHERE vec_id < 10),
    bf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, v.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round({_COS.format(a='q.qe', b='v.e')}, 4) DESC,
                          v.vec_id
               ) AS rank
        FROM q JOIN v ON q.query_id <> v.vec_id
      ) WHERE rank <= 5
    ),
    ivf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, v.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round({_COS.format(a='q.qe', b='v.e')}, 4) DESC,
                          v.vec_id
               ) AS rank
        FROM q JOIN v ON q.label = v.label AND q.query_id <> v.vec_id
      ) WHERE rank <= 5
    ),
    tp AS (
      SELECT count(*) AS n_tp FROM bf JOIN ivf USING (query_id, neighbor_id)
    )
    SELECT (SELECT count(*) FROM bf) AS n_truth,
           (SELECT count(*) FROM ivf) AS n_ivf,
           n_tp,
           round(n_tp * 1.0 / (SELECT count(*) FROM bf), 4) AS recall
    FROM tp
    """,
)
def q_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF index evaluating ITSELF (same methodology as
    dedup_lsh_recall): recall@5 of the cell-restricted search against
    exact brute-force truth over the same 10 queries. Both sides share
    the deterministic (rounded-cosine DESC, neighbor_id) tie-break, so
    the metric is bit-stable. This is the calibration run an IVF
    deployment does on a sample before committing to a cell count at
    100 TB — recall here is bounded by cell-assignment quality, and a
    too-coarse quantizer shows up as a recall cliff, not a silent wrong
    answer."""
    from gene_level_metadata_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    truth = brute_force_topk(emb, queries, k=5).select("query_id", "neighbor_id")
    approx = ivf_topk(emb, queries, cell_col="label").select(
        "query_id", "neighbor_id"
    )
    tp = truth.join(approx, ["query_id", "neighbor_id"]).agg(
        F.count(F.lit(1)).alias("n_tp")
    )
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_ivf = approx.agg(F.count(F.lit(1)).alias("n_ivf"))
    return (
        n_truth.join(n_ivf).join(tp)
        .select(
            "n_truth", "n_ivf", "n_tp",
            _round_to(F.col("n_tp") / F.col("n_truth"), 4).alias("recall"),
        )
    )


# Shared DuckDB CTE chain: one deterministic Lloyd iteration from the
# 8 lowest-id seeds to learned centroids and final cell assignments —
# mirrors similarity.kmeans_centroids/assign_cells exactly (rounded-4dp
# cosine argmax with lowest-cid ties; DECIMAL(25,12) component means
# rounded to 6dp so both engines derive bit-identical centroids). A
# vector with a NaN element seeds nothing and gets no cell.
_HAS_NAN = "coalesce(list_bool_or(list_transform(e, x -> isnan(x))), false)"
_IVF_KMEANS_CTES = f"""
    v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    seeds AS (
      SELECT vec_id AS cid, e AS ce FROM v WHERE NOT {_HAS_NAN}
      ORDER BY vec_id LIMIT 8
    ),
    a1 AS (
      SELECT vec_id, cid FROM (
        SELECT v.vec_id, s.cid,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY round({_COS.format(a='v.e', b='s.ce')}, 4) DESC, s.cid
               ) AS rn
        FROM v CROSS JOIN seeds s WHERE NOT {_HAS_NAN}
      ) WHERE rn = 1
    ),
    el AS (
      SELECT a1.cid, generate_subscripts(v.e, 1) AS pos, unnest(v.e) AS x
      FROM v JOIN a1 USING (vec_id)
    ),
    cm AS (
      SELECT cid, pos,
             round(CAST(sum(CAST(x AS DECIMAL(25,12))) AS DOUBLE) / count(*), 6) AS m
      FROM el GROUP BY cid, pos
    ),
    cent AS (SELECT cid, array_agg(m ORDER BY pos) AS ce FROM cm GROUP BY cid),
    cells AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT v.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY round({_COS.format(a='v.e', b='c.ce')}, 4) DESC, c.cid
               ) AS rn
        FROM v CROSS JOIN cent c WHERE NOT {_HAS_NAN}
      ) WHERE rn = 1
    ),
    vv AS (SELECT v.vec_id, v.e, cells.cell FROM v JOIN cells USING (vec_id))
"""


def _ivf_kmeans_cells(spark: SparkSession, sf_dir: str):
    """Embeddings decorated with learned IVF cells (k=8, one Lloyd
    iteration from the lowest-id seeds)."""
    from gene_level_metadata_pipeline_spark.operators.similarity import (
        assign_cells,
        kmeans_centroids,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cent = kmeans_centroids(emb, k=8, iters=1)
    # Every consumer pair (ivf_topk's probe + broadcast-query sides, the
    # PQ train/encode stages, the recall twins) re-expanded the whole
    # Lloyd pipeline — assignment scan plus the N x dim re-estimation
    # shuffle — once per reference (r10-opt audit: 12 scans in
    # ann_ivf_kmeans_topk's plan for one logical cell table).
    # Checkpoint the decorated table once; downstream queries read the
    # materialized (vec_id, embedding, cell) blocks.
    return assign_cells(emb, cent).transform(_materialize)


@_register(
    "ann_ivf_kmeans_topk",
    oracle=f"""
    WITH {_IVF_KMEANS_CTES},
    q AS (SELECT vec_id AS query_id, e AS qe, cell FROM vv WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, vv.vec_id AS neighbor_id,
             round({_COS.format(a='q.qe', b='vv.e')}, 4) AS cos_sim
      FROM q JOIN vv ON q.cell = vv.cell AND q.query_id <> vv.vec_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
      ) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def q_ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a REAL learned coarse quantizer: k-means centroids (one
    deterministic Lloyd iteration, similarity.kmeans_centroids) assign
    every vector a cell; each query searches only its cell. Same plan
    shape as label-cell IVF but the cells now come from the data, not a
    pre-assigned label — the production IVF build path."""
    from gene_level_metadata_pipeline_spark.operators.similarity import ivf_topk

    vv = _ivf_kmeans_cells(spark, sf_dir)
    return ivf_topk(
        vv, vv.where(F.col("vec_id") < 10), cell_col="cell"
    )


@_register(
    "ann_ivf_kmeans_recall",
    oracle=f"""
    WITH {_IVF_KMEANS_CTES},
    q AS (SELECT vec_id AS query_id, e AS qe, cell FROM vv WHERE vec_id < 10),
    bf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, v.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round({_COS.format(a='q.qe', b='v.e')}, 4) DESC,
                          v.vec_id
               ) AS rank
        FROM q JOIN v ON q.query_id <> v.vec_id
      ) WHERE rank <= 5
    ),
    ivf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, vv.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round({_COS.format(a='q.qe', b='vv.e')}, 4) DESC,
                          vv.vec_id
               ) AS rank
        FROM q JOIN vv ON q.cell = vv.cell AND q.query_id <> vv.vec_id
      ) WHERE rank <= 5
    ),
    tp AS (
      SELECT count(*) AS n_tp FROM bf JOIN ivf USING (query_id, neighbor_id)
    )
    SELECT (SELECT count(*) FROM bf) AS n_truth,
           (SELECT count(*) FROM ivf) AS n_ivf,
           n_tp,
           round(n_tp * 1.0 / (SELECT count(*) FROM bf), 4) AS recall
    FROM tp
    """,
)
def q_ann_ivf_kmeans_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of the LEARNED-centroid IVF (ann_ivf_kmeans_topk) against
    exact brute-force truth — the calibration run an IVF deployment does
    before committing to a cell count. The learned quantizer should meet
    or beat the pre-assigned-label cells of ann_ivf_recall: k-means cells
    follow the data's actual density, labels don't have to."""
    from gene_level_metadata_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    vv = _ivf_kmeans_cells(spark, sf_dir)
    queries = vv.where(F.col("vec_id") < 10)
    truth = brute_force_topk(
        vv.drop("cell"), queries.drop("cell"), k=5
    ).select("query_id", "neighbor_id")
    approx = ivf_topk(vv, queries, cell_col="cell").select(
        "query_id", "neighbor_id"
    )
    tp = truth.join(approx, ["query_id", "neighbor_id"]).agg(
        F.count(F.lit(1)).alias("n_tp")
    )
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_ivf = approx.agg(F.count(F.lit(1)).alias("n_ivf"))
    return (
        n_truth.join(n_ivf).join(tp)
        .select(
            "n_truth", "n_ivf", "n_tp",
            _round_to(F.col("n_tp") / F.col("n_truth"), 4).alias("recall"),
        )
    )


# Shared DuckDB CTE chain for the product-quantization family: split
# every embedding into m=8 consecutive 8-dim sub-vectors, train one
# deterministic Lloyd iteration per subspace from the 16 lowest-id
# seeds (rounded-4dp squared-L2 argmin with lowest-cid ties; exact
# DECIMAL(25,12) component means rounded to 6dp — the
# similarity.pq_codebooks discipline), PQ-encode the corpus, and build
# per-query DECIMAL(18,4) ADC lookup tables. L2² uses the expansion
# form (dot(a,a) - 2*dot(a,b) + dot(b,b)) in BOTH engines so the
# rounded values agree bit-for-bit.
_L2SQ = (
    "(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
    " + list_dot_product({b}, {b}))"
)

_PQ_CTES = f"""
    v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = 64
    ),
    sub AS (
      SELECT vec_id, s, e[s * 8 + 1 : s * 8 + 8] AS x
      FROM v, (SELECT unnest(generate_series(0, 7)) AS s)
    ),
    seedids AS (SELECT vec_id FROM v ORDER BY vec_id LIMIT 16),
    seeds AS (
      SELECT s, vec_id AS cid, x AS ce FROM sub
      WHERE vec_id IN (SELECT vec_id FROM seedids)
    ),
    a1 AS (
      SELECT vec_id, s, cid FROM (
        SELECT sub.vec_id, sub.s, seeds.cid,
               row_number() OVER (
                 PARTITION BY sub.vec_id, sub.s
                 ORDER BY round({_L2SQ.format(a='sub.x', b='seeds.ce')}, 4),
                          seeds.cid
               ) AS rn
        FROM sub JOIN seeds ON sub.s = seeds.s
      ) WHERE rn = 1
    ),
    el AS (
      SELECT a1.s, a1.cid, generate_subscripts(sub.x, 1) AS pos,
             unnest(sub.x) AS xv
      FROM sub JOIN a1 USING (vec_id, s)
    ),
    cm AS (
      SELECT s, cid, pos,
             round(CAST(sum(CAST(xv AS DECIMAL(25,12))) AS DOUBLE)
                   / count(*), 6) AS mv
      FROM el GROUP BY s, cid, pos
    ),
    cent AS (
      SELECT s, cid, array_agg(mv ORDER BY pos) AS ce FROM cm GROUP BY s, cid
    ),
    codes AS (
      SELECT vec_id, s, cid AS code FROM (
        SELECT sub.vec_id, sub.s, cent.cid,
               row_number() OVER (
                 PARTITION BY sub.vec_id, sub.s
                 ORDER BY round({_L2SQ.format(a='sub.x', b='cent.ce')}, 4),
                          cent.cid
               ) AS rn
        FROM sub JOIN cent ON sub.s = cent.s
      ) WHERE rn = 1
    ),
    qsub AS (SELECT vec_id AS query_id, s, x AS qx FROM sub WHERE vec_id < 10),
    lut AS (
      SELECT qsub.query_id, cent.s, cent.cid AS code,
             CAST(round({_L2SQ.format(a='qsub.qx', b='cent.ce')}, 4)
                  AS DECIMAL(18,4)) AS l
      FROM qsub JOIN cent ON qsub.s = cent.s
    ),
    adc AS (
      SELECT lut.query_id, codes.vec_id AS neighbor_id,
             CAST(sum(lut.l) AS DOUBLE) AS adc_dist
      FROM codes JOIN lut ON lut.s = codes.s AND lut.code = codes.code
      WHERE lut.query_id <> codes.vec_id
      GROUP BY 1, 2
      HAVING count(*) = 8
    ),
    pq5 AS (
      SELECT query_id, neighbor_id, adc_dist, rank FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY adc_dist, neighbor_id
        ) AS rank FROM adc
      ) WHERE rank <= 5
    )
"""


def _pq_pieces(spark: SparkSession, sf_dir: str):
    """Embeddings + trained PQ codebooks + encoded corpus (m=8, k=16,
    one Lloyd iteration) — shared by the ADC top-k and recall queries."""
    from gene_level_metadata_pipeline_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
    )

    # The embeddings table reads as ONE parquet partition at bench SFs
    # while training assignment + encoding are compute-heavy per-row
    # folds — spread them first (the image_phash_near_dup lesson; a
    # production corpus arrives already partitioned).
    emb = _t(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    cb = pq_codebooks(emb, dim=64, m=8, k=16)
    codes = pq_encode(emb, cb, dim=64, m=8)
    return emb, cb, codes


@_register(
    "ann_pq_adc_topk",
    oracle=f"""
    WITH {_PQ_CTES}
    SELECT query_id, neighbor_id, adc_dist, rank FROM pq5
    """,
)
def q_ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. TPAMI 2011): train m=8
    subspace codebooks (k=16 codewords, one deterministic Lloyd
    iteration — similarity.pq_codebooks), PQ-encode the corpus 64× down
    to 8 nibble codes per vector, and answer top-5 by asymmetric
    distance: per query ONE m*k lookup table of rounded squared-L2
    distances, each corpus vector scored as the exact-DECIMAL sum of 8
    table lookups — no vector arithmetic in the scan. The memory tier
    between int8 quantization and IVF for a 100 TB ANN deployment; the
    oracle replays training, encoding, LUT and ranking end-to-end."""
    from gene_level_metadata_pipeline_spark.operators.similarity import (
        pq_adc_topk,
    )

    emb, cb, codes = _pq_pieces(spark, sf_dir)
    return pq_adc_topk(
        codes, cb, emb.where(F.col("vec_id") < 10),
        dim=64, m=8, k_neighbors=5,
    )


@_register(
    "ann_pq_recall",
    oracle=f"""
    WITH {_PQ_CTES},
    bf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, v.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round({_L2SQ.format(a='q.qe', b='v.e')}, 4),
                          v.vec_id
               ) AS rank
        FROM (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10) q
        JOIN v ON q.query_id <> v.vec_id
      ) WHERE rank <= 5
    ),
    tp AS (
      SELECT count(*) AS n_tp FROM bf JOIN pq5 USING (query_id, neighbor_id)
    )
    SELECT (SELECT count(*) FROM bf) AS n_truth,
           (SELECT count(*) FROM pq5) AS n_pq,
           n_tp,
           round(n_tp * 1.0 / (SELECT count(*) FROM bf), 4) AS recall
    FROM tp
    """,
)
def q_ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ index evaluating ITSELF (the ann_ivf_recall methodology):
    recall@5 of ADC-ranked top-5 against exact squared-L2 brute force
    over the same 10 queries, both sides sharing the deterministic
    (rounded distance ASC, neighbor_id) tie-break. This is the
    calibration run a PQ deployment does before committing m/k at
    100 TB — quantization error shows up here as a recall number, not a
    silent wrong answer."""
    from gene_level_metadata_pipeline_spark.operators.similarity import (
        _as_double,
        _l2sq,
        pq_adc_topk,
    )
    from pyspark.sql.window import Window

    emb, cb, codes = _pq_pieces(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    scored = (
        emb.join(F.broadcast(queries), F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                _l2sq(_as_double(F.col("qe")), _as_double(F.col("embedding"))), 4
            ).alias("d"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("d", "neighbor_id")
    truth = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("query_id", "neighbor_id")
    )
    approx = pq_adc_topk(
        codes, cb, emb.where(F.col("vec_id") < 10), dim=64, m=8, k_neighbors=5
    ).select("query_id", "neighbor_id")
    tp = truth.join(approx, ["query_id", "neighbor_id"]).agg(
        F.count(F.lit(1)).alias("n_tp")
    )
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_pq = approx.agg(F.count(F.lit(1)).alias("n_pq"))
    return (
        n_truth.join(n_pq).join(tp)
        .select(
            "n_truth", "n_pq", "n_tp",
            _round_to(F.col("n_tp") / F.col("n_truth"), 4).alias("recall"),
        )
    )


@_register(
    "read_excel_sheet",
    oracle="""
    SELECT * FROM (VALUES
      ('g1', CAST(1.5 AS DOUBLE)), ('g2', CAST(2.5 AS DOUBLE))
    ) AS t(gene, score)
    """,
)
def q_read_excel_sheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 Excel scan — sheet by index, pure-stdlib xlsx fallback (zipped
    XML; no Excel engine in this container). Sheet-by-name + startRow is
    covered by unit tests (tests/test_sources.py)."""
    from gene_level_metadata_pipeline_spark.plans.fixtures import fixture_dir
    from gene_level_metadata_pipeline_spark.sources.readers import read_excel

    return read_excel(spark, f"{fixture_dir()}/workbook.xlsx", sheet=0)


@_register(
    "salted_count",
    oracle="SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag",
)
def q_salted_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase count: the salting pattern for hot aggregation
    keys (SURVEY §4 skew watchpoints) — partial counts per (key, salt),
    final sum per key. Result must equal the plain GROUP BY."""
    from gene_level_metadata_pipeline_spark.operators.skew import salted_count

    li = _t(spark, sf_dir, "lineitem").select("l_returnflag")
    return salted_count(li, ["l_returnflag"], salt_buckets=16)


@_register(
    "streaming_late_data",
    oracle="""
    SELECT * FROM (VALUES
      ('2024-01-01 01:00:00', CAST(2 AS BIGINT)),
      ('2024-01-01 02:00:00', CAST(1 AS BIGINT))
    ) AS t(hour, n)
    """,
)
def q_streaming_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark + append-mode late-data semantics (SURVEY §2.12
    'watermarks + windowed aggs for late data'): a deterministic two-batch
    stream where an event arriving behind the watermark is DROPPED — the
    closed hour-1 window counts 2, not 3. The VALUES oracle certifies the
    exact late-data contract."""
    from gene_level_metadata_pipeline_spark.streaming.windows import (
        late_data_window_counts,
    )

    return late_data_window_counts(spark)


# ---------------------------------------------------------------------------
# Engine breadth, continued: time-range window frames.
# ---------------------------------------------------------------------------


@_register(
    "window_time_range",
    oracle="""
    SELECT event_id, user_id,
           count(*) OVER w AS rolling_cnt,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))) OVER w, 2) AS DOUBLE) AS rolling_sum
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
)
def q_window_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: per-user rolling 1-hour event count and
    value sum. The frame is defined on physical microseconds (identical
    integers in both engines — no timezone games), sums in exact decimal
    so the sliding accumulation order can't perturb the double. One
    shuffle on user_id; the frame scan is sorted within partitions."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3600 * 1000000, 0)
    )
    return ev.select(
        "event_id", "user_id",
        F.count(F.lit(1)).over(w).alias("rolling_cnt"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")).over(w), 2)
         .cast("double").alias("rolling_sum"),
    )


# ---------------------------------------------------------------------------
# Data-quality validation / profiling extensions
# ---------------------------------------------------------------------------

@_register(
    "validate_constraints",
    oracle="""
    SELECT 'o_custkey_not_null' AS rule,
           count(CASE WHEN o_custkey IS NULL THEN 1 END) AS n_violations
    FROM orders
    UNION ALL
    SELECT 'o_status_domain',
           count(CASE WHEN o_orderstatus IS NOT NULL
                       AND o_orderstatus NOT IN ('O','F','P') THEN 1 END)
    FROM orders
    UNION ALL
    SELECT 'l_discount_low',
           count(CASE WHEN l_discount IS NOT NULL
                       AND l_discount NOT BETWEEN 0.0 AND 0.05 THEN 1 END)
    FROM lineitem
    UNION ALL
    SELECT 'l_qty_range',
           count(CASE WHEN l_quantity IS NOT NULL
                       AND l_quantity NOT BETWEEN 1 AND 50 THEN 1 END)
    FROM lineitem
    UNION ALL
    SELECT 'o_orderkey_unique', CAST(COALESCE(sum(n), 0) AS BIGINT)
    FROM (SELECT count(*) AS n FROM orders GROUP BY o_orderkey
          HAVING count(*) > 1)
    UNION ALL
    SELECT 'l_orderkey_unique', CAST(COALESCE(sum(n), 0) AS BIGINT)
    FROM (SELECT count(*) AS n FROM lineitem GROUP BY l_orderkey
          HAVING count(*) > 1)
    UNION ALL
    SELECT 'li_fk_orders', count(*)
    FROM lineitem l
    LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
      ON l.l_orderkey = o.o_orderkey
    WHERE l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL
    UNION ALL
    SELECT 'ord_fk_customer', count(*)
    FROM orders d
    LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
      ON d.o_custkey = c.c_custkey
    WHERE d.o_custkey IS NOT NULL AND c.c_custkey IS NULL
    """,
)
def q_validate_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality suite (operators/quality.validate): the
    reference's hand-rolled dup audits and expected-count comments
    (TM:30-32,46,74; T:213-216,273) as first-class rules. Predicate
    rules fuse into one conditional-count pass per table (2 scans for 4
    rules here); unique rules are groupBy counts; FK rules are anti
    joins against broadcast-distinct parent keys."""
    from gene_level_metadata_pipeline_spark.operators import quality as Q

    ord_ = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cust = _t(spark, sf_dir, "customer")
    return Q.validate([
        Q.not_null("o_custkey_not_null", ord_, "o_custkey"),
        Q.accepted_values("o_status_domain", ord_, "o_orderstatus",
                          ["O", "F", "P"]),
        Q.in_range("l_discount_low", li, "l_discount", 0.0, 0.05),
        Q.in_range("l_qty_range", li, "l_quantity", 1, 50),
        Q.unique("o_orderkey_unique", ord_, "o_orderkey"),
        Q.unique("l_orderkey_unique", li, "l_orderkey"),
        Q.foreign_key("li_fk_orders", li, "l_orderkey", ord_, "o_orderkey"),
        Q.foreign_key("ord_fk_customer", ord_, "o_custkey", cust, "c_custkey"),
    ])


@_register(
    "histogram_prices",
    oracle="""
    WITH b AS (
      SELECT CAST(min(o_totalprice) AS DOUBLE) AS lo0,
             CAST(max(o_totalprice) AS DOUBLE) AS hi0
      FROM orders
    ),
    binned AS (
      SELECT least(19, CAST(floor((CAST(o_totalprice AS DOUBLE) - lo0)
                                  / ((hi0 - lo0) / 20.0)) AS BIGINT)) AS bin,
             lo0, (hi0 - lo0) / 20.0 AS w
      FROM orders, b
      WHERE o_totalprice IS NOT NULL
    )
    SELECT bin, lo0 + bin * w AS lo, lo0 + (bin + 1) * w AS hi,
           count(*) AS n
    FROM binned GROUP BY bin, lo0, w
    """,
)
def q_histogram_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (operators/quality.histogram): 20 bins over
    order totals. A 1-row min/max aggregate broadcast into the binning
    scan — two passes, no driver collect; bin arithmetic is raw IEEE
    double ops so the oracle bit-matches."""
    from gene_level_metadata_pipeline_spark.operators.quality import histogram

    return histogram(_t(spark, sf_dir, "orders"), "o_totalprice", 20)


@_register(
    "histogram_equi_depth",
    oracle="""
    WITH binned AS (
      SELECT CAST(o_totalprice AS DOUBLE) AS x,
             CAST(ntile(20) OVER (ORDER BY o_totalprice, o_orderkey)
                  AS BIGINT) AS bin
      FROM orders
      WHERE o_totalprice IS NOT NULL
    )
    SELECT bin, min(x) AS lo, max(x) AS hi, count(*) AS n
    FROM binned GROUP BY bin
    """,
)
def q_histogram_equi_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (quality.equi_depth_histogram): 20 quantile
    buckets of order totals via ntile over a TOTAL order (value, then
    orderkey — duplicate values land deterministically), per-bucket
    lo/hi/count. The profile complement to histogram_prices: equi-width
    bins starve where data clusters, equi-depth bins each hold ~n/20
    rows by construction."""
    from gene_level_metadata_pipeline_spark.operators.quality import (
        equi_depth_histogram,
    )

    return equi_depth_histogram(
        _t(spark, sf_dir, "orders"), "o_totalprice", "o_orderkey", 20
    )


@_register(
    "outlier_zscore",
    oracle="""
    WITH m AS (
      SELECT p_type,
             count(*) AS n,
             CAST(sum(CAST(p_retailprice AS DECIMAL(28,8))) AS DOUBLE) AS s,
             CAST(sum(CAST(p_retailprice * p_retailprice AS DECIMAL(28,8)))
                  AS DOUBLE) AS s2
      FROM part GROUP BY p_type
    ),
    j AS (
      SELECT p.p_partkey, p.p_type, p.p_retailprice,
             s / n AS mean,
             sqrt(greatest(0.0, s2 / n - (s / n) * (s / n))) AS sd
      FROM part p JOIN m ON p.p_type IS NOT DISTINCT FROM m.p_type
    )
    SELECT p_partkey,
           CASE WHEN sd > 0
                THEN round((p_retailprice - mean) / sd, 4) END AS z_score,
           coalesce(CASE WHEN sd > 0
                         THEN abs(round((p_retailprice - mean) / sd, 4)) > 1.5
                    END, false) AS is_outlier
    FROM j
    """,
)
def q_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outlier gate (quality.flag_outliers, z=1.5 so
    the small-SF fixture actually flags rows): exact DECIMAL moments →
    order-independent mean/population-sd → broadcast back for the
    flagging, one shuffle total. The stratum-local numeric-curation
    filter (a price pathological FOR ITS TYPE, not globally)."""
    from gene_level_metadata_pipeline_spark.operators.quality import flag_outliers

    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type", "p_retailprice")
    return flag_outliers(p, "p_type", "p_retailprice", z=1.5).select(
        "p_partkey", "z_score", "is_outlier"
    )


@_register(
    "winsorize_prices",
    oracle="""
    WITH b AS (
      SELECT p_type,
             percentile_cont(0.05) WITHIN GROUP (ORDER BY CAST(p_retailprice AS DOUBLE)) AS plo,
             percentile_cont(0.95) WITHIN GROUP (ORDER BY CAST(p_retailprice AS DOUBLE)) AS phi
      FROM part GROUP BY p_type
    )
    SELECT p.p_partkey,
           round(least(greatest(CAST(p.p_retailprice AS DOUBLE), b.plo), b.phi), 4)
             AS winsorized
    FROM part p JOIN b ON p.p_type IS NOT DISTINCT FROM b.p_type
    """,
)
def q_winsorize_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization (quality.winsorize): clip to the group's
    exact interpolated [5th, 95th] percentiles — heavy-tail taming
    before averaging. Percentile INTERPOLATION differs in the last ulp
    between engines (lo + (hi-lo)·f vs lo·(1−f) + hi·f), so the query
    rounds the clipped output to 4dp on both sides; one percentile
    shuffle + broadcast clip."""
    from gene_level_metadata_pipeline_spark.operators.quality import winsorize

    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type", "p_retailprice")
    return winsorize(p, "p_type", "p_retailprice").select(
        "p_partkey", _round_to(F.col("winsorized"), 4).alias("winsorized")
    )


@_register(
    "curation_pipeline",
    oracle="""
    WITH q AS (
      SELECT doc_id, text, source,
             len(string_split(text, ' ')) AS n_words,
             length(replace(text, ' ', '')) AS nospace
      FROM documents
    ),
    ok AS (
      SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      FROM q
      WHERE n_words >= 5 AND n_words <= 100000 AND nospace / n_words < 12.0
    ),
    raw AS (SELECT source, count(*) AS n_raw FROM documents GROUP BY source),
    k AS (
      SELECT source, count(*) AS n_ok,
             count(CASE WHEN rn = 1 THEN 1 END) AS n_kept,
             CAST(COALESCE(sum(CASE WHEN rn = 1 THEN n_words END), 0)
                  AS BIGINT) AS ws_tokens_kept
      FROM ok GROUP BY source
    )
    SELECT r.source,
           r.n_raw,
           COALESCE(k.n_ok, 0) AS n_ok,
           COALESCE(k.n_kept, 0) AS n_kept,
           COALESCE(k.ws_tokens_kept, 0) AS ws_tokens_kept
    FROM raw r LEFT JOIN k ON r.source = k.source
    """,
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus-curation composite — the training-data shape:
    quality gate (word count + word-shape heuristics, textanalysis
    formulas) → global exact dedup (first doc_id per identical text
    wins) → per-source audit counts (raw / passed / kept / kept
    tokens). Plan: one documents scan feeds both the raw counts and the
    gated branch; dedup is a window over the text key (at 100 TB,
    partition by md5(text) to keep shuffle keys short); final join of
    two source-grained aggregates is broadcast-sized."""
    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_words = F.size(words)
    nospace = F.length(F.regexp_replace(F.col("text"), " ", ""))
    gated = docs.select(
        "doc_id", "text", "source", n_words.alias("n_words"),
        nospace.alias("nospace"),
    ).where(
        (F.col("n_words") >= 5) & (F.col("n_words") <= 100000)
        & (F.col("nospace") / F.col("n_words") < 12.0)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("text").orderBy("doc_id")
    ranked = gated.withColumn("rn", F.row_number().over(w))
    kept = ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_ok"),
        F.count(F.when(F.col("rn") == 1, 1)).alias("n_kept"),
        F.coalesce(
            F.sum(F.when(F.col("rn") == 1, F.col("n_words"))), F.lit(0)
        ).cast("long").alias("ws_tokens_kept"),
    )
    raw = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_raw"))
    return raw.join(kept, "source", "left").select(
        "source", "n_raw",
        F.coalesce("n_ok", F.lit(0)).alias("n_ok"),
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("ws_tokens_kept", F.lit(0)).alias("ws_tokens_kept"),
    )


# ---------------------------------------------------------------------------
# EP2/EP3 pipeline-parity slices under the driver's gate: reference-shaped
# fixtures built inline, builders from plans/gene_pipeline.py, VALUES oracles
# (the parity goldens in tests/test_pipeline_parity.py are the local twin).
# ---------------------------------------------------------------------------


@_register(
    "pipeline_constraint_scores",
    oracle="""
    SELECT * FROM (VALUES
      ('GENE1', CAST(0.11 AS DOUBLE)),
      ('GENE2', CAST(0.22 AS DOUBLE)),
      ('GENE3', CAST(NULL AS DOUBLE))
    ) AS t(hgnc_gene_symbol, LOEUF)
    """,
)
def q_pipeline_constraint_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TW:143-168 end-to-end under the driver's gate: the gnomAD LOEUF
    flow — MANE/canonical transcript gate (pulled-vector %in% → semi
    join), NULL-symbol drop, prefer-flagged conflict resolution (dup
    genes keep only mane_select='true'), spine left join with NULL
    padding. Fixture mirrors tests/test_pipeline_parity.py's golden."""
    from gene_level_metadata_pipeline_spark.plans import gene_pipeline as gp

    gnomad = spark.createDataFrame(
        [
            ("GENE1", "ENST1", "true", 0.11, 0.5, ""),
            ("GENE1", "ENST1B", "", 0.99, 0.5, ""),
            ("GENE2", "ENST2", "", 0.22, 0.5, ""),
            ("GENE3", "ENSTX", "", 0.33, 0.5, ""),
        ],
        ["gene", "transcript", "mane_select", "lof.oe_ci.upper",
         "mis.oe_ci.upper", "constraint_flags"],
    )
    mane = spark.createDataFrame(
        [("GENE1", "ENST1", "MANE1", None),
         ("GENE1", "ENST1B", "", 1),
         ("GENE2", "ENST2", "", 1)],
        "hgnc_symbol string, ensembl_transcript_id string, "
        "transcript_mane_select string, transcript_is_canonical int",
    )
    pcg = spark.createDataFrame(
        [("GENE1",), ("GENE2",), ("GENE3",)], ["symbol"]
    )
    return gp.constraint_scores(gnomad, mane, gp.gene_spine(pcg))


@_register(
    "pipeline_depmap_essentiality",
    oracle="""
    SELECT * FROM (VALUES
      ('GENE1', CAST(66.667 AS DOUBLE), CAST(-0.5 AS DOUBLE)),
      ('GENE2', CAST(0.0 AS DOUBLE), CAST(0.067 AS DOUBLE)),
      ('GENE3', CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE))
    ) AS t(hgnc_gene_symbol, percentage_essential, mean_score_all)
    """,
)
def q_pipeline_depmap_essentiality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TW:12-51 end-to-end under the driver's gate: the DepMap melt-not-
    transpose flow — one stack pass over the models×genes matrix, one
    groupBy computing binarized essential counts (−0.5 threshold),
    percentage, and mean together, half-even round-3, spine join."""
    from gene_level_metadata_pipeline_spark.plans import gene_pipeline as gp

    gene_effect = spark.createDataFrame(
        [("M1", -0.9, 0.1), ("M2", -0.6, -0.2), ("M3", 0.0, 0.3)],
        ["...1", "GENE1 (101)", "GENE2 (102)"],
    )
    pcg = spark.createDataFrame(
        [("GENE1",), ("GENE2",), ("GENE3",)], ["symbol"]
    )
    return gp.depmap_essentiality(gene_effect, gp.gene_spine(pcg))


@_register(
    "pipeline_alphamissense_flags",
    oracle="""
    SELECT * FROM (VALUES
      ('ENST1', 'GENE1', 'mane only'),
      ('ENST2', 'GENE2', 'canonical only'),
      ('ENST3', 'GENE3', 'mane and canonical'),
      ('ENST4', 'GENE1', 'neither')
    ) AS t(ensembl_transcript_id, hgnc_symbol, flag)
    """,
)
def q_pipeline_alphamissense_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TM:6-30 end-to-end under the driver's gate: version-suffix strip,
    protein-coding-gated MANE snapshot (S12 semi join), natural left
    join, the four-way MANE/canonical case_when with R NA-condition
    fallthrough (null predicates skip in both engines), NULL-symbol
    drop."""
    from gene_level_metadata_pipeline_spark.plans import gene_pipeline as gp

    alpham = spark.createDataFrame(
        [("ENST1.5", 0.9), ("ENST2.12", 0.5), ("ENST3.1", 0.2),
         ("ENST4.2", 0.1), ("ENST9.9", 0.7)],
        ["transcript_id", "am_score"],
    )
    mane = spark.createDataFrame(
        [("GENE1", "ENST1", "MANE1", None),
         ("GENE2", "ENST2", "", 1),
         ("GENE3", "ENST3", "MANE3", 1),
         ("GENE1", "ENST4", "", None),
         ("NOTPCG", "ENST9", "MANE9", 1)],
        "hgnc_symbol string, ensembl_transcript_id string, "
        "transcript_mane_select string, transcript_is_canonical int",
    )
    pcg = spark.createDataFrame(
        [("GENE1", "HGNC:1", "ENSG1", 11),
         ("GENE2", "HGNC:2", "ENSG2", 22),
         ("GENE3", "HGNC:3", "ENSG3", 33)],
        ["symbol", "hgnc_id", "ensembl_gene_id", "entrez_id"],
    )
    return gp.alphamissense(alpham, mane, pcg).select(
        "ensembl_transcript_id", "hgnc_symbol", "flag"
    )


@_register(
    "outlier_mad",
    oracle="""
    WITH med AS (
      SELECT o_orderpriority,
             percentile_cont(0.5) WITHIN GROUP (
               ORDER BY CAST(o_totalprice AS DOUBLE)) AS m
      FROM orders GROUP BY o_orderpriority
    ),
    dev AS (
      SELECT o.o_orderkey, o.o_orderpriority,
             CAST(o.o_totalprice AS DOUBLE) AS x, med.m
      FROM orders o
      JOIN med ON o.o_orderpriority IS NOT DISTINCT FROM med.o_orderpriority
    ),
    mad AS (
      SELECT o_orderpriority,
             percentile_cont(0.5) WITHIN GROUP (ORDER BY abs(x - m)) AS d
      FROM dev GROUP BY o_orderpriority
    )
    SELECT dev.o_orderkey,
           round(0.6745 * (dev.x - dev.m) / nullif(mad.d, 0), 4)
             AS modified_z
    FROM dev
    JOIN mad ON dev.o_orderpriority IS NOT DISTINCT FROM mad.o_orderpriority
    WHERE abs(0.6745 * (dev.x - dev.m) / nullif(mad.d, 0)) > 1.2
    """,
)
def q_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust MAD outlier gate (quality.mad_outliers): modified z-score
    0.6745·(x − median)/MAD per priority group over order totals,
    flagged at |mz| > 1.2 (the synthetic near-uniform totals cap the
    modified z around 1.35, so the demo threshold sits where the
    tails actually are). The robust complement to outlier_zscore —
    median/MAD have 50% breakdown where mean/stddev move with the very
    outliers they hunt."""
    from gene_level_metadata_pipeline_spark.operators.quality import (
        mad_outliers,
    )

    out = mad_outliers(
        _t(spark, sf_dir, "orders"), "o_orderpriority", "o_totalprice",
        threshold=1.2,
    )
    return out.where(F.col("is_outlier")).select("o_orderkey", "modified_z")


# ---------------------------------------------------------------------------
# Data-quality audits beyond validate_constraints: privacy, dependencies,
# distributional forensics (round 5 additions)
# ---------------------------------------------------------------------------

@_register(
    "k_anonymity_audit",
    oracle="""
    SELECT c_nationkey, c_mktsegment,
           CAST(floor(c_acctbal / 100) AS BIGINT) AS bal_band,
           count(*) AS class_size
    FROM customer
    GROUP BY c_nationkey, c_mktsegment, CAST(floor(c_acctbal / 100) AS BIGINT)
    HAVING count(*) < 5
    """,
)
def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit (quality.k_anonymity): quasi-identifier equivalence
    classes smaller than k=5 over (nation, segment, 100-unit balance
    band) — the release-risk screen a training-data pipeline runs before
    shipping user-derived records. One map-side-combined aggregate plus
    a size filter; floor() on the identical double is engine-exact
    (negative balances floor toward -inf in both)."""
    from gene_level_metadata_pipeline_spark.operators.quality import k_anonymity

    cust = _t(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 100).cast("long").alias("bal_band"),
    )
    return k_anonymity(cust, ["c_nationkey", "c_mktsegment", "bal_band"], 5)


@_register(
    "fd_violations",
    oracle="""
    SELECT p_brand, count(DISTINCT p_type) AS n_dependent,
           min(p_type) AS dep_lo, max(p_type) AS dep_hi
    FROM part
    GROUP BY p_brand
    HAVING count(DISTINCT p_type) > 1
    """,
)
def q_fd_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit (quality.fd_violations): brands whose
    p_brand → p_type dependency fails, with min/max conflicting types as
    witnesses — the schema-inference / dirty-join screen. Exact distinct
    count via Spark's expand+partial-agg, one shuffle on the
    determinant; min/max string witnesses compare binary-identically to
    DuckDB on this ASCII domain."""
    from gene_level_metadata_pipeline_spark.operators.quality import fd_violations

    return fd_violations(_t(spark, sf_dir, "part"), "p_brand", "p_type")


@_register(
    "benford_audit",
    oracle="""
    WITH cents AS (
      SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c
      FROM orders
    ),
    d AS (
      SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit
      FROM cents WHERE c > 0
    ),
    cnt AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
    t AS (SELECT sum(n) AS tot FROM cnt)
    SELECT digit, n,
      round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) * 1e6, 0) / 1e6
        AS obs_p,
      round(log10(1 + 1.0 / digit) * 1e6, 0) / 1e6 AS exp_p,
      round((CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)
               - log10(1 + 1.0 / digit))
            * (CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)
               - log10(1 + 1.0 / digit))
            / log10(1 + 1.0 / digit) * 1e6, 0) / 1e6 AS dev_term
    FROM cnt, t
    """,
)
def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit forensics (quality.benford_first_digit) over
    order totals: per-digit observed vs log10(1+1/d) expected share and
    the squared-deviation term — the fabricated-data screen. The digit
    is read from the EXACT integer-cents bigint's decimal string (no
    double formatting, no log10-of-a-double edge at powers of ten), so
    the 9-row report hash-matches bit-for-bit."""
    from gene_level_metadata_pipeline_spark.operators.quality import (
        benford_first_digit,
    )

    return benford_first_digit(_t(spark, sf_dir, "orders"), "o_totalprice")


@_register(
    "ann_ivf_multiprobe_topk",
    oracle=f"""
    WITH {_IVF_KMEANS_CTES},
    qp AS (
      SELECT query_id, qe, cell FROM (
        SELECT v.vec_id AS query_id, v.e AS qe, c.cid AS cell,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY round({_COS.format(a='v.e', b='c.ce')}, 4) DESC,
                          c.cid
               ) AS rn
        FROM v CROSS JOIN cent c
        WHERE v.vec_id < 10
          AND NOT isnan({_COS.format(a='v.e', b='c.ce')})
      ) WHERE rn <= 2
    ),
    scored AS (
      SELECT qp.query_id, vv.vec_id AS neighbor_id,
             round({_COS.format(a='qp.qe', b='vv.e')}, 4) AS cos_sim
      FROM qp JOIN vv ON qp.cell = vv.cell AND qp.query_id <> vv.vec_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
      ) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def q_ann_ivf_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF top-k (similarity.ivf_multiprobe_topk): each
    query searches its TWO nearest learned cells instead of one — the
    standard recall lever for boundary queries, at 2x the scored
    candidates (still ~2N/k per query, never N). Probe selection is the
    same zero-shuffle broadcast-centroid scan as assignment, sorted
    (sim DESC, cid) and sliced — the oracle replays it as a rn<=2
    window over the centroid cross join. Vectors stay single-cell, so
    no (query, neighbor) pair can score twice."""
    from gene_level_metadata_pipeline_spark.operators.similarity import (
        ivf_multiprobe_topk,
        kmeans_centroids,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cent = kmeans_centroids(emb, k=8, iters=1)
    vv = _ivf_kmeans_cells(spark, sf_dir)
    return ivf_multiprobe_topk(
        vv, emb.where(F.col("vec_id") < 10), cent
    )


@_register(
    "ann_ivf_multiprobe_recall",
    oracle=f"""
    WITH {_IVF_KMEANS_CTES},
    q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10),
    bf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, v.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round({_COS.format(a='q.qe', b='v.e')}, 4) DESC,
                          v.vec_id
               ) AS rank
        FROM q JOIN v ON q.query_id <> v.vec_id
      ) WHERE rank <= 5
    ),
    qp AS (
      SELECT query_id, qe, cell FROM (
        SELECT q.query_id, q.qe, c.cid AS cell,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round({_COS.format(a='q.qe', b='c.ce')}, 4) DESC,
                          c.cid
               ) AS rn
        FROM q CROSS JOIN cent c
        WHERE NOT isnan({_COS.format(a='q.qe', b='c.ce')})
      ) WHERE rn <= 2
    ),
    mp AS (
      SELECT query_id, neighbor_id FROM (
        SELECT qp.query_id, vv.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY qp.query_id
                 ORDER BY round({_COS.format(a='qp.qe', b='vv.e')}, 4) DESC,
                          vv.vec_id
               ) AS rank
        FROM qp JOIN vv ON qp.cell = vv.cell AND qp.query_id <> vv.vec_id
      ) WHERE rank <= 5
    ),
    tp AS (
      SELECT count(*) AS n_tp FROM bf JOIN mp USING (query_id, neighbor_id)
    )
    SELECT (SELECT count(*) FROM bf) AS n_truth,
           (SELECT count(*) FROM mp) AS n_mp,
           n_tp,
           round(n_tp * 1.0 / (SELECT count(*) FROM bf), 4) AS recall
    FROM tp
    """,
)
def q_ann_ivf_multiprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of 2-probe IVF against exact brute-force truth — the
    calibration twin of ann_ivf_kmeans_recall. Multi-probe recall is a
    superset-of-candidates guarantee: every single-probe candidate is
    also scored here, so recall can only move UP vs the single-probe
    run — measured +0.10 at sf0.01 (0.76 -> 0.86) and flat at sf0.1
    (0.82 -> 0.82: those queries' missed truth lives beyond the top-2
    cells) — at 2x candidate cost; the dial an IVF deployment turns
    before re-training a bigger quantizer."""
    from gene_level_metadata_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_multiprobe_topk,
        kmeans_centroids,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cent = kmeans_centroids(emb, k=8, iters=1)
    vv = _ivf_kmeans_cells(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 10)
    truth = brute_force_topk(emb, queries, k=5).select(
        "query_id", "neighbor_id"
    )
    approx = ivf_multiprobe_topk(vv, queries, cent).select(
        "query_id", "neighbor_id"
    )
    tp = truth.join(approx, ["query_id", "neighbor_id"]).agg(
        F.count(F.lit(1)).alias("n_tp")
    )
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_mp = approx.agg(F.count(F.lit(1)).alias("n_mp"))
    return (
        n_truth.join(n_mp)
        .join(tp)
        .select(
            "n_truth", "n_mp", "n_tp",
            F.round(
                F.col("n_tp") * F.lit(1.0) / F.col("n_truth"), 4
            ).alias("recall"),
        )
    )


@_register(
    "decorate_hot_status",
    oracle="""
    WITH dim AS (
      SELECT DISTINCT o_orderstatus AS dk,
             'status_' || o_orderstatus AS label
      FROM orders
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 2)
             AS total_price
    FROM orders o JOIN dim ON o.o_orderstatus = dim.dk
    GROUP BY label
    """,
)
def q_decorate_hot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-mitigating hub-key decoration (skew.auto_skew_join, VERDICT
    r5 task 5 wired into a gate query): every o_orderstatus value holds
    ~33% of orders at any SF, so the operator's key histogram detects
    all three as hot and TARGETED salting engages — hot fact rows spread
    over 8 reducers, only the 3 hot dim rows replicate. Result is
    bit-identical to the plain join by construction (unit-pinned), so
    the oracle is simply the plain decoration join + rollup. Measured on
    the 40%-hub stress: 5.4s vs 10.4s plain / 5.8s blanket salting,
    conf-free (tools/stress_skew.py, PLANS.md round 6)."""
    from gene_level_metadata_pipeline_spark.operators.skew import (
        auto_skew_join,
    )

    o = _t(spark, sf_dir, "orders")
    dim = (
        o.select(F.col("o_orderstatus").alias("dk"))
        .distinct()
        .withColumn("label", F.concat(F.lit("status_"), F.col("dk")))
    )
    dec = auto_skew_join(
        o, dim, "o_orderstatus", "dk", hot_share=0.2, salt_buckets=8
    )
    return dec.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double"),
            2,
        ).alias("total_price"),
    )

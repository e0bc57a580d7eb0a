"""Snapshot CDC, graph, k-means assignment, multi-source harmonization, misc.

Split from the original single-module registry (plans/driver_queries.py,
which remains the facade); importing this module registers its queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gene_level_metadata_pipeline_spark.materialize import (
    materialize as _materialize,
)
from gene_level_metadata_pipeline_spark.operators.harmonize import harmonize, spine
from gene_level_metadata_pipeline_spark.plans.registry import (
    _COS,
    _cooccur_pairs,
    _davg,
    _dsum,
    _events,
    _register,
    _round_to,
    _t,
)

# ---------------------------------------------------------------------------
# Snapshot CDC
# ---------------------------------------------------------------------------

@_register(
    "snapshot_diff_orders",
    oracle="""
    WITH old AS (
      SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
      WHERE o_orderdate < TIMESTAMP '1997-01-01'
    ),
    new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderpriority = '1-URGENT'
                  THEN round(o_totalprice * 1.1, 2) ELSE o_totalprice
             END AS o_totalprice,
             o_orderstatus
      FROM orders
      WHERE o_orderdate < TIMESTAMP '1998-01-01' AND o_orderstatus <> 'P'
    )
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN n.o_orderkey IS NULL THEN 'delete'
                WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
                  OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                THEN 'update' END AS change
    FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE (o.o_orderkey IS NULL OR n.o_orderkey IS NULL
           OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
           OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
    """,
)
def q_snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-over-release CDC (operators/cdc.snapshot_diff): diff two
    pinned snapshots of orders — the 1997 release vs the 1998 release
    with urgent orders repriced and 'P'-status orders dropped —
    classifying every key as insert / delete / update (unchanged keys
    filtered). One full-outer shuffle join on the key; the reference's
    dated-release model (I:16,19) gains a first-class 'what changed'
    operator."""
    from gene_level_metadata_pipeline_spark.operators.cdc import snapshot_diff

    ord_ = _t(spark, sf_dir, "orders")
    old = ord_.where(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")
    ).select("o_orderkey", "o_totalprice", "o_orderstatus")
    new = (
        ord_.where(
            (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("o_orderstatus") != "P")
        )
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderpriority") == "1-URGENT",
                _round_to(F.col("o_totalprice") * 1.1, 2),
            ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
            "o_orderstatus",
        )
    )
    return snapshot_diff(old, new, "o_orderkey")


@_register(
    "kmeans_assign",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    c AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 8),
    scored AS (
      SELECT v.vec_id, c.cid,
             round({_COS.format(a='v.e', b='c.ce')}, 4) AS sim
      FROM v CROSS JOIN c
    ),
    assign AS (
      SELECT vec_id, cid, sim FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY sim DESC, cid
        ) AS rn FROM scored
      ) WHERE rn = 1
    )
    SELECT cid AS cluster_id, count(*) AS n,
           round(CAST(sum(CAST(sim AS DECIMAL(18,6))) AS DOUBLE)
                 / count(*), 4) AS avg_sim
    FROM assign GROUP BY cid
    """,
)
def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd's-algorithm assignment step — the iterative-ML shape:
    8 seed centroids (vec_id < 8) broadcast against every embedding,
    JVM-side cosine (zip_with/aggregate fold — no Python), argmax via
    max_by over a (sim, -cid) struct so ties go to the lowest centroid
    deterministically, then per-cluster size and mean similarity. The
    full k-means loop is this plan iterated with re-derived centroids;
    each iteration is one broadcast join + one aggregate — no shuffle
    of the embedding table itself."""
    from gene_level_metadata_pipeline_spark.operators.similarity import cosine

    emb = _t(spark, sf_dir, "embeddings")
    cent = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    scored = emb.join(F.broadcast(cent)).select(
        "vec_id", "cid",
        F.round(cosine(F.col("embedding"), F.col("ce")), 4).alias("sim"),
    )
    assign = scored.groupBy("vec_id").agg(
        F.max_by(
            F.struct("cid", "sim"), F.struct(F.col("sim"), -F.col("cid"))
        ).alias("a")
    )
    return assign.groupBy(F.col("a.cid").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n"),
        _davg(F.col("a.sim"), 4).alias("avg_sim"),
    )


@_register(
    "read_xml_rows",
    oracle="""
    SELECT * FROM (VALUES
      ('g1', CAST(1.5 AS DOUBLE), 'a'),
      ('g2', CAST(2.5 AS DOUBLE), NULL)
    ) AS t(symbol, score, tag)
    """,
)
def q_read_xml_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML scan (sources/readers.read_xml, Spark 4 native XML source):
    row-tag extraction with inferred schema; a missing child element
    becomes NULL (same padding contract as the delimited readers)."""
    from gene_level_metadata_pipeline_spark.plans.fixtures import fixture_dir
    from gene_level_metadata_pipeline_spark.sources.readers import read_xml

    df = read_xml(spark, f"{fixture_dir()}/annotations.xml", "gene")
    return df.select("symbol", F.col("score").cast("double"), "tag")


@_register(
    "substring_dup_spans",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    s AS (
      SELECT doc_id, toks, n,
             unnest(generate_series(0, greatest(n - 1, 0), 20)) AS start
      FROM t
    ),
    c AS (
      SELECT doc_id,
             md5(array_to_string(toks[start + 1 : least(start + 20, n)], ' '))
               AS chunk_hash
      FROM s WHERE least(start + 20, n) - start = 20
    )
    SELECT chunk_hash,
           count(DISTINCT doc_id) AS n_docs,
           count(*) AS n_occ
    FROM c GROUP BY chunk_hash HAVING count(DISTINCT doc_id) >= 2
    """,
)
def q_substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-passage detection — the boilerplate/
    quotation dedup shape: non-overlapping 20-token chunks (partial tail
    chunks excluded), md5 chunk fingerprints, passages appearing in ≥2
    distinct documents reported with document and occurrence counts.
    Chunking is map-side (chunk_documents machinery); the single shuffle
    is the 16-byte-hash groupBy — payload text never shuffles. The
    span-level complement to document-level MinHash dedup; at 100 TB this
    is the scalable stand-in for suffix-array substring dedup."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        chunk_documents,
    )

    docs = _t(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, "text", "doc_id", size=20, stride=20)
    return (
        chunks.where(F.col("n_chunk_tokens") == 20)
        .select("doc_id", F.md5("chunk_text").alias("chunk_hash"))
        .groupBy("chunk_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .where(F.col("n_docs") >= 2)
    )


@_register(
    "train_split_counts",
    oracle="""
    WITH s AS (
      SELECT doc_id, lang,
             CASE
               WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)
                    < 'cccccccc' THEN 'train'
               WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)
                    < 'e6666666' THEN 'val'
               ELSE 'test'
             END AS split
      FROM documents
    )
    SELECT lang, split, count(*) AS n FROM s GROUP BY lang, split
    """,
)
def q_train_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (textanalysis.train_split,
    80/10/10): membership is a pure function of md5(salt, key) so any
    engine reproduces the identical assignment — the oracle re-derives
    the same bins from the same hex bounds (0.8·16^8 = 0xcccccccc).
    Split assignment is map-side; the only shuffle is the audit count."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import train_split

    docs = _t(spark, sf_dir, "documents")
    return (
        train_split(docs, "doc_id")
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_register(
    "normalize_text_docs",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(
                  regexp_replace(lower(text), '[\\x00-\\x1f\\x7f]', ' ', 'g'),
                  '\\s+', ' ', 'g')) AS text_norm,
           length(trim(regexp_replace(
                  regexp_replace(lower(text), '[\\x00-\\x1f\\x7f]', ' ', 'g'),
                  '\\s+', ' ', 'g'))) AS n_chars_norm
    FROM documents WHERE doc_id < 100
    """,
)
def q_normalize_text_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-tokenization text normalization (textanalysis.normalize_text):
    lowercase → control-char strip → whitespace collapse → trim, all
    inside codegen (Java regex; the oracle uses the identical pattern
    with DuckDB's global flag)."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        normalize_text,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    out = normalize_text(docs, "text", "text_norm")
    return out.select(
        "doc_id", "text_norm",
        F.length("text_norm").cast("long").alias("n_chars_norm"),
    )


@_register(
    "encode_documents",
    oracle="""
    WITH wc AS (
      SELECT w AS word, count(*) AS n
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> '' GROUP BY w
    ),
    v AS (
      SELECT word, id FROM (
        SELECT word, CAST(row_number() OVER (ORDER BY n DESC, word) AS BIGINT)
               AS id
        FROM wc
      ) WHERE id <= 30
    ),
    t AS (
      SELECT doc_id, toks[i] AS word, i
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           unnest(generate_series(1, len(toks))) AS g(i)
    )
    SELECT doc_id,
           list(COALESCE(v.id, -1) ORDER BY i) AS token_ids,
           CAST(count(CASE WHEN v.id IS NULL THEN 1 END) AS BIGINT) AS n_unk
    FROM t LEFT JOIN v USING (word)
    GROUP BY doc_id
    """,
)
def q_encode_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize-to-ids — the final text→model-input step: a frequency-
    ranked vocabulary (top 30 words here; top 50k in production) built
    from exact word counts, broadcast-joined onto the
    position-exploded token stream, re-assembled into an ordered id
    array per document with out-of-vocabulary words mapped to -1.
    Shuffles: vocab agg + the doc_id re-assembly; the vocab join itself
    is broadcast (vocabularies are dimension-sized even at 100 TB)."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy(F.col("n").desc(), F.col("word"))
    vocab = (
        wc.select("word", F.row_number().over(w).cast("long").alias("id"))
        .where(F.col("id") <= 30)
    )
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
    )
    enc = toks.join(F.broadcast(vocab), "word", "left")
    return enc.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("pos").alias("p"),
                        F.coalesce("id", F.lit(-1)).alias("i"),
                    )
                )
            ),
            lambda s: s.i,
        ).alias("token_ids"),
        F.count(F.when(F.col("id").isNull(), 1)).alias("n_unk"),
    )


@_register(
    "harmonize_multi_source",
    oracle="""
    WITH spn AS (
      SELECT DISTINCT c_custkey FROM customer WHERE c_custkey IS NOT NULL
    ),
    src_orders AS (
      SELECT o_custkey AS c_custkey, count(*) AS n_orders,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2)
                  AS DOUBLE) AS total_spend
      FROM orders GROUP BY o_custkey
    ),
    src_urgent AS (
      SELECT o_custkey AS c_custkey, count(*) AS n_urgent
      FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey
    ),
    src_nation AS (
      SELECT c_custkey, n_name AS nation_name
      FROM customer JOIN nation ON c_nationkey = n_nationkey
    ),
    src_seg AS (SELECT c_custkey, c_mktsegment FROM customer)
    SELECT DISTINCT spn.c_custkey, o.n_orders, o.total_spend,
           u.n_urgent, nt.nation_name, s.c_mktsegment
    FROM spn
    LEFT JOIN src_orders o USING (c_custkey)
    LEFT JOIN src_urgent u USING (c_custkey)
    LEFT JOIN src_nation nt USING (c_custkey)
    LEFT JOIN src_seg s USING (c_custkey)
    """,
)
def q_harmonize_multi_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's end state (EP2, SURVEY §3): ~25 per-source
    annotation tables all left-joined onto one spine — here four
    heterogeneous sources (an aggregate, a filtered aggregate, a
    dimension decoration, a plain attribute) folded onto the customer
    spine with repeated harmonize calls. Every source is key-collapsed
    before its join, so each fold is a broadcast join against the
    growing spine table — the wide-table build stays shuffle-bounded by
    the source aggregations, exactly how the 20k-gene × 25-source
    annotation matrix assembles at any corpus scale."""
    from functools import reduce

    from gene_level_metadata_pipeline_spark.operators.harmonize import (
        harmonize, spine,
    )

    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    ord_ = _t(spark, sf_dir, "orders")
    spn = spine(cust, "c_custkey")
    sources = [
        ord_.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum(F.col("o_totalprice"), 2).alias("total_spend"),
        ),
        ord_.where(F.col("o_orderpriority") == "1-URGENT")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.count(F.lit(1)).alias("n_urgent")),
        cust.join(
            F.broadcast(nat), cust.c_nationkey == nat.n_nationkey
        ).select("c_custkey", F.col("n_name").alias("nation_name")),
        cust.select("c_custkey", "c_mktsegment"),
    ]
    return reduce(lambda acc, src: harmonize(acc, src, "c_custkey"), sources, spn)


@_register(
    "harmonize_catalog_width",
    oracle="""
    WITH spn AS (
      SELECT DISTINCT c_custkey FROM customer WHERE c_custkey IS NOT NULL
    ),
    lio AS (
      SELECT o_custkey AS c_custkey, l.*
      FROM lineitem l JOIN orders ON l_orderkey = o_orderkey
    ),
    s01 AS (
      SELECT o_custkey AS c_custkey, count(*) AS n_orders,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2)
                  AS DOUBLE) AS total_spend
      FROM orders GROUP BY o_custkey
    ),
    s02 AS (
      SELECT o_custkey AS c_custkey, count(*) AS n_urgent
      FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey
    ),
    s03 AS (
      SELECT o_custkey AS c_custkey, count(*) AS n_low
      FROM orders WHERE o_orderpriority = '5-LOW' GROUP BY o_custkey
    ),
    s04 AS (
      SELECT o_custkey AS c_custkey,
             strftime(min(o_orderdate), '%Y-%m-%d') AS first_order_day,
             strftime(max(o_orderdate), '%Y-%m-%d') AS last_order_day
      FROM orders GROUP BY o_custkey
    ),
    s05 AS (
      SELECT o_custkey AS c_custkey, count(*) AS n_open
      FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey
    ),
    s06 AS (
      SELECT o_custkey AS c_custkey, max(o_totalprice) AS max_price
      FROM orders GROUP BY o_custkey
    ),
    s07 AS (
      SELECT o_custkey AS c_custkey,
             round(round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)))
                              AS DOUBLE) / count(*) * 100.0, 0) / 100.0, 2)
               AS avg_price
      FROM orders GROUP BY o_custkey
    ),
    s08 AS (
      SELECT o_custkey AS c_custkey,
             string_agg(DISTINCT o_orderpriority, ','
                        ORDER BY o_orderpriority) AS priorities
      FROM orders GROUP BY o_custkey
    ),
    s09 AS (
      SELECT o_custkey AS c_custkey,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2)
                  AS DOUBLE) AS spend_1994
      FROM orders WHERE year(o_orderdate) = 1994 GROUP BY o_custkey
    ),
    s10 AS (
      SELECT o_custkey AS c_custkey,
             string_agg(DISTINCT o_orderstatus, ','
                        ORDER BY o_orderstatus) AS statuses
      FROM orders GROUP BY o_custkey
    ),
    s11 AS (
      SELECT c_custkey, count(*) AS n_lineitems,
             CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2)
                  AS DOUBLE) AS sum_qty,
             count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS n_returns
      FROM lio GROUP BY c_custkey
    ),
    s12 AS (
      SELECT c_custkey, count(DISTINCT l_partkey) AS n_parts,
             round(round(CAST(sum(CAST(l_discount AS DECIMAL(18,6)))
                              AS DOUBLE) / count(*) * 10000.0, 0)
                   / 10000.0, 4) AS avg_disc,
             strftime(max(l_shipdate), '%Y-%m-%d') AS max_ship_day
      FROM lio GROUP BY c_custkey
    ),
    s13 AS (
      SELECT c_custkey, n_name AS nation_name
      FROM customer JOIN nation ON c_nationkey = n_nationkey
    ),
    s14 AS (
      SELECT c_custkey, r_name AS region_name
      FROM customer JOIN nation ON c_nationkey = n_nationkey
                    JOIN region ON n_regionkey = r_regionkey
    ),
    s15 AS (SELECT c_custkey, c_mktsegment FROM customer),
    s16 AS (
      SELECT c_custkey,
             CASE WHEN c_acctbal < 0 THEN 'neg'
                  WHEN c_acctbal < 5000 THEN 'low'
                  ELSE 'high' END AS acct_band
      FROM customer
    ),
    s17 AS (SELECT c_custkey, c_nationkey FROM customer),
    s18 AS (SELECT c_custkey, length(c_name) AS name_len FROM customer),
    s19 AS (
      SELECT c_custkey, round(c_acctbal * 100.0, 0) / 100.0 AS acctbal_r
      FROM customer
    ),
    s20 AS (
      SELECT c_custkey, substr(c_name, 1, 5) AS name_prefix FROM customer
    ),
    s21 AS (
      SELECT c_custkey,
             CAST(regexp_extract(c_name, '([0-9]+)$', 1) AS BIGINT)
               AS cust_num
      FROM customer
    )
    SELECT DISTINCT spn.c_custkey,
           s01.n_orders, s01.total_spend, s02.n_urgent, s03.n_low,
           s04.first_order_day, s04.last_order_day, s05.n_open,
           s06.max_price, s07.avg_price, s08.priorities, s09.spend_1994,
           s10.statuses, s11.n_lineitems, s11.sum_qty, s11.n_returns,
           s12.n_parts, s12.avg_disc, s12.max_ship_day, s13.nation_name,
           s14.region_name, s15.c_mktsegment, s16.acct_band,
           s17.c_nationkey, s18.name_len, s19.acctbal_r, s20.name_prefix,
           s21.cust_num
    FROM spn
    LEFT JOIN s01 USING (c_custkey) LEFT JOIN s02 USING (c_custkey)
    LEFT JOIN s03 USING (c_custkey) LEFT JOIN s04 USING (c_custkey)
    LEFT JOIN s05 USING (c_custkey) LEFT JOIN s06 USING (c_custkey)
    LEFT JOIN s07 USING (c_custkey) LEFT JOIN s08 USING (c_custkey)
    LEFT JOIN s09 USING (c_custkey) LEFT JOIN s10 USING (c_custkey)
    LEFT JOIN s11 USING (c_custkey) LEFT JOIN s12 USING (c_custkey)
    LEFT JOIN s13 USING (c_custkey) LEFT JOIN s14 USING (c_custkey)
    LEFT JOIN s15 USING (c_custkey) LEFT JOIN s16 USING (c_custkey)
    LEFT JOIN s17 USING (c_custkey) LEFT JOIN s18 USING (c_custkey)
    LEFT JOIN s19 USING (c_custkey) LEFT JOIN s20 USING (c_custkey)
    LEFT JOIN s21 USING (c_custkey)
    """,
)
def q_harmonize_catalog_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP2 at CATALOG width (VERDICT r4 item 6): the reference folds ~25
    annotation tables per run (T:19-531); harmonize_multi_source guards
    the fold pattern at width 4, this query guards the many-broadcast-
    join plan shape at width 21 — ten single-hop order aggregates, two
    two-hop lineitem aggregates (the ID-mapped-source shape, J7), two
    dimension decorations, and seven attribute/recode projections, all
    key-collapsed then folded onto the customer spine with repeated
    harmonize calls. Every fold is a broadcast join against the growing
    wide table, so the plan stays shuffle-bounded by the source
    aggregations no matter how wide the catalog grows — the 20k-gene x
    25-source annotation matrix assembly at any corpus scale."""
    from functools import reduce

    from gene_level_metadata_pipeline_spark.operators.harmonize import (
        harmonize, spine,
    )

    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    ord_ = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    spn = spine(cust, "c_custkey")
    ock = F.col("o_custkey").alias("c_custkey")
    lio = li.join(
        ord_.select("o_orderkey", F.col("o_custkey").alias("c_custkey")),
        li.l_orderkey == F.col("o_orderkey"),
    )
    cnat = cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
    sagg = lambda c: F.concat_ws(",", F.array_sort(F.collect_set(c)))  # noqa: E731
    sources = [
        ord_.groupBy(ock).agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum(F.col("o_totalprice"), 2).alias("total_spend"),
        ),
        ord_.where(F.col("o_orderpriority") == "1-URGENT")
        .groupBy(ock).agg(F.count(F.lit(1)).alias("n_urgent")),
        ord_.where(F.col("o_orderpriority") == "5-LOW")
        .groupBy(ock).agg(F.count(F.lit(1)).alias("n_low")),
        ord_.groupBy(ock).agg(
            F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias(
                "first_order_day"
            ),
            F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias(
                "last_order_day"
            ),
        ),
        ord_.where(F.col("o_orderstatus") == "O")
        .groupBy(ock).agg(F.count(F.lit(1)).alias("n_open")),
        ord_.groupBy(ock).agg(F.max("o_totalprice").alias("max_price")),
        ord_.groupBy(ock).agg(
            _davg(F.col("o_totalprice"), 2).alias("avg_price")
        ),
        ord_.groupBy(ock).agg(sagg("o_orderpriority").alias("priorities")),
        ord_.where(F.year("o_orderdate") == 1994)
        .groupBy(ock).agg(_dsum(F.col("o_totalprice"), 2).alias("spend_1994")),
        ord_.groupBy(ock).agg(sagg("o_orderstatus").alias("statuses")),
        lio.groupBy("c_custkey").agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            _dsum(F.col("l_quantity"), 2).alias("sum_qty"),
            F.count(F.when(F.col("l_returnflag") == "R", 1)).alias(
                "n_returns"
            ),
        ),
        lio.groupBy("c_custkey").agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            _davg(F.col("l_discount"), 4).alias("avg_disc"),
            F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias(
                "max_ship_day"
            ),
        ),
        cnat.select("c_custkey", F.col("n_name").alias("nation_name")),
        cnat.join(F.broadcast(reg), cnat.n_regionkey == reg.r_regionkey)
        .select("c_custkey", F.col("r_name").alias("region_name")),
        cust.select("c_custkey", "c_mktsegment"),
        cust.select(
            "c_custkey",
            F.when(F.col("c_acctbal") < 0, "neg")
            .when(F.col("c_acctbal") < 5000, "low")
            .otherwise("high")
            .alias("acct_band"),
        ),
        cust.select("c_custkey", "c_nationkey"),
        cust.select("c_custkey", F.length("c_name").cast("long").alias("name_len")),
        cust.select(
            "c_custkey", _round_to(F.col("c_acctbal"), 2).alias("acctbal_r")
        ),
        cust.select(
            "c_custkey", F.substring("c_name", 1, 5).alias("name_prefix")
        ),
        cust.select(
            "c_custkey",
            F.regexp_extract("c_name", r"([0-9]+)$", 1)
            .cast("bigint")
            .alias("cust_num"),
        ),
    ]
    return reduce(lambda acc, src: harmonize(acc, src, "c_custkey"), sources, spn)


@_register(
    "streaming_static_enrich",
    oracle="""
    SELECT e.event_id, e.user_id, e.event_type, c.c_mktsegment AS tier
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    WHERE c.c_custkey < 100
    """,
)
def q_streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join through an actual streaming query:
    per-micro-batch broadcast of the static dimension, no join state
    (the streaming complement of the stateful stream-stream interval
    join) — result must equal the batch join."""
    from gene_level_metadata_pipeline_spark.streaming.windows import (
        stream_static_enrich,
    )

    return stream_static_enrich(spark, sf_dir)


@_register(
    "custom_datasource_pages",
    oracle="""
    SELECT CAST(i // 25 AS INTEGER) AS page,
           CAST(i AS INTEGER) AS record_id,
           'G' || CAST(i AS VARCHAR) AS gene,
           CAST(i % 4 AS INTEGER) AS confidence
    FROM (SELECT unnest(generate_series(0, 99)) AS i)
    """,
)
def q_custom_datasource_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python Data Source (sources/pagesource.PageSource): the
    reference's sequential REST page loop (S11, I:211-218) re-expressed
    as a Spark 4 DataSource whose pages ARE the input partitions —
    fetched on executors, one page per task. 4 pages × 25 records of
    deterministic synthetic payload; the oracle derives the identical
    rows from generate_series."""
    from gene_level_metadata_pipeline_spark.sources.pagesource import PageSource

    spark.dataSource.register(PageSource)
    return (
        spark.read.format("genepages")
        .option("pages", 4)
        .option("perpage", 25)
        .load()
    )


@_register(
    "streaming_pages_source",
    oracle="""
    SELECT CAST(i // 25 AS INTEGER) AS page,
           CAST(i AS INTEGER) AS record_id,
           'G' || CAST(i AS VARCHAR) AS gene,
           CAST(i % 4 AS INTEGER) AS confidence
    FROM (SELECT unnest(generate_series(0, 74)) AS i)
    """,
)
def q_streaming_pages_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming custom Python data source: the PageSource's stream
    reader emits ONE page per micro-batch with the page number as the
    offset (exactly-once restartable without any files). Three pages
    drain into a memory sink; the result must equal the batch rows."""
    import time
    import uuid

    from gene_level_metadata_pipeline_spark.sources.pagesource import PageSource

    spark.dataSource.register(PageSource)
    name = f"pages_sink_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("genepages")
        .option("pages", 3).option("perpage", 25).load()
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
    )
    expected = 75
    try:
        for _ in range(120):
            if spark.table(name).count() >= expected:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    out = spark.table(name)
    rows = out.collect()
    df = spark.createDataFrame(rows, out.schema)
    spark.catalog.dropTempView(name)
    return df


@_register(
    "streaming_incremental_corpus",
    oracle="""
    SELECT * FROM (VALUES
      (CAST(1 AS BIGINT), 'alpha beta'),
      (CAST(2 AS BIGINT), 'gamma delta'),
      (CAST(5 AS BIGINT), 'epsilon zeta'),
      (CAST(8 AS BIGINT), 'eta theta')
    ) AS t(doc_id, text)
    """,
)
def q_streaming_incremental_corpus(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming incremental corpus ingestion
    (streaming.incremental_corpus_stream): per-micro-batch in-batch
    exact dedup + Bloom-prefiltered dedup against the accumulated
    parquet history via foreachBatch, survivors appended — dedup state
    lives IN THE SINK, so a restarted job resumes from the history
    alone. The VALUES oracle pins both observables over the
    deterministic 3-batch demo: the in-batch duplicate (id 3) and every
    history duplicate (ids 4, 6, 7) are absent; first-seen ids 1, 2, 5,
    8 survive exactly once."""
    from gene_level_metadata_pipeline_spark.streaming.windows import (
        incremental_corpus_stream,
    )

    return incremental_corpus_stream(spark)


@_register(
    "graph_bfs_hops",
    oracle="""
    WITH RECURSIVE
    op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS n
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    ),
    und AS (SELECT u, v FROM pairs WHERE n >= 2),
    edges AS (SELECT u, v FROM und UNION SELECT v, u FROM und),
    seed AS (SELECT min(u) AS node FROM und),
    walk(node, hop) AS (
      SELECT node, 0 FROM seed
      UNION
      SELECT e.v, w.hop + 1
      FROM walk w JOIN edges e ON e.u = w.node
      WHERE w.hop < 6
    )
    SELECT node AS partkey, min(hop) AS hop FROM walk GROUP BY node
    """,
)
def q_graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source shortest hops (graph.bfs_hops): level-synchronous
    BFS from the minimum part id over the part co-occurrence graph
    (parts sharing >= 2 orders — the sparse sibling of the triangle/
    PageRank supplier graph; at sf0.01 the frontier grows
    1→3→8→29→94→307→672 across six real levels). The Spark loop joins
    only the FRONTIER each round (Pregel shape, visited-set anti-join
    keeps first discoveries); the oracle's recursive CTE enumerates
    bounded (node, hop<=6) pairs and takes min(hop) — identical
    integers, exact hash match."""
    from gene_level_metadata_pipeline_spark.operators.graph import bfs_hops

    und = _part_cooccurrence_edges(spark, sf_dir)
    seed = und.agg(F.min("u").alias("node"))
    out = bfs_hops(und, seed, max_hops=6, directed=False)
    return out.select(F.col("node").alias("partkey"), "hop")


@_register(
    "abc_parts_pareto",
    oracle="""
    WITH rev AS (
      SELECT l_partkey AS key,
             sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
               AS contribution
      FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT sum(contribution) AS total FROM rev),
    cum AS (
      SELECT key, contribution,
             sum(contribution) OVER (
               ORDER BY contribution DESC, key ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM rev
    )
    SELECT key AS partkey,
      CAST(round(contribution, 2) AS DOUBLE) AS revenue,
      round(CAST(c AS DOUBLE) / CAST(total AS DOUBLE) * 1e6, 0) / 1e6
        AS cum_share,
      CASE WHEN c * 2 <= total * 1 THEN 'A'
           WHEN c * 5 <= total * 4 THEN 'B'
           ELSE 'C' END AS abc_class
    FROM cum, tot
    """,
)
def q_abc_parts_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto contribution analysis (selection.abc_classification):
    parts ranked by discounted revenue, cumulative share of the grand
    total, classified A (head to 50%), B (to 80%), C (tail). Class
    boundaries are EXACT decimal inequalities (cum*den <= total*num),
    never rounded-double comparisons; the global cumulative sum reuses
    running_sum's range-repartition + broadcast-offset prefix sum — the
    oracle's single-task global window is precisely the shape the
    operator refuses to run at scale."""
    from gene_level_metadata_pipeline_spark.operators.selection import (
        abc_classification,
    )

    li = _t(spark, sf_dir, "lineitem")
    out = abc_classification(
        li,
        "l_partkey",
        F.col("l_extendedprice") * (1 - F.col("l_discount")),
    )
    return out.select(
        F.col("key").alias("partkey"),
        F.round(F.col("contribution"), 2).cast("double").alias("revenue"),
        "cum_share",
        "abc_class",
    )


@_register(
    "graph_clustering_coeff",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS n
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    ),
    und AS (SELECT u, v FROM pairs WHERE n >= 2),
    edges AS (SELECT u, v FROM und UNION SELECT v, u FROM und),
    deg AS (SELECT u, count(*) AS deg FROM edges GROUP BY u),
    orient AS (
      SELECT CASE WHEN da.deg < db.deg
                    OR (da.deg = db.deg AND e.u < e.v)
                  THEN e.u ELSE e.v END AS u,
             CASE WHEN da.deg < db.deg
                    OR (da.deg = db.deg AND e.u < e.v)
                  THEN e.v ELSE e.u END AS v
      FROM und e
      JOIN deg da ON da.u = e.u
      JOIN deg db ON db.u = e.v
    ),
    tr AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM orient e1
      JOIN orient e2 ON e2.u = e1.v
      JOIN orient e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    corners AS (
      SELECT a AS node FROM tr
      UNION ALL SELECT b FROM tr
      UNION ALL SELECT c FROM tr
    ),
    tpn AS (SELECT node, count(*) AS tri FROM corners GROUP BY node)
    SELECT d.u AS node, d.deg,
      CAST(COALESCE(t.tri, 0) AS BIGINT) AS tri,
      round(CAST(2 * COALESCE(t.tri, 0) AS DOUBLE)
            / nullif(CAST(d.deg * (d.deg - 1) AS DOUBLE), 0)
            * 1e6, 0) / 1e6 AS cc
    FROM deg d LEFT JOIN tpn t ON t.node = d.u
    """,
)
def q_graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient (graph.clustering_coefficient) over
    the same sparse part co-occurrence graph as graph_bfs_hops:
    cc(v) = 2·tri(v)/(deg·(deg−1)), with per-node triangle credit from
    ONE degree-ordered enumeration (each triangle counted once, corners
    exploded — never a per-node re-enumeration). tri and deg stay exact
    bigints; degree-1 nodes get NULL (undefined), not 0."""
    from gene_level_metadata_pipeline_spark.operators.graph import (
        clustering_coefficient,
    )

    und = _part_cooccurrence_edges(spark, sf_dir)
    return clustering_coefficient(und)


# Shared Spark-side derivation of the part co-occurrence graph (review
# finding: the basket-collapse + map-side pair-explode block was pasted
# into three queries, so the >=2-shared-orders sparsification could
# silently drift between them; basket_part_lift keeps its own variant
# because its >=2 is a SUPPORT threshold and it must retain pair and
# item counts). The ORACLES deliberately keep their own independent SQL
# spellings (self-join truth form) — an oracle that shares the
# implementation stops being a check.
_PART_EDGE_MIN_SHARED = 2


def _part_cooccurrence_edges(
    spark: SparkSession, sf_dir: str, keep_weight: bool = False
) -> DataFrame:
    """Undirected (u < v) part co-purchase edges: parts sharing at least
    _PART_EDGE_MIN_SHARED orders. Basket arrays are bounded by order
    fan-out, so pairs explode MAP-SIDE — 2 key-partitioned shuffles,
    never a raw-table self-join (registry._cooccur_pairs). With
    ``keep_weight`` the shared-order count rides along as ``w``
    (graph_sssp_weighted's edge weight)."""
    pairs = _cooccur_pairs(
        _t(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey"
    ).where(F.col("n") >= _PART_EDGE_MIN_SHARED)
    if keep_weight:
        return pairs.select("u", "v", F.col("n").alias("w"))
    return pairs.select("u", "v")


@_register(
    "basket_part_lift",
    oracle="""
    WITH b AS (
      SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem
    ),
    tot AS (SELECT count(DISTINCT k) AS n_orders FROM b),
    item AS (SELECT p, count(*) AS n_p FROM b GROUP BY p),
    pair AS (
      SELECT a.p AS part_a, b2.p AS part_b, count(*) AS n_ab
      FROM b a JOIN b b2 ON a.k = b2.k AND a.p < b2.p
      GROUP BY 1, 2 HAVING count(*) >= 2
    )
    SELECT part_a, part_b, n_ab,
      round(CAST(n_ab AS DOUBLE) / n_orders * 1e6, 0) / 1e6 AS support,
      round(CAST(n_ab AS DOUBLE) / ia.n_p * 1e6, 0) / 1e6 AS confidence,
      round(CAST(n_ab AS DOUBLE) * n_orders / (ia.n_p * ib.n_p) * 1e6, 0)
        / 1e6 AS lift
    FROM pair
    JOIN item ia ON ia.p = part_a
    JOIN item ib ON ib.p = part_b
    CROSS JOIN tot
    ORDER BY lift DESC, part_a, part_b LIMIT 100
    """,
)
def q_basket_part_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets: top part
    pairs by lift, with support and confidence — the A-Priori pair
    pass. Pair generation is NOT the oracle's basket self-join: one
    groupBy collapses each order to its part set (baskets are bounded
    — TPC-H fans out ≈4 lines/order), pairs explode MAP-SIDE from the
    array (u < v, so each pair once), then one hash aggregate counts
    them — two key-partitioned shuffles total, no join on the raw
    60k-row table. Item frequencies and the order total are tiny
    (|parts| rows / 1 row) and broadcast. Metrics use the identical
    double expression shape in both engines over exact bigint counts,
    rounded to 6; the top-100 cut orders by the ROUNDED lift with
    (part_a, part_b) tie-breaks so both engines cut identically. At
    100 TB the basket collapse co-partitions with the order key and
    the pair count's cardinality is bounded by observed
    co-occurrence, not |parts|^2."""
    li = _t(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("ps")
    )
    tot = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    exploded = baskets.select(
        "l_orderkey", F.explode("ps").alias("p")
    )
    item = exploded.groupBy("p").agg(F.count(F.lit(1)).alias("n_p"))
    pairs = (
        baskets.select(F.explode("ps").alias("part_a"), "ps")
        .select("part_a", F.explode("ps").alias("part_b"))
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= 2)
    )
    ia = item.select(F.col("p").alias("part_a"), F.col("n_p").alias("n_a"))
    ib = item.select(F.col("p").alias("part_b"), F.col("n_p").alias("n_b"))
    scored = (
        pairs.join(F.broadcast(ia), "part_a")
        .join(F.broadcast(ib), "part_b")
        .crossJoin(F.broadcast(tot))
    )
    n_ab_d = F.col("n_ab").cast("double")
    return scored.select(
        "part_a", "part_b", "n_ab",
        _round_to(n_ab_d / F.col("n_orders"), 6).alias("support"),
        _round_to(n_ab_d / F.col("n_a"), 6).alias("confidence"),
        _round_to(
            n_ab_d * F.col("n_orders") / (F.col("n_a") * F.col("n_b")), 6
        ).alias("lift"),
    ).orderBy(F.col("lift").desc(), "part_a", "part_b").limit(100)


@_register(
    "graph_link_prediction",
    oracle="""
    WITH li2 AS (
      SELECT DISTINCT l_orderkey AS k, l_partkey AS s FROM lineitem
    ),
    e AS (
      SELECT a.s AS u, b.s AS v
      FROM li2 a JOIN li2 b ON a.k = b.k AND a.s < b.s
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    adj AS (
      SELECT u AS z, v AS x FROM e UNION ALL SELECT v AS z, u AS x FROM e
    ),
    deg AS (SELECT z, count(*) AS d FROM adj GROUP BY z),
    wedge AS (
      SELECT a.x AS x, b.x AS y, a.z AS z
      FROM adj a JOIN adj b ON a.z = b.z AND a.x < b.x
    ),
    scored AS (
      SELECT w.x, w.y, count(*) AS cn,
        CAST(round(
          CAST(sum(CAST(CAST(1 AS DOUBLE) / d.d AS DECIMAL(28,18)))
               AS DOUBLE) * 1e9, 0) / 1e9 AS DOUBLE) AS ra
      FROM wedge w JOIN deg d ON d.z = w.z
      GROUP BY w.x, w.y
    )
    SELECT s.x, s.y, s.cn, s.ra
    FROM scored s ANTI JOIN e ON e.u = s.x AND e.v = s.y
    ORDER BY cn DESC, ra DESC, x, y LIMIT 50
    """,
)
def q_graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the part co-occurrence graph (suppliers form a complete graph at every SF — every pair shares orders — so parts, whose co-purchase graph is genuinely sparse, are the meaningful link-prediction domain: "parts not yet co-bought that share many co-purchase neighbors"): for every
    non-adjacent pair with at least one common neighbor, the
    common-neighbor count and the Resource Allocation index
    (sum over common neighbors z of 1/deg(z), Zhou et al. 2009 — RA
    deliberately instead of Adamic-Adar because 1/ln(d) pits Java's
    Math.log against DuckDB's libm and natural-log is NOT required to
    be correctly rounded, while 1/d is one IEEE division, bit-identical
    everywhere). Each RA term is the identical double in both engines,
    cast to DECIMAL(28,18) and summed EXACTLY so partial-aggregation
    order cannot flip ulps (the _dsum argument; a cast tie would need
    a 21-digit terminating binary fraction, which 1/d for non-power-
    of-two d never is). Plan: sparsified edges (>=2 shared orders),
    wedge self-join on the center z, broadcast degree table, one hash
    aggregate per candidate pair, broadcast anti-join against existing
    edges, top-50 on (cn, rounded ra). The wedge join's fan-out is
    quadratic in hub degree — the sparsification IS the cap here; at
    100 TB the standard extra mitigation is a degree ceiling on z
    before the self-join (drop z with deg > sqrt(m))."""
    # shared edge derivation (2 key-partitioned shuffles, map-side pair
    # explode); the identical exchange subtrees canonicalize for runtime
    # exchange reuse across the plan's repeated edge references
    edges = _part_cooccurrence_edges(spark, sf_dir)
    adj = edges.select(
        F.col("u").alias("z"), F.col("v").alias("x")
    ).unionAll(edges.select(F.col("v").alias("z"), F.col("u").alias("x")))
    deg = adj.groupBy("z").agg(F.count(F.lit(1)).alias("d"))
    left = adj
    right = adj.select("z", F.col("x").alias("y"))
    wedge = left.join(right, "z").where(F.col("x") < F.col("y"))
    scored = (
        wedge.join(F.broadcast(deg), "z")
        .groupBy("x", "y")
        .agg(
            F.count(F.lit(1)).alias("cn"),
            _round_to(
                F.sum(
                    (F.lit(1.0) / F.col("d")).cast("decimal(28,18)")
                ).cast("double"),
                9,
            ).cast("double").alias("ra"),
        )
    )
    out = scored.join(
        F.broadcast(edges.select(F.col("u").alias("x"), F.col("v").alias("y"))),
        ["x", "y"],
        "left_anti",
    )
    return out.orderBy(
        F.col("cn").desc(), F.col("ra").desc(), "x", "y"
    ).limit(50)


@_register(
    "chi_square_independence",
    oracle="""
    WITH o AS (
      SELECT lang, source, count(*) AS obs FROM documents
      GROUP BY lang, source
    ),
    rt AS (SELECT lang, CAST(sum(obs) AS BIGINT) AS r FROM o GROUP BY lang),
    ct AS (SELECT source, CAST(sum(obs) AS BIGINT) AS c FROM o GROUP BY source),
    n AS (SELECT CAST(sum(obs) AS BIGINT) AS total FROM o),
    cells AS (
      SELECT rt.lang, ct.source,
             coalesce(o.obs, 0) AS obs,
             CAST(rt.r AS DOUBLE) * ct.c / total AS exp, total
      FROM rt CROSS JOIN ct CROSS JOIN n
      LEFT JOIN o ON o.lang = rt.lang AND o.source = ct.source
    )
    SELECT
      round(CAST(sum(CAST((obs - exp) * (obs - exp) / exp
                          AS DECIMAL(24,6))) AS DOUBLE) * 1e6, 0) / 1e6
        AS chi2,
      CAST((count(DISTINCT lang) - 1) * (count(DISTINCT source) - 1)
           AS BIGINT) AS dof,
      CAST(max(total) AS BIGINT) AS n
    FROM cells
    """,
)
def q_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between two categorical columns
    (document language x source) — the contingency-table screen beside
    ab_metric_ztest. The FULL grid (row-marginal cross column-marginal,
    LEFT JOIN observed so empty cells contribute their expected mass)
    — summing only observed cells understates chi2. Expected counts
    and each cell's (O-E)^2/E term are identical-shape double
    arithmetic over exact bigint marginals; terms are cast to
    DECIMAL(24,6) before summing so aggregation order cannot flip
    ulps. The statistic and dof are returned, not a p-value — the CDF
    is not engine-reproducible arithmetic. Marginals are tiny and
    broadcast; at 100 TB the only data-sized pass is the one
    contingency aggregate, which map-side combines."""
    d = _t(spark, sf_dir, "documents")
    o = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("obs"))
    rt = o.groupBy("lang").agg(F.sum("obs").alias("r"))
    ct = o.groupBy("source").agg(F.sum("obs").alias("c"))
    # grand total from the contingency aggregate, NOT a second count(*)
    # scan of documents (review finding: a separate aggregate subtree
    # can never exchange-reuse, doubling the data-sized pass; every
    # row lands in exactly one (lang, source) group — NULL groups
    # included — so sum(obs) == count(*))
    n = o.agg(F.sum("obs").cast("bigint").alias("total"))
    cells = (
        rt.crossJoin(F.broadcast(ct))
        .crossJoin(F.broadcast(n))
        .join(F.broadcast(o), ["lang", "source"], "left")
        .select(
            "lang",
            "source",
            F.coalesce(F.col("obs"), F.lit(0)).alias("obs"),
            (F.col("r").cast("double") * F.col("c") / F.col("total"))
            .alias("exp"),
            "total",
        )
    )
    term = (
        (F.col("obs") - F.col("exp"))
        * (F.col("obs") - F.col("exp"))
        / F.col("exp")
    ).cast("decimal(24,6)")
    return cells.agg(
        _round_to(F.sum(term).cast("double"), 6).alias("chi2"),
        (
            (F.countDistinct("lang") - 1) * (F.countDistinct("source") - 1)
        ).cast("bigint").alias("dof"),
        F.max("total").cast("bigint").alias("n"),
    )


@_register(
    "correlation_matrix_daily",
    oracle="""
    WITH d AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day,
             CAST(sum(CAST(round(value * 1e6, 0) AS BIGINT))
                  AS DECIMAL(18,0)) AS y
      FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
      GROUP BY 1, 2
    ),
    p AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*) AS n,
             sum(a.y) AS sa, sum(b.y) AS sb,
             sum(CAST(a.y AS DECIMAL(36,0)) * b.y) AS sab,
             sum(CAST(a.y AS DECIMAL(36,0)) * a.y) AS saa,
             sum(CAST(b.y AS DECIMAL(36,0)) * b.y) AS sbb
      FROM d a JOIN d b
        ON a.day = b.day AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, n,
      round(
        (CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
          - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
        / nullif(
            sqrt(CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                 - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
            * sqrt(CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                   - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)), 0)
        * 1e6, 0) / 1e6 AS corr
    FROM p
    """,
)
def q_correlation_matrix_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix between event-type daily
    series — do types co-move day to day? Daily totals are exact bigint
    micro-units (the ols_daily_trend discipline); the pair join on the
    shared day axis is |days| x |types| small after the rollup, and
    every sufficient statistic (n, sums, cross/self products widened to
    DECIMAL(36,0) — int64 would overflow on the squares) is EXACT, so
    only the final closed form runs in doubles. sqrt IS usable here
    (IEEE-754 requires correct rounding for sqrt, unlike ln/exp), and
    a zero-variance series yields NULL corr via try_divide/nullif
    rather than an ANSI error. Deliberately not DataFrame.stat.corr:
    double accumulation in partition order, and one pair per call. At
    100 TB the rollup is the only data-sized pass; the matrix itself
    is |types|^2 cells of constant state."""
    ev = _events(spark, sf_dir)
    vm = F.round(F.col("value") * F.lit(1e6), 0).cast("long")
    d = (
        ev.where(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .groupBy(
            "event_type",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
        )
        .agg(F.sum(vm).cast("decimal(18,0)").alias("y"))
    )
    a = d.select(
        F.col("event_type").alias("type_a"),
        "day",
        F.col("y").alias("ya"),
    )
    b = d.select(
        F.col("event_type").alias("type_b"),
        "day",
        F.col("y").alias("yb"),
    )
    wide_a = F.col("ya").cast("decimal(36,0)")
    wide_b = F.col("yb").cast("decimal(36,0)")
    p = (
        a.join(b, "day")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("ya").alias("sa"),
            F.sum("yb").alias("sb"),
            F.sum(wide_a * F.col("yb")).alias("sab"),
            F.sum(wide_a * F.col("ya")).alias("saa"),
            F.sum(wide_b * F.col("yb")).alias("sbb"),
        )
    )
    nd = F.col("n").cast("double")
    sad = F.col("sa").cast("double")
    sbd = F.col("sb").cast("double")
    num = nd * F.col("sab").cast("double") - sad * sbd
    den = F.sqrt(nd * F.col("saa").cast("double") - sad * sad) * F.sqrt(
        nd * F.col("sbb").cast("double") - sbd * sbd
    )
    return p.select(
        "type_a", "type_b", "n",
        _round_to(F.try_divide(num, den), 6).alias("corr"),
    )


@_register(
    "key_skew_gini",
    oracle="""
    WITH c AS (
      SELECT l_partkey AS key, count(*) AS cnt FROM lineitem
      GROUP BY l_partkey
    ),
    r AS (
      SELECT cnt,
             row_number() OVER (
               ORDER BY cnt ASC NULLS LAST, key ASC NULLS LAST) AS i
      FROM c
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(cnt) AS BIGINT) AS total,
             CAST(sum(i * cnt) AS BIGINT) AS weighted,
             CAST(max(cnt) AS BIGINT) AS max_cnt
      FROM r
    )
    SELECT n_keys, total, max_cnt,
      round(CAST(max_cnt AS DOUBLE) / total * 1e6, 0) / 1e6
        AS top_key_share,
      round((2.0 * weighted / (CAST(n_keys AS DOUBLE) * total)
             - (CAST(n_keys AS DOUBLE) + 1) / n_keys) * 1e6, 0) / 1e6
        AS gini
    FROM s
    """,
)
def q_key_skew_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/shuffle-key skew diagnostic: the Gini coefficient of the
    part-key frequency distribution plus the hottest key's share — the
    numbers that tell you whether a key needs salting/AQE-skew BEFORE
    you run the join (the measured companion to skew.salted_join and
    skew_split_confs). Gini via the rank formula
    G = 2*sum(i*c_i)/(n*sum(c)) - (n+1)/n over counts ranked ascending
    (ties broken by key, so both engines rank identically): every
    sufficient statistic is an exact bigint — the only doubles are the
    final identical-shape divisions. The rank window is over the
    AGGREGATED key table (|keys| rows, not raw data), the one global
    sort this diagnostic genuinely needs; the raw scan is a map-side-
    combined count. At 100 TB: run on the aggregate, never the facts."""
    c = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("key"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    from pyspark.sql.window import Window

    w = Window.orderBy(
        F.col("cnt").asc_nulls_last(), F.col("key").asc_nulls_last()
    )
    r = c.select("cnt", F.row_number().over(w).alias("i"))
    s = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("cnt").cast("bigint").alias("total"),
        F.sum(F.col("i") * F.col("cnt")).cast("bigint").alias("weighted"),
        F.max("cnt").cast("bigint").alias("max_cnt"),
    )
    nk = F.col("n_keys").cast("double")
    tot = F.col("total")
    return s.select(
        "n_keys", "total", "max_cnt",
        _round_to(F.col("max_cnt").cast("double") / tot, 6).alias(
            "top_key_share"
        ),
        _round_to(
            F.lit(2.0) * F.col("weighted") / (nk * tot)
            - (nk + F.lit(1.0)) / F.col("n_keys"),
            6,
        ).alias("gini"),
    )


@_register(
    "graph_degree_histogram",
    oracle="""
    WITH b AS (
      SELECT l_orderkey AS k, list_sort(list(DISTINCT l_partkey)) AS ps
      FROM lineitem GROUP BY l_orderkey
    ),
    e AS (
      SELECT u, v FROM (
        SELECT unnest(ps) AS u, ps FROM b
      ), LATERAL (SELECT unnest(ps) AS v)
      WHERE u < v
      GROUP BY u, v HAVING count(*) >= 2
    ),
    deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT u AS node FROM e UNION ALL SELECT v FROM e
      ) GROUP BY node
    ),
    binned AS (
      SELECT CAST(floor(log2(d)) AS BIGINT) AS bin, d FROM deg
    )
    SELECT bin,
      CAST((CAST(1 AS BIGINT) << CAST(bin AS INT)) AS BIGINT) AS bin_lo,
      CAST((CAST(1 AS BIGINT) << CAST(bin + 1 AS INT)) - 1 AS BIGINT)
        AS bin_hi,
      count(*) AS n_nodes, CAST(min(d) AS BIGINT) AS min_deg,
      CAST(max(d) AS BIGINT) AS max_deg
    FROM binned GROUP BY bin
    """,
)
def q_graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the part co-purchase graph in power-of-two
    bins — the first diagnostic run on any web/citation/co-occurrence
    graph (is it power-law? where do the hubs start?) and the direct
    input to the degree-ceiling mitigations the wedge/triangle
    docstrings reference. Binning is floor(log2(d)): log2 of an exact
    integer is safe cross-engine here because bin boundaries are exact
    powers of two and log2 is exactly k at d = 2^k with monotonicity
    between — no irrational-boundary ambiguity (unlike ln-based
    scores); bin edges are reconstructed with bigint shifts. Edge
    derivation reuses the map-side basket-array pair explode; the
    degree aggregate and the ~30-row bin rollup are both
    key-partitioned hash aggregates."""
    edges = _part_cooccurrence_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    binned = deg.select(
        F.floor(F.log2("d")).cast("bigint").alias("bin"), "d"
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("d").cast("bigint").alias("min_deg"),
            F.max("d").cast("bigint").alias("max_deg"),
        )
        .select(
            "bin",
            F.expr(
                "cast(shiftleft(cast(1 as bigint), cast(bin as int))"
                " as bigint)"
            ).alias("bin_lo"),
            F.expr(
                "cast(shiftleft(cast(1 as bigint), cast(bin + 1 as int))"
                " - 1 as bigint)"
            ).alias("bin_hi"),
            "n_nodes",
            "min_deg",
            "max_deg",
        )
    )


@_register(
    "skyline_parts_2d",
    oracle="""
    WITH p AS (
      SELECT p_partkey,
             CAST(round(p_retailprice * 100, 0) AS BIGINT) AS price_cents,
             p_size
      FROM part
      WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
    )
    SELECT p_partkey, price_cents, p_size FROM p a
    WHERE NOT EXISTS (
      SELECT 1 FROM p b
      WHERE b.price_cents <= a.price_cents AND b.p_size <= a.p_size
        AND (b.price_cents < a.price_cents OR b.p_size < a.p_size)
    )
    """,
)
def q_skyline_parts_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): parts not dominated on
    (retail price, size), both minimized — the classic operator Spark
    has no built-in for, and the textbook case where the relational
    spelling is QUADRATIC (the oracle's correlated NOT EXISTS) while
    the engine's is a SORT: order by exact price cents, then a point is
    dominated iff the minimum size among STRICTLY cheaper points
    (RANGE frame ending at -1 on the cents axis) is <= its size, or a
    same-price point has strictly smaller size (per-price partition
    min). Exact-duplicate (price, size) points dominate neither way
    and both stay on the frontier — the window form preserves that
    contract because both comparisons require strictness somewhere.
    One range sort on a dimension-sized table; at 100 TB the standard
    pre-filter is a coarse grid partition that discards any cell
    dominated by another cell's corner before the per-cell sort."""
    from pyspark.sql.window import Window

    p = (
        _t(spark, sf_dir, "part")
        .where(
            F.col("p_retailprice").isNotNull() & F.col("p_size").isNotNull()
        )
        .select(
            "p_partkey",
            F.round(F.col("p_retailprice") * 100, 0)
            .cast("long")
            .alias("price_cents"),
            "p_size",
        )
    )
    w_cheaper = (
        Window.orderBy("price_cents")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_same = Window.partitionBy("price_cents")
    return (
        p.withColumn("__m_cheaper", F.min("p_size").over(w_cheaper))
        .withColumn("__m_same", F.min("p_size").over(w_same))
        .where(
            (
                F.col("__m_cheaper").isNull()
                | (F.col("__m_cheaper") > F.col("p_size"))
            )
            & (F.col("__m_same") >= F.col("p_size"))
        )
        .select("p_partkey", "price_cents", "p_size")
    )


@_register(
    "graph_assortativity",
    oracle="""
    WITH b AS (
      SELECT l_orderkey AS k, list_sort(list(DISTINCT l_partkey)) AS ps
      FROM lineitem GROUP BY l_orderkey
    ),
    e AS (
      SELECT u, v FROM (
        SELECT unnest(ps) AS u, ps FROM b
      ), LATERAL (SELECT unnest(ps) AS v)
      WHERE u < v
      GROUP BY u, v HAVING count(*) >= 2
    ),
    adj AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    deg AS (SELECT u AS node, count(*) AS d FROM adj GROUP BY u),
    de AS (
      SELECT du.d AS x, dv.d AS y
      FROM adj JOIN deg du ON du.node = adj.u
               JOIN deg dv ON dv.node = adj.v
    ),
    s AS (
      SELECT count(*) AS m,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x*y) AS BIGINT) AS sxy,
             CAST(sum(x*x) AS BIGINT) AS sxx,
             CAST(sum(y*y) AS BIGINT) AS syy
      FROM de
    )
    SELECT m, sx, sxy,
      round(
        (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / nullif(
            sqrt(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * sqrt(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 0)
        * 1e6, 0) / 1e6 AS assortativity
    FROM s
    """,
)
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman's r) of the part co-purchase graph:
    the Pearson correlation of endpoint degrees over the directed edge
    list — do hubs attach to hubs (r > 0, social-network shape) or to
    leaves (r < 0, hub-and-spoke)? The one-number summary that, with
    the degree histogram, decides which skew mitigations the wedge
    joins need. Sufficient statistics are exact bigints (degrees are
    counts; their pairwise products over the edge list stay far under
    int64), the degree table broadcasts back onto the edges, and only
    the closed form runs in doubles — sqrt is IEEE-correctly-rounded,
    the correlation_matrix_daily precedent. Edges reuse the shared
    map-side basket derivation."""
    edges = _part_cooccurrence_edges(spark, sf_dir)
    adj = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = adj.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("x"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("y"))
    de = adj.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
    s = de.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    md = F.col("m").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    num = md * F.col("sxy").cast("double") - sxd * syd
    den = F.sqrt(md * F.col("sxx").cast("double") - sxd * sxd) * F.sqrt(
        md * F.col("syy").cast("double") - syd * syd
    )
    return s.select(
        "m", "sx", "sxy",
        _round_to(F.try_divide(num, den), 6).alias("assortativity"),
    )


@_register(
    "customer_rfm_segments",
    oracle="""
    WITH mx AS (
      SELECT max(epoch_us(o_orderdate)) // 86400000000 AS max_day
      FROM orders
    ),
    c AS (
      SELECT o_custkey,
             CAST(mx.max_day - max(epoch_us(o_orderdate)) // 86400000000
                  AS BIGINT) AS recency_days,
             count(*) AS frequency,
             sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS monetary_cents
      FROM orders CROSS JOIN mx
      GROUP BY o_custkey, mx.max_day
    ),
    seg AS (
      SELECT o_custkey,
        CASE WHEN recency_days <= 90 THEN 3
             WHEN recency_days <= 365 THEN 2 ELSE 1 END AS r,
        CASE WHEN frequency >= 20 THEN 3
             WHEN frequency >= 10 THEN 2 ELSE 1 END AS f,
        CASE WHEN monetary_cents >= 300000000 THEN 3
             WHEN monetary_cents >= 100000000 THEN 2 ELSE 1 END AS m,
        monetary_cents
      FROM c
    )
    SELECT r, f, m, count(*) AS n_customers,
      CAST(sum(monetary_cents) AS BIGINT) AS segment_value_cents
    FROM seg GROUP BY r, f, m
    """,
)
def q_customer_rfm_segments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RFM segmentation — the marketing-analytics classic: per customer,
    Recency (exact epoch-days since last order, anchored to the
    dataset's max order date from a 1-row broadcast), Frequency (order
    count), Monetary (exact cents), each banded into 1-3 by FIXED
    integer thresholds (deliberately not ntile: rank-split tie
    semantics are engine-ambiguous at band edges, fixed thresholds are
    exact comparisons) — then the 27-cell segment grid with customer
    counts and total value. One customer aggregate + one tiny grid
    rollup; everything bigint."""
    o = _t(spark, sf_dir, "orders")
    mx = o.agg(
        F.expr("max(unix_date(cast(o_orderdate as date)))").alias(
            "max_day"
        )
    )
    c = (
        o.crossJoin(F.broadcast(mx))
        .groupBy("o_custkey", "max_day")
        .agg(
            (
                F.col("max_day")
                - F.expr("max(unix_date(cast(o_orderdate as date)))")
            ).cast("bigint").alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("long")
            ).alias("monetary_cents"),
        )
    )
    seg = c.select(
        F.when(F.col("recency_days") <= 90, 3)
        .when(F.col("recency_days") <= 365, 2)
        .otherwise(1)
        .alias("r"),
        F.when(F.col("frequency") >= 20, 3)
        .when(F.col("frequency") >= 10, 2)
        .otherwise(1)
        .alias("f"),
        F.when(F.col("monetary_cents") >= 300_000_000, 3)
        .when(F.col("monetary_cents") >= 100_000_000, 2)
        .otherwise(1)
        .alias("m"),
        "monetary_cents",
    )
    return seg.groupBy("r", "f", "m").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("monetary_cents").cast("bigint").alias("segment_value_cents"),
    )


@_register(
    "supplier_concentration_hhi",
    oracle="""
    WITH r AS (
      SELECT l_suppkey,
             sum(CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(18,6))) AS rev
      FROM lineitem GROUP BY l_suppkey
    ),
    s AS (
      SELECT count(*) AS n_suppliers,
             sum(rev) AS total,
             sum(CAST(rev AS DECIMAL(18,6)) * rev) AS sum_sq,
             max(rev) AS top_rev
      FROM r
    )
    SELECT n_suppliers,
      round(CAST(sum_sq AS DOUBLE)
            / (CAST(total AS DOUBLE) * CAST(total AS DOUBLE))
            * 1e6, 0) / 1e6 AS hhi,
      round(CAST(top_rev AS DOUBLE) / CAST(total AS DOUBLE) * 1e6, 0)
        / 1e6 AS top_share
    FROM s
    """,
)
def q_supplier_concentration_hhi(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Herfindahl-Hirschman concentration index of supplier revenue —
    the antitrust-grade concentration one-number (sum of squared market
    shares, 1/n = perfectly even, 1 = monopoly), the revenue-weighted
    companion to key_skew_gini's count-based skew. Never computed as a
    sum of squared double shares (order-dependent): revenues aggregate
    as exact DECIMAL(18,6), their squares multiply exactly into
    DECIMAL(38,12), and HHI = sum_sq/total^2 is ONE double division of
    exact operands — algebraically identical to the share form, with
    none of its accumulation order. Two hash aggregates total."""
    li = _t(spark, sf_dir, "lineitem")
    r = li.groupBy("l_suppkey").agg(
        F.sum(
            (
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).cast("decimal(18,6)")
        ).alias("rev")
    )
    rev18 = F.col("rev").cast("decimal(18,6)")
    s = r.agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("rev").alias("total"),
        F.sum(rev18 * F.col("rev")).alias("sum_sq"),
        F.max("rev").alias("top_rev"),
    )
    totd = F.col("total").cast("double")
    return s.select(
        "n_suppliers",
        _round_to(
            F.col("sum_sq").cast("double") / (totd * totd), 6
        ).alias("hhi"),
        _round_to(F.col("top_rev").cast("double") / totd, 6).alias(
            "top_share"
        ),
    )


@_register(
    "order_lead_time_percentiles",
    oracle="""
    WITH lt AS (
      SELECT o.o_orderpriority AS priority,
             epoch_us(l.l_shipdate) // 86400000000
               - epoch_us(o.o_orderdate) // 86400000000 AS lead_days
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE l.l_shipdate IS NOT NULL AND o.o_orderdate IS NOT NULL
    )
    SELECT priority, count(*) AS n,
      round(quantile_cont(lead_days, 0.5), 4) AS p50_days,
      round(quantile_cont(lead_days, 0.95), 4) AS p95_days,
      CAST(max(lead_days) AS BIGINT) AS max_days,
      CAST(count(CASE WHEN lead_days < 0 THEN 1 END) AS BIGINT)
        AS n_negative
    FROM lt GROUP BY priority
    """,
)
def q_order_lead_time_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Order-to-ship lead time ladder per priority — the supply-chain
    SLA view: p50/p95 days between order date and each line's ship
    date, plus the max and a negative-lead-time data-quality count
    (ship-before-order rows surface instead of silently averaging in).
    Day arithmetic is exact epoch-day bigints on the NTZ dates (no
    timezone surface); percentiles are the exact interpolated pair
    (Spark percentile == DuckDB quantile_cont). Orders is the small side of the fact-fact join and
    broadcasts at these SFs; at 100 TB it's the bucketed-join case
    test_bucketing pins."""
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate").isNotNull()
    )
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate").isNotNull()
    )
    lt = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        (
            F.expr("unix_date(cast(l_shipdate as date))")
            - F.expr("unix_date(cast(o_orderdate as date))")
        ).alias("lead_days"),
    )
    return lt.groupBy("priority").agg(
        F.count(F.lit(1)).alias("n"),
        _round_to(F.expr("percentile(lead_days, 0.5)"), 4).alias(
            "p50_days"
        ),
        _round_to(F.expr("percentile(lead_days, 0.95)"), 4).alias(
            "p95_days"
        ),
        F.max("lead_days").cast("bigint").alias("max_days"),
        F.count(F.when(F.col("lead_days") < 0, 1))
        .cast("bigint")
        .alias("n_negative"),
    )


@_register(
    "graph_kcore",
    oracle="""
    WITH RECURSIVE
    op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS n
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    ),
    und AS (SELECT u, v FROM pairs WHERE n >= 2),
    sym AS (SELECT u, v FROM und UNION SELECT v, u FROM und),
    peel(iter, u, v) AS (
      SELECT 0, u, v FROM sym
      UNION ALL
      SELECT iter + 1, u, v FROM (
        SELECT iter, u, v,
               count(*) OVER (PARTITION BY iter, u) AS du,
               count(*) OVER (PARTITION BY iter, v) AS dv
        FROM peel
      ) WHERE du >= 2 AND dv >= 2 AND iter < 40
    )
    SELECT u AS node, count(*) AS core_deg
    FROM peel WHERE iter = 40 GROUP BY u
    """,
)
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the part co-occurrence graph (graph.kcore): iterative
    peeling drops every node of degree < 2 until the fixpoint — the
    dense-backbone extractor that strips pendant trees before community
    detection. Spark peels to the FIXPOINT over a shrinking
    checkpointed edge frame (Observation-counted rounds, fail-loud
    max_iter); the oracle runs the identical peel as 40 bounded
    recursive rounds — converged copies are no-ops, so iter=40 IS the
    fixpoint (both SFs converge far earlier: sf0.01 by round 3, sf0.1
    by round 38 — pendant-chain peeling is O(depth), the reason the
    bound is generous). Exact bigint (node, core_deg), hash match."""
    from gene_level_metadata_pipeline_spark.operators.graph import kcore

    und = _part_cooccurrence_edges(spark, sf_dir)
    return kcore(und, k=2)


@_register(
    "graph_sssp_weighted",
    oracle="""
    WITH RECURSIVE
    op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS n
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    ),
    und AS (SELECT u, v, n FROM pairs WHERE n >= 2),
    edges AS (SELECT u, v, n AS w FROM und UNION SELECT v, u, n FROM und),
    seed AS (SELECT min(u) AS node FROM und),
    walk(node, d, hop) AS (
      SELECT node, CAST(0 AS BIGINT), 0 FROM seed
      UNION
      SELECT e.v, w.d + e.w, w.hop + 1
      FROM walk w JOIN edges e ON e.u = w.node
      WHERE w.hop < 4
    )
    SELECT node AS partkey, min(d) AS dist FROM walk GROUP BY node
    """,
)
def q_graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source shortest WEIGHTED path, bounded at 4 hops
    (graph.sssp_weighted): Bellman-Ford over the part co-occurrence
    graph with edge weight = shared-order count — the weighted sibling
    of graph_bfs_hops (hop-minimal != weight-minimal: a 2-hop detour
    through light edges beats a heavy direct edge). Spark relaxes the
    full distance table once per round with a groupBy-min fold
    (<=h-edge-optimal after h rounds, the Bellman-Ford invariant;
    Observation-gated early exit); the oracle enumerates distinct
    (node, cumulative-weight, hop<=4) walk states recursively and takes
    min — identical exact bigints. Bounded-hop semantics keep the
    recursion finite on cycles in BOTH engines."""
    from gene_level_metadata_pipeline_spark.operators.graph import sssp_weighted

    und = _part_cooccurrence_edges(spark, sf_dir, keep_weight=True)
    seed = und.agg(F.min("u").alias("node"))
    out = sssp_weighted(und, seed, weight_col="w", max_hops=4, directed=False)
    return out.select(F.col("node").alias("partkey"), F.col("dist"))


def _hits_oracle(iterations: int = 2, scale: int = 10 ** 6) -> str:
    """Unrolled HITS recurrence (integer max-renormalization per
    half-step) — the SQL twin of graph.hits_bipartite."""
    ctes = ["""e AS (
      SELECT DISTINCT o.o_custkey AS cu, l.l_suppkey AS su
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    )""",
            f"""h0 AS (
      SELECT DISTINCT cu, CAST({scale} AS BIGINT) AS h FROM e
    )"""]
    for i in range(1, iterations + 1):
        ctes.append(f"""ra{i} AS (
      SELECT su, sum(h) AS ra FROM e JOIN h{i - 1} USING (cu) GROUP BY su
    ),
    a{i} AS (
      SELECT su, ra * {scale} // (SELECT max(ra) FROM ra{i}) AS a FROM ra{i}
    ),
    rh{i} AS (
      SELECT cu, sum(a) AS rh FROM e JOIN a{i} USING (su) GROUP BY cu
    ),
    h{i} AS (
      SELECT cu, rh * {scale} // (SELECT max(rh) FROM rh{i}) AS h FROM rh{i}
    )""")
    n = iterations
    joined = ",\n    ".join(ctes)
    return (
        f"WITH {joined}\n"
        f"    SELECT cu AS node, 'hub' AS side, CAST(h AS BIGINT) AS score"
        f" FROM h{n}\n"
        f"    UNION ALL\n"
        f"    SELECT su, 'authority', CAST(a AS BIGINT) FROM a{n}"
    )


@_register("hits_customer_supplier", oracle=_hits_oracle(2))
def q_hits_customer_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (graph.hits_bipartite) over the bipartite
    customer→supplier purchase graph, 2 iterations — the companion
    eigenvector ranking to pagerank_suppliers: authoritative suppliers
    serve broadly-connected customers, hub customers buy from
    authoritative suppliers. Exact-integer max-renormalization per
    half-step (never the float L2 norm — sqrt + order-dependent sums
    are not engine-reproducible), so the oracle's unrolled recurrence
    hash-matches bit-for-bit."""
    from gene_level_metadata_pipeline_spark.operators.graph import (
        hits_bipartite,
    )

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), F.col("o_custkey").alias("u")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("v")
    )
    e = o.join(li, "k").select("u", "v").distinct()
    return hits_bipartite(e, iterations=2)


@_register(
    "agg_retract_merge",
    oracle="""
    WITH survivors AS (
      SELECT o_custkey, o_totalprice FROM orders WHERE o_orderkey % 21 <> 0
      UNION ALL
      SELECT o_custkey, o_totalprice + 1000 FROM orders
      WHERE o_orderkey % 17 = 0
    )
    SELECT o_custkey,
           count(*) AS n,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS total
    FROM survivors GROUP BY o_custkey
    """,
)
def q_agg_retract_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retractable aggregate maintenance (harmonize.retract_aggregate):
    the maintained per-customer (count, spend) aggregate absorbs a CDC
    feed — every 21st order RETRACTED, every 17th re-inserted at a new
    price — via one signed partial aggregate + one full-outer merge,
    never a fact rescan. The oracle IS the full recompute over the
    surviving facts, so the hash match certifies the retraction
    identity (including customers whose counts hit zero and drop out)."""
    from gene_level_metadata_pipeline_spark.operators.harmonize import (
        retract_aggregate,
    )

    o = _t(spark, sf_dir, "orders")
    base = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("total"),
    )
    k = F.col("o_orderkey")
    feed = o.where(k % 21 == 0).select(
        "o_custkey", F.col("o_totalprice").alias("v"),
        F.lit("delete").alias("op"),
    ).unionByName(
        o.where(k % 17 == 0).select(
            "o_custkey", (F.col("o_totalprice") + 1000).alias("v"),
            F.lit("insert").alias("op"),
        )
    )
    out = retract_aggregate(base, feed, "o_custkey", "v")
    return out.select(
        "o_custkey", "n",
        F.round("total", 2).cast("double").alias("total"),
    )


@_register(
    "approx_distinct_bound",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_bound
    FROM events GROUP BY event_type
    """,
)
def q_approx_distinct_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certifies HyperLogLog++'s RELATIVE-ERROR GUARANTEE with an exact
    oracle — the approx_percentile_bound pattern applied to
    approx_count_distinct: the HLL estimate itself never leaves Spark
    (implementation-defined); what ships is the exact distinct count
    (both engines) plus a BOOLEAN asserting the estimate landed within
    5x its configured rsd (0.02 -> 10%, a ~5-sigma tail for the HLL++
    estimator — Heule et al. 2013). The oracle emits TRUE
    unconditionally, so any violation hash-mismatches. At 100 TB the
    mergeable HLL partials are the distinct-count path (exact
    countDistinct's two-phase expansion shuffles every distinct value);
    this query is the standing evidence the cheap path stays inside
    its contract."""
    ev = _events(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("hll"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("hll") - F.col("exact_users"))
            <= F.col("exact_users") * 0.10 + 1
        ).alias("within_bound"),
    )


@_register(
    "approx_percentile_bound",
    oracle="""
    WITH v AS (
      SELECT event_type, CAST(round(value * 1e6, 0) AS BIGINT) AS vm
      FROM events WHERE value IS NOT NULL
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(quantile_cont(vm, 0.5), 0) AS BIGINT) AS exact_p50,
           TRUE AS within_bound
    FROM v GROUP BY event_type
    """,
)
def q_approx_percentile_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certifies Spark's approx_percentile RANK-ERROR GUARANTEE with an
    exact oracle — the pattern for hash-certifying a sketch whose
    output no other engine can reproduce: the sketch value itself never
    leaves Spark; what ships is the exact p50 (both engines) plus a
    BOOLEAN asserting the sketch landed within its documented rank
    error (accuracy=100 -> rank error <= n/100). The oracle emits TRUE
    unconditionally, so any guarantee violation hash-mismatches. Rank check is exact
    integer arithmetic on micro-units (|#{v <= approx} - n/2| within
    n/100 + 1 of the target, the GK-sketch contract)."""
    ev = _events(spark, sf_dir).where(F.col("value").isNotNull())
    v = ev.select(
        "event_type",
        F.round(F.col("value") * 1e6, 0).cast("bigint").alias("vm"),
    )
    stats = v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("approx_percentile(vm, 0.5, 100)").alias("ap"),
        F.round(F.expr("percentile(vm, 0.5)"), 0).cast("bigint").alias(
            "exact_p50"
        ),
    )
    rank_at_ap = (
        v.join(stats.select("event_type", "ap"), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.when(F.col("vm") <= F.col("ap"), 1)).alias("r_le"),
            F.count(F.when(F.col("vm") < F.col("ap"), 1)).alias("r_lt"),
        )
    )
    # the returned value's rank interval [r_lt+1, r_le] must come
    # within n/100 (+1 for the floor) of the target rank n/2
    return (
        stats.join(rank_at_ap, "event_type")
        .select(
            "event_type",
            "n",
            "exact_p50",
            (
                (
                    F.least(
                        F.abs(F.col("r_le") - F.col("n") / 2),
                        F.abs(F.col("r_lt") + 1 - F.col("n") / 2),
                    )
                )
                <= (F.col("n") / 100 + 1)
            ).alias("within_bound"),
        )
    )


def _lpa_oracle(rounds: int = 3) -> str:
    """Unrolled synchronous-LPA recurrence: each round is one
    neighbor-vote aggregation + a QUALIFY top-1 with the identical
    (count DESC, label ASC) total tie-break the Spark operator uses —
    converging engines must agree bit-for-bit (the kcore/HITS
    unrolled-recurrence certification discipline)."""
    ctes = [
        "op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        """pairs AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS n
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    )""",
        "und AS (SELECT u, v FROM pairs WHERE n >= 2)",
        "sym AS (SELECT u, v FROM und UNION SELECT v, u FROM und)",
        "l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM sym)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(f"""v{r} AS (
      SELECT s.u AS node, l.lbl, count(*) AS c
      FROM sym s JOIN l{r - 1} l ON s.v = l.node
      GROUP BY s.u, l.lbl
    )""")
        ctes.append(f"""l{r} AS (
      SELECT node, lbl FROM v{r}
      QUALIFY row_number()
        OVER (PARTITION BY node ORDER BY c DESC, lbl) = 1
    )""")
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"""
    SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members
    FROM l{rounds} GROUP BY lbl"""
    )


@_register("graph_label_propagation", oracle=_lpa_oracle(3))
def q_graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation
    (graph.label_propagation) over the part co-occurrence graph (edges
    = part pairs sharing >= 2 orders, the kcore/sssp graph): three
    deterministic rounds of most-frequent-neighbor-label with the
    (count DESC, label ASC) total tie-break, then a community-size
    histogram. The oracle unrolls the identical recurrence as three
    vote+QUALIFY CTE pairs — exact bigint hash match certifies every
    round end-to-end. Scale shape: one edges⋈labels shuffle + one
    top-1 window per round over a never-growing frame, checkpointed
    per round (no lineage blowup), shuffle width self-sized from the
    edge count."""
    from gene_level_metadata_pipeline_spark.operators.graph import (
        label_propagation,
    )

    und = _part_cooccurrence_edges(spark, sf_dir)
    labels = label_propagation(und, rounds=3)
    return labels.groupBy("community").agg(
        F.count(F.lit(1)).alias("n_members")
    )


@_register(
    "ann_grid_nn_2d",
    oracle="""
    WITH p AS (
      SELECT vec_id AS pid,
             CAST(round(CAST(embedding[1] AS DOUBLE) * 1e6, 0) AS BIGINT)
               AS xm,
             CAST(round(CAST(embedding[2] AS DOUBLE) * 1e6, 0) AS BIGINT)
               AS ym
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) >= 2
    ),
    c AS (
      SELECT pid, xm, ym,
             CAST(floor(xm / 250000.0) AS BIGINT) AS cx,
             CAST(floor(ym / 250000.0) AS BIGINT) AS cy
      FROM p
    ),
    probes AS (
      SELECT pid, xm, ym, cx + dx.o AS cx, cy + dy.o AS cy
      FROM c, (VALUES (-1), (0), (1)) dx(o), (VALUES (-1), (0), (1)) dy(o)
    ),
    cand AS (
      SELECT pr.pid, q.pid AS qid,
             (pr.xm - q.xm) * (pr.xm - q.xm)
             + (pr.ym - q.ym) * (pr.ym - q.ym) AS d2
      FROM probes pr
      JOIN c q ON pr.cx = q.cx AND pr.cy = q.cy AND pr.pid <> q.pid
    )
    SELECT pid AS id, qid AS nn_id, d2 AS d2_micro FROM cand
    QUALIFY row_number() OVER (PARTITION BY pid ORDER BY d2, qid) = 1
    """,
)
def q_ann_grid_nn_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed 2-D nearest-neighbor self-join
    (similarity.grid_nn_join_2d) over the embeddings' first two
    components: snap to exact micro-int coordinates, bucket into
    0.25-wide grid cells, compare each point only against its 3×3 cell
    neighborhood, keep the per-point nearest candidate (ties -> min
    id). The spatial sibling of the LSH families: candidate counts
    scale with LOCAL density, not corpus size — the shuffle key is the
    cell id and the only replication is the fixed 9 neighbor offsets.
    The oracle replicates grid, window, and tie-break exactly in
    bigint micro-units² — hash match certifies the whole join
    geometry. element_at is avoided for F.get (NULL, never ANSI
    error, on short arrays)."""
    from gene_level_metadata_pipeline_spark.operators.similarity import (
        grid_nn_join_2d,
    )

    emb = _t(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.get("embedding", 0).alias("x"),
        F.get("embedding", 1).alias("y"),
    )
    return grid_nn_join_2d(pts, id_col="vec_id", x_col="x", y_col="y")


@_register(
    "theil_sen_trend",
    oracle="""
    WITH m AS (
      SELECT n.n_name AS nation,
             CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) AS BIGINT)
               AS t,
             CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    ),
    p AS (
      SELECT a.nation, a.t AS ta, b.t AS tb,
             (b.cents - a.cents) * 10000 AS num, b.t - a.t AS dt
      FROM m a JOIN m b ON a.nation = b.nation AND a.t < b.t
    ),
    s AS (
      SELECT nation, ta, tb,
             CAST((num - ((num % dt) + dt) % dt) // dt AS BIGINT) AS slope
      FROM p
    ),
    r AS (
      SELECT nation, slope,
             row_number() OVER (PARTITION BY nation ORDER BY slope, ta, tb)
               AS rn,
             count(*) OVER (PARTITION BY nation) AS n_pairs
      FROM s
    )
    SELECT nation, CAST(n_pairs AS BIGINT) AS n_pairs,
           slope AS slope_scaled
    FROM r WHERE rn = CAST(ceil(n_pairs / 2.0) AS BIGINT)
    """,
)
def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-nation revenue trend (timeseries.theil_sen_slope):
    lower median of all pairwise monthly-revenue slopes — the
    29.3%-breakdown robust counterpart to ols_daily_trend, immune to a
    quarter of the months being corrupted. All arithmetic exact:
    decimal cents, months-since-epoch ordinals, fixed-point slopes via
    the engine-portable floor division (num - pmod(num, dt)) / dt, and
    a (slope, ta, tb) total order for the median rank. The pairwise
    join is quadratic only in MONTHS per nation (~84 => ~3.5k pairs),
    never in order rows — the monthly rollup happens first, so the
    expensive scan is one aggregation and the quadratic stage runs on
    a dimension-sized frame."""
    from gene_level_metadata_pipeline_spark.operators.timeseries import (
        theil_sen_slope,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    m = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("bigint")
            .alias("t"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    return theil_sen_slope(m, group="nation", t_col="t", y_col="cents")


@_register(
    "approx_cms_heavy_hitters",
    oracle="""
    WITH wc AS (
      SELECT w AS word, CAST(count(*) AS BIGINT) AS exact_n
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> ''
      GROUP BY w
    )
    SELECT word, exact_n,
           TRUE AS never_underestimates, TRUE AS within_eps
    FROM wc
    QUALIFY row_number() OVER (ORDER BY exact_n DESC, word) <= 30
    """,
)
def q_approx_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certifies the COUNT-MIN SKETCH's frequency-estimate contract
    against an exact oracle (textanalysis.count_min_estimates) — the
    approx_distinct_bound pattern applied to the third classic sketch:
    the CMS estimate itself never leaves Spark; what ships per top-30
    word is the exact count (both engines) plus TWO booleans — the
    deterministic one-sided guarantee est >= true (bucket sums only
    ever add mass) and the probabilistic est <= true + 8N/width bound
    (Markov per hash row at k=8 -> miss probability (1/8)^4 per word
    at depth 4). The oracle emits TRUE unconditionally, so any
    violation hash-mismatches. The sketch is a fixed 4x256 frame built
    from the exact vocabulary counts — mergeable by addition, the
    100 TB heavy-hitter path where exact top-k's full shuffle isn't
    affordable."""
    from pyspark.sql import Window

    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        count_min_estimates,
    )

    docs = _t(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    est = count_min_estimates(wc, word_col="word", n_col="n",
                              width=256, depth=4)
    total = wc.agg(F.sum("n").alias("big_n"))
    w30 = Window.orderBy(F.col("n").desc(), F.col("word"))
    top = (
        wc.withColumn("rk", F.row_number().over(w30))
        .where(F.col("rk") <= 30)
        .select("word", F.col("n").alias("exact_n"))
    )
    return (
        top.join(est, "word")
        .crossJoin(F.broadcast(total))
        .select(
            "word", "exact_n",
            (F.col("est") >= F.col("exact_n")).alias("never_underestimates"),
            (
                F.col("est")
                <= F.col("exact_n") + (F.col("big_n") * 8) / 256 + 1
            ).alias("within_eps"),
        )
    )


@_register(
    "rag_rrf_fusion",
    oracle="""
    WITH words AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
      ) WHERE w <> ''
    ),
    tf AS (SELECT doc_id, w, count(*) AS cnt FROM words GROUP BY doc_id, w),
    dlen AS (SELECT doc_id, count(*) AS len FROM words GROUP BY doc_id),
    stats AS (
      SELECT count(*) AS n, sum(len) * 1.0 / count(*) AS avglen FROM dlen
    ),
    dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
    q(qid, w) AS (VALUES
      (0, 'hash'), (0, 'join'), (0, 'merge'),
      (1, 'fast'), (1, 'scan'), (1, 'filter'),
      (2, 'window'), (2, 'sort'), (2, 'batch')
    ),
    bm25 AS (
      SELECT qid, doc_id, rank FROM (
        SELECT qid, doc_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY score DESC, doc_id) AS rank
        FROM (
          SELECT q.qid, tf.doc_id,
                 CAST(round(sum(CAST(
                   ln((n - df + 0.5) / (df + 0.5) + 1.0)
                   * (cnt * 2.2)
                   / (cnt + 1.2 * (1 - 0.75 + 0.75 * len / avglen))
                 AS DECIMAL(18,6))), 4) AS DOUBLE) AS score
          FROM q JOIN tf USING (w)
          JOIN dlen USING (doc_id)
          JOIN dfreq USING (w)
          CROSS JOIN stats
          GROUP BY q.qid, tf.doc_id
        )
      ) WHERE rank <= 20
    ),
    ov AS (
      SELECT qid, doc_id, rank FROM (
        SELECT qid, doc_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY overlap DESC, doc_id) AS rank
        FROM (
          SELECT q.qid, tf.doc_id, count(*) AS overlap
          FROM q JOIN tf USING (w)
          GROUP BY q.qid, tf.doc_id
        )
      ) WHERE rank <= 20
    ),
    contrib AS (
      SELECT qid, doc_id, 1000000000 // (60 + rank) AS c FROM bm25
      UNION ALL
      SELECT qid, doc_id, 1000000000 // (60 + rank) AS c FROM ov
    ),
    fused AS (
      SELECT qid, doc_id, CAST(sum(c) AS BIGINT) AS fused_e9
      FROM contrib GROUP BY qid, doc_id
    )
    SELECT CAST(qid AS BIGINT) AS qid, doc_id, fused_e9,
           CAST(row_number() OVER (PARTITION BY qid
                ORDER BY fused_e9 DESC, doc_id) AS BIGINT) AS fused_rank
    FROM fused
    QUALIFY fused_rank <= 5
    """,
)
def q_rag_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid-retrieval rank fusion (textanalysis.rrf_fuse): BM25 top-20
    and distinct-term-overlap top-20 for the three fixed queries, fused
    by reciprocal-rank fusion with fixed-point bigint contributions
    floor(1e9/(60+rank)) — no score calibration, exact integer sums any
    engine reproduces — then the per-query fused top-5. Both rankers
    are the certified inverted-index probes (queries broadcast, only
    query-word postings survive); fusion itself is dimension-sized.
    The oracle rebuilds both rankings and the identical fixed-point
    fusion — hash match certifies ranker + fusion end-to-end."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        bm25_topk,
        rrf_fuse,
        term_overlap_topk,
    )

    docs = _t(spark, sf_dir, "documents")
    queries = spark.createDataFrame(
        [(0, "hash join merge"), (1, "fast scan filter"),
         (2, "window sort batch")],
        "qid bigint, query string",
    )
    bm = bm25_topk(docs, queries, text_col="text", id_col="doc_id", k=20)
    ov = term_overlap_topk(docs, queries, text_col="text", id_col="doc_id")
    fused = rrf_fuse(
        bm.select("qid", "doc_id", "rank"),
        ov.select("qid", "doc_id", "rank"),
    )
    return fused.select("qid", "doc_id", "fused_e9", "fused_rank")


def _walk_oracle(walk_len: int = 3) -> str:
    """Unrolled deterministic-walk recurrence: step s joins the ranked
    adjacency at rank md5('start:s:cur')[0:4] % degree — hex-digit
    arithmetic identical to the Spark operator (the feature_hash /
    CMS discipline), one CTE per step."""
    def d(i: int, e: str) -> str:
        return (
            f"(strpos('0123456789abcdef', substring(md5({e}), {i}, 1)) - 1)"
        )

    def hex4(e: str) -> str:
        return (
            f"((({d(1, e)} * 16 + {d(2, e)}) * 16 + {d(3, e)}) * 16 "
            f"+ {d(4, e)})"
        )

    ctes = [
        "op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        """pairs AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS n
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    )""",
        "und AS (SELECT u, v FROM pairs WHERE n >= 2)",
        "sym AS (SELECT u, v FROM und UNION SELECT v, u FROM und)",
        """adj AS (
      SELECT u, v,
             CAST(row_number() OVER (PARTITION BY u ORDER BY v) - 1
                  AS BIGINT) AS r
      FROM sym
    )""",
        "deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY u)",
        "w0 AS (SELECT u AS start, u AS cur FROM deg)",
    ]
    for s in range(1, walk_len + 1):
        key = (
            f"CAST(w{s - 1}.start AS VARCHAR) || ':{s}:' "
            f"|| CAST(w{s - 1}.cur AS VARCHAR)"
        )
        ctes.append(f"""w{s} AS (
      SELECT w{s - 1}.start, a.v AS cur
      FROM w{s - 1}
      JOIN deg ON deg.u = w{s - 1}.cur
      JOIN adj a ON a.u = w{s - 1}.cur
       AND a.r = {hex4(key)} % deg.d
    )""")
    selects = [
        f"SELECT start, CAST({s} AS INTEGER) AS step, cur AS node FROM w{s}"
        for s in range(0, walk_len + 1)
    ]
    return "WITH " + ",\n    ".join(ctes) + "\n    " + "\n    UNION ALL ".join(
        selects
    )


@_register("graph_random_walks", oracle=_walk_oracle(3))
def q_graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic DeepWalk-style walk corpus (graph.random_walks)
    over the part co-occurrence graph: one 3-step walk per node, next
    hop = md5("start:step:cur") leading hex digits mod degree against
    the v-sorted adjacency ranking — replayable with NO RNG state, so
    the oracle unrolls the identical recurrence one CTE per step and
    the hash match certifies every hop. The walk table is nodes-sized;
    each step is one join against the once-ranked adjacency — the
    sentence generator for graph-embedding training at corpus scale."""
    from gene_level_metadata_pipeline_spark.operators.graph import (
        random_walks,
    )

    und = _part_cooccurrence_edges(spark, sf_dir)
    return random_walks(und, walk_len=3)


@_register(
    "bootstrap_mean_ci",
    oracle="""
    WITH base AS (
      SELECT o_orderpriority AS g, o_orderkey AS id,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS x
      FROM orders
    ),
    hashed AS (
      SELECT g, x, r.range AS b,
             md5(CAST(r.range // 5 AS VARCHAR) || ':'
                 || CAST(id AS VARCHAR)) AS h,
             CAST(1 + 6 * (r.range % 5) AS INTEGER) AS o
      FROM base CROSS JOIN range(32) r
    ),
    uni AS (
      SELECT g, x, b,
             ((((((strpos('0123456789abcdef', substring(h, o, 1)) - 1)
               * 16 + strpos('0123456789abcdef', substring(h, o + 1, 1)) - 1)
               * 16 + strpos('0123456789abcdef', substring(h, o + 2, 1)) - 1)
               * 16 + strpos('0123456789abcdef', substring(h, o + 3, 1)) - 1)
               * 16 + strpos('0123456789abcdef', substring(h, o + 4, 1)) - 1)
               * 16 + strpos('0123456789abcdef', substring(h, o + 5, 1)) - 1)
               / 16777216.0 AS u
      FROM hashed
    ),
    rep AS (
      SELECT g, x, b,
             CASE
               WHEN u < 0.367879 THEN 0
               WHEN u < 0.735759 THEN 1
               WHEN u < 0.919699 THEN 2
               WHEN u < 0.981012 THEN 3
               WHEN u < 0.996340 THEN 4
               ELSE 5
             END AS w
      FROM uni
    ),
    agg AS (
      SELECT g, b, sum(w * x) AS sw, sum(w) AS nw
      FROM rep GROUP BY g, b HAVING sum(w) > 0
    ),
    means AS (
      SELECT g, b,
             CAST((sw * 10000 - (((sw * 10000) % nw) + nw) % nw) // nw
                  AS BIGINT) AS m
      FROM agg
    ),
    ranked AS (
      SELECT g, m, row_number() OVER (PARTITION BY g ORDER BY m, b) AS rn
      FROM means
    ),
    ci AS (
      SELECT g,
             max(CASE WHEN rn = 2 THEN m END) AS ci_lo_scaled,
             max(CASE WHEN rn = 31 THEN m END) AS ci_hi_scaled
      FROM ranked GROUP BY g
    ),
    point AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n_rows,
             CAST((sum(x) * 10000
                   - (((sum(x) * 10000) % count(*)) + count(*)) % count(*))
                  // count(*) AS BIGINT) AS mean_scaled
      FROM base GROUP BY g
    )
    SELECT point.g AS o_orderpriority, n_rows, mean_scaled,
           ci_lo_scaled, ci_hi_scaled
    FROM point JOIN ci ON point.g = ci.g
    """,
)
def q_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson-bootstrap CI for mean order value per
    priority (drift.bootstrap_mean_ci): 32 hash-seeded resamples
    (weight = Poisson(1) inverse-CDF of md5("b:orderkey")/16^6 — the
    one-pass distributed bootstrap, no multinomial coordination),
    fixed-point bigint means, rank-2/rank-31 interval. The oracle
    replays the identical hash arithmetic, weights, and floor
    divisions — hash match certifies the whole resampling machinery,
    something a float bootstrap could never do cross-engine."""
    from gene_level_metadata_pipeline_spark.operators.drift import (
        bootstrap_mean_ci,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    return bootstrap_mean_ci(
        orders, group="o_orderpriority", value="cents", id_col="o_orderkey",
        replicates=32,
    )


@_register(
    "skipgram_pairs",
    oracle="""
    WITH toks AS (
      SELECT doc_id, t.i - 1 AS p, t.w
      FROM documents,
           LATERAL (SELECT unnest(string_split(text, ' ')) AS w,
                    generate_subscripts(string_split(text, ' '), 1) AS i) t
      WHERE t.w <> ''
    ),
    ordered AS (
      SELECT a.w AS center, b.w AS context
      FROM toks a JOIN toks b
        ON a.doc_id = b.doc_id
       AND b.p BETWEEN a.p + 1 AND a.p + 2
    ),
    sym AS (
      SELECT center, context FROM ordered
      UNION ALL
      SELECT context, center FROM ordered
    ),
    agg AS (
      SELECT center, context, CAST(count(*) AS BIGINT) AS n
      FROM sym GROUP BY center, context
    )
    SELECT center, context, n,
           CAST(row_number() OVER (ORDER BY n DESC, center, context)
                AS BIGINT) AS rank
    FROM agg QUALIFY rank <= 200
    """,
)
def q_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram co-occurrence pairs (textanalysis.skipgram_pairs),
    window ±2 — the word2vec training-data generator: doc-local
    positional self-join (positions from the raw split so empties
    can't shift engines apart), both pair directions, exact counts,
    top-200 under the (n DESC, center, context) total order. Pair
    generation is O(tokens x window) and shuffles only on the doc
    key; the aggregation is map-side combinable onto the pair
    vocabulary."""
    from pyspark.sql import Window

    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        skipgram_pairs,
    )

    agg = skipgram_pairs(_t(spark, sf_dir, "documents"))
    w = Window.orderBy(F.col("n").desc(), F.col("center"), F.col("context"))
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= 200)
    )


def _kcenter_oracle(k: int = 4) -> str:
    """Unrolled Gonzalez farthest-point recurrence: round r picks the
    (md DESC, pid) top-1 of the running min-distance table, then
    least-folds the new center in — exact bigint micro-units², one CTE
    pair per round."""
    ctes = [
        """p AS (
      SELECT vec_id AS pid,
             CAST(round(CAST(embedding[1] AS DOUBLE) * 1e6, 0) AS BIGINT)
               AS xm,
             CAST(round(CAST(embedding[2] AS DOUBLE) * 1e6, 0) AS BIGINT)
               AS ym
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) >= 2
    )""",
        "c1 AS (SELECT pid, xm, ym FROM p"
        " QUALIFY row_number() OVER (ORDER BY pid) = 1)",
        """d1 AS (
      SELECT p.pid, p.xm, p.ym,
             (p.xm - c.xm) * (p.xm - c.xm)
             + (p.ym - c.ym) * (p.ym - c.ym) AS md
      FROM p, c1 c WHERE p.pid <> c.pid
    )""",
    ]
    for r in range(2, k + 1):
        ctes.append(
            f"c{r} AS (SELECT pid, xm, ym, md FROM d{r - 1}"
            f" QUALIFY row_number() OVER (ORDER BY md DESC, pid) = 1)"
        )
        if r < k:
            ctes.append(f"""d{r} AS (
      SELECT d.pid, d.xm, d.ym,
             least(d.md, (d.xm - c.xm) * (d.xm - c.xm)
                   + (d.ym - c.ym) * (d.ym - c.ym)) AS md
      FROM d{r - 1} d, c{r} c WHERE d.pid <> c.pid
    )""")
    sel = [
        "SELECT CAST(1 AS INTEGER) AS sel_round, pid AS id,"
        " CAST(0 AS BIGINT) AS mind2_micro FROM c1"
    ] + [
        f"SELECT CAST({r} AS INTEGER) AS sel_round, pid AS id,"
        f" CAST(md AS BIGINT) AS mind2_micro FROM c{r}"
        for r in range(2, k + 1)
    ]
    return "WITH " + ",\n    ".join(ctes) + "\n    " + "\n    UNION ALL ".join(sel)


@_register("kcenter_diverse_sample", oracle=_kcenter_oracle(4))
def q_kcenter_diverse_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center diversity sample (similarity.kcenter_sample),
    k=4, over the embeddings' first two components: min-id seed, then
    three farthest-point picks under the (min-distance DESC, id) total
    order — the 2-approximation diverse-subset selector for coreset
    seeding and training-data diversity. Each round is one broadcast-
    center scan + one TakeOrdered top-1, O(k) scans total, exact
    bigint micro-units² end-to-end; the oracle unrolls the identical
    recurrence one CTE pair per round, so the hash match certifies
    every pick and the final covering-radius bound."""
    from gene_level_metadata_pipeline_spark.operators.similarity import (
        kcenter_sample,
    )

    emb = _t(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.get("embedding", 0).alias("x"),
        F.get("embedding", 1).alias("y"),
    )
    return kcenter_sample(pts, k=4, id_col="vec_id", x_col="x", y_col="y")


@_register(
    "ab_cuped_adjusted",
    oracle="""
    WITH e AS (
      SELECT user_id,
             CAST(round(value * 10000, 0) AS BIGINT) AS v4,
             ts < TIMESTAMP '2024-01-16' AS pre
      FROM events WHERE value IS NOT NULL
    ),
    u AS (
      SELECT user_id,
             CAST(user_id % 2 AS INTEGER) AS arm,
             CAST(coalesce(sum(v4) FILTER (WHERE pre), 0) AS HUGEINT) AS x,
             CAST(coalesce(sum(v4) FILTER (WHERE NOT pre), 0) AS HUGEINT)
               AS y
      FROM e GROUP BY user_id
    ),
    pooled AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM u
    ),
    theta AS (
      SELECT n, sx, sy,
             (SELECT nm - (((nm % dn) + dn) % dn) FROM (
                SELECT (n * sxy - sx * sy) * 1000000 AS nm,
                       n * sxx - sx * sx AS dn)) //
             (n * sxx - sx * sx) AS theta_s
      FROM pooled
    ),
    per_arm AS (
      SELECT arm, CAST(count(*) AS HUGEINT) AS n_a,
             sum(x) AS sx_a, sum(y) AS sy_a
      FROM u GROUP BY arm
    )
    SELECT arm,
           CAST(n_a AS BIGINT) AS n_units,
           CAST((sy_a - ((sy_a % n_a) + n_a) % n_a) // n_a AS BIGINT)
             AS mean_y_scaled,
           CAST((adj_nm - ((adj_nm % adj_dn) + adj_dn) % adj_dn) // adj_dn
                AS BIGINT) AS adj_mean_y_scaled,
           CAST(theta_s AS BIGINT) AS theta_scaled
    FROM (
      SELECT a.arm, a.n_a, a.sy_a,
             a.sy_a * t.n * 1000000
               - t.theta_s * (a.sx_a * t.n - t.sx * a.n_a) AS adj_nm,
             a.n_a * t.n * 1000000 AS adj_dn,
             t.theta_s
      FROM per_arm a CROSS JOIN theta t
    )
    """,
)
def q_ab_cuped_adjusted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted experiment readout (drift.cuped_adjust): per-user
    pre-period value sum (days 1-15) as the covariate, experiment-period
    sum (days 16-30) as the metric, arm = user_id parity; theta and the
    adjusted per-arm means are exact fixed-point floor divisions over
    128-bit integer sums (DECIMAL(38) in Spark, HUGEINT in the oracle)
    — the variance-reduction standard of every experimentation
    platform, certified bit-for-bit cross-engine. One grouped pass per
    level + a 1-row pooled broadcast; cost is one scan at any corpus
    size."""
    from gene_level_metadata_pipeline_spark.operators.drift import (
        cuped_adjust,
    )

    ev = _events(spark, sf_dir).where(F.col("value").isNotNull())
    per_user = ev.groupBy("user_id").agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("ts") < F.lit("2024-01-16").cast("timestamp"),
                    F.round(F.col("value") * 10000, 0).cast("bigint"),
                )
            ),
            F.lit(0),
        ).alias("x"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("ts") >= F.lit("2024-01-16").cast("timestamp"),
                    F.round(F.col("value") * 10000, 0).cast("bigint"),
                )
            ),
            F.lit(0),
        ).alias("y"),
    ).select(
        F.pmod(F.col("user_id"), F.lit(2)).cast("int").alias("arm"),
        "x", "y",
    )
    return cuped_adjust(per_user, arm_col="arm", x_col="x", y_col="y")


@_register(
    "conformal_order_value",
    oracle="""
    WITH base AS (
      SELECT o_orderpriority AS g, o_orderkey AS id,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS y
      FROM orders
    ),
    fit AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n_train,
             CAST((sum(y) - ((sum(y) % count(*)) + count(*)) % count(*))
                  // count(*) AS BIGINT) AS pred_scaled
      FROM base WHERE id % 2 = 0 GROUP BY g
    ),
    res AS (
      SELECT b.g, b.id AS rid, f.n_train, f.pred_scaled,
             abs(b.y - f.pred_scaled) AS r
      FROM base b JOIN fit f ON b.g = f.g
      WHERE b.id % 2 = 1
    ),
    ranked AS (
      SELECT g, n_train, pred_scaled, r,
             row_number() OVER (PARTITION BY g ORDER BY r, rid) AS rn,
             count(*) OVER (PARTITION BY g) AS n_cal
      FROM res
    ),
    q AS (
      SELECT g, n_train, CAST(n_cal AS BIGINT) AS n_cal, pred_scaled,
             r AS q_resid,
             CAST(least(CAST(ceil(90 * (n_cal + 1) / 100.0) AS BIGINT),
                        n_cal) AS BIGINT) AS k_rank
      FROM ranked
      WHERE rn = least(CAST(ceil(90 * (n_cal + 1) / 100.0) AS BIGINT),
                       n_cal)
    ),
    cover AS (
      SELECT res.g, CAST(count(*) FILTER (WHERE res.r <= q.q_resid)
                         AS BIGINT) AS cover_cnt
      FROM res JOIN q ON res.g = q.g GROUP BY res.g
    )
    SELECT q.g AS o_orderpriority, n_train, n_cal, pred_scaled, q_resid,
           cover_cnt, cover_cnt >= least(k_rank, n_cal) AS cover_ok
    FROM q JOIN cover ON q.g = cover.g
    """,
)
def q_conformal_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval per order priority
    (drift.conformal_split_interval): train mean on even order keys,
    exact order-statistic residual quantile on odd keys — the
    assumption-free >= 90% coverage construction, with the coverage
    count re-verified in the output (cover_ok). Every quantity is an
    exact bigint (fixed-point means, |y - pred| residuals, rank-based
    q), so the oracle replays the whole conformal recipe and the hash
    match certifies the guarantee machinery itself."""
    from gene_level_metadata_pipeline_spark.operators.drift import (
        conformal_split_interval,
    )

    base = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority"), F.col("o_orderkey"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("y"),
    )
    return conformal_split_interval(
        base, group="o_orderpriority", y_col="y", id_col="o_orderkey",
    )


@_register(
    "target_encode_kfold",
    oracle="""
    WITH base AS (
      SELECT o_orderpriority AS cat, o_orderkey AS id,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS t
      FROM orders
    ),
    folded AS (
      SELECT cat, t,
             CAST((((strpos('0123456789abcdef', substring(h, 1, 1)) - 1)
                * 16 + strpos('0123456789abcdef', substring(h, 2, 1)) - 1)
                * 16 + strpos('0123456789abcdef', substring(h, 3, 1)) - 1)
                * 16 + strpos('0123456789abcdef', substring(h, 4, 1)) - 1
                AS BIGINT) % 5 AS fold
      FROM (SELECT cat, t,
                   md5('fold:' || CAST(id AS VARCHAR)) AS h
            FROM base)
    ),
    per AS (
      SELECT cat, CAST(fold AS INTEGER) AS fold,
             CAST(count(*) AS BIGINT) AS n_f,
             CAST(sum(t) AS BIGINT) AS s_f
      FROM folded GROUP BY cat, fold
    ),
    tot AS (
      SELECT cat, sum(n_f) AS n_c, sum(s_f) AS s_c FROM per GROUP BY cat
    )
    SELECT per.cat, per.fold,
           CAST(n_c - n_f AS BIGINT) AS n_out_of_fold,
           CASE WHEN n_c > n_f THEN
             CAST(((s_c - s_f) * 10000
                   - ((((s_c - s_f) * 10000) % (n_c - n_f)) + (n_c - n_f))
                     % (n_c - n_f)) // (n_c - n_f) AS BIGINT)
           END AS enc_scaled
    FROM per JOIN tot ON per.cat = tot.cat
    """,
)
def q_target_encode_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe K-fold target encoding (drift.target_encode_kfold)
    of order priority against order value: each fold's encoding uses
    only out-of-fold rows (the gradient-model feature-engineering
    standard), folds hash-assigned from md5 hex digits (deterministic
    cross-engine), encodings exact fixed-point floor divisions. The
    |cats| x folds output table is the broadcastable feature the
    downstream join consumes — one aggregation pass at any scale."""
    from gene_level_metadata_pipeline_spark.operators.drift import (
        target_encode_kfold,
    )

    base = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority"),
        F.col("o_orderkey"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("t"),
    )
    return target_encode_kfold(
        base, cat_col="o_orderpriority", target_col="t",
        id_col="o_orderkey",
    )


_MMR_BASE_CTES = """
    words AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
      ) WHERE w <> ''
    ),
    tf AS (SELECT doc_id, w, count(*) AS cnt FROM words GROUP BY doc_id, w),
    dlen AS (SELECT doc_id, count(*) AS len FROM words GROUP BY doc_id),
    stats AS (
      SELECT count(*) AS n, sum(len) * 1.0 / count(*) AS avglen FROM dlen
    ),
    dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
    q(qid, w) AS (VALUES
      (0, 'hash'), (0, 'join'), (0, 'merge'),
      (1, 'fast'), (1, 'scan'), (1, 'filter'),
      (2, 'window'), (2, 'sort'), (2, 'batch')
    ),
    cand AS (
      SELECT CAST(qid AS BIGINT) AS qid, doc_id,
             CAST(round(score * 10000, 0) AS BIGINT) AS rel
      FROM (
        SELECT qid, doc_id, score,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY score DESC, doc_id) AS rank
        FROM (
          SELECT q.qid, tf.doc_id,
                 CAST(round(sum(CAST(
                   ln((n - df + 0.5) / (df + 0.5) + 1.0)
                   * (cnt * 2.2)
                   / (cnt + 1.2 * (1 - 0.75 + 0.75 * len / avglen))
                 AS DECIMAL(18,6))), 4) AS DOUBLE) AS score
          FROM q JOIN tf USING (w)
          JOIN dlen USING (doc_id)
          JOIN dfreq USING (w)
          CROSS JOIN stats
          GROUP BY q.qid, tf.doc_id
        )
      ) WHERE rank <= 10
    ),
    dw AS (
      SELECT DISTINCT doc_id, w FROM words
      WHERE doc_id IN (SELECT doc_id FROM cand)
    ),
    dn AS (SELECT doc_id, count(*) AS nw FROM dw GROUP BY doc_id),
    pairs AS (
      SELECT a.qid, a.doc_id AS da, b.doc_id AS db
      FROM cand a JOIN cand b
        ON a.qid = b.qid AND a.doc_id < b.doc_id
    ),
    inter AS (
      SELECT p.qid, p.da, p.db, count(*) AS i
      FROM pairs p
      JOIN dw wa ON wa.doc_id = p.da
      JOIN dw wb ON wb.doc_id = p.db AND wb.w = wa.w
      GROUP BY p.qid, p.da, p.db
    ),
    jac AS (
      SELECT i.qid, i.da, i.db,
             CAST(i.i * 1000000 // (na.nw + nb.nw - i.i) AS BIGINT) AS sim
      FROM inter i
      JOIN dn na ON na.doc_id = i.da
      JOIN dn nb ON nb.doc_id = i.db
    ),
    jsym AS (
      SELECT qid, da AS doc_id, db AS other, sim FROM jac
      UNION ALL
      SELECT qid, db AS doc_id, da AS other, sim FROM jac
    ),
    s1 AS (
      SELECT qid, doc_id FROM cand
      QUALIFY row_number() OVER (PARTITION BY qid
                                 ORDER BY rel DESC, doc_id) = 1
    )"""


def _mmr_round_ctes(r: int) -> str:
    prev = ", ".join(f"SELECT qid, doc_id FROM s{i}" for i in range(1, r))
    return f""",
    sel{r} AS ({prev.replace(', SELECT', ' UNION ALL SELECT')}),
    rem{r} AS (
      SELECT c.qid, c.doc_id, c.rel FROM cand c
      ANTI JOIN sel{r} s ON c.qid = s.qid AND c.doc_id = s.doc_id
    ),
    hit{r} AS (
      SELECT j.qid, j.doc_id, max(j.sim) AS red
      FROM jsym j JOIN sel{r} s
        ON j.qid = s.qid AND j.other = s.doc_id
      GROUP BY j.qid, j.doc_id
    ),
    red{r} AS (
      SELECT r.qid, r.doc_id, r.rel, coalesce(h.red, 0) AS red
      FROM rem{r} r LEFT JOIN hit{r} h
        ON h.qid = r.qid AND h.doc_id = r.doc_id
    ),
    s{r} AS (
      SELECT qid, doc_id FROM red{r}
      QUALIFY row_number() OVER (PARTITION BY qid
               ORDER BY rel * 100 - red DESC, doc_id) = 1
    )"""


def _mmr_oracle(k: int = 3) -> str:
    sql = "WITH" + _MMR_BASE_CTES
    for r in range(2, k + 1):
        sql += _mmr_round_ctes(r)
    sel = "\n    UNION ALL ".join(
        f"SELECT qid, CAST({r} AS INTEGER) AS pick_order, doc_id FROM s{r}"
        for r in range(1, k + 1)
    )
    return sql + "\n    " + sel


@_register("rag_mmr_diversify", oracle=_mmr_oracle(3))
def q_rag_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified re-ranking (textanalysis.mmr_diversify) on the
    BM25 top-10 per query: relevance = fixed-point BM25 score, pairwise
    redundancy = exact floor-div Jaccard over the candidates' word
    sets, greedy picks under the (rel*100 - max_sim, doc_id) total
    order — the diversity stage completing the retrieve → fuse →
    diversify stack. All work after retrieval is dimension-sized
    (|queries| x 10 candidates, 45 pairs per query). The oracle
    unrolls the greedy recurrence one CTE group per round; the hash
    match certifies ranker, Jaccard, and every pick."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        bm25_topk,
        mmr_diversify,
    )

    docs = _t(spark, sf_dir, "documents")
    queries = spark.createDataFrame(
        [(0, "hash join merge"), (1, "fast scan filter"),
         (2, "window sort batch")],
        "qid bigint, query string",
    )
    bm = bm25_topk(docs, queries, text_col="text", id_col="doc_id", k=10)
    cand = bm.select(
        "qid", "doc_id",
        F.round(F.col("score") * 10000, 0).cast("bigint").alias("rel"),
    )
    dw = (
        docs.join(cand.select("doc_id").distinct(), "doc_id")
        .select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .distinct()
    )
    dn = dw.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nw"))
    pairs = cand.select("qid", F.col("doc_id").alias("da")).join(
        cand.select("qid", F.col("doc_id").alias("db")), "qid"
    ).where(F.col("da") < F.col("db"))
    inter = (
        pairs.join(dw.select(F.col("doc_id").alias("da"),
                             F.col("w").alias("wa")), "da")
        .join(dw.select(F.col("doc_id").alias("db"),
                        F.col("w").alias("wa")), ["db", "wa"])
        .groupBy("qid", "da", "db")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    u = F.col("na") + F.col("nb") - F.col("i")
    sims = (
        inter.join(dn.select(F.col("doc_id").alias("da"),
                             F.col("nw").alias("na")), "da")
        .join(dn.select(F.col("doc_id").alias("db"),
                        F.col("nw").alias("nb")), "db")
        .select(
            "qid", F.col("da").alias("a"), F.col("db").alias("b"),
            F.expr("i * 1000000 div (na + nb - i)").alias("sim"),
        )
    )
    return mmr_diversify(cand, sims, k=3)


@_register(
    "source_ablation_quality",
    oracle="""
    WITH d AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(list_filter(string_split(text, ' '),
                                      x -> x <> ''))) AS BIGINT) AS toks
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT sum(n_docs) AS n_all, sum(toks) AS t_all FROM d
    )
    SELECT source, n_docs,
           CAST(t_all * 10000 // n_all AS BIGINT) AS mean_all_e4,
           CAST((t_all - toks) * 10000 // (n_all - n_docs) AS BIGINT)
             AS loo_mean_e4,
           CAST((t_all - toks) * 10000 // (n_all - n_docs)
                - t_all * 10000 // n_all AS BIGINT) AS delta_e4
    FROM d CROSS JOIN tot
    WHERE n_all > n_docs
    """,
)
def q_source_ablation_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source leave-one-out ablation of a corpus statistic (mean
    tokens/doc): for every feed, what the corpus metric becomes WITHOUT
    it — the curation triage that ranks which source drags the corpus
    (the cheap first-order cousin of data-Shapley: computable from ONE
    per-source aggregation because leave-one-out of a mean is algebra
    on the totals, never a re-scan per source). Exact fixed-point floor
    divisions; positive delta = the corpus improves without that
    source."""
    docs = _t(spark, sf_dir, "documents")
    d = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(
            F.size(F.filter(F.split("text", " "), lambda x: x != ""))
        ).cast("bigint").alias("toks"),
    )
    tot = d.agg(
        F.sum("n_docs").alias("n_all"), F.sum("toks").alias("t_all")
    )
    mean_all = F.expr("t_all * 10000 div n_all")
    loo = F.expr("(t_all - toks) * 10000 div (n_all - n_docs)")
    return (
        d.crossJoin(F.broadcast(tot))
        .where(F.col("n_all") > F.col("n_docs"))
        .select(
            "source", "n_docs",
            mean_all.cast("bigint").alias("mean_all_e4"),
            loo.cast("bigint").alias("loo_mean_e4"),
            (loo - mean_all).cast("bigint").alias("delta_e4"),
        )
    )


@_register(
    "vocab_oov_rate",
    oracle="""
    WITH train_vocab AS (
      SELECT DISTINCT w FROM (
        SELECT unnest(string_split(text, ' ')) AS w
        FROM documents WHERE doc_id % 2 = 0
      ) WHERE w <> ''
    ),
    test_toks AS (
      SELECT lang, w FROM (
        SELECT lang, unnest(string_split(text, ' ')) AS w
        FROM documents WHERE doc_id % 2 = 1
      ) WHERE w <> ''
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (WHERE v.w IS NULL) AS BIGINT) AS n_oov,
           CAST(count(*) FILTER (WHERE v.w IS NULL) * 1000000 // count(*)
                AS BIGINT) AS oov_rate_e6
    FROM test_toks t LEFT JOIN train_vocab v ON t.w = v.w
    GROUP BY lang
    """,
)
def q_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer/vocabulary OOV evaluation: vocabulary from the TRAIN
    split (even doc ids), per-language out-of-vocabulary token rate on
    the held-out TEST split (odd ids) — the fairness metric that shows
    which language a frozen vocabulary shortchanges (the reason
    multilingual tokenizers publish per-language fertility/OOV tables).
    One distinct-vocab aggregation + one token probe join keyed on the
    word (the vocabulary side is the small one — broadcastable at any
    corpus scale); exact fixed-point rate."""
    docs = _t(spark, sf_dir, "documents")
    vocab = (
        docs.where(F.pmod(F.col("doc_id"), F.lit(2)) == 0)
        .select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .distinct()
    )
    toks = (
        docs.where(F.pmod(F.col("doc_id"), F.lit(2)) == 1)
        .select("lang", F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
    )
    probed = toks.join(
        F.broadcast(vocab.withColumn("hit", F.lit(1))), "w", "left"
    )
    return probed.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.count(F.when(F.col("hit").isNull(), 1)).cast("bigint").alias(
            "n_oov"
        ),
        F.expr(
            "CAST(count(CASE WHEN hit IS NULL THEN 1 END) * 1000000 "
            "div count(*) AS BIGINT)"
        ).alias("oov_rate_e6"),
    )


def _treach_oracle(hops: int = 3) -> str:
    """Unrolled earliest-arrival recurrence with the temporal guard
    t >= arrival(u) — one union+min-fold CTE per hop."""
    ctes = [
        "op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        """od AS (
      SELECT o_orderkey,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS d
      FROM orders
    )""",
        """pairs AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v,
             CAST(min(od.d) AS BIGINT) AS t
      FROM op a
      JOIN op b ON a.l_orderkey = b.l_orderkey
               AND a.l_partkey < b.l_partkey
      JOIN od ON od.o_orderkey = a.l_orderkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING count(*) >= 2
    )""",
        "sym AS (SELECT u, v, t FROM pairs"
        " UNION ALL SELECT v, u, t FROM pairs)",
        "a0 AS (SELECT min(u) AS node, CAST(0 AS BIGINT) AS arrival"
        " FROM pairs)",
    ]
    for h in range(1, hops + 1):
        ctes.append(f"""a{h} AS (
      SELECT node, min(arrival) AS arrival FROM (
        SELECT node, arrival FROM a{h - 1}
        UNION ALL
        SELECT s.v AS node, s.t AS arrival
        FROM sym s JOIN a{h - 1} p ON s.u = p.node AND s.t >= p.arrival
      ) GROUP BY node
    )""")
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"\n    SELECT node, arrival FROM a{hops}"
    )


@_register("graph_temporal_reachability", oracle=_treach_oracle(3))
def q_graph_temporal_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-respecting reachability (graph.temporal_reachability) over
    the part co-occurrence graph with edge time = earliest shared
    order's epoch day: earliest ARRIVAL at every node within 3 hops
    from the min-id seed, where a path's edge days never decrease —
    the information-flow semantics plain BFS gets wrong on temporal
    graphs (a hop cannot use an edge that happened before the signal
    arrived). Exact bigint day arithmetic, min-fold per hop; the
    oracle unrolls the guarded Bellman-Ford recurrence one CTE per
    hop. UTC pinned for the date cast (the tpch discipline)."""
    from gene_level_metadata_pipeline_spark.operators.graph import (
        temporal_reachability,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct()
    od = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1970-01-01").cast("date"),
        ).cast("bigint").alias("d"),
    )
    # basket-array pair explode with the order day riding along (the
    # _cooccur_pairs idiom, plus one per-basket attribute): the date
    # join lands BEFORE the collapse on the same orderkey the groupBy
    # shuffles on, pairs explode map-side from the bounded array —
    # never a raw self-join (VERDICT r6 watch item 1)
    baskets = (
        li.join(od.withColumnRenamed("o_orderkey", "l_orderkey"),
                "l_orderkey")
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("ps"), F.min("d").alias("d"))
    )
    pairs = (
        baskets.select(F.explode("ps").alias("u"), "ps", "d")
        .select("u", F.explode("ps").alias("v"), "d")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n"), F.min("d").alias("t"))
        .where(F.col("n") >= 2)
        .select("u", "v", "t")
    )
    seeds = pairs.agg(F.min("u").alias("node"))
    return temporal_reachability(pairs, seeds, max_hops=3)


def _mw_oracle(rounds: int = 4, step: int = 250_000) -> str:
    """Unrolled multiplicative-weights recurrence — the SQL twin of
    selection.mixture_reweight_mw. One CTE pair (mix scalar, weight
    projection) per round; every division positive, `//` exact."""
    ctes = ["""st AS (
      SELECT source AS domain, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(n_chars) * 1000000 // count(*) AS BIGINT) AS m
      FROM documents GROUP BY source
    )""",
            """w0 AS (
      SELECT domain, n_rows, m, CAST(1000000 AS BIGINT) AS w FROM st
    )"""]
    for t in range(1, rounds + 1):
        ctes.append(f"""x{t} AS (
      SELECT sum(w * m) // sum(w) AS mix FROM w{t - 1}
    )""")
        ctes.append(f"""w{t} AS (
      SELECT domain, n_rows, m,
             CAST(greatest(1, w * (1000000 + least({step},
                 greatest(-{step}, (m * 1000000 // mix) - 1000000)))
                 // 1000000) AS BIGINT) AS w
      FROM w{t - 1} CROSS JOIN x{t}
    )""")
    return (
        "WITH " + ",\n    ".join(ctes) + f""",
    tot AS (SELECT sum(w) AS tw FROM w{rounds})
    SELECT domain, n_rows, m AS stat_scaled, w AS w_final,
           CAST(w * 1000000 // tw AS BIGINT) AS w_share_e6
    FROM w{rounds} CROSS JOIN tot
    """
    )


@_register("mixture_reweight_mw", oracle=_mw_oracle())
def q_mixture_reweight_mw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained data-mixing weights (selection.mixture_reweight_mw): 4
    multiplicative-weights rounds move mixture share toward document
    sources whose mean length sits above the evolving weighted
    average — the DoReMi shape with every quantity an exact bigint
    (scaled means, positive-divisor integral divisions, clamped ±25%
    steps), so the ENTIRE training loop is hash-certified against the
    unrolled 4-round CTE recurrence, the classifier_lr_scores
    discipline applied to mixture optimization. Cost after the one
    corpus scan is |domains|-sized per round — corpus-size-independent
    training, zero driver state."""
    from gene_level_metadata_pipeline_spark.operators.selection import (
        mixture_reweight_mw,
    )

    docs = _t(spark, sf_dir, "documents")
    return mixture_reweight_mw(
        docs, domain_col="source", stat_col="n_chars",
    )


@_register(
    "isotonic_calibration",
    oracle="""
    WITH bk AS (
      SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) // 2500000
               AS bucket,
             CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                           THEN 1 ELSE 0 END) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1
    ),
    idxd AS (
      SELECT bucket, s, n,
             row_number() OVER (ORDER BY bucket) AS idx,
             sum(s) OVER (ORDER BY bucket) AS cs,
             sum(n) OVER (ORDER BY bucket) AS cn
      FROM bk
    ),
    pairs AS (
      SELECT lo.idx AS j, hi.idx AS k,
             (hi.cs - lo.cs + lo.s) * 1000000
               // (hi.cn - lo.cn + lo.n) AS m
      FROM idxd lo JOIN idxd hi ON lo.idx <= hi.idx
    ),
    tri AS (
      SELECT j, m, u.i
      FROM pairs, LATERAL (SELECT unnest(generate_series(j, k)) AS i) u
    ),
    inner_min AS (SELECT i, j, min(m) AS mn FROM tri GROUP BY i, j),
    iso AS (SELECT i, max(mn) AS iso_e6 FROM inner_min GROUP BY i)
    SELECT b.bucket, b.n,
           CAST(b.s * 1000000 // b.n AS BIGINT) AS mean_e6,
           CAST(iso.iso_e6 AS BIGINT) AS iso_e6
    FROM idxd b JOIN iso ON iso.i = b.idx
    """,
)
def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration (drift.isotonic_fit): monotone fit of the
    urgent-priority rate against order-value buckets ($25k bins) — the
    PAVA score calibrator in exact fixed-point minimax form
    (iso(i) = max_{j<=i} min_{k>=i} floored pooled mean), so the WHOLE
    fit hash-matches the oracle's replay of the same closed form; the
    flat-priority TPC-H data is the adversarial case (violators
    everywhere, heavy pooling). Everything after the one corpus
    aggregation is dimension-sized (B buckets -> O(B^3) tiny rows)."""
    from gene_level_metadata_pipeline_spark.operators.drift import (
        isotonic_fit,
    )

    orders = _t(spark, sf_dir, "orders")
    bk = orders.groupBy(
        F.call_function(
            "div",
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint"),
            F.lit(2_500_000),
        ).alias("bucket")
    ).agg(
        F.sum(
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
            ).otherwise(0)
        ).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    return isotonic_fit(bk, bucket_col="bucket", sum_col="s", n_col="n")


def _md5_hex8_int(prefix: str, key_sql: str) -> str:
    """DuckDB twin of ``_hex_int(_md5_prefix(prefix + ":", key), 1,
    8)``: the first 8 md5 hex digits as a bigint via strpos digit
    arithmetic (no conv() dependency) — the weighted_take /
    stable_sample idiom."""
    h = f"md5('{prefix}:' || CAST({key_sql} AS VARCHAR))"
    return " + ".join(
        f"(strpos('0123456789abcdef', substr({h}, {i + 1}, 1)) - 1)"
        f" * {16 ** (7 - i)}"
        for i in range(8)
    )


@_register(
    "fdr_bh_adjust",
    oracle=f"""
    WITH t AS (
      SELECT p_partkey AS key,
             ({_md5_hex8_int('pval', 'p_partkey')}) % 1000001 AS p_e6
      FROM part
    ),
    r AS (
      SELECT key, p_e6,
             row_number() OVER (ORDER BY p_e6, key) AS rnk,
             count(*) OVER () AS m
      FROM t
    ),
    w AS (
      SELECT key, p_e6, rnk,
             least(1000000, (p_e6 * m) // rnk) AS raw_e6
      FROM r
    )
    SELECT key, p_e6, CAST(rnk AS BIGINT) AS rnk,
           CAST(min(raw_e6) OVER (
             ORDER BY rnk
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
           ) AS BIGINT) AS adj_e6,
           (min(raw_e6) OVER (
             ORDER BY rnk
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
           ) <= 50000) AS reject
    FROM w
    """,
)
def q_fdr_bh_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR step-up (drift.fdr_bh) over one fixed-point
    p-value per part — the multiple-testing gate every gene-level screen
    applies before calling hits. The p-values are engine-portable md5
    pseudo-uniforms (the stable_sample idiom) so the operator under
    certification is BH itself: global rank = distributed prefix count
    (range repartition + broadcast offsets, localCheckpoint-pinned), the
    step-up min_{{j>=i}} = a suffix min over the SAME pinned partition
    labels — never a single-task global window; the oracle replays the
    floored fixed-point form with one ordinary window."""
    from gene_level_metadata_pipeline_spark.operators.dedup import _hex_int
    from gene_level_metadata_pipeline_spark.operators.drift import fdr_bh
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        _md5_prefix,
    )

    part = _t(spark, sf_dir, "part")
    tests = part.select(
        F.col("p_partkey").alias("id"),
        (
            _hex_int(_md5_prefix("pval:", "p_partkey"), 1, 8)
            % F.lit(1_000_001)
        ).alias("p_e6"),
    )
    return fdr_bh(tests, p_col="p_e6", key_col="id")


@_register(
    "ivm_join_view",
    oracle="""
    WITH l AS (
      SELECT l_orderkey AS okey,
             (CAST(round(l_extendedprice * 100, 0) AS BIGINT)
              * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))
              + 50) // 100 AS cents
      FROM lineitem WHERE l_orderkey % 100 <> 34
    )
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(l.cents) AS BIGINT) AS revenue_cents
    FROM orders o JOIN l ON o.o_orderkey = l.okey
    WHERE o.o_orderkey % 100 <> 13
    GROUP BY o.o_orderpriority
    """,
)
def q_ivm_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view (cdc.join_view_delta):
    the per-priority (row count, revenue) view over orders ⋈ lineitem
    is maintained under base-table deltas on BOTH sides — orders get
    inserts (okey%100==7) and deletes (==13), lineitem gets inserts
    (%100 in 7,21 — the 7s exist only via the new orders, exercising
    the ΔA⋈ΔB cross term that the asymmetric A_NEW⋈ΔB expansion must
    absorb) and deletes (==34). Spark computes old view + signed join
    delta + retract-merge; the oracle is the FULL RECOMPUTE on the new
    base states, so the hash match certifies the IVM identity
    end-to-end, deletions included. Revenue is exact bigint cents
    (price cents × (100 − discount bp), half-up integral divide by
    100 — pure bigint in both engines), so the signed arithmetic is
    hash-stable."""
    from gene_level_metadata_pipeline_spark.operators.cdc import (
        join_view_delta,
    )

    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    o = orders.select(
        F.col("o_orderkey").alias("okey"), "o_orderpriority"
    )
    l = lineitem.select(
        F.col("l_orderkey").alias("okey"),
        F.call_function(
            "div",
            F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
            * (
                F.lit(100)
                - F.round(F.col("l_discount") * 100, 0).cast("bigint")
            )
            + F.lit(50),
            F.lit(100),
        ).alias("cents"),
    )
    m = F.col("okey") % 100

    a_old, a_new = o.where(m != 7), o.where(m != 13)
    delta_a = (
        o.where(m == 7).withColumn("sign", F.lit(1))
        .unionByName(o.where(m == 13).withColumn("sign", F.lit(-1)))
    )
    b_old = l.where(~m.isin(7, 21))
    delta_b = (
        l.where(m.isin(7, 21)).withColumn("sign", F.lit(1))
        .unionByName(l.where(m == 34).withColumn("sign", F.lit(-1)))
    )

    view_old = a_old.join(b_old, "okey").groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("c"),
    )
    d = join_view_delta(a_new, delta_a, b_old, delta_b, on="okey")
    d_agg = d.groupBy("o_orderpriority").agg(
        F.sum("sign").alias("n"),
        F.sum(F.col("sign") * F.col("cents")).alias("c"),
    )
    return (
        view_old.unionByName(d_agg)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n").cast("bigint").alias("n_rows"),
            F.sum("c").cast("bigint").alias("revenue_cents"),
        )
        .where(F.col("n_rows") > 0)
    )


# Bounded UNROLLED min-label closure for the DBSCAN oracle (r8): the
# r7 recursive-CTE closure materialized |component|^2 (pid, root) rows
# — 392M at 10x, where the dense eps-graph is ONE ~19.8k-core component
# — so the truth, not the engine, was quadratic. Replaced by
# _DBSCAN_CC_ROUNDS unrolled rounds of (neighbor-min + pointer-jump):
# per round one edge-sized join + two node-sized joins, label-tree
# depth at least halves per round, so 2^rounds covers any diameter
# this grid graph can have (<= ~100 cells across). UNDER-convergence
# cannot pass silently: labels would differ from Spark's converged
# fixpoint and the hash gate goes RED.
_DBSCAN_CC_ROUNDS = 16


def _dbscan_cc_unrolled(rounds: int = _DBSCAN_CC_ROUNDS) -> str:
    ctes = ["lab0 AS MATERIALIZED (SELECT pid, pid AS l FROM core)"]
    for r in range(1, rounds + 1):
        ctes.append(f"""s{r} AS MATERIALIZED (
      SELECT l.pid, least(l.l, coalesce(m.ml, l.l)) AS l
      FROM lab{r - 1} l LEFT JOIN (
        SELECT ce.u AS pid, min(l2.l) AS ml
        FROM ce JOIN lab{r - 1} l2 ON ce.v = l2.pid GROUP BY ce.u
      ) m ON l.pid = m.pid
    )""")
        ctes.append(f"""lab{r} AS MATERIALIZED (
      SELECT s.pid, least(s.l, coalesce(p.l, s.l)) AS l
      FROM s{r} s LEFT JOIN s{r} p ON s.l = p.pid
    )""")
    ctes.append(
        f"lab AS MATERIALIZED (SELECT pid, l AS cluster FROM lab{rounds})"
    )
    return ",\n    ".join(ctes)


@_register(
    "dbscan_clusters_2d",
    oracle="""
    WITH p AS MATERIALIZED (
      SELECT vec_id AS pid,
             CAST(round(CAST(embedding[1] AS DOUBLE) * 1e6, 0) AS BIGINT)
               AS xm,
             CAST(round(CAST(embedding[2] AS DOUBLE) * 1e6, 0) AS BIGINT)
               AS ym
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) >= 2
    ),
    g AS MATERIALIZED (
      SELECT pid, xm, ym,
             CAST(floor(xm / 20000) AS BIGINT) AS cx,
             CAST(floor(ym / 20000) AS BIGINT) AS cy
      FROM p
    ),
    pairs AS MATERIALIZED (
      -- grid-restricted truth (r8, the truss AS MATERIALIZED fix's
      -- sibling): cell side = eps, so |dx|<=eps implies |cx diff|<=1 —
      -- the 9-cell prefilter is LOSSLESS for the eps predicate that
      -- still runs below, and it turns the 400M-pair quadratic join at
      -- 10x into a neighborhood join
      SELECT a.pid AS u, b.pid AS v
      FROM g a JOIN g b
        ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
       AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
       AND a.pid <> b.pid
       AND (a.xm - b.xm) * (a.xm - b.xm)
           + (a.ym - b.ym) * (a.ym - b.ym) <= 400000000
    ),
    deg AS MATERIALIZED (
      SELECT u AS pid, count(*) AS n FROM pairs GROUP BY 1
    ),
    core AS MATERIALIZED (SELECT pid FROM deg WHERE n + 1 >= 4),
    ce AS MATERIALIZED (
      SELECT pr.u, pr.v FROM pairs pr
      JOIN core c1 ON pr.u = c1.pid JOIN core c2 ON pr.v = c2.pid
    ),
    __CC_UNROLLED__,
    border AS (
      SELECT pr.u AS pid, min(lab.cluster) AS cluster
      FROM pairs pr JOIN lab ON pr.v = lab.pid
      WHERE pr.u NOT IN (SELECT pid FROM core)
      GROUP BY pr.u
    )
    SELECT pid AS id, 'core' AS role, cluster FROM lab
    UNION ALL
    SELECT pid, 'border', cluster FROM border
    UNION ALL
    SELECT pid, 'noise', CAST(NULL AS BIGINT) FROM p
    WHERE pid NOT IN (SELECT pid FROM lab)
      AND pid NOT IN (SELECT pid FROM border)
    """.replace("__CC_UNROLLED__", _dbscan_cc_unrolled()),
)
def q_dbscan_clusters_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-blocked deterministic DBSCAN (similarity.dbscan_grid_2d)
    over the embeddings' first two components: eps=0.02 cells, exact
    micro-int distances, core = >= 4 points in the eps-ball, clusters =
    min-id connected components of the core graph (the certified
    pointer-jumping operator), border -> min core-neighbor cluster
    (the engine-replayable refinement of classic visit-order
    assignment), rest noise. The oracle (r8) recomputes clustering over
    a GRID-RESTRICTED pair join — the 9-cell prefilter is provably
    lossless for the eps predicate it still applies (cell side = eps) —
    and labels components with a BOUNDED UNROLLED min-label +
    pointer-jumping closure (_dbscan_cc_unrolled): the r7 recursive
    closure materialized |component|^2 reach rows (392M at 10x, where
    nearly every point is core in one dense component); the unrolled
    form is O(rounds x edges), and under-convergence cannot pass
    silently (the hash gate goes red). Together these promote dbscan's
    10x row from rows-only to a real PASS."""
    from gene_level_metadata_pipeline_spark.operators.similarity import (
        dbscan_grid_2d,
    )

    emb = _t(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.get("embedding", 0).alias("x"),
        F.get("embedding", 1).alias("y"),
    )
    return dbscan_grid_2d(
        pts, id_col="vec_id", x_col="x", y_col="y",
        eps_micro=20_000, min_pts=4,
    )


@_register(
    "enrichment_fold_or",
    oracle="""
    WITH thr AS (
      SELECT percentile_disc(0.9) WITHIN GROUP (ORDER BY p_retailprice)
               AS t
      FROM part
    ),
    f AS (
      SELECT p_brand,
             CASE WHEN p_retailprice > (SELECT t FROM thr)
                  THEN 1 ELSE 0 END AS hit
      FROM part
    ),
    g AS (
      SELECT p_brand, CAST(count(*) AS BIGINT) AS n_set,
             CAST(sum(hit) AS BIGINT) AS a
      FROM f GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(n_set) AS BIGINT) AS n,
             CAST(sum(a) AS BIGINT) AS sel
      FROM g
    )
    SELECT p_brand, n_set, a AS n_hit,
           CAST(CAST(a AS HUGEINT) * n * 1000000
                // (CAST(n_set AS HUGEINT) * sel) AS BIGINT) AS fold_e6,
           CAST(CAST(2 * a + 1 AS HUGEINT)
                * (2 * (n - n_set - sel + a) + 1) * 1000000
                // (CAST(2 * (n_set - a) + 1 AS HUGEINT)
                   * (2 * (sel - a) + 1)) AS BIGINT) AS or_e6
    FROM g CROSS JOIN tot
    """,
)
def q_enrichment_fold_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gene-set over-representation statistics — the enrichment screen
    a gene-metadata pipeline runs over its annotation sets (GO /
    Reactome membership vs a hit list), here brands vs the top-decile
    price 'hit list': per set, exact fixed-point FOLD enrichment
    a·N/(n_set·sel) and the Haldane-corrected ODDS RATIO
    (2a+1)(2d+1)/((2b+1)(2c+1)) — both floored at 1e6 in DECIMAL(38,0)
    so the whole contingency algebra hash-matches the oracle's HUGEINT
    replay (a float OR never would). The hit threshold is an exact
    order statistic (percentile_disc), so selection itself is
    engine-identical. One fact aggregate; the totals ride a broadcast
    1-row frame."""
    from gene_level_metadata_pipeline_spark.operators.drift import (
        _floor_div_exact,
    )

    part = _t(spark, sf_dir, "part")
    thr = part.agg(
        F.expr(
            "percentile_disc(0.9) WITHIN GROUP (ORDER BY p_retailprice)"
        ).alias("t")
    )
    g = (
        part.crossJoin(F.broadcast(thr))
        .select(
            "p_brand",
            F.when(F.col("p_retailprice") > F.col("t"), 1)
            .otherwise(0).alias("hit"),
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_set"),
            F.sum("hit").cast("bigint").alias("a"),
        )
    )
    tot = g.agg(
        F.sum("n_set").cast("bigint").alias("n"),
        F.sum("a").cast("bigint").alias("sel"),
    )
    d38 = "decimal(38,0)"
    a, n_set = F.col("a"), F.col("n_set")
    n, sel = F.col("n"), F.col("sel")
    fold = _floor_div_exact(
        a.cast(d38) * n.cast(d38) * F.lit(1_000_000).cast(d38),
        n_set.cast(d38) * sel.cast(d38),
    )
    d_cell = n - n_set - sel + a
    orr = _floor_div_exact(
        (2 * a + 1).cast(d38) * (2 * d_cell + 1).cast(d38)
        * F.lit(1_000_000).cast(d38),
        (2 * (n_set - a) + 1).cast(d38) * (2 * (sel - a) + 1).cast(d38),
    )
    return g.crossJoin(F.broadcast(tot)).select(
        "p_brand", "n_set", a.alias("n_hit"),
        fold.cast("bigint").alias("fold_e6"),
        orr.cast("bigint").alias("or_e6"),
    )


@_register(
    "graph_truss_peel",
    oracle="""
    WITH b AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS bk, l_partkey AS p
      FROM lineitem WHERE l_partkey % 5 = 0
    ),
    e0 AS MATERIALIZED (
      SELECT a.p AS u, b2.p AS v
      FROM b a JOIN b b2 ON a.bk = b2.bk AND a.p < b2.p
      GROUP BY 1, 2
    ),
    u0 AS MATERIALIZED (SELECT u AS x, v AS w FROM e0 UNION ALL SELECT v, u FROM e0),
    s0 AS MATERIALIZED (
      SELECT e.u, e.v, count(*) AS sup
      FROM e0 e JOIN u0 a ON a.x = e.u
      JOIN u0 b2 ON b2.x = e.v AND a.w = b2.w
      GROUP BY 1, 2
    ),
    e1 AS MATERIALIZED (
      SELECT e.u, e.v FROM e0 e
      LEFT JOIN s0 ON e.u = s0.u AND e.v = s0.v
      WHERE coalesce(s0.sup, 0) >= 2
    ),
    u1 AS MATERIALIZED (SELECT u AS x, v AS w FROM e1 UNION ALL SELECT v, u FROM e1),
    s1 AS MATERIALIZED (
      SELECT e.u, e.v, count(*) AS sup
      FROM e1 e JOIN u1 a ON a.x = e.u
      JOIN u1 b2 ON b2.x = e.v AND a.w = b2.w
      GROUP BY 1, 2
    ),
    e2 AS MATERIALIZED (
      SELECT e.u, e.v FROM e1 e
      LEFT JOIN s1 ON e.u = s1.u AND e.v = s1.v
      WHERE coalesce(s1.sup, 0) >= 2
    ),
    u2 AS MATERIALIZED (SELECT u AS x, v AS w FROM e2 UNION ALL SELECT v, u FROM e2),
    s2 AS MATERIALIZED (
      SELECT e.u, e.v, count(*) AS sup
      FROM e2 e JOIN u2 a ON a.x = e.u
      JOIN u2 b2 ON b2.x = e.v AND a.w = b2.w
      GROUP BY 1, 2
    )
    SELECT e.u, e.v,
           CAST(coalesce(s2.sup, 0) AS BIGINT) AS support
    FROM e2 e LEFT JOIN s2 ON e.u = s2.u AND e.v = s2.v
    """,
)
def q_graph_truss_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss peeling, 2 rounds (graph.truss_peel) over the sampled
    (1-in-5 parts) co-purchase graph — order baskets are cliques, so
    the graph has real truss structure (sf0.01: 4551 -> 2776 -> 2125
    edges) and the peel genuinely discriminates. Fixed-round
    reproducible variant; the oracle unrolls both peel rounds plus the
    final support pass (the LPA recurrence-unroll discipline), so the
    hash match certifies every wedge-join support count and both
    peel decisions. Edges build via the basket-array map-side explode,
    never a raw self-join (the oracle deliberately KEEPS its
    independent self-join truth form)."""
    from gene_level_metadata_pipeline_spark.operators.graph import (
        truss_peel,
    )

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_partkey") % 5 == 0)
    edges = _cooccur_pairs(li, "l_orderkey", "l_partkey").select("u", "v")
    return truss_peel(edges, k=4, rounds=2)


@_register(
    "brier_decomposition",
    oracle="""
    WITH bk AS (
      SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) // 2500000
               AS bucket,
             CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                           THEN 1 ELSE 0 END) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1
    ),
    idxd AS (
      SELECT bucket, s, n,
             row_number() OVER (ORDER BY bucket) AS idx,
             sum(s) OVER (ORDER BY bucket) AS cs,
             sum(n) OVER (ORDER BY bucket) AS cn
      FROM bk
    ),
    pairs AS (
      SELECT lo.idx AS j, hi.idx AS k,
             (hi.cs - lo.cs + lo.s) * 1000000
               // (hi.cn - lo.cn + lo.n) AS m
      FROM idxd lo JOIN idxd hi ON lo.idx <= hi.idx
    ),
    tri AS (
      SELECT j, m, u.i
      FROM pairs, LATERAL (SELECT unnest(generate_series(j, k)) AS i) u
    ),
    inner_min AS (SELECT i, j, min(m) AS mn FROM tri GROUP BY i, j),
    iso AS (SELECT i, max(mn) AS iso_e6 FROM inner_min GROUP BY i),
    fit AS (
      SELECT b.bucket, b.s, b.n, CAST(iso.iso_e6 AS BIGINT) AS p
      FROM idxd b JOIN iso ON iso.i = b.idx
    ),
    tot AS (
      SELECT CAST(sum(s) AS BIGINT) AS ts, CAST(sum(n) AS BIGINT) AS tn
      FROM fit
    ),
    terms AS (
      SELECT
        (CAST(fit.n AS HUGEINT) * p - CAST(fit.s AS HUGEINT) * 1000000)
          * (CAST(fit.n AS HUGEINT) * p - CAST(fit.s AS HUGEINT) * 1000000)
          // (CAST(fit.n AS HUGEINT) * tn) AS rel_t,
        (CAST(fit.s AS HUGEINT) * tn - CAST(ts AS HUGEINT) * fit.n)
          * (CAST(fit.s AS HUGEINT) * tn - CAST(ts AS HUGEINT) * fit.n)
          * CAST(1000000 AS HUGEINT) * 1000000
          // (CAST(fit.n AS HUGEINT) * tn * tn * tn) AS res_t,
        ts, tn
      FROM fit CROSS JOIN tot
    )
    SELECT CAST(count(*) AS BIGINT) AS n_buckets,
           tn AS n,
           CAST(sum(rel_t) AS BIGINT) AS rel_e12,
           CAST(sum(res_t) AS BIGINT) AS res_e12,
           CAST(CAST(ts AS HUGEINT) * (tn - ts) * 1000000 * 1000000
                // (CAST(tn AS HUGEINT) * tn) AS BIGINT) AS unc_e12
    FROM terms GROUP BY ts, tn
    """,
)
def q_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy Brier-score decomposition (drift.brier_decomposition) of
    the ISOTONIC-calibrated urgent-priority predictor — REL measures
    exactly what calibration left behind (floor dust + pooling bias),
    RES how much the order-value buckets separate the base rate, UNC
    the base-rate variance; Brier = REL − RES + UNC. Every term one
    exact integral division at e12 (the BH/isotonic floored-form
    discipline), DECIMAL(38,0) vs the oracle's HUGEINT replay of the
    same closed-form fit + decomposition. Dimension-sized after the
    one corpus aggregation; totals ride a broadcast 1-row frame."""
    from gene_level_metadata_pipeline_spark.operators.drift import (
        brier_decomposition,
        isotonic_fit,
    )

    orders = _t(spark, sf_dir, "orders")
    bk = orders.groupBy(
        F.call_function(
            "div",
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint"),
            F.lit(2_500_000),
        ).alias("bucket")
    ).agg(
        F.sum(
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
            ).otherwise(0)
        ).alias("s"),
        F.count(F.lit(1)).alias("n"),
    ).transform(_materialize)
    fit = isotonic_fit(bk, bucket_col="bucket", sum_col="s", n_col="n")
    with_s = fit.join(bk.select("bucket", "s"), "bucket")
    return brier_decomposition(
        with_s, bucket_col="bucket", sum_col="s", n_col="n",
        pred_col="iso_e6",
    )

"""Scale-out extensions: dedup (exact/Jaccard/MinHash/SimHash), embedding similarity, text analysis, multimodal plumbing, curation, token-budget selection.

Split from the original single-module registry (plans/driver_queries.py,
which remains the facade); importing this module registers its queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from gene_level_metadata_pipeline_spark.materialize import (
    materialize as _materialize,
)

from gene_level_metadata_pipeline_spark.plans.q_breadth import _IVF_KMEANS_CTES
from gene_level_metadata_pipeline_spark.plans.registry import (
    _COS,
    _cooccur_pairs,
    _register,
    _round_to,
    _t,
)

# ---------------------------------------------------------------------------
# Scale-out extensions — deduplication (SURVEY §7 Phase 7)
# ---------------------------------------------------------------------------

# Shared DuckDB CTE: distinct word 3-gram shingles of `documents`, matching
# operators.dedup.word_shingles exactly.
_SHINGLE_CTE = """
    words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
      FROM words, (SELECT unnest(generate_series(1, len(ws)-2)) AS i)
      WHERE len(ws) >= 3
    )
"""


@_register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS fingerprint,
           min(doc_id) AS canonical_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY coalesce(md5(text), chr(0) || CAST(doc_id AS VARCHAR)), md5(text)
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content, min-id canonical."""
    from gene_level_metadata_pipeline_spark.operators.dedup import dedup_exact

    return dedup_exact(_t(spark, sf_dir, "documents"), "text", "doc_id")


@_register(
    "dedup_exact_nulls",
    oracle="""
    WITH d AS (
      SELECT doc_id, text FROM documents
      UNION ALL SELECT * FROM (VALUES (-1, NULL), (-2, NULL),
                                      (-3, 'same text'), (-4, 'same text'))
                       AS v(doc_id, text)
    )
    SELECT md5(text) AS fingerprint,
           min(doc_id) AS canonical_id,
           count(*) AS n_copies
    FROM d
    GROUP BY coalesce(md5(text), chr(0) || CAST(doc_id AS VARCHAR)), md5(text)
    """,
)
def q_dedup_exact_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NULL-text contract of dedup_exact, oracle-certified: the
    documents fixture has no NULL texts, so this query unions two
    NULL-text rows (plus an ordinary duplicate pair) onto the corpus in
    BOTH engines and certifies that unknown content never collapses —
    each NULL-text row survives as its own (fingerprint NULL, n_copies 1)
    singleton under the per-row surrogate key, while the real duplicates
    still merge. Guards _null_safe_group_key against oracle drift (the
    r3 ADVICE latent-divergence finding)."""
    from gene_level_metadata_pipeline_spark.operators.dedup import dedup_exact

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    extra = spark.createDataFrame(
        [(-1, None), (-2, None), (-3, "same text"), (-4, "same text")],
        "doc_id bigint, text string",
    )
    return dedup_exact(docs.unionAll(extra), "text", "doc_id")


@_register(
    "dedup_keep_best",
    oracle="""
    WITH k AS (
      SELECT md5(text) AS fingerprint, doc_id, n_chars,
             coalesce(md5(text), chr(0) || CAST(doc_id AS VARCHAR)) AS gkey
      FROM documents
    ), r AS (
      SELECT fingerprint, doc_id, n_chars,
             row_number() OVER (PARTITION BY gkey
                                ORDER BY n_chars DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY gkey) AS n_copies,
             max(n_chars) OVER (PARTITION BY gkey) AS best_priority
      FROM k
    )
    SELECT fingerprint, doc_id AS keep_id, best_priority, n_copies
    FROM r WHERE rn = 1
    """,
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping the BEST copy (dedup.dedup_exact_keep_best):
    longest text wins, lowest doc_id breaks ties — the "keep the richest
    duplicate" curation policy, same one-shuffle hash-groupBy plan as
    min-id dedup with a deterministic max_by argmax."""
    from gene_level_metadata_pipeline_spark.operators.dedup import (
        dedup_exact_keep_best,
    )

    return dedup_exact_keep_best(
        _t(spark, sf_dir, "documents"), "text", "doc_id", "n_chars"
    )


@_register(
    "dedup_incremental_bloom",
    oracle="""
    WITH hist AS (
      SELECT md5(text) AS fp FROM documents WHERE doc_id % 2 = 0
    )
    SELECT d.doc_id, d.lang
    FROM documents d
    WHERE NOT EXISTS (SELECT 1 FROM hist WHERE hist.fp = md5(d.text))
    """,
)
def q_dedup_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup against a history corpus
    (dedup.dedup_against_history): the history (even doc ids) folds into
    one bloom_filter_agg sketch broadcast as a single row; might_contain
    discards ~99% of truly-new documents inside the scan, and only Bloom
    positives pay the exact anti-join confirm. The Bloom filter is a
    pre-filter, never a decider — false positives are re-admitted by the
    anti join — so the result is EXACT and the oracle is the plain
    NOT EXISTS."""
    from gene_level_metadata_pipeline_spark.operators.dedup import (
        dedup_against_history,
    )

    docs = _t(spark, sf_dir, "documents")
    history = docs.where(F.col("doc_id") % 2 == 0)
    out = dedup_against_history(
        docs, history, "text", "doc_id", expected_history=10_000
    )
    return out.select("doc_id", "lang")


@_register(
    "dedup_ngram_jaccard",
    oracle="""
    WITH words AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, lang, array_to_string(ws[i:i+2], ' ') AS shingle
      FROM words, (SELECT unnest(generate_series(1, len(ws)-2)) AS i)
      WHERE len(ws) >= 3
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b
        ON a.shingle = b.shingle AND a.lang = b.lang AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           round(n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common), 4) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) >= 0.1
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs, BLOCKED on language — the scale
    lever for exact similarity (only same-lang docs are compared; shrinks
    every shingle bucket by the blocking factor). Threshold 0.1 so the
    synthetic corpus, which has no true near-dups, still yields rows."""
    from gene_level_metadata_pipeline_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        threshold=0.1, block_by="lang",
    )


def _minhash_sig_mins(num_hashes: int) -> str:
    """SQL twin of operators.dedup.minhash_signatures: h_i = min over
    shingles of the i-th 8-hex-char slice of md5('{i div 4}:' || shingle)
    — four 32-bit hash functions per digest, matching the engine's
    ceil(k/4)-md5s-per-shingle signature exactly."""
    return ",\n             ".join(
        f"min(substring(md5('{i // 4}:' || shingle), {(i % 4) * 8 + 1}, 8))"
        f" AS h{i}"
        for i in range(num_hashes)
    )


def _band_ctes(num_hashes: int, bands: int) -> str:
    """The shared sig/bands CTE text (banded minhash signatures): one
    definition so the LSH oracle and the near-dup confirm oracle cannot
    silently diverge on banding details (hash slicing, band-hash concat
    separator)."""
    rows = num_hashes // bands
    mins = _minhash_sig_mins(num_hashes)
    band_selects = "\n      UNION ALL\n      ".join(
        "SELECT doc_id, {b} AS band, md5({concat}) AS band_hash FROM sig".format(
            b=b,
            concat=" || ',' || ".join(f"h{b * rows + j}" for j in range(rows)),
        )
        for b in range(bands)
    )
    return f"""sig AS (
      SELECT doc_id,
             {mins}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      {band_selects}
    )"""


def _minhash_oracle(num_hashes: int = 8, bands: int = 4) -> str:
    return f"""
    WITH {_SHINGLE_CTE},
    {_band_ctes(num_hashes, bands)}
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    """


@_register("dedup_minhash_lsh", oracle=_minhash_oracle())
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8) + LSH banding(4×2) candidate pairs. String-valued minhash
    (lexicographic min of seeded md5 hex) keeps the oracle hash-exact."""
    from gene_level_metadata_pipeline_spark.operators.dedup import (
        minhash_candidate_pairs,
    )

    return minhash_candidate_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id", bands=4,
    )


def _oph_sig_ctes(num_hashes: int) -> str:
    """SQL twin of operators.dedup.minhash_signatures_oph: ONE md5 per
    shingle — value = digest hex chars 1-8, bin = chars 9-12 as a 16-bit
    int (strpos digit ladder, no conv() dependency) mod k; slot i = min
    value among the doc's bin-i shingles; empty slots densified by
    deterministic rotation with the borrow distance prefixed (``d{j}:``)
    so densified agreement requires equal distance AND value."""
    k = num_hashes
    digit = (
        "(strpos('0123456789abcdef', substring(md5(shingle), {p}, 1)) - 1)"
    )
    bin_expr = " + ".join(
        f"{digit.format(p=9 + i)} * {16 ** (3 - i)}" for i in range(4)
    )
    slot_mins = ",\n             ".join(
        f"min(CASE WHEN b = {i} THEN v END) AS s{i}" for i in range(k)
    )

    def ladder(i: int) -> str:
        terms = []
        for j in range(k):
            s = f"s{(i + j) % k}"
            terms.append(s if j == 0 else f"'d{j}:' || {s}")
        return f"COALESCE({', '.join(terms)}) AS h{i}"

    ladders = ",\n             ".join(ladder(i) for i in range(k))
    return f"""shx AS (
      SELECT doc_id, substring(md5(shingle), 1, 8) AS v,
             ({bin_expr}) % {k} AS b
      FROM sh
    ),
    slots AS (
      SELECT doc_id,
             {slot_mins}
      FROM shx GROUP BY doc_id
    ),
    sig AS (
      SELECT doc_id,
             {ladders}
      FROM slots
    )"""


def _oph_oracle(num_hashes: int = 8, bands: int = 4) -> str:
    rows = num_hashes // bands
    band_selects = "\n      UNION ALL\n      ".join(
        "SELECT doc_id, {b} AS band, md5({concat}) AS band_hash FROM sig".format(
            b=b,
            concat=" || ',' || ".join(f"h{b * rows + j}" for j in range(rows)),
        )
        for b in range(bands)
    )
    return f"""
    WITH {_SHINGLE_CTE},
    {_oph_sig_ctes(num_hashes)},
    bands AS (
      {band_selects}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    """


@_register("dedup_minhash_oph", oracle=_oph_oracle())
def q_dedup_minhash_oph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-permutation minhash (Shrivastava-Li OPH with deterministic
    rotation densification) + the same LSH banding(4×2) as
    dedup_minhash_lsh — ONE md5 per shingle instead of ceil(k/4). A
    SEMANTICS surface, not a Spark throughput lever: the committed A/B
    (certification/oph_speedup_r10.json) measures the dense signature
    faster at every k because the interpreted HOF fold, not md5,
    dominates per-shingle cost — see minhash_signatures_oph. The oracle
    replays value/bin digest slicing, per-bin string mins, the
    densification ladder and the banding in pure hex/string SQL."""
    from gene_level_metadata_pipeline_spark.operators.dedup import (
        minhash_candidate_pairs_oph,
    )

    return minhash_candidate_pairs_oph(
        _t(spark, sf_dir, "documents"), "text", "doc_id", bands=4,
    )


_BOILER = (
    "boilerplate cookie banner accept all cookies to continue reading "
    "this page"
)


def _capped_minhash_oracle(num_hashes: int = 8, bands: int = 4,
                           cap: int = 10) -> str:
    """SQL twin of the max_bucket_size lever: bucket sizes via a count
    CTE over the same (band, band_hash) keys, buckets outside [2, cap]
    excluded before pair generation — over a corpus with 30 injected
    identical boilerplate docs whose four band buckets (size 30) must
    all be dropped."""
    return f"""
    WITH d AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT CAST(-x AS BIGINT), '{_BOILER}'
      FROM generate_series(1, 30) AS g(x)
    ),
    words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM d),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
      FROM words, (SELECT unnest(generate_series(1, len(ws)-2)) AS i)
      WHERE len(ws) >= 3
    ),
    {_band_ctes(num_hashes, bands)},
    bsz AS (
      SELECT band, band_hash, count(*) AS n
      FROM bands GROUP BY band, band_hash
    ),
    keep AS (
      SELECT b.doc_id, b.band, b.band_hash
      FROM bands b JOIN bsz USING (band, band_hash)
      WHERE bsz.n BETWEEN 2 AND {cap}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM keep a JOIN keep b
      ON a.band = b.band AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
    """


@_register("dedup_minhash_lsh_capped", oracle=_capped_minhash_oracle())
def q_dedup_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The max_bucket_size runaway-bucket cap, oracle-certified
    (VERDICT r3 item 1): 30 identical boilerplate docs are unioned onto
    the corpus in BOTH engines — their four band buckets (30 docs each,
    which would alone contribute 4x435 candidate pairs) exceed the cap
    of 10 and must be dropped entirely, while every normal-sized fixture
    bucket still pairs. The oracle replicates the cap as a bucket-size
    count CTE filtered to [2, cap] before the pair self-join."""
    from gene_level_metadata_pipeline_spark.operators.dedup import (
        minhash_candidate_pairs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text").unionAll(
        spark.createDataFrame(
            [(-x, _BOILER) for x in range(1, 31)], "doc_id bigint, text string"
        )
    )
    return minhash_candidate_pairs(
        docs, "text", "doc_id", bands=4, max_bucket_size=10
    )


def _star_minhash_oracle(num_hashes: int = 8, bands: int = 4,
                         cap: int = 10) -> str:
    """SQL twin of oversize='star' (VERDICT r8 item 7): sub-cap buckets
    pair all-pairs as before; buckets ABOVE the cap emit hub stars —
    every member paired with the bucket's min doc_id — so the 30-doc
    boilerplate buckets contribute 29 connected pairs instead of either
    435 quadratic ones (uncapped) or zero (drop mode's cliff)."""
    return f"""
    WITH d AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT CAST(-x AS BIGINT), '{_BOILER}'
      FROM generate_series(1, 30) AS g(x)
    ),
    words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM d),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
      FROM words, (SELECT unnest(generate_series(1, len(ws)-2)) AS i)
      WHERE len(ws) >= 3
    ),
    {_band_ctes(num_hashes, bands)},
    bsz AS (
      SELECT band, band_hash, count(*) AS n
      FROM bands GROUP BY band, band_hash
    ),
    keep AS (
      SELECT b.doc_id, b.band, b.band_hash
      FROM bands b JOIN bsz USING (band, band_hash)
      WHERE bsz.n BETWEEN 2 AND {cap}
    ),
    over_rows AS (
      SELECT b.doc_id, b.band, b.band_hash
      FROM bands b JOIN bsz USING (band, band_hash)
      WHERE bsz.n > {cap}
    ),
    hubs AS (
      SELECT band, band_hash, min(doc_id) AS hub
      FROM over_rows GROUP BY band, band_hash
    ),
    star AS (
      SELECT h.hub AS doc_a, o.doc_id AS doc_b
      FROM over_rows o JOIN hubs h USING (band, band_hash)
      WHERE o.doc_id <> h.hub
    ),
    allp AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM keep a JOIN keep b
        ON a.band = b.band AND a.band_hash = b.band_hash
           AND a.doc_id < b.doc_id
      UNION ALL
      SELECT doc_a, doc_b FROM star
    )
    SELECT DISTINCT doc_a, doc_b FROM allp
    """


@_register("dedup_minhash_lsh_star", oracle=_star_minhash_oracle())
def q_dedup_minhash_lsh_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """oversize='star' runaway-bucket policy, oracle-certified
    (VERDICT r8 item 7 — the proportional-caps audit): the same 30
    injected boilerplate docs whose band buckets the 'drop' default
    discards entirely now contribute hub stars (member ⟷ min doc id,
    29 pairs per 30-doc bucket), so the cluster stays CONNECTED for
    component-finding at O(|bucket|) pair cost. This is the
    scale-stable answer to the fixed-cap cliff the r8 10x sweep
    measured on winnow's df cap: occupancy of boilerplate buckets is
    extensive in corpus size, a proportional bucket cap would be
    quadratic in pair volume, and star keeps recall-to-the-hub at any
    scale with LINEAR volume. Sub-cap buckets pair exactly as in
    dedup_minhash_lsh_capped (both engines replay all three regimes)."""
    from gene_level_metadata_pipeline_spark.operators.dedup import (
        minhash_candidate_pairs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text").unionAll(
        spark.createDataFrame(
            [(-x, _BOILER) for x in range(1, 31)], "doc_id bigint, text string"
        )
    )
    return minhash_candidate_pairs(
        docs, "text", "doc_id", bands=4,
        max_bucket_size=10, oversize="star",
    )


def _near_dup_oracle(num_hashes: int = 8, bands: int = 4) -> str:
    """LSH candidates ∩ exact Jaccard — the shared band CTEs plus the
    jaccard oracle's truth arithmetic, restricted to candidate pairs
    (confirm-stage semantics)."""
    return f"""
    WITH {_SHINGLE_CTE},
    {_band_ctes(num_hashes, bands)},
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_common
      FROM cands c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND a.shingle = b.shingle
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT c.doc_a, c.doc_b,
           round(n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common), 4) AS jaccard
    FROM common c
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
    WHERE n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) >= 0.1
    """


@_register("near_dup_pairs", oracle=_near_dup_oracle())
def q_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed scale-safe near-dup entry point
    (dedup.near_dup_pairs): MinHash(8)+LSH(4×2) candidates, exact
    Jaccard confirm on candidates only via per-pair array_intersect —
    never a quadratic shingle bucket join. Threshold 0.1 so the
    synthetic corpus yields rows."""
    from gene_level_metadata_pipeline_spark.operators.dedup import near_dup_pairs

    return near_dup_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id", threshold=0.1,
    )


def _simhash_oracle(bits: int = 16) -> str:
    hv = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(w), {k + 1}, 1)) - 1) * {16 ** (3 - k)}"
        for k in range(4)
    )
    bit_sums = ",\n             ".join(
        f"sum(cnt * (((hv // {2 ** j}) % 2) * 2 - 1)) AS s{j}" for j in range(bits)
    )
    sig = " + ".join(
        f"CASE WHEN s{j} > 0 THEN {2 ** j} ELSE 0 END" for j in range(bits)
    )
    return f"""
    WITH tokens AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    counted AS (
      SELECT doc_id, w, count(*) AS cnt, {hv} AS hv
      FROM tokens GROUP BY doc_id, w
    ),
    sums AS (
      SELECT doc_id,
             {bit_sums}
      FROM counted GROUP BY doc_id
    )
    SELECT doc_id, {sig} AS simhash FROM sums
    """


@_register("dedup_simhash", oracle=_simhash_oracle())
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash signatures — count-weighted ±1 bit votes over md5
    token hashes, pure hex-digit arithmetic on both engines."""
    from gene_level_metadata_pipeline_spark.operators.dedup import simhash

    return simhash(_t(spark, sf_dir, "documents"), "text", "doc_id")


# ---------------------------------------------------------------------------
# Scale-out extensions — similarity search over embeddings
# ---------------------------------------------------------------------------


@_register(
    "ann_brute_force_topk",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, v.vec_id AS neighbor_id,
             round({_COS.format(a='q.qe', b='v.e')}, 4) AS cos_sim
      FROM q JOIN v ON q.query_id <> v.vec_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
      ) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def q_ann_brute_force_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 10 query vectors: broadcast query set,
    JVM-side zip_with/aggregate dot products, one window rank."""
    from gene_level_metadata_pipeline_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, emb.where(F.col("vec_id") < 10), k=5)


def _bucket_sql(col: str, planes: int = 4) -> str:
    return " + ".join(
        f"(CASE WHEN {col}[{i + 1}] >= 0 THEN {2 ** i} ELSE 0 END)"
        for i in range(planes)
    )


@_register(
    "ann_sign_lsh_pairs",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding::DOUBLE[] AS e,
             {_bucket_sql('embedding')} AS bucket
      FROM embeddings
    )
    SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
           round({_COS.format(a='a.e', b='c.e')}, 4) AS cos_sim
    FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    WHERE round({_COS.format(a='a.e', b='c.e')}, 4) >= 0.15
    """,
)
def q_ann_sign_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed near-neighbor pairs (threshold 0.15 — the random
    synthetic embeddings top out near 0.2 cosine). Bucket id is the
    shuffle key: the scale path for all-pairs similarity."""
    from gene_level_metadata_pipeline_spark.operators.similarity import sign_lsh_pairs

    return sign_lsh_pairs(
        _t(spark, sf_dir, "embeddings"), planes=4, threshold=0.15
    )


@_register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH RECURSIVE b AS (
      SELECT vec_id, embedding::DOUBLE[] AS e,
             {_bucket_sql('embedding')} AS bucket
      FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS vec_a, c.vec_id AS vec_b
      FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
      WHERE round({_COS.format(a='a.e', b='c.e')}, 4) >= 0.15
    ),
    edges2 AS (
      SELECT vec_a AS u, vec_b AS v FROM pairs
      UNION
      SELECT vec_b, vec_a FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, v FROM edges2
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges2 e ON r.v = e.u
    ),
    comp AS (SELECT u AS vid, least(u, min(v)) AS component FROM reach GROUP BY u)
    SELECT emb.vec_id,
           coalesce(comp.component, emb.vec_id) AS canonical_id,
           emb.vec_id = coalesce(comp.component, emb.vec_id) AS is_canonical
    FROM embeddings emb LEFT JOIN comp ON emb.vec_id = comp.vid
    """,
)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate removal: sign-LSH candidate pairs →
    exact cosine ≥ τ → connected components → canonical min-id per cluster.
    Completes the dedup family (exact/Jaccard/MinHash/SimHash/embedding).
    Oracle replays the identical buckets + pairs, then reaches the same
    component fixpoint with a recursive CTE."""
    from gene_level_metadata_pipeline_spark.operators.similarity import (
        embedding_near_dup,
    )

    return embedding_near_dup(
        _t(spark, sf_dir, "embeddings"), threshold=0.15
    )


@_register(
    "ann_sign_lsh_pairs_capped",
    oracle=f"""
    WITH all_v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
      UNION ALL
      SELECT CAST(-x AS BIGINT),
             list_transform(generate_series(1, 64), y -> CAST(1 AS DOUBLE))
      FROM generate_series(1, 2000) AS g(x)
    ),
    b AS (SELECT vec_id, e, {_bucket_sql('e')} AS bucket FROM all_v),
    bsz AS (SELECT bucket, count(*) AS n FROM b GROUP BY bucket),
    keep AS (
      SELECT b.* FROM b JOIN bsz USING (bucket) WHERE bsz.n BETWEEN 2 AND 1000
    )
    SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
           round({_COS.format(a='a.e', b='c.e')}, 4) AS cos_sim
    FROM keep a JOIN keep c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    WHERE round({_COS.format(a='a.e', b='c.e')}, 4) >= 0.15
    """,
)
def q_ann_sign_lsh_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sign-LSH runaway-bucket cap, oracle-certified — the embedding
    twin of dedup_minhash_lsh_capped: 2000 identical all-ones vectors
    are unioned in BOTH engines, saturating the all-positive sign bucket
    past max_bucket_size=1000 (which alone would contribute ~2M cosine
    pairs); that bucket is dropped whole BEFORE the self-join while
    every natural fixture bucket (≤ ~350 members even at sf0.1) still
    pairs. The oracle replicates the cap as a bucket-size CTE filtered
    to [2, cap] before pair generation."""
    from gene_level_metadata_pipeline_spark.operators.similarity import (
        sign_lsh_pairs,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ones = spark.range(1, 2001).select(
        (-F.col("id")).alias("vec_id"),
        F.array_repeat(F.lit(1.0).cast("float"), 64).alias("embedding"),
    )
    return sign_lsh_pairs(
        emb.unionAll(ones), planes=4, threshold=0.15, max_bucket_size=1000
    )


@_register(
    "ann_pairs_degenerate_vectors",
    oracle=f"""
    WITH all_v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
      UNION ALL
      SELECT CAST(-1 AS BIGINT),
             list_transform(generate_series(1, 64), y -> CAST(0 AS DOUBLE))
      UNION ALL
      SELECT CAST(-2 AS BIGINT), NULL
    ),
    b AS (SELECT vec_id, e, {_bucket_sql('e')} AS bucket FROM all_v)
    SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
           round(list_dot_product(a.e, c.e) /
                 nullif(sqrt(list_dot_product(a.e, a.e))
                        * sqrt(list_dot_product(c.e, c.e)), 0), 4) AS cos_sim
    FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    WHERE round(list_dot_product(a.e, c.e) /
                nullif(sqrt(list_dot_product(a.e, a.e))
                       * sqrt(list_dot_product(c.e, c.e)), 0), 4) >= 0.15
    """,
)
def q_ann_pairs_degenerate_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The degenerate-vector contract of the cosine family, oracle-
    certified (r4 review finding): Spark 4's ANSI default raises
    DIVIDE_BY_ZERO even for double division, so before the try_divide
    fix ONE all-zeros embedding aborted every cosine-based operator.
    This query unions a zero vector and a NULL vector into the corpus in
    BOTH engines: their similarities are undefined → NULL (oracle
    mirrors try_divide with a nullif denominator), they fall out of the
    ≥ threshold filter, and every well-formed pair is unaffected."""
    from gene_level_metadata_pipeline_spark.operators.similarity import (
        sign_lsh_pairs,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    degenerate = spark.createDataFrame(
        [(-1, [0.0] * 64), (-2, None)],
        "vec_id bigint, embedding array<float>",
    )
    return sign_lsh_pairs(emb.unionAll(degenerate), planes=4, threshold=0.15)


@_register(
    "dedup_semantic",
    oracle=f"""
    WITH RECURSIVE {_IVF_KMEANS_CTES},
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM vv a JOIN vv b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE round({_COS.format(a='a.e', b='b.e')}, 4) >= 0.15
    ),
    edges2 AS (
      SELECT vec_a AS u, vec_b AS v FROM pairs
      UNION
      SELECT vec_b, vec_a FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, v FROM edges2
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges2 e ON r.v = e.u
    ),
    comp AS (SELECT u AS vid, least(u, min(v)) AS component FROM reach GROUP BY u)
    SELECT emb.vec_id,
           coalesce(comp.component, emb.vec_id) AS canonical_id,
           emb.vec_id = coalesce(comp.component, emb.vec_id) AS is_canonical
    FROM embeddings emb LEFT JOIN comp ON emb.vec_id = comp.vid
    """,
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (similarity.semantic_near_dup):
    learned k-means cells (the shared deterministic Lloyd build of
    ann_ivf_kmeans_topk) block the corpus, intra-cell exact cosine ≥ τ
    confirms pairs, connected components canonicalize to the min id.
    The scale upgrade over dedup_embedding_cosine's fixed 2**planes sign
    buckets: cell count k grows with N, so intra-cell pair work stays
    bounded. Oracle reuses the q_breadth Lloyd CTE chain (bit-identical
    centroids) and the recursive component fixpoint."""
    from gene_level_metadata_pipeline_spark.operators.similarity import (
        semantic_near_dup,
    )

    return semantic_near_dup(
        _t(spark, sf_dir, "embeddings"), k=8, threshold=0.15
    )


# ---------------------------------------------------------------------------
# Scale-out extensions — text analysis
# ---------------------------------------------------------------------------

def _hits_sql(vocab: list[str]) -> str:
    inlist = ", ".join(f"'{w}'" for w in vocab)
    return (
        "len(list_filter(string_split(text, ' '), w_ -> w_ IN (" + inlist + ")))"
    )


def _lang_id_oracle() -> str:
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        LANGS,
        STOPWORDS,
    )

    hits = ",\n           ".join(
        f"{_hits_sql(STOPWORDS[lang])} AS hits_{lang}" for lang in LANGS
    )
    arms = []
    for i, lang in enumerate(LANGS[:-1]):
        cond = " AND ".join(
            f"hits_{lang} >= hits_{other}" for other in LANGS[i + 1:]
        )
        arms.append(f"WHEN {cond} THEN '{lang}'")
    case = "CASE " + " ".join(arms) + f" ELSE '{LANGS[-1]}' END"
    return f"""
    WITH scored AS (
      SELECT doc_id,
           {hits}
      FROM documents
    )
    SELECT doc_id, hits_en, hits_de, hits_fr, hits_es,
           {case} AS predicted_lang
    FROM scored
    """


@_register("text_lang_id", oracle=_lang_id_oracle())
def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID with fixed tie order — the n-gram-heuristic
    detector, fully vectorized array lambdas."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import lang_id

    return lang_id(_t(spark, sf_dir, "documents"), "text", "doc_id")


@_register(
    "text_quality",
    oracle=f"""
    SELECT doc_id,
           length(text) AS n_chars,
           len(string_split(text, ' ')) AS n_words,
           round(length(replace(text, ' ', '')) * 1.0 / len(string_split(text, ' ')), 3) AS avg_word_len,
           round({_hits_sql(["the", "a", "of", "and", "to"])} * 1.0 / len(string_split(text, ' ')), 4) AS stopword_ratio,
           (len(string_split(text, ' ')) >= 5 AND len(string_split(text, ' ')) <= 100000
            AND length(replace(text, ' ', '')) * 1.0 / len(string_split(text, ' ')) < 12.0) AS quality_ok
    FROM documents
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length / word-shape / stopword-density quality scoring."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import quality_scores

    return quality_scores(_t(spark, sf_dir, "documents"), "text", "doc_id")


@_register(
    "text_token_counts",
    oracle=r"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS bpe_tokens
    FROM documents
    """,
)
def q_text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counting."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import token_counts

    return token_counts(_t(spark, sf_dir, "documents"), "text", "doc_id")


@_register(
    "text_fingerprint",
    oracle=f"""
    WITH {_SHINGLE_CTE}
    SELECT doc_id, min(md5(shingle)) AS fingerprint
    FROM sh GROUP BY doc_id
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hash MinHash document fingerprint (near-dup blocking key)."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import fingerprint

    return fingerprint(_t(spark, sf_dir, "documents"), "text", "doc_id")


# ---------------------------------------------------------------------------
# Scale-out extensions — multimodal binary plumbing
# ---------------------------------------------------------------------------

@_register(
    "multimodal_features",
    oracle="""
    WITH h AS (SELECT doc_id, hex(encode(text)) AS hx,
                      octet_length(encode(text)) AS nb FROM documents)
    SELECT doc_id,
           nb AS n_bytes,
           coalesce(list_aggregate(
             list_transform(generate_series(1, nb),
               i -> (strpos('0123456789ABCDEF', substr(hx, 2*i-1, 1)) - 1) * 16
                  + (strpos('0123456789ABCDEF', substr(hx, 2*i, 1)) - 1)),
             'sum')::BIGINT, 0) AS checksum
    FROM h
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas feature extraction over binary payloads
    (deterministic fake featurizer standing in for the image decoder).
    The checksum doubles as an oracle check that real bytes flowed through
    the pandas batches."""
    from gene_level_metadata_pipeline_spark.operators.multimodal import (
        attach_binary_payload,
        extract_features,
    )

    df = attach_binary_payload(_t(spark, sf_dir, "documents"), "text", "doc_id")
    return extract_features(df).select("doc_id", "n_bytes", "checksum")


@_register(
    "multimodal_frame_sample",
    oracle="""
    WITH p AS (
      SELECT doc_id, text, octet_length(encode(text)) AS nb FROM documents
    ),
    f AS (
      SELECT doc_id, text, CAST(floor(nb / 4.0) AS BIGINT) AS nf
      FROM p WHERE nb >= 4
    ),
    i AS (
      SELECT doc_id, text,
             unnest(generate_series(0, nf - 1, 30)) AS frame_idx
      FROM f
    )
    SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           hex(encode(substring(text, CAST(frame_idx * 4 + 1 AS INT), 4)))
             AS frame_hex
    FROM i
    """,
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling over the binary payload contract
    (multimodal.sample_frames, fake codec = fixed-4-byte frames, every
    30th): one input row fans out to one row per sampled frame, payload
    dropped on output. The fake path is pure Catalyst — sequence +
    explode + binary substring, zero Python — so unlike the codec-gated
    real path it is fully hash-oracled; frames compare as hex (the
    corpus is ASCII, so DuckDB's char positions equal byte offsets)."""
    from gene_level_metadata_pipeline_spark.operators.multimodal import (
        attach_binary_payload,
        sample_frames,
    )

    df = attach_binary_payload(_t(spark, sf_dir, "documents"), "text", "doc_id")
    frames = sample_frames(df, every_n=30, codec="fake")
    return frames.select(
        "doc_id", "frame_idx", F.hex("frame").alias("frame_hex")
    )


# ---------------------------------------------------------------------------
# Training-data curation, continued: repetition scoring, PII scrubbing,
# benchmark-contamination scan (operators/textanalysis.py).
# ---------------------------------------------------------------------------


@_register(
    "text_repetition",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    g AS (
      SELECT doc_id,
             list_transform(range(1, len(t) - 1),
                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS grams
      FROM toks
    )
    SELECT doc_id,
           CAST(len(grams) AS BIGINT) AS n_grams,
           CAST(len(list_distinct(grams)) AS BIGINT) AS n_unique_grams,
           round(1.0 - len(list_distinct(grams)) / CAST(len(grams) AS DOUBLE), 4) AS dup_fraction
    FROM g WHERE len(grams) > 0
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition: duplicated-3-gram fraction
    per document. Array-native per row — a pure map stage with ZERO
    shuffles at any corpus size."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        repetition_scores,
    )

    return repetition_scores(_t(spark, sf_dir, "documents"), "text", "doc_id")


@_register(
    "text_pii_redact",
    oracle=r"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@mail.example.com or 555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '\b555-[0-9]{4}\b')) AS BIGINT) AS n_phones,
           regexp_replace(
             regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b555-[0-9]{4}\b', '<PHONE>', 'g') AS redacted
    FROM aug
    """,
)
def q_text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over documents augmented with deterministic synthetic
    contact strings (the raw corpus has none — the augmentation makes the
    regexes do real work that the oracle reproduces byte-for-byte).
    Count + redact emails and reserved-prefix phone numbers; pure per-row
    regex, no shuffle."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import pii_redact

    d = _t(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" contact user"),
            F.col("doc_id").cast("string"), F.lit("@mail.example.com or 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("t"),
    )
    return pii_redact(aug, "t", "doc_id")


@_register(
    "text_contamination",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    g AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(t) - 3),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]))) AS shingle
      FROM toks
    )
    SELECT c.doc_id,
           count(DISTINCT c.shingle) AS n_shared_grams,
           count(DISTINCT b.doc_id) AS n_bench_docs
    FROM g c JOIN g b ON c.shingle = b.shingle AND b.doc_id % 97 = 0
    WHERE c.doc_id % 97 <> 0
    GROUP BY c.doc_id
    """,
)
def q_text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: 5-gram overlap between the corpus and
    a small held-out benchmark slice (doc_id % 97 == 0 stands in for an
    eval set). Benchmark shingles broadcast → the corpus side never
    shuffles before its per-doc aggregation; at 100 TB the probe stays
    map-side as long as the benchmark corpus stays dimension-sized."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        contamination_check,
    )

    d = _t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 97 == 0)
    cand = d.where(F.col("doc_id") % 97 != 0)
    return contamination_check(cand, bench, "text", "doc_id")


# ---------------------------------------------------------------------------
# Global ordered prefix sums: token-budget selection + sequence packing
# ---------------------------------------------------------------------------

@_register(
    "token_budget_select",
    oracle="""
    WITH d AS (
      SELECT doc_id, n_chars,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_chars, n_tokens,
             sum(CAST(n_tokens AS DECIMAL(28,6)))
               OVER (ORDER BY n_chars DESC, doc_id) AS rt
      FROM d
    )
    SELECT doc_id, n_chars, n_tokens, CAST(rt AS DOUBLE) AS running_total
    FROM c WHERE rt <= 8000
    """,
)
def q_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus selection under a token budget: rank documents best-first
    (n_chars desc, doc_id tiebreak = a total order) and keep rows while
    the inclusive running token count stays within budget. The running
    sum is operators.selection.running_sum — range-repartition +
    per-partition cumsum + broadcast partition offsets — NOT a global
    single-task window; the oracle's `SUM() OVER (ORDER BY ...)` is the
    same math the naive way. Exact decimal accumulation makes the
    budget comparison partitioning-independent."""
    from gene_level_metadata_pipeline_spark.operators.selection import budget_select

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "n_chars",
        F.size(F.filter(F.split("text", " "), lambda x: x != "")).cast("long")
         .alias("n_tokens"),
    )
    picked = budget_select(
        docs, [F.col("n_chars").desc(), F.col("doc_id")], "n_tokens", 8000
    )
    return picked.select(
        "doc_id", "n_chars", "n_tokens",
        F.col("running_total").cast("double"),
    )


@_register(
    "pack_concat_chunks",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS n
      FROM documents
    ),
    c AS (
      SELECT doc_id, n,
             CAST(sum(CAST(n AS DECIMAL(28,6))) OVER (ORDER BY doc_id)
                  AS BIGINT) - n AS off
      FROM d WHERE n > 0
    ),
    s AS (
      SELECT doc_id, n, off,
             unnest(generate_series(off // 512, (off + n - 1) // 512))
               AS window_id
      FROM c
    )
    SELECT window_id, doc_id,
           greatest(0, window_id * 512 - off) AS tok_start,
           least(n, (window_id + 1) * 512 - off)
             - greatest(0, window_id * 512 - off) AS tok_len,
           greatest(0, off - window_id * 512) AS win_off,
           (least(n, (window_id + 1) * 512 - off)
             - greatest(0, window_id * 512 - off)) < n AS is_split
    FROM s
    """,
)
def q_pack_concat_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT concat-and-chunk packing (selection.pack_concat_chunks,
    r9): the pretraining-batch form — the token stream of all documents
    in doc_id order is cut into consecutive 512-token windows with
    straddling documents SPLIT at the boundary, emitted as the
    (window_id, doc_id, tok_start, tok_len, win_off, is_split) mapping. Every
    window except the last is exactly full (zero padding waste — the
    property pack_sequences trades away to keep documents whole), and
    the whole mapping is exact integer arithmetic over one distributed
    prefix sum + one bounded sequence-explode, so both engines replay
    it bit-for-bit. The oracle rebuilds the same spans with a naive
    global window + generate_series."""
    from gene_level_metadata_pipeline_spark.operators.selection import (
        pack_concat_chunks,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda x: x != "")).cast("long")
         .alias("n_tokens"),
    )
    return pack_concat_chunks(docs, [F.col("doc_id")], "n_tokens", 512)


@_register(
    "pack_chunk_windows",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS n
      FROM documents
    ),
    c AS (
      SELECT doc_id, toks, n,
             CAST(sum(CAST(n AS DECIMAL(28,6))) OVER (ORDER BY doc_id)
                  AS BIGINT) - n AS off
      FROM d WHERE n > 0
    ),
    s AS (
      SELECT doc_id, toks, n, off,
             unnest(generate_series(off // 512, (off + n - 1) // 512))
               AS window_id
      FROM c
    ),
    seg AS (
      SELECT window_id, doc_id,
             greatest(0, off - window_id * 512) AS win_off,
             toks[CAST(greatest(0, window_id * 512 - off) + 1 AS BIGINT) :
                  CAST(least(n, (window_id + 1) * 512 - off) AS BIGINT)]
               AS piece
      FROM s
    )
    SELECT window_id, CAST(count(*) AS BIGINT) AS n_segs,
           CAST(sum(len(piece)) AS BIGINT) AS n_tokens,
           string_agg(array_to_string(piece, ' '), ' '
                      ORDER BY win_off) AS window_text
    FROM seg GROUP BY window_id
    """,
)
def q_pack_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The concat-and-chunk pipeline END-TO-END (r9): the
    pack_concat_chunks mapping joined back to the corpus and gathered
    into actual 512-token training windows
    (selection.materialize_chunks) — every interior window's
    window_text carries exactly 512 whitespace tokens assembled in
    stream order (sorted on the mapping's win_off key) across document
    boundaries, hash-certified including
    the full window text. The oracle rebuilds the same spans with a
    naive global window + list slicing + ordered string_agg. Two
    shuffles: mapping ⋈ docs on the doc id (mapping side is ids + four
    ints) and the window groupBy; text bytes move once, pre-sliced."""
    from gene_level_metadata_pipeline_spark.operators.selection import (
        materialize_chunks,
        pack_concat_chunks,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    counted = docs.select(
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda x: x != "")).cast("long")
         .alias("n_tokens"),
    )
    mapping = pack_concat_chunks(counted, [F.col("doc_id")], "n_tokens", 512)
    return materialize_chunks(mapping, docs)


@_register(
    "corpus_shuffle_order",
    oracle="""
    SELECT doc_id,
           row_number() OVER (
             ORDER BY md5('epoch0:' || CAST(doc_id AS VARCHAR)), doc_id
           ) AS shuffle_pos
    FROM documents
    """,
)
def q_corpus_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle (operators.selection.
    corpus_shuffle): reproducible pseudo-random training order by
    md5(salt:key) with the global position from the distributed prefix
    count (range partition + per-partition cumsum + broadcast offsets) —
    never a single-task global window. Re-salting ('epoch1:...') gives a
    fresh order per epoch with zero extra machinery; the oracle's naive
    row_number() OVER (ORDER BY md5) is the same math the driver-killing
    way."""
    from gene_level_metadata_pipeline_spark.operators.selection import corpus_shuffle

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return corpus_shuffle(docs, "doc_id", salt="epoch0")


@_register(
    "mixture_sample_langs",
    oracle="""
    SELECT doc_id, lang, source FROM documents
    WHERE substr(md5('mix:' || lang || ':' || CAST(doc_id AS VARCHAR)), 1, 8)
          < CASE lang
              WHEN 'de' THEN '80000000'
              WHEN 'en' THEN 'cccccccc'
              WHEN 'es' THEN '33333333'
              WHEN 'fr' THEN '4ccccccc'
              WHEN 'zh' THEN '19999999'
              ELSE '00000000'
            END
    """,
)
def q_mixture_sample_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture sampling: each language stratum keeps its own
    fraction (en 80%, de 50%, fr 30%, es 20%, zh 10%) via the
    deterministic hash-Bernoulli predicate — the per-source reweighting
    step of assembling a training mix. No joins, no shuffles; the
    when-chain of per-stratum thresholds folds into the scan stage, and
    changing one stratum's rate cannot perturb another's selection."""
    from gene_level_metadata_pipeline_spark.operators.selection import mixture_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return mixture_sample(
        docs, "doc_id", "lang",
        {"en": 0.8, "de": 0.5, "fr": 0.3, "es": 0.2, "zh": 0.1},
    )


@_register(
    "stratified_take_k",
    oracle="""
    SELECT doc_id, lang, sample_rank FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('take:' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS sample_rank
      FROM documents
    ) WHERE sample_rank <= 25
    """,
)
def q_stratified_take_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-k per-stratum sampling (selection.stratified_take): exactly
    25 docs per language by salted-hash rank — the fixed-budget
    counterpart to rate-based mixture_sample, with the nested-sample
    property (k'>k strictly extends the k-sample). Deterministic across
    engines and partitionings: rank = row_number over (md5(salt:key),
    key) within the stratum."""
    from gene_level_metadata_pipeline_spark.operators.selection import (
        stratified_take,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_take(docs, "doc_id", "lang", k=25)


@_register(
    "mixture_sample_null_stratum",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang FROM documents
      UNION ALL SELECT * FROM (VALUES (-1, NULL), (-2, NULL), (-3, NULL))
                       AS v(doc_id, lang)
    )
    SELECT doc_id, lang FROM d
    WHERE substr(md5('mix:' || coalesce(lang, chr(0) || 'null') || ':'
                     || CAST(doc_id AS VARCHAR)), 1, 8)
          < CASE WHEN lang IS NULL THEN 'g'
                 WHEN lang = 'en' THEN '80000000'
                 ELSE '00000000' END
    """,
)
def q_mixture_sample_null_stratum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NULL-stratum contract of mixture_sample, oracle-certified: the
    fixture has no NULL langs, so this query unions three NULL-lang rows
    in BOTH engines and gives the NULL stratum rate 1.0 (a None key in
    the fractions dict) — selection must keep all three deterministically
    via the reserved ``chr(0)||'null'`` hash sentinel, not silently drop
    them through a never-matching equality. en keeps 50%, other strata
    drop. Guards the sentinel-coalesced hash against oracle drift (the
    r3 ADVICE latent-divergence finding, same sentinel the
    web_curation_pipeline oracle now mirrors)."""
    from gene_level_metadata_pipeline_spark.operators.selection import mixture_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang").unionAll(
        spark.createDataFrame(
            [(-1, None), (-2, None), (-3, None)], "doc_id bigint, lang string"
        )
    )
    return mixture_sample(d, "doc_id", "lang", {"en": 0.5, None: 1.0})


# Shared DuckDB CTE chain: the full Rocchio train->classify pipeline over
# `documents` self-trained on lang (toks -> model -> norms -> dots -> best).
# Mirrors textanalysis.centroid_train/centroid_classify bit-exactly; reused
# by text_classify_centroid and the model_curation_pipeline composite.
_CENTROID_CTES = """toks AS (
      SELECT doc_id, lang AS tl, w
      FROM documents, unnest(string_split(text, ' ')) AS t(w)
      WHERE w <> ''
    ),
    cw AS (SELECT tl AS label, w AS word, count(*) AS cnt
           FROM toks GROUP BY tl, w),
    nl AS (SELECT tl AS label, count(DISTINCT doc_id) AS n
           FROM toks GROUP BY tl),
    model AS (
      SELECT label, word, round(CAST(cnt AS DOUBLE) / n, 6) AS m
      FROM cw JOIN nl USING (label)
    ),
    cnorm AS (
      SELECT label,
             sqrt(CAST(sum(CAST(m AS DECIMAL(18,6))
                           * CAST(m AS DECIMAL(18,6))) AS DOUBLE)) AS nc
      FROM model GROUP BY label
    ),
    tf AS (SELECT doc_id, w AS word, count(*) AS cnt
           FROM toks GROUP BY doc_id, w),
    dnorm AS (SELECT doc_id, sqrt(CAST(sum(cnt * cnt) AS DOUBLE)) AS nd
              FROM tf GROUP BY doc_id),
    dots AS (
      SELECT tf.doc_id, model.label,
             sum(tf.cnt * CAST(model.m AS DECIMAL(18,6))) AS dot
      FROM tf JOIN model ON tf.word = model.word
      GROUP BY tf.doc_id, model.label
    ),
    scores AS (
      SELECT d.doc_id, d.label,
             round(CAST(d.dot AS DOUBLE) / nullif(dn.nd * cn.nc, 0), 4)
               AS cos_sim
      FROM dots d JOIN dnorm dn USING (doc_id) JOIN cnorm cn USING (label)
      WHERE round(CAST(d.dot AS DOUBLE) / nullif(dn.nd * cn.nc, 0), 4)
            IS NOT NULL
    ),
    best AS (
      SELECT doc_id, label, cos_sim FROM (
        SELECT *, row_number() OVER (
          PARTITION BY doc_id ORDER BY cos_sim DESC, label
        ) AS rn FROM scores
      ) WHERE rn = 1
    )"""


@_register(
    "text_classify_centroid",
    oracle=f"""
    WITH {_CENTROID_CTES}
    SELECT documents.doc_id, best.label, best.cos_sim
    FROM documents LEFT JOIN best USING (doc_id)
    """,
)
def q_text_classify_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rocchio / nearest-centroid text classifier
    (textanalysis.centroid_train/centroid_classify) — the model-driven
    quality/domain filter of curation pipelines, here self-trained on
    the corpus's lang labels and replayed over the same corpus. The
    whole train→classify pipeline is oracle-certified BIT-EXACTLY:
    centroids are one-divide means over exact counts, the sparse dot is
    an exact DECIMAL sum, norms are exact sums-of-squares — no
    transcendental math, only correctly-rounded /, sqrt (why this is
    Rocchio, not Naive Bayes: log() differs by ulps across engines).
    Ties go to the smallest label; token-free docs keep a NULL label."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        centroid_classify,
        centroid_train,
    )

    docs = _t(spark, sf_dir, "documents")
    model = centroid_train(docs, "text", "lang", "doc_id")
    return centroid_classify(docs, model, "text", "doc_id")


@_register(
    "model_curation_pipeline",
    oracle=f"""
    WITH {_CENTROID_CTES},
    kept AS (
      SELECT d.doc_id, d.lang, d.text
      FROM documents d JOIN best b USING (doc_id)
      WHERE b.label = d.lang
    ),
    canon AS (
      SELECT min(doc_id) AS doc_id
      FROM kept
      GROUP BY coalesce(md5(text), chr(0) || CAST(doc_id AS VARCHAR))
    )
    SELECT doc_id, lang, sample_rank FROM (
      SELECT k.doc_id, k.lang,
             row_number() OVER (
               PARTITION BY k.lang
               ORDER BY md5('take:' || CAST(k.doc_id AS VARCHAR)), k.doc_id
             ) AS sample_rank
      FROM kept k JOIN canon USING (doc_id)
    ) WHERE sample_rank <= 20
    """,
)
def q_model_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-driven curation composite — the round-4 components chained
    the way a production curation run would use them:

    1. train the Rocchio centroid classifier on the corpus's own lang
       labels and KEEP only label-consistent documents (consensus /
       agreement filtering: rows whose recorded label the model cannot
       reproduce are the likeliest mislabels or noise — the public
       confident-learning recipe);
    2. exact-dedup the survivors (NULL-safe surrogate key), keeping
       canonical copies only;
    3. draw an EXACT per-language budget (stratified_take, k=20) for
       the final mix.

    Every stage reuses an already-certified oracle twin (the shared
    centroid CTE chain, the dedup surrogate-key GROUP BY, the salted
    rank), so the composite is certified end-to-end, not just
    stagewise. Returns (doc_id, lang, sample_rank)."""
    from gene_level_metadata_pipeline_spark.operators.dedup import dedup_exact
    from gene_level_metadata_pipeline_spark.operators.selection import (
        stratified_take,
    )
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        centroid_classify,
        centroid_train,
    )

    docs = _t(spark, sf_dir, "documents")
    model = centroid_train(docs, "text", "lang", "doc_id")
    pred = centroid_classify(docs, model, "text", "doc_id").select(
        "doc_id", F.col("label")
    )
    kept = (
        docs.join(pred, "doc_id")
        .where(F.col("label").eqNullSafe(F.col("lang")) & F.col("label").isNotNull())
        .select("doc_id", "lang", "text")
    )
    canon = dedup_exact(kept, "text", "doc_id").select(
        F.col("canonical_id").alias("doc_id")
    )
    return stratified_take(
        kept.join(canon, "doc_id").select("doc_id", "lang"),
        "doc_id", "lang", k=20,
    )


@_register(
    "text_bigram_lift",
    oracle="""
    WITH d AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
               AS toks
      FROM documents
    ),
    uni AS (SELECT unnest(toks) AS w FROM d),
    uc AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
    bi AS (
      SELECT toks[i] AS w1, toks[i + 1] AS w2
      FROM d, unnest(generate_series(1, len(toks) - 1)) AS g(i)
    ),
    bc AS (SELECT w1, w2, count(*) AS c_ab FROM bi GROUP BY w1, w2),
    tot AS (
      SELECT (SELECT count(*) FROM uni) AS n_uni,
             (SELECT count(*) FROM bi) AS n_bi
    )
    SELECT bc.w1, bc.w2, bc.c_ab,
           round(((((CAST(bc.c_ab AS DOUBLE) * tot.n_uni) / a.c)
                   * tot.n_uni) / b.c) / tot.n_bi, 6) AS lift
    FROM bc
    JOIN uc a ON a.w = bc.w1
    JOIN uc b ON b.w = bc.w2
    CROSS JOIN tot
    WHERE bc.c_ab >= 8
    """,
)
def q_text_bigram_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction: adjacent word pairs scored by lift —
    P(w1 w2) / (P(w1) P(w2)), the exponentiated PMI. The ratio is kept
    un-logged so it stays a chain of IEEE multiplies/divides over exact
    integer counts, performed in the same order in both engines (log()
    can differ by an ulp between libm implementations). Bigrams come
    from zipping the token array with its shifted self (no per-position
    slice); unigram counts broadcast onto bigram counts; the two corpus
    totals ride along as a 1-row broadcast cross join."""
    # The tokenized frame feeds both explodes, and each explode used to
    # feed a count pass AND a groupBy — 4-5 expansions of the tokenize
    # subtree in one plan (r10-opt audit: 5 Generate + 10 scan nodes).
    # Checkpoint the token arrays once; derive the two corpus totals as
    # exact sums of the count tables instead of separate corpus passes.
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.filter(F.split("text", " "), lambda x: x != "").alias("toks"),
    ).transform(_materialize)
    uni = docs.select(F.explode("toks").alias("w"))
    uc = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    uc = uc.transform(_materialize)  # feeds n_uni + both broadcasts
    bi = docs.where(F.size("toks") >= 2).select(
        F.explode(
            F.zip_with(
                F.slice(F.col("toks"), 1, F.size("toks") - 1),
                F.slice(F.col("toks"), 2, F.size("toks") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    bc = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab"))
    bc = bc.transform(_materialize)  # feeds n_bi + the >=8 filter
    # n_uni = sum of unigram counts, n_bi = sum of bigram counts: the
    # same bigints count(*) returned, with zero extra corpus passes.
    # coalesce keeps the empty-corpus value at 0 (sum of nothing is
    # NULL, count of nothing was 0).
    tot = uc.agg(
        F.coalesce(F.sum("c"), F.lit(0).cast("bigint")).alias("n_uni")
    ).join(
        bc.agg(
            F.coalesce(F.sum("c_ab"), F.lit(0).cast("bigint")).alias("n_bi")
        )
    )
    a = uc.select(F.col("w").alias("w1"), F.col("c").alias("c_a"))
    b = uc.select(F.col("w").alias("w2"), F.col("c").alias("c_b"))
    lift = (
        F.col("c_ab").cast("double") * F.col("n_uni") / F.col("c_a")
        * F.col("n_uni") / F.col("c_b") / F.col("n_bi")
    )
    return (
        bc.where(F.col("c_ab") >= 8)
        .join(F.broadcast(a), "w1")
        .join(F.broadcast(b), "w2")
        .join(F.broadcast(tot))
        .select("w1", "w2", "c_ab", _round_to(lift, 6).alias("lift"))
    )


@_register(
    "pagerank_suppliers",
    oracle="""
    WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    pairs AS (
      SELECT a.l_suppkey AS u, b.l_suppkey AS v, count(*) AS n
      FROM os a JOIN os b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      GROUP BY a.l_suppkey, b.l_suppkey
    ),
    und AS (SELECT u, v FROM pairs WHERE n >= 3),
    edges AS (SELECT u, v FROM und UNION SELECT v, u FROM und),
    deg AS (SELECT u, count(*) AS d FROM edges GROUP BY u),
    nn AS (SELECT count(*) AS n FROM deg),
    p0 AS (SELECT u AS node, 1000000000000 // nn.n AS pr FROM deg, nn),
    c1 AS (SELECT e.v AS node, sum(p.pr // g.d) AS s
           FROM edges e JOIN p0 p ON p.node = e.u JOIN deg g ON g.u = e.u
           GROUP BY e.v),
    p1 AS (SELECT g.u AS node,
                  (15 * (1000000000000 // nn.n)) // 100
                  + (85 * COALESCE(c1.s, 0)) // 100 AS pr
           FROM deg g CROSS JOIN nn LEFT JOIN c1 ON c1.node = g.u),
    c2 AS (SELECT e.v AS node, sum(p.pr // g.d) AS s
           FROM edges e JOIN p1 p ON p.node = e.u JOIN deg g ON g.u = e.u
           GROUP BY e.v),
    p2 AS (SELECT g.u AS node,
                  (15 * (1000000000000 // nn.n)) // 100
                  + (85 * COALESCE(c2.s, 0)) // 100 AS pr
           FROM deg g CROSS JOIN nn LEFT JOIN c2 ON c2.node = g.u),
    c3 AS (SELECT e.v AS node, sum(p.pr // g.d) AS s
           FROM edges e JOIN p2 p ON p.node = e.u JOIN deg g ON g.u = e.u
           GROUP BY e.v),
    p3 AS (SELECT g.u AS node,
                  (15 * (1000000000000 // nn.n)) // 100
                  + (85 * COALESCE(c3.s, 0)) // 100 AS pr
           FROM deg g CROSS JOIN nn LEFT JOIN c3 ON c3.node = g.u)
    SELECT node AS suppkey, pr::BIGINT AS pr_micro FROM p3
    """,
)
def q_pagerank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative graph ranking: 3 PageRank power iterations over the
    supplier co-occurrence graph (edges between suppliers sharing ≥3
    orders), certified EXACTLY against a hash oracle because the
    whole recurrence runs in bigint micro-units (operators.graph.pagerank
    — integer init/contribution/update, no floats anywhere). The oracle
    unrolls the identical recurrence as three CTE rounds."""
    from gene_level_metadata_pipeline_spark.operators.graph import pagerank

    und = (
        _cooccur_pairs(
            _t(spark, sf_dir, "lineitem"), "l_orderkey", "l_suppkey"
        )
        .where(F.col("n") >= 3)
        .select("u", "v")
    )
    pr = pagerank(und)
    return pr.select(F.col("node").alias("suppkey"), F.col("pr").alias("pr_micro"))


@_register(
    "zorder_stats",
    oracle="""
    WITH b AS (
      SELECT l_partkey % 256 AS zx, l_suppkey % 256 AS zy FROM lineitem
    ),
    z AS (
      SELECT zx, zy,
             ((zx // 1) % 2) * 1     + ((zy // 1) % 2) * 2
           + ((zx // 2) % 2) * 4     + ((zy // 2) % 2) * 8
           + ((zx // 4) % 2) * 16    + ((zy // 4) % 2) * 32
           + ((zx // 8) % 2) * 64    + ((zy // 8) % 2) * 128
           + ((zx // 16) % 2) * 256  + ((zy // 16) % 2) * 512
           + ((zx // 32) % 2) * 1024 + ((zy // 32) % 2) * 2048
           + ((zx // 64) % 2) * 4096 + ((zy // 64) % 2) * 8192
           + ((zx // 128) % 2) * 16384 + ((zy // 128) % 2) * 32768 AS zv
      FROM b
    )
    SELECT zv // 4096 AS bucket, count(*) AS n,
           min(zx) AS min_x, max(zx) AS max_x,
           min(zy) AS min_y, max(zy) AS max_y
    FROM z GROUP BY bucket
    """,
)
def q_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout audit: Morton-interleave (partkey, suppkey) low
    bytes, split the Z-range into 16 file-sized buckets, and report each
    bucket's min/max envelope on BOTH dimensions — the numbers a parquet
    reader's row-group pruning would use. With Z-ordering every bucket
    covers ≤ a 64×64 square of the 256×256 key space (vs the full range
    on the non-sort column of a 1-D sort), which is why both
    partkey-only and suppkey-only predicates prune ~15/16 of files.
    Pure integer bit arithmetic (operators.layout.zorder_value)."""
    from gene_level_metadata_pipeline_spark.operators.layout import zorder_value

    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % 256).alias("zx"),
        (F.col("l_suppkey") % 256).alias("zy"),
    )
    z = li.withColumn("zv", zorder_value(["zx", "zy"]))
    return (
        z.groupBy((F.col("zv") / 4096).cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("zx").alias("min_x"), F.max("zx").alias("max_x"),
            F.min("zy").alias("min_y"), F.max("zy").alias("max_y"),
        )
    )


@_register(
    "training_corpus_pipeline",
    oracle="""
    WITH g AS (
      SELECT doc_id, lang, text,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS n_tokens
      FROM documents WHERE n_chars >= 50
    ),
    m AS (
      SELECT * FROM g
      WHERE substring(md5('mix:' || lang || ':' || CAST(doc_id AS VARCHAR)), 1, 8)
            < CASE lang WHEN 'en' THEN 'e6666666'
                        WHEN 'de' THEN '80000000'
                        ELSE '4ccccccc' END
    ),
    s AS (
      SELECT *, row_number() OVER (
        ORDER BY md5('epoch0:' || CAST(doc_id AS VARCHAR)), doc_id
      ) AS pos
      FROM m
    ),
    c AS (
      SELECT *, sum(CAST(n_tokens AS DECIMAL(28,6))) OVER (ORDER BY pos) AS rt
      FROM s
    ),
    b AS (
      SELECT text, pos,
             CAST(floor((CAST(rt AS DOUBLE) - n_tokens) / 512.0) AS BIGINT)
               AS bin
      FROM c
    )
    SELECT bin, count(*) AS n_docs,
           string_agg(text, '<|eos|>' ORDER BY pos) AS packed_text
    FROM b GROUP BY bin
    """,
)
def q_training_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation flagship end-to-end: length gate → domain-mixture
    sampling (en 90% / de 50% / rest 30%, deterministic hash-Bernoulli)
    → epoch-salted corpus shuffle → 512-token packing IN SHUFFLE ORDER
    → materialized packed training rows. Every stage is the certified
    operator (mixture_sample / corpus_shuffle / pack_sequences /
    materialize_packed) composed as a production data loader would;
    the oracle replays the identical math with naive global windows.
    Deterministic across re-runs, engines, partitionings, and epochs
    (re-salt 'epoch1' for the next pass)."""
    from gene_level_metadata_pipeline_spark.operators.selection import (
        corpus_shuffle,
        materialize_packed,
        mixture_sample,
        pack_sequences,
    )

    g = (
        _t(spark, sf_dir, "documents")
        .where(F.col("n_chars") >= 50)
        .select(
            "doc_id", "lang", "text",
            F.size(F.filter(F.split("text", " "), lambda x: x != ""))
            .cast("long").alias("n_tokens"),
        )
    )
    m = mixture_sample(
        g, "doc_id", "lang", {"en": 0.9, "de": 0.5}, salt="mix", default=0.3
    )
    s = corpus_shuffle(m, "doc_id", salt="epoch0", pos_col="pos")
    b = pack_sequences(s, [F.col("pos")], "n_tokens", 512)
    return materialize_packed(b, "bin_id", ["pos"], "text")


@_register(
    "gopher_quality_flags",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), w -> w <> '') AS words,
             list_filter(string_split(text, chr(10)), l -> l <> '') AS lines,
             length(text) - length(replace(text, '#', '')) AS hash_marks,
             len(string_split(text, '...')) - 1 AS ellipsis_marks
      FROM documents
    ), m AS (
      SELECT doc_id,
             CAST(len(words) AS BIGINT) AS n_words,
             round(list_sum(list_transform(words, w -> length(w))) * 1.0
                   / len(words), 4) AS mean_word_len,
             round((hash_marks + ellipsis_marks) * 1.0 / len(words), 4)
               AS symbol_ratio,
             round(len(list_filter(lines,
                     l -> substr(ltrim(l), 1, 1) IN ('-', '*', '•')))
                   * 1.0 / len(lines), 4) AS bullet_ratio,
             round(len(list_filter(lines,
                     l -> l LIKE '%...' OR l LIKE '%…'))
                   * 1.0 / len(lines), 4) AS ellipsis_ratio,
             round(len(list_filter(words,
                     w -> regexp_matches(w, '[a-zA-Z]')))
                   * 1.0 / len(words), 4) AS alpha_word_ratio,
             round(1 - len(list_distinct(lines)) * 1.0 / len(lines), 4)
               AS dup_line_ratio
      FROM g
    )
    SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_ratio,
           ellipsis_ratio, alpha_word_ratio, dup_line_ratio,
           coalesce(n_words >= 50 AND n_words <= 100000, false) AS words_ok,
           coalesce(mean_word_len >= 3.0 AND mean_word_len <= 10.0, false)
             AS mean_wl_ok,
           coalesce(symbol_ratio <= 0.1, false) AS symbol_ok,
           coalesce(bullet_ratio <= 0.9, false) AS bullet_ok,
           coalesce(ellipsis_ratio <= 0.3, false) AS ellipsis_ok,
           coalesce(alpha_word_ratio >= 0.8, false) AS alpha_ok,
           coalesce(dup_line_ratio <= 0.3, false) AS dup_line_ok,
           (coalesce(n_words >= 50 AND n_words <= 100000, false)
            AND coalesce(mean_word_len >= 3.0 AND mean_word_len <= 10.0, false)
            AND coalesce(symbol_ratio <= 0.1, false)
            AND coalesce(bullet_ratio <= 0.9, false)
            AND coalesce(ellipsis_ratio <= 0.3, false)
            AND coalesce(alpha_word_ratio >= 0.8, false)
            AND coalesce(dup_line_ratio <= 0.3, false)) AS gopher_ok
    FROM m
    """,
)
def q_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published Gopher-style pretraining quality rule stack
    (operators/textanalysis.gopher_quality_flags): 7 heuristic rules as
    Catalyst array expressions over one documents scan — word-count and
    mean-word-length bounds, symbol/bullet/ellipsis ratios, alphabetic
    word fraction, duplicate-line fraction — plus the conjunction.
    Zero shuffles, zero Python; the oracle replays every rule in DuckDB
    list lambdas."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        gopher_quality_flags,
    )

    return gopher_quality_flags(_t(spark, sf_dir, "documents"), "text", "doc_id")


@_register(
    "c4_clean_docs",
    oracle="""
    WITH g AS (
      SELECT doc_id, text,
             list_filter(string_split(text, chr(10)), l -> l <> '') AS lines,
             NOT contains(text, '{')
               AND NOT contains(lower(text), 'lorem ipsum') AS page_ok
      FROM documents
    ), k AS (
      SELECT doc_id, page_ok, lines,
             list_filter(lines, l ->
               (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?'
                OR l LIKE '%"' OR l LIKE '%''')
               AND len(list_filter(string_split(l, ' '), w -> w <> '')) >= 3
               AND NOT contains(lower(l), 'javascript')) AS kept
      FROM g
    )
    SELECT doc_id,
           CASE WHEN page_ok AND len(kept) > 0
                THEN array_to_string(kept, chr(10)) END AS clean_text,
           CAST(len(kept) AS BIGINT) AS n_lines_kept,
           CAST(len(lines) - len(kept) AS BIGINT) AS n_lines_dropped,
           page_ok
    FROM k
    """,
)
def q_c4_clean_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level cleaning (operators/textanalysis.c4_clean):
    terminal-punctuation + min-words + no-javascript line filter, page
    drops for curly braces / lorem ipsum. Nested higher-order functions
    in one scan; the oracle replays the same lambdas in DuckDB."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import c4_clean

    return c4_clean(_t(spark, sf_dir, "documents"), "text", "doc_id")


@_register(
    "web_curation_pipeline",
    oracle="""
    WITH w AS (
      SELECT doc_id, text, lang, source,
             list_filter(string_split(text, ' '), x -> x <> '') AS words,
             list_filter(string_split(text, chr(10)), l -> l <> '') AS lines,
             length(text) - length(replace(text, '#', '')) AS hash_marks,
             len(string_split(text, '...')) - 1 AS ellipsis_marks
      FROM documents
    ), good AS (
      SELECT doc_id, text, lang, source FROM w
      WHERE coalesce(len(words) >= 20 AND len(words) <= 100000, false)
        AND coalesce(round(list_sum(list_transform(words, x -> length(x)))
              * 1.0 / len(words), 4) BETWEEN 3.0 AND 10.0, false)
        AND coalesce(round((hash_marks + ellipsis_marks) * 1.0 / len(words), 4)
              <= 0.1, false)
        AND coalesce(round(len(list_filter(lines,
              l -> substr(ltrim(l), 1, 1) IN ('-', '*', '•')))
              * 1.0 / len(lines), 4) <= 0.9, false)
        AND coalesce(round(len(list_filter(lines,
              l -> l LIKE '%...' OR l LIKE '%…'))
              * 1.0 / len(lines), 4) <= 0.3, false)
        AND coalesce(round(len(list_filter(words,
              x -> regexp_matches(x, '[a-zA-Z]')))
              * 1.0 / len(words), 4) >= 0.8, false)
        AND coalesce(round(1 - len(list_distinct(lines)) * 1.0 / len(lines), 4)
              <= 0.3, false)
    ), canon AS (
      SELECT min(doc_id) AS doc_id FROM good GROUP BY md5(text)
    ), kept AS (
      SELECT g.doc_id, g.lang, g.source FROM good g
      JOIN canon c ON g.doc_id = c.doc_id
    ), rates AS (
      SELECT lang, count(*) AS n FROM kept GROUP BY lang
    ), rmin AS (SELECT min(n) AS nmin FROM rates),
    rr AS (
      SELECT lang, round(sqrt(nmin * 1.0 / n), 6) AS rate FROM rates, rmin
    )
    SELECT k.doc_id, k.lang, k.source
    FROM kept k JOIN rr ON k.lang IS NOT DISTINCT FROM rr.lang
    WHERE substr(md5('webmix:' || coalesce(k.lang, chr(0) || 'null') || ':'
                     || CAST(k.doc_id AS VARCHAR)), 1, 8)
          < CASE WHEN rate >= 1.0 THEN 'g'
                 ELSE lpad(lower(to_hex(CAST(floor(rate * 4294967296)
                                            AS BIGINT))), 8, '0') END
    """,
)
def q_web_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published web-curation recipe end-to-end: Gopher quality gate
    (min 20 words, default ratio rules) → exact dedup (min-id canonical)
    → temperature-based domain rebalancing (α=0.5 rates from the
    SURVIVING mix, smallest language at rate 1.0) → deterministic
    hash-Bernoulli selection. The per-language rate table is collected
    (bounded: one row per language) and folded into the scan-stage
    when-chain; everything else is shuffle-on-key. The oracle replays
    every stage, including the rate computation, in one SQL chain."""
    from gene_level_metadata_pipeline_spark.operators.dedup import dedup_exact
    from gene_level_metadata_pipeline_spark.operators.selection import (
        mixture_sample,
        temperature_mixture_rates,
    )
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        gopher_quality_flags,
    )

    docs = _t(spark, sf_dir, "documents")
    flags = gopher_quality_flags(docs, "text", "doc_id", min_words=20)
    good = docs.join(
        flags.where(F.col("gopher_ok")).select("doc_id"), "doc_id"
    )
    canon = dedup_exact(good, "text", "doc_id").select(
        F.col("canonical_id").alias("doc_id")
    )
    kept = good.join(canon, "doc_id").select("doc_id", "lang", "source")
    rates = {
        r.stratum: float(r.sample_rate)
        for r in temperature_mixture_rates(kept, "lang", alpha=0.5).collect()
    }
    return mixture_sample(kept, "doc_id", "lang", rates, salt="webmix")


@_register(
    "remove_dup_spans_docs",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents
    ), s AS (
      SELECT doc_id, toks, n,
             unnest(generate_series(0, greatest(n - 1, 0), 20)) AS start
      FROM t
    ), c AS (
      SELECT doc_id, CAST(start / 20 AS BIGINT) AS chunk_idx,
             least(start + 20, n) - start AS n_chunk_tokens,
             array_to_string(toks[start + 1 : least(start + 20, n)], ' ')
               AS chunk_text
      FROM s
    ), dup AS (
      SELECT md5(chunk_text) AS h FROM c WHERE n_chunk_tokens = 20
      GROUP BY md5(chunk_text) HAVING count(DISTINCT doc_id) >= 2
    ), kept AS (
      SELECT * FROM c WHERE md5(chunk_text) NOT IN (SELECT h FROM dup)
    ), reb AS (
      SELECT doc_id, count(*) AS n_chunks_kept,
             string_agg(chunk_text, ' ' ORDER BY chunk_idx) AS clean_text
      FROM kept GROUP BY doc_id
    ), tot AS (SELECT doc_id, count(*) AS total FROM c GROUP BY doc_id)
    SELECT t.doc_id, r.clean_text,
           CAST(coalesce(r.n_chunks_kept, 0) AS BIGINT) AS n_chunks_kept,
           CAST(t.total - coalesce(r.n_chunks_kept, 0) AS BIGINT)
             AS n_chunks_dropped
    FROM tot t LEFT JOIN reb r ON t.doc_id = r.doc_id
    """,
)
def q_remove_dup_spans_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate REMOVAL (textanalysis.remove_dup_spans):
    the rewrite complement of substring_dup_spans — every 20-token chunk
    whose fingerprint appears in ≥2 distinct documents is dropped from
    every document, texts re-assembled in chunk order. Hash-only dup
    table, payload text shuffles once (the per-document re-assembly)."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        remove_dup_spans,
    )

    return remove_dup_spans(
        _t(spark, sf_dir, "documents"), "text", "doc_id"
    )


@_register(
    "decontaminate_corpus",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    g AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(t) - 3),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
                    || t[i+3] || ' ' || t[i+4]))) AS shingle
      FROM toks
    ),
    bad AS (
      SELECT DISTINCT c.doc_id FROM g c
      JOIN g b ON c.shingle = b.shingle AND b.doc_id % 97 = 0
      WHERE c.doc_id % 97 <> 0
    )
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
    """,
)
def q_decontaminate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (textanalysis.decontaminate): the
    removal half of text_contamination — every corpus document sharing
    ANY distinct 5-gram with the held-out benchmark slice (doc_id % 97)
    is dropped via an anti join; clean documents never shuffle."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        decontaminate,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    bench = docs.where(F.col("doc_id") % 97 == 0)
    return decontaminate(corpus, bench, "text", "doc_id").select(
        "doc_id", "lang", "source"
    )


@_register(
    "bm25_retrieval_topk",
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
    scored AS (
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
    SELECT CAST(qid AS BIGINT) AS qid, doc_id, score, rank FROM (
      SELECT *, CAST(row_number() OVER (
               PARTITION BY qid ORDER BY score DESC, doc_id) AS BIGINT)
             AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def q_bm25_retrieval_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-5 retrieval for three fixed queries
    (textanalysis.bm25_topk): the lexical first-stage ranker beside the
    ANN family. Query words broadcast onto the per-doc term-frequency
    table (an inverted-index probe — only query-word postings survive),
    per-(query, doc) scores sum in DECIMAL, per-query window takes the
    top 5 with (score desc, doc_id) tie-break."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        bm25_topk,
    )

    docs = _t(spark, sf_dir, "documents")
    queries = spark.createDataFrame(
        [(0, "hash join merge"), (1, "fast scan filter"),
         (2, "window sort batch")],
        "qid bigint, query string",
    )
    return bm25_topk(docs, queries, "text", "doc_id", k=5)


@_register(
    "lm_quality_scores",
    oracle="""
    WITH words AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
      ) WHERE w <> ''
    ),
    cnt_dw AS (
      SELECT doc_id, w, count(*) AS cnt FROM words GROUP BY doc_id, w
    ),
    cw AS (SELECT w, count(*) AS cw FROM words GROUP BY w),
    totals AS (SELECT sum(cw) AS t, count(*) AS v FROM cw),
    probs AS (
      SELECT w, ln(CAST(cw + 1 AS DOUBLE) / CAST(t + v AS DOUBLE)) AS lp
      FROM cw CROSS JOIN totals
    )
    SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
           round(-CAST(sum(CAST(cnt * lp AS DECIMAL(18,6))) AS DOUBLE)
                 / sum(cnt), 4) AS avg_neg_logprob
    FROM cnt_dw JOIN probs USING (w)
    GROUP BY doc_id
    """,
)
def q_lm_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality scoring
    (textanalysis.unigram_logprob_scores): per-document average negative
    log-probability under an add-one-smoothed unigram LM trained on the
    corpus itself — the CCNet/KenLM-style filter shape. Integer counts
    everywhere, vocabulary-sized model broadcast back, DECIMAL per-doc
    sums: bit-identical across engines."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        unigram_logprob_scores,
    )

    return unigram_logprob_scores(
        _t(spark, sf_dir, "documents"), "text", "doc_id"
    )


def _corpus_overlap_oracle(k: int = 16) -> str:
    """DuckDB twin of dedup.corpus_overlap_minhash at k salts: one row of
    k lexicographic md5 minima per corpus, match fraction = estimate.
    k = 16 keeps every possible estimate an exact 4-decimal binary
    fraction (n/16), so the rounded column is hazard-free."""
    mins_a = ", ".join(
        f"min(md5('{s}:' || fp)) AS a{s}" for s in range(k)
    )
    mins_b = ", ".join(
        f"min(md5('{s}:' || fp)) AS b{s}" for s in range(k)
    )
    match = " + ".join(
        f"CAST(a{s} IS NOT NULL AND a{s} IS NOT DISTINCT FROM b{s} "
        "AS BIGINT)"
        for s in range(k)
    )
    return f"""
    WITH ca AS (SELECT md5(text) AS fp FROM documents WHERE doc_id % 3 <> 0),
    cb AS (SELECT md5(text) AS fp FROM documents WHERE doc_id % 2 = 0),
    sa AS (SELECT {mins_a} FROM ca),
    sb AS (SELECT {mins_b} FROM cb)
    SELECT CAST({k} AS BIGINT) AS k, n_match,
           round(n_match * 1.0 / {k}, 4) AS jaccard_est
    FROM (SELECT ({match}) AS n_match FROM sa CROSS JOIN sb)
    """


@_register("corpus_overlap_est", oracle=_corpus_overlap_oracle())
def q_corpus_overlap_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus overlap WITHOUT a join (dedup.corpus_overlap_minhash):
    two overlapping slices of the documents table (doc_id % 3 != 0 vs
    doc_id % 2 = 0, true fingerprint Jaccard ~0.4) each fold to ONE row
    of 16 salted-md5 minima in a map-side-combined aggregation; the
    match fraction across salts estimates the corpus-level Jaccard —
    the contamination/provenance question ("how much of B is already in
    A?") answered with two corpus scans and zero corpus-sized shuffles."""
    from gene_level_metadata_pipeline_spark.operators.dedup import (
        corpus_overlap_minhash,
    )

    docs = _t(spark, sf_dir, "documents")
    a = docs.where(F.col("doc_id") % 3 != 0)
    b = docs.where(F.col("doc_id") % 2 == 0)
    return corpus_overlap_minhash(a, b, "text", num_hashes=16)


@_register(
    "rag_chunk_retrieval",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    s AS (
      SELECT doc_id, toks, n,
             unnest(generate_series(0, greatest(n - 1, 0), 40)) AS start
      FROM t
    ),
    chunks AS (
      SELECT doc_id * 100 + start // 40 AS chunk_id,
             array_to_string(toks[start + 1 : least(start + 40, n)], ' ')
               AS chunk_text
      FROM s
    ),
    words AS (
      SELECT chunk_id, w FROM (
        SELECT chunk_id, unnest(string_split(chunk_text, ' ')) AS w
        FROM chunks
      ) WHERE w <> ''
    ),
    tf AS (
      SELECT chunk_id, w, count(*) AS cnt FROM words GROUP BY chunk_id, w
    ),
    dlen AS (SELECT chunk_id, count(*) AS len FROM words GROUP BY chunk_id),
    stats AS (
      SELECT count(*) AS n, sum(len) * 1.0 / count(*) AS avglen FROM dlen
    ),
    dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
    q(qid, w) AS (VALUES
      (0, 'hash'), (0, 'join'), (1, 'vector'), (1, 'scan')
    ),
    scored AS (
      SELECT q.qid, tf.chunk_id,
             CAST(round(sum(CAST(
               ln((n - df + 0.5) / (df + 0.5) + 1.0)
               * (cnt * 2.2)
               / (cnt + 1.2 * (1 - 0.75 + 0.75 * len / avglen))
             AS DECIMAL(18,6))), 4) AS DOUBLE) AS score
      FROM q JOIN tf USING (w)
      JOIN dlen USING (chunk_id)
      JOIN dfreq USING (w)
      CROSS JOIN stats
      GROUP BY q.qid, tf.chunk_id
    )
    SELECT CAST(qid AS BIGINT) AS qid, chunk_id, score, rank FROM (
      SELECT *, CAST(row_number() OVER (
               PARTITION BY qid ORDER BY score DESC, chunk_id) AS BIGINT)
             AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def q_rag_chunk_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RAG ingestion-to-retrieval composite: token-window chunking
    (40-token non-overlapping windows, chunk_id = doc_id*100 +
    chunk_idx) feeding BM25 top-5 retrieval per query — retrieval
    granularity becomes the chunk, exactly how a context-window-bounded
    retriever consumes a corpus. Chunking is zero-shuffle codegen; the
    BM25 stage probes only query-word postings (broadcast join)."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        bm25_topk, chunk_documents,
    )

    docs = _t(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, "text", "doc_id", size=40, stride=40).select(
        (F.col("doc_id") * 100 + F.col("chunk_idx")).alias("chunk_id"),
        "chunk_text",
    )
    queries = spark.createDataFrame(
        [(0, "hash join"), (1, "vector scan")], "qid bigint, query string"
    )
    return bm25_topk(chunks, queries, "chunk_text", "chunk_id", k=5)


@_register(
    "corpus_zipf_fit",
    oracle="""
    WITH cw AS (
      SELECT w, count(*) AS c FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
      ) WHERE w <> '' GROUP BY w
    ),
    ranked AS (
      SELECT c, CAST(row_number() OVER (ORDER BY c DESC, w) AS BIGINT)
               AS rnk
      FROM cw
    ),
    xy AS (
      SELECT ln(CAST(rnk AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y
      FROM ranked WHERE rnk <= 50
    ),
    sums AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
             CAST(sum(CAST(x * y AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x * x AS DECIMAL(18,6))) AS DOUBLE) AS sxx
      FROM xy
    )
    SELECT n AS n_words_fit,
           round((n * sxy - sx * sy)
                 / nullif(n * sxx - sx * sx, 0), 4) AS zipf_slope,
           round((sy - (n * sxy - sx * sy)
                       / nullif(n * sxx - sx * sx, 0) * sx)
                 / nullif(n, 0), 4) AS zipf_intercept
    FROM sums
    """,
)
def q_corpus_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: least-squares slope of
    ln(frequency) on ln(rank) for the top-50 words — the standard
    corpus-health diagnostic (natural text slopes near -1; synthetic or
    template-heavy corpora flatten). Word counts map-side combine; the
    global rank is one vocabulary-sized sort (at 100 TB, restrict to a
    top-k by count first — ranks beyond the fit window are unused); the
    regression reduces to five DECIMAL-exact sums, so both engines
    derive the identical slope."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda w: w != "")
        ).alias("w")
    )
    cw = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    rnk_w = Window.orderBy(F.col("c").desc(), F.col("w").asc_nulls_last())
    xy = (
        cw.withColumn("rnk", F.row_number().over(rnk_w).cast("long"))
        .where(F.col("rnk") <= 50)
        .select(
            F.log(F.col("rnk").cast("double")).alias("x"),
            F.log(F.col("c").cast("double")).alias("y"),
        )
    )
    dec = "decimal(18,6)"
    sums = xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(dec)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).cast("double").alias("sxx"),
    )
    # try_divide: a 0- or 1-word vocabulary makes the regression
    # denominator exactly 0 (single point: x = ln(1) = 0 -> sxx = sx = 0)
    # and plain `/` raises DIVIDE_BY_ZERO under ANSI; the fit is simply
    # undefined -> NULL (oracle mirrors with nullif)
    slope = F.try_divide(
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"),
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"),
    )
    return sums.select(
        F.col("n").alias("n_words_fit"),
        F.round(slope, 4).alias("zipf_slope"),
        F.round(
            F.try_divide(F.col("sy") - slope * F.col("sx"), F.col("n")), 4
        ).alias("zipf_intercept"),
    )


_EXACT_PAIRS_SQL = """
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
      FROM words, (SELECT unnest(generate_series(1, len(ws)-2)) AS i)
      WHERE len(ws) >= 3
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) >= 0.1
"""


@_register(
    "dedup_lsh_recall",
    oracle=f"""
    SELECT CAST(e.n AS BIGINT) AS n_exact, CAST(l.n AS BIGINT) AS n_lsh,
           round(l.n * 1.0 / nullif(e.n, 0), 4) AS recall
    FROM (SELECT count(*) AS n FROM ({_EXACT_PAIRS_SQL})) e,
         (SELECT count(*) AS n FROM ({_near_dup_oracle()})) l
    """,
)
def q_dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH recall SELF-EVALUATION — the text-side mirror of
    ann_ivf_recall: confirmed MinHash-LSH pairs (near_dup_pairs, 8
    hashes / 4 bands, exact-Jaccard confirm at 0.1) counted against the
    full exact-Jaccard truth at the same threshold. The confirm stage
    makes the LSH set a strict SUBSET of the truth, so recall is a pure
    count ratio — the measurable cost of the banding s-curve
    (false negatives are pairs the LSH never bucketed together). At
    scale the truth side is the blocked/quadratic path run on a sample;
    here the corpus is small enough to run it whole."""
    from gene_level_metadata_pipeline_spark.operators.dedup import (
        near_dup_pairs, ngram_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    exact = ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.1)
    lsh = near_dup_pairs(docs, "text", "doc_id", threshold=0.1)
    e = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    l = lsh.agg(F.count(F.lit(1)).alias("n_lsh"))
    return e.crossJoin(F.broadcast(l)).select(
        "n_exact", "n_lsh",
        F.round(
            F.try_divide(F.col("n_lsh"), F.col("n_exact")), 4
        ).alias("recall"),
    )


@_register(
    "fuzzy_dup_pairs",
    oracle="""
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS distance
    FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
)
def q_fuzzy_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy matching (dedup.fuzzy_dup_pairs): all
    customer-name pairs within Levenshtein distance 1, generated via
    deletion-neighborhood (FastSS/SymSpell) blocking + exact confirm —
    never an all-pairs join. The ORACLE is the quadratic levenshtein
    truth, so a hash match certifies the blocking scheme's completeness
    (recall 1.0 by construction) on 19,500 true pairs at sf0.01, not
    just the confirm arithmetic."""
    from gene_level_metadata_pipeline_spark.operators.dedup import (
        fuzzy_dup_pairs,
    )

    return fuzzy_dup_pairs(
        _t(spark, sf_dir, "customer"), "c_name", "c_custkey",
        max_distance=1,
    )


def _weighted_take_oracle(k: int = 100) -> str:
    """DuckDB twin of selection.weighted_take_k on the documents table
    with weight = whitespace token count: u from the first 8 md5 hex
    digits (strpos digit arithmetic — no conv() dependency), Efraimidis-
    Spirakis key ln(u)/w, top-k by (key desc, doc_id)."""
    v = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1) "
        f"* {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"""
    WITH docs AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '),
                                  w -> w <> '')) AS BIGINT) AS weight,
             md5('wtake:' || CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ),
    scored AS (
      SELECT doc_id, weight,
             ln(({v} + 1) * 1.0 / 4294967296.0)
               / CAST(weight AS DOUBLE) AS es
      FROM docs WHERE weight > 0
    )
    SELECT doc_id, weight, round(es, 6) AS es_score
    FROM scored ORDER BY es DESC, doc_id LIMIT {k}
    """


@_register("weighted_sample_k", oracle=_weighted_take_oracle())
def q_weighted_sample_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k weighted sampling without replacement
    (selection.weighted_take_k, Efraimidis-Spirakis with md5-derived
    uniforms): 100 documents drawn with probability proportional to
    token count — "sample by training mass", the weighted counterpart
    to stratified_take's fixed budgets. Plans as TakeOrderedAndProject:
    no global sort, no corpus shuffle."""
    from gene_level_metadata_pipeline_spark.operators.selection import (
        weighted_take_k,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(
            F.filter(F.split(F.col("text"), " "), lambda w: w != "")
        ).cast("long").alias("weight"),
    )
    return weighted_take_k(docs, "doc_id", "weight", k=100)


def _ppr_oracle(rounds: int = 3) -> str:
    """DuckDB twin of the PERSONALIZED pagerank recurrence (seeds =
    suppliers with suppkey % 10 = 0): same co-occurrence graph as
    pagerank_suppliers, reset mass concentrated on the seed set, three
    unrolled integer rounds."""
    head = """
    WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    pairs AS (
      SELECT a.l_suppkey AS u, b.l_suppkey AS v, count(*) AS n
      FROM os a JOIN os b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      GROUP BY a.l_suppkey, b.l_suppkey
    ),
    und AS (SELECT u, v FROM pairs WHERE n >= 3),
    edges AS (SELECT u, v FROM und UNION SELECT v, u FROM und),
    deg AS (SELECT u, count(*) AS d FROM edges GROUP BY u),
    ns AS (SELECT count(*) AS n FROM deg WHERE u % 10 = 0),
    bb AS (SELECT u AS node,
                  CASE WHEN u % 10 = 0
                       THEN (15 * (1000000000000 // ns.n)) // 100
                       ELSE 0 END AS base,
                  CASE WHEN u % 10 = 0
                       THEN 1000000000000 // ns.n ELSE 0 END AS init
           FROM deg, ns),
    p0 AS (SELECT node, init AS pr FROM bb)"""
    rounds_sql = ""
    for r in range(1, rounds + 1):
        rounds_sql += f""",
    c{r} AS (SELECT e.v AS node, sum(p.pr // g.d) AS s
           FROM edges e JOIN p{r-1} p ON p.node = e.u
           JOIN deg g ON g.u = e.u
           GROUP BY e.v),
    p{r} AS (SELECT bb.node, bb.base + (85 * COALESCE(c{r}.s, 0)) // 100 AS pr
           FROM bb LEFT JOIN c{r} ON c{r}.node = bb.node)"""
    return head + rounds_sql + f"""
    SELECT node AS suppkey, pr::BIGINT AS pr_micro FROM p{rounds}
    """


@_register("pagerank_personalized", oracle=_ppr_oracle())
def q_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSONALIZED PageRank (operators.graph.pagerank with seeds):
    reset mass concentrated on the suppkey%10==0 seed suppliers, so
    ranks measure proximity to the seed set over the co-occurrence
    graph — the "expand this known-good set" query. Same exact bigint
    recurrence as pagerank_suppliers (hash-oracle-certifiable where
    float PPR cannot be); the oracle unrolls three seeded rounds."""
    from gene_level_metadata_pipeline_spark.operators.graph import pagerank

    und = (
        _cooccur_pairs(
            _t(spark, sf_dir, "lineitem"), "l_orderkey", "l_suppkey"
        )
        .where(F.col("n") >= 3)
        .select("u", "v")
    )
    nodes = und.select("u").union(und.select("v")).distinct()
    seeds = nodes.where(F.col("u") % 10 == 0)
    pr = pagerank(und, seeds=seeds)
    return pr.select(F.col("node").alias("suppkey"), F.col("pr").alias("pr_micro"))


@_register(
    "dedup_containment_pairs",
    oracle="""
    WITH words AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, lang, array_to_string(ws[i:i+2], ' ') AS shingle
      FROM words, (SELECT unnest(generate_series(1, len(ws)-2)) AS i)
      WHERE len(ws) >= 3
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b
        ON a.shingle = b.shingle AND a.lang = b.lang AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           round(n_common * 1.0 / sa.n_sh, 4) AS c_ab,
           round(n_common * 1.0 / sb.n_sh, 4) AS c_ba,
           greatest(round(n_common * 1.0 / sa.n_sh, 4),
                    round(n_common * 1.0 / sb.n_sh, 4)) AS containment
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE greatest(round(n_common * 1.0 / sa.n_sh, 4),
                   round(n_common * 1.0 / sb.n_sh, 4)) >= 0.2
    """,
)
def q_dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document duplication (dedup.ngram_containment_pairs): pairs
    where one document's shingle set is >=20% contained in the other —
    the asymmetric case Jaccard (and MinHash banding, whose collision
    probability IS Jaccard) structurally misses: a paragraph copied
    into a much longer page. Blocked on language like the exact-Jaccard
    path; threshold 0.2 so the synthetic corpus yields rows."""
    from gene_level_metadata_pipeline_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    return ngram_containment_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        threshold=0.2, block_by="lang",
    )


def _stratified_weighted_oracle(k: int = 20) -> str:
    """DuckDB twin of selection.stratified_weighted_take on documents:
    per-lang budgets of k, ES key ln(u)/w with w = token count."""
    v = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1) "
        f"* {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"""
    WITH docs AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(string_split(text, ' '),
                                  w -> w <> '')) AS BIGINT) AS weight,
             md5('wtake:' || CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ),
    scored AS (
      SELECT doc_id, lang, weight,
             ln(({v} + 1) * 1.0 / 4294967296.0)
               / CAST(weight AS DOUBLE) AS es
      FROM docs WHERE weight > 0
    )
    SELECT doc_id, lang, weight, rank AS sample_rank FROM (
      SELECT *, CAST(row_number() OVER (
               PARTITION BY lang ORDER BY es DESC, doc_id) AS BIGINT)
             AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


@_register(
    "stratified_weighted_sample", oracle=_stratified_weighted_oracle()
)
def q_stratified_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum weighted budgets
    (selection.stratified_weighted_take): exactly 20 documents per
    language, drawn with probability proportional to token count — the
    fixed-budget weighted mixer combining stratified_take's exact-k
    windows with weighted_take_k's deterministic Efraimidis-Spirakis
    key."""
    from gene_level_metadata_pipeline_spark.operators.selection import (
        stratified_weighted_take,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        F.size(
            F.filter(F.split(F.col("text"), " "), lambda w: w != "")
        ).cast("long").alias("weight"),
    )
    return stratified_weighted_take(docs, "doc_id", "lang", "weight", k=20)


def _dsir_oracle(buckets: int = 4096, k: int = 100) -> str:
    """DuckDB twin of selection.dsir_log_weights + dsir_gumbel_select on
    documents: hashed unigram+bigram buckets (16-bit digit ladder mod
    B), add-1 smoothed four-term log-ratio rounded 6dp as
    DECIMAL(18,6), exact per-doc decimal sums, deterministic Gumbel
    keys from md5('dsir:'||id)."""
    hex4 = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(gram), {i + 1}, 1)) - 1)"
        f" * {16 ** (3 - i)}"
        for i in range(4)
    )
    u8 = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1)"
        f" * {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"""
    WITH words AS (
      SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents
      WHERE text IS NOT NULL
    ),
    grams AS (
      SELECT doc_id, lang, w AS gram FROM words, unnest(ws) AS t(w)
      UNION ALL
      SELECT doc_id, lang, ws[i] || ' ' || ws[i + 1] AS gram
      FROM words, (SELECT unnest(generate_series(1, len(ws) - 1)) AS i)
      WHERE len(ws) >= 2
    ),
    b AS (SELECT doc_id, lang, ({hex4}) % {buckets} AS bucket FROM grams),
    rcnt AS (SELECT bucket, count(*) AS rc FROM b GROUP BY bucket),
    tcnt AS (
      SELECT bucket, count(*) AS tc FROM b WHERE lang = 'en' GROUP BY bucket
    ),
    tot AS (
      SELECT (SELECT count(*) FROM b) AS rtot,
             (SELECT count(*) FROM b WHERE lang = 'en') AS ttot
    ),
    term AS (
      SELECT rcnt.bucket,
             CAST(round(ln(COALESCE(tcnt.tc, 0) + 1.0)
                        - ln(tot.ttot + {float(buckets)})
                        - ln(rcnt.rc + 1.0)
                        + ln(tot.rtot + {float(buckets)}), 6)
                  AS DECIMAL(18,6)) AS term
      FROM rcnt LEFT JOIN tcnt USING (bucket), tot
    ),
    lw AS (
      SELECT b.doc_id, CAST(sum(term.term) AS DOUBLE) AS logw
      FROM b JOIN term USING (bucket) GROUP BY 1
    ),
    keyed AS (
      SELECT doc_id, logw,
             logw + (-ln(-ln(({u8} + 1) * 1.0 / 4294967296.0))) AS gk
      FROM (
        SELECT doc_id, logw, md5('dsir:' || CAST(doc_id AS VARCHAR)) AS h
        FROM lw
      )
    )
    SELECT doc_id, logw,
           round(gk * 1000000.0) / 1000000.0 AS sel_key,
           rank AS sample_rank
    FROM (
      SELECT *, CAST(row_number() OVER (ORDER BY gk DESC, doc_id)
                     AS BIGINT) AS rank
      FROM keyed
    ) WHERE rank <= {k}
    """


@_register("dsir_select_en", oracle=_dsir_oracle())
def q_dsir_select_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection end-to-end (selection.dsir_log_weights +
    dsir_gumbel_select): score every document by the add-1-smoothed
    hashed unigram+bigram log-likelihood ratio of the English subset
    (target) vs the whole corpus (raw), then resample the top 100 by
    deterministic Gumbel-top-k — the importance-resampling
    pretraining-data-selection recipe of Xie et al. 2023, with every
    float reduced to either an exact DECIMAL sum or a fixed-order IEEE
    expression so the whole selection is hash-certified."""
    from gene_level_metadata_pipeline_spark.operators.selection import (
        dsir_gumbel_select,
        dsir_log_weights,
    )

    # one-parquet-partition input + per-row gram explode: spread first
    # (the image_phash_near_dup lesson)
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    w = dsir_log_weights(
        docs, docs.where(F.col("lang") == "en"), "text", "doc_id",
        buckets=4096, alpha=1.0,
    )
    return dsir_gumbel_select(w, "doc_id", k=100)


@_register(
    "entity_resolution_pipeline",
    oracle="""
    WITH RECURSIVE fp AS (
      SELECT a.c_custkey AS u, b.c_custkey AS v
      FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
      WHERE levenshtein(a.c_name, b.c_name) <= 1
    ),
    edges2 AS (SELECT u, v FROM fp UNION SELECT v, u FROM fp),
    reach(u, v) AS (
      SELECT u, v FROM edges2
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges2 e ON r.v = e.u
    ),
    comp AS (
      SELECT u AS id, least(u, min(v)) AS component FROM reach GROUP BY u
    )
    SELECT c.c_custkey, COALESCE(comp.component, c.c_custkey) AS canonical_id
    FROM customer c LEFT JOIN comp ON comp.id = c.c_custkey
    """,
)
def q_entity_resolution_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full entity-resolution flow as one certified composite:
    deletion-neighborhood fuzzy matching (distance <= 1 on customer
    names) -> connected components (pointer-jumping min-label) ->
    canonical id per record (component minimum; untouched records map
    to themselves). Every stage is an already-certified operator; the
    oracle recomputes the same fixpoint from the quadratic levenshtein
    truth with a recursive CTE, so the hash match certifies blocking
    completeness AND the clustering in one shot."""
    from gene_level_metadata_pipeline_spark.operators.dedup import (
        fuzzy_dup_pairs,
    )
    from gene_level_metadata_pipeline_spark.operators.graph import (
        canonicalize_duplicates,
    )

    cust = _t(spark, sf_dir, "customer")
    pairs = fuzzy_dup_pairs(cust, "c_name", "c_custkey", max_distance=1)
    return canonicalize_duplicates(
        cust.select("c_custkey"), pairs.select(
            F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
        ), "c_custkey",
    ).select("c_custkey", "canonical_id")


@_register(
    "corpus_lang_entropy",
    oracle="""
    WITH pairs AS (
      SELECT source AS grp, lang AS cat, count(*) AS nc
      FROM documents GROUP BY source, lang
    ),
    sized AS (
      SELECT grp, nc,
             CAST(sum(nc) OVER (PARTITION BY grp) AS BIGINT) AS n
      FROM pairs
    )
    SELECT grp AS source, count(*) AS n_cats, n,
      CAST(round(sum(CAST(
            -(CAST(nc AS DOUBLE) / CAST(n AS DOUBLE))
            * log2(CAST(nc AS DOUBLE) / CAST(n AS DOUBLE))
          AS DECIMAL(18,6))), 4) AS DOUBLE) AS entropy,
      round(CAST(sum(CAST(
            -(CAST(nc AS DOUBLE) / CAST(n AS DOUBLE))
            * log2(CAST(nc AS DOUBLE) / CAST(n AS DOUBLE))
          AS DECIMAL(18,6))) AS DOUBLE)
            / nullif(log2(CAST(count(*) AS DOUBLE)), 0) * 1e4, 0) / 1e4
        AS entropy_norm
    FROM sized GROUP BY grp, n
    """,
)
def q_corpus_lang_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language entropy (quality.group_entropy): Shannon
    entropy in bits of each source's language distribution plus the
    log2(n_cats)-normalized evenness — the corpus-mixing diagnostic that
    tells a curation pipeline which sources are monolingual silos vs
    balanced mixes. Each -p*log2(p) term is cast to DECIMAL(18,6)
    before summing (order-independent, the _dsum discipline), so both
    engines report the identical doubles; a single-language source gets
    entropy 0 and a NULL normalization (try_divide / nullif twin)."""
    from gene_level_metadata_pipeline_spark.operators.quality import (
        group_entropy,
    )

    return group_entropy(_t(spark, sf_dir, "documents"), "source", "lang")


@_register(
    "text_readability_flesch",
    oracle="""
    WITH per_doc AS (
      SELECT lang,
        len(regexp_extract_all(text, '[A-Za-z]+')) AS w,
        len(regexp_extract_all(text, '[.!?]+')) AS s,
        len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syl
      FROM documents WHERE text IS NOT NULL
    ),
    scored AS (
      SELECT lang, w, s, syl,
        206.835 - 1.015 * (CAST(w AS DOUBLE) / nullif(s, 0))
          - 84.6 * (CAST(syl AS DOUBLE) / nullif(w, 0)) AS flesch
      FROM per_doc
    )
    SELECT lang, count(*) AS n_docs,
      CAST(sum(w) AS BIGINT) AS total_words,
      round(CAST(sum(CAST(flesch AS DECIMAL(18,6))) AS DOUBLE)
            / count(flesch) * 1e4, 0) / 1e4 AS mean_flesch,
      CAST(count(*) - count(flesch) AS BIGINT) AS n_unscorable
    FROM scored GROUP BY lang
    """,
)
def q_text_readability_flesch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Flesch reading-ease per language — the readability gate beside
    the Gopher/C4 quality stack: words = letter runs, sentences =
    terminal-punctuation runs, syllables = the standard vowel-group
    heuristic, all from character-class regexes simple enough that
    Java's engine and DuckDB's RE2 provably agree (the scalar_regex
    family precedent — no backrefs, no lookaround). The per-doc score
    is one double expression of exact integer counts — identical in
    both engines — with nullif/try_divide making zero-sentence or
    zero-word docs NULL (counted as unscorable, never an ANSI error);
    the per-language mean accumulates scores in exact decimals. One
    map-side scoring pass + one rollup."""
    d = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    w = F.size(F.expr("regexp_extract_all(text, '[A-Za-z]+', 0)"))
    sct = F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)"))
    syl = F.size(
        F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")
    )
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * F.try_divide(w.cast("double"), F.nullif(sct, F.lit(0)))
        - F.lit(84.6) * F.try_divide(syl.cast("double"), F.nullif(w, F.lit(0)))
    )
    scored = d.select(
        "lang", w.alias("w"), flesch.alias("flesch")
    )
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("w").cast("bigint").alias("total_words"),
        _round_to(
            F.sum(F.col("flesch").cast("decimal(18,6)")).cast("double")
            / F.count("flesch"),
            4,
        ).alias("mean_flesch"),
        (F.count(F.lit(1)) - F.count("flesch"))
        .cast("bigint")
        .alias("n_unscorable"),
    )


@_register(
    "dup_rate_by_source",
    oracle="""
    WITH t AS (
      SELECT source, md5(text) AS h FROM documents WHERE text IS NOT NULL
    ),
    g AS (SELECT h, count(*) AS n FROM t GROUP BY h),
    j AS (SELECT t.source, g.n FROM t JOIN g ON g.h = t.h)
    SELECT source, count(*) AS n_docs,
      CAST(count(CASE WHEN n > 1 THEN 1 END) AS BIGINT) AS n_duplicated,
      round(CAST(count(CASE WHEN n > 1 THEN 1 END) AS DOUBLE)
            / count(*) * 1e6, 0) / 1e6 AS dup_rate
    FROM j GROUP BY source
    """,
)
def q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-rate report per source — which ingestion feeds are
    polluting the corpus: a document counts as duplicated when its
    exact text hash appears more than once CORPUS-WIDE (cross-source
    duplication deliberately included — the question is where dups
    come from, not whether a source self-duplicates). Hash-group
    counts broadcast back onto the per-source tags; one conditional
    rollup. The per-source twin of dedup_cluster_stats' size
    distribution, and the report that decides which source gets the
    incremental-Bloom treatment first."""
    d = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    t = d.select("source", F.md5("text").alias("h"))
    g = t.groupBy("h").agg(F.count(F.lit(1)).alias("n"))
    j = t.join(g, "h")
    dup = F.when(F.col("n") > 1, 1)
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(dup).cast("bigint").alias("n_duplicated"),
        _round_to(
            F.count(dup).cast("double") / F.count(F.lit(1)), 6
        ).alias("dup_rate"),
    )


@_register(
    "vocab_growth_curve",
    oracle="""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w
      FROM documents WHERE text IS NOT NULL
    ),
    firsts AS (
      SELECT w, min(doc_id) AS first_doc FROM words
      WHERE w <> '' GROUP BY w
    ),
    pts AS (
      SELECT CAST(unnest([32, 64, 128, 256, 512, 1024, 2048]) AS BIGINT)
        AS n_docs
    ),
    totals AS (
      SELECT p.n_docs,
        CAST(count(CASE WHEN f.first_doc < p.n_docs THEN 1 END) AS BIGINT)
          AS vocab
      FROM pts p CROSS JOIN firsts f
      GROUP BY p.n_docs
    )
    SELECT n_docs, vocab FROM totals
    """,
)
def q_vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve — distinct vocabulary after
    the first N documents (doc_id order) at doubling checkpoints: the
    corpus diagnostic that, with corpus_zipf_fit, tells you whether
    more data keeps buying new tokens or the vocabulary has saturated
    (the decision input for tokenizer vocab sizing). EXACT, no log
    fitting: each word reduces to its first containing doc_id (one
    aggregate), and vocab-at-N is a count of first-occurrences below
    each checkpoint — a 7-row broadcast cross join, never a per-prefix
    rescan. Checkpoints are fixed powers of two so the curve is
    comparable across SFs (larger corpora simply fill more of the
    curve)."""
    d = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    words = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).where(F.col("w") != "")
    firsts = words.groupBy("w").agg(F.min("doc_id").alias("first_doc"))
    pts = d.sparkSession.createDataFrame(
        [(n,) for n in (32, 64, 128, 256, 512, 1024, 2048)], "n_docs long"
    )
    return (
        firsts.crossJoin(F.broadcast(pts))
        .groupBy("n_docs")
        .agg(
            F.count(
                F.when(F.col("first_doc") < F.col("n_docs"), 1)
            ).cast("bigint").alias("vocab")
        )
    )


def _bpe_oracle(rounds: int) -> str:
    """Unrolled BPE recurrence: round r = pair counts over the wrapped
    word strings, argmax with the (cnt DESC, a, b) tie-break, then one
    global replace. Mirrors operators.textanalysis.bpe_train exactly —
    the wrapped-string representation makes the merge a plain replace()
    in BOTH engines."""
    ctes = [
        """w0 AS (
      SELECT regexp_replace(w, '(.)', chr(31)||'\\1'||chr(31), 'g') AS s,
             count(*) AS freq
      FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
            FROM documents WHERE text IS NOT NULL)
      WHERE len(w) BETWEEN 1 AND 20
      GROUP BY 1
    )"""
    ]
    for r in range(1, rounds + 1):
        ctes.append(f"""s{r} AS (
      SELECT string_split(trim(s, chr(31)), chr(31)||chr(31)) AS syms, freq
      FROM w{r - 1}
    ),
    p{r} AS (
      SELECT z[1] AS a, z[2] AS b, CAST(sum(freq) AS BIGINT) AS cnt
      FROM (SELECT unnest(list_zip(syms[1:len(syms)-1], syms[2:len(syms)]))
                     AS z,
                   freq FROM s{r})
      GROUP BY 1, 2
    ),
    t{r} AS (SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1),
    w{r} AS (
      SELECT replace(s,
        chr(31)||(SELECT a FROM t{r})||chr(31)||chr(31)
                ||(SELECT b FROM t{r})||chr(31),
        chr(31)||(SELECT a FROM t{r})||(SELECT b FROM t{r})||chr(31)) AS s,
        freq
      FROM w{r - 1}
    )""")
    finals = " UNION ALL ".join(
        f"SELECT {r} AS round, a AS sym_a, b AS sym_b, cnt AS pair_count"
        f" FROM t{r}"
        for r in range(1, rounds + 1)
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + finals


@_register("bpe_train_merges", oracle=_bpe_oracle(4))
def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer merge training (textanalysis.bpe_train): 4 rounds of
    most-frequent-adjacent-pair merging over the corpus vocabulary,
    starting from characters — the tokenizer-training stage of the LLM
    data pipeline, beside encode_documents (application) and
    vocab_growth_curve (vocab sizing). Deterministic tie-break, exact
    bigint pair counts; the oracle unrolls the identical 4-round
    recurrence with the same wrapped-string replace trick, so the
    learned merges hash-match exactly."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        bpe_train,
    )

    return bpe_train(_t(spark, sf_dir, "documents"), rounds=4)


def _bpe_encode_oracle(rounds: int) -> str:
    """Training CTEs from _bpe_oracle, then the encode pass: every
    (doc, word) wrapped and pushed through the learned merge chain as
    nested replace() calls whose search/replace strings are scalar
    subqueries against the per-round argmax CTEs."""
    train = _bpe_oracle(rounds)
    train_ctes = train[: train.rindex(")") + 1]  # strip the final UNION
    chain = "regexp_replace(w, '(.)', chr(31)||'\\1'||chr(31), 'g')"
    for r in range(1, rounds + 1):
        pat = (
            f"chr(31)||(SELECT a FROM t{r})||chr(31)||chr(31)"
            f"||(SELECT b FROM t{r})||chr(31)"
        )
        rep = f"chr(31)||(SELECT a FROM t{r})||(SELECT b FROM t{r})||chr(31)"
        chain = f"replace({chain}, {pat}, {rep})"
    return f"""{train_ctes},
    dwf AS (
      SELECT doc_id, w, count(*) AS c
      FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+'))
                     AS w
            FROM documents WHERE text IS NOT NULL)
      WHERE len(w) BETWEEN 1 AND 20
      GROUP BY doc_id, w
    ),
    enc AS (
      SELECT doc_id, c, len(w) AS wl,
             len(string_split(trim({chain}, chr(31)), chr(31)||chr(31)))
               AS toks
      FROM dwf
    )
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
           CAST(sum(c * wl) AS BIGINT) AS n_chars,
           CAST(sum(c * toks) AS BIGINT) AS n_tokens,
           round(CAST(sum(c * wl) AS DOUBLE)
                 / CAST(sum(c * toks) AS DOUBLE), 6) AS compression
    FROM enc GROUP BY doc_id"""


@_register("bpe_encode_docs", oracle=_bpe_encode_oracle(4))
def q_bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer application (textanalysis.bpe_encode): train 4
    merges on the corpus, then encode every document with them and
    report per-doc word/char/token counts and the chars-per-token
    compression ratio — the measure-what-the-tokenizer-buys step that
    closes the train (bpe_train_merges) / size (vocab_growth_curve) /
    apply triad. The merge chain compiles to nested built-in replace()
    calls over the wrapped-string form in BOTH engines; all counts are
    exact bigints, the ratio is one rounded divide."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        bpe_encode,
        bpe_train,
    )

    docs = _t(spark, sf_dir, "documents")
    return bpe_encode(docs, bpe_train(docs, rounds=4))


@_register(
    "golden_record_docs",
    oracle="""
    WITH d AS (
      SELECT md5(text) AS cluster, doc_id, lang, source, n_chars
      FROM documents WHERE text IS NOT NULL
    ),
    base AS (
      SELECT cluster, count(*) AS n_members,
             min(doc_id) AS canonical_id, max(n_chars) AS n_chars
      FROM d GROUP BY cluster
    ),
    lm AS (
      SELECT cluster, lang, count(*) AS n FROM d
      WHERE lang IS NOT NULL GROUP BY cluster, lang
      QUALIFY row_number() OVER (
        PARTITION BY cluster ORDER BY n DESC, lang ASC) = 1
    ),
    sm AS (
      SELECT cluster, source, count(*) AS n FROM d
      WHERE source IS NOT NULL GROUP BY cluster, source
      QUALIFY row_number() OVER (
        PARTITION BY cluster ORDER BY n DESC, source ASC) = 1
    )
    SELECT b.cluster, b.n_members, b.canonical_id, b.n_chars,
           lm.lang, sm.source
    FROM base b
    LEFT JOIN lm ON lm.cluster = b.cluster
    LEFT JOIN sm ON sm.cluster = b.cluster
    """,
)
def q_golden_record_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship (conflicts.golden_record): exact-text
    duplicate clusters merged into one record each — canonical id = min,
    size = max, lang/source = deterministic mode (count DESC, value ASC
    tie-break; plain mode() is tie-ambiguous across engines) — the
    master-data step between dedup clustering and the destructive write.
    NULL-text docs are excluded (no golden text to survive); all-NULL
    attributes yield NULL. The Spark argmax is min(struct(-count,
    value)) on the collapsed (cluster, value) table; the oracle spells
    the same argmax as QUALIFY windows."""
    from gene_level_metadata_pipeline_spark.operators.conflicts import (
        golden_record,
    )

    d = (
        _t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(
            F.md5("text").alias("cluster"),
            "doc_id", "lang", "source", "n_chars",
        )
    )
    out = golden_record(
        d,
        "cluster",
        {"doc_id": "min", "n_chars": "max", "lang": "mode", "source": "mode"},
    )
    return out.select(
        "cluster", "n_members",
        F.col("doc_id").alias("canonical_id"),
        "n_chars", "lang", "source",
    )


@_register(
    "feature_hash_docs",
    oracle="""
    WITH w AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      FROM documents WHERE text IS NOT NULL
    ),
    h AS (
      SELECT doc_id,
             ((strpos('0123456789abcdef', substring(md5(w), 1, 1)) - 1) * 16
              + strpos('0123456789abcdef', substring(md5(w), 2, 1)) - 1)
               % 64 AS bucket,
             CASE WHEN strpos('0123456789abcdef', substring(md5(w), 3, 1))
                       - 1 < 8
                  THEN 1 ELSE -1 END AS s
      FROM w
    )
    SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
           CAST(sum(s) AS BIGINT) AS val
    FROM h GROUP BY doc_id, bucket
    """,
)
def q_feature_hash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick vectorizer (textanalysis.feature_hash): every doc
    projected onto a fixed 64-dim signed-hash space with NO vocabulary
    pass — the corpus-scale featurizer for linear models (no broadcast
    dictionary, no OOV; new inference-time words hash into the same
    space). Long-form sparse output; bucket/sign from md5 hex-digit
    arithmetic identical in both engines. One explode + one (doc,
    bucket) aggregation — output is O(docs x 64), never O(docs x
    vocab)."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        feature_hash,
    )

    return feature_hash(_t(spark, sf_dir, "documents"), n_features=64)


def _incremental_near_oracle(num_hashes: int = 8, bands: int = 4,
                             cap: int = 1000) -> str:
    """Bipartite (new x history) banding + Jaccard confirm: the shared
    sig/bands CTEs over the whole corpus, sides split by doc_id parity,
    history buckets capped — the SQL twin of
    dedup.near_dup_against_history."""
    return f"""
    WITH {_SHINGLE_CTE},
    {_band_ctes(num_hashes, bands)},
    nb AS (SELECT doc_id AS new_id, band, band_hash FROM bands
           WHERE doc_id % 2 = 1),
    hb0 AS (SELECT doc_id AS hist_id, band, band_hash FROM bands
            WHERE doc_id % 2 = 0),
    hsz AS (SELECT band, band_hash, count(*) AS n FROM hb0
            GROUP BY band, band_hash),
    hb AS (
      SELECT hb0.* FROM hb0 JOIN hsz USING (band, band_hash)
      WHERE hsz.n <= {cap}
    ),
    cands AS (
      SELECT DISTINCT nb.new_id, hb.hist_id
      FROM nb JOIN hb USING (band, band_hash)
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT c.new_id, c.hist_id, count(*) AS n_common
      FROM cands c
      JOIN sh a ON a.doc_id = c.new_id
      JOIN sh b ON b.doc_id = c.hist_id AND a.shingle = b.shingle
      GROUP BY c.new_id, c.hist_id
    )
    SELECT c.new_id, c.hist_id,
           round(n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common), 4)
             AS jaccard
    FROM common c
    JOIN sizes sa ON sa.doc_id = c.new_id
    JOIN sizes sb ON sb.doc_id = c.hist_id
    WHERE n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) >= 0.1
    """


@_register("dedup_incremental_near", oracle=_incremental_near_oracle())
def q_dedup_incremental_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup detection (dedup.near_dup_against_history):
    odd-id docs arrive as the new batch, even-id docs are the ingested
    history — candidates come from the bipartite (band, band_hash)
    join only (history never re-pairs with itself, the daily-refresh
    cost model), history boilerplate buckets capped, exact Jaccard
    confirm on candidates. The fuzzy sibling of
    dedup_incremental_bloom's exact path."""
    from gene_level_metadata_pipeline_spark.operators.dedup import (
        near_dup_against_history,
    )

    d = _t(spark, sf_dir, "documents")
    return near_dup_against_history(
        d.where(F.col("doc_id") % 2 == 1),
        d.where(F.col("doc_id") % 2 == 0),
        "text", "doc_id", threshold=0.1,
    )


def _source_overlap_oracle(k: int = 16) -> str:
    mins = ",\n             ".join(
        f"min(md5('{s}:' || md5(text))) AS m{s}" for s in range(k)
    )
    match = " + ".join(
        f"CASE WHEN a.m{s} IS NOT NULL AND a.m{s} = b.m{s} "
        f"THEN 1 ELSE 0 END"
        for s in range(k)
    )
    return f"""
    WITH sk AS (
      SELECT source AS g,
             {mins}
      FROM documents GROUP BY source
    )
    SELECT a.g AS src_a, b.g AS src_b,
           CAST({k} AS BIGINT) AS k,
           CAST({match} AS BIGINT) AS n_match,
           round(CAST({match} AS BIGINT) * 1.0 / {k}, 4) AS jaccard_est
    FROM sk a JOIN sk b ON a.g < b.g
    """


@_register("source_overlap_matrix", oracle=_source_overlap_oracle(16))
def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap matrix (dedup.source_overlap_matrix):
    k-min-hash Jaccard estimates between every pair of document feeds
    in one corpus pass — per-source sketches are one map-side-combined
    groupBy, pair comparison is a broadcast self-join on the
    |sources|-row sketch table; the provenance triage that decides
    which feeds share an incremental-dedup history (the N-way
    generalization of corpus_overlap_est)."""
    from gene_level_metadata_pipeline_spark.operators.dedup import (
        source_overlap_matrix,
    )

    return source_overlap_matrix(
        _t(spark, sf_dir, "documents"), "source", "text", num_hashes=16
    )


def _tokenizer_pipeline_oracle(rounds: int = 4) -> str:
    """The bpe_encode oracle's train+encode chain, rolled up per
    language: the corpus-level tokenizer report."""
    enc = _bpe_encode_oracle(rounds)
    return f"""
    WITH enc_out AS ({enc})
    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(e.n_tokens) AS BIGINT) AS total_tokens,
           round(CAST(sum(e.n_chars) AS DOUBLE)
                 / CAST(sum(e.n_tokens) AS DOUBLE), 6) AS compression
    FROM enc_out e JOIN documents d ON d.doc_id = e.doc_id
    GROUP BY d.lang
    """


@_register("tokenizer_pipeline", oracle=_tokenizer_pipeline_oracle(4))
def q_tokenizer_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer-training composite end-to-end: learn 4 BPE merges
    on the corpus (bpe_train), encode every document with them
    (bpe_encode), and roll the result up per language — docs, total
    token budget, and chars-per-token compression. The report that
    decides whether the tokenizer under-serves a language (lower
    compression = more tokens per char = that language pays more
    context budget) — the fairness check every multilingual tokenizer
    ships with. Every stage is the certified operator; exact bigint
    counts, one rounded ratio per language."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        bpe_encode,
        bpe_train,
    )

    docs = _t(spark, sf_dir, "documents")
    enc = bpe_encode(docs, bpe_train(docs, rounds=4))
    return (
        enc.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.round(
                F.sum("n_chars").cast("double")
                / F.sum("n_tokens").cast("double"),
                6,
            ).alias("compression"),
        )
    )


def _bpe_batched_oracle(rounds: int, batch: int) -> str:
    """Unrolled BATCHED BPE recurrence (textanalysis.bpe_train, batch > 1):
    per job, pair counts once, then ``batch`` greedy symbol-disjoint
    selections (each skips candidates touching any earlier pick's a, b,
    or merged a||b) from the top ``batch*8`` candidates, then ONE chained
    replace applying the whole batch. Selections that come up empty fall
    back to an identity replace (SEP -> SEP) so the chain stays total;
    the gate's parameters are sized so every slot fills at all SFs."""
    s, b8 = "chr(31)", batch * 8
    ctes = [
        f"""w0 AS (
      SELECT regexp_replace(w, '(.)', {s}||'\\1'||{s}, 'g') AS s,
             count(*) AS freq
      FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
            FROM documents WHERE text IS NOT NULL)
      WHERE len(w) BETWEEN 1 AND 20
      GROUP BY 1
    )"""
    ]
    finals = []
    for j in range(1, rounds + 1):
        ctes.append(f"""s{j} AS (
      SELECT string_split(trim(s, {s}), {s}||{s}) AS syms, freq
      FROM w{j - 1}
    ),
    p{j} AS (
      SELECT z[1] AS a, z[2] AS b, CAST(sum(freq) AS BIGINT) AS cnt
      FROM (SELECT unnest(list_zip(syms[1:len(syms)-1], syms[2:len(syms)]))
                     AS z,
                   freq FROM s{j})
      GROUP BY 1, 2
    ),
    c{j} AS (SELECT a, b, cnt FROM p{j} ORDER BY cnt DESC, a, b LIMIT {b8})""")
        chain = "s"
        for k in range(1, batch + 1):
            prev = [f"t{j}_{i}" for i in range(1, k)]
            if prev:
                used = " UNION ALL ".join(
                    f"SELECT a FROM {t} UNION ALL SELECT b FROM {t} "
                    f"UNION ALL SELECT a||b FROM {t}"
                    for t in prev
                )
                where = (f"WHERE a NOT IN ({used}) AND b NOT IN ({used})")
            else:
                where = ""
            ctes.append(
                f"t{j}_{k} AS (SELECT a, b, cnt FROM c{j} {where} "
                f"ORDER BY cnt DESC, a, b LIMIT 1)"
            )
            pat = (
                f"COALESCE((SELECT {s}||a||{s}||{s}||b||{s} "
                f"FROM t{j}_{k}), {s})"
            )
            rep = f"COALESCE((SELECT {s}||a||b||{s} FROM t{j}_{k}), {s})"
            chain = f"replace({chain}, {pat}, {rep})"
            finals.append(
                f"SELECT {(j - 1) * batch + k} AS round, a AS sym_a, "
                f"b AS sym_b, cnt AS pair_count FROM t{j}_{k}"
            )
        ctes.append(f"w{j} AS (SELECT {chain} AS s, freq FROM w{j - 1})")
    return "WITH " + ",\n    ".join(ctes) + "\n    " + " UNION ALL ".join(finals)


@_register("bpe_train_batched", oracle=_bpe_batched_oracle(2, 2))
def q_bpe_train_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched BPE merge training (textanalysis.bpe_train, batch=2): the
    rounds-axis scale path for bpe_train_merges — per Spark job, ONE
    pair-count pass selects up to `batch` symbol-disjoint merges
    greedily in the canonical (cnt DESC, a, b) order, and the whole
    batch applies as one chained replace projection. Cuts the
    one-job-per-merge cost to one job per BATCH (measured at sf0.01:
    89 merges 16.8s sequential -> 2.5s at batch=8; PLANS.md round 6).
    batch=1 replays bpe_train exactly (unit-pinned). The oracle unrolls
    the identical batched recurrence — per-job candidate cap, greedy
    disjoint selection, chained replace — so the learned merge table
    hash-matches exactly. Gate runs 2 jobs x batch 2 = 4 merges."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        bpe_train,
    )

    return bpe_train(_t(spark, sf_dir, "documents"), rounds=2, batch=2)


def _lr_oracle(rounds: int = 3, n: int = 16, lr: str = "0.001",
               positive: str = "en") -> str:
    """Unrolled gradient-descent replay of textanalysis.
    linear_classifier_train + _score: the feature CTE is the shared
    md5-hex hashing trick (feature_hash_docs), then one (z, p, g, w)
    CTE quartet per training round — every cast/round mirrors the Spark
    operator exactly, so the exact-DECIMAL contract makes the trained
    weights and all scores hash-identical."""
    hexd = "0123456789abcdef"
    ctes = [
        f"""wrd AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      FROM documents WHERE text IS NOT NULL
    ),
    fh AS (
      SELECT doc_id,
             ((strpos('{hexd}', substring(md5(w), 1, 1)) - 1) * 16
              + strpos('{hexd}', substring(md5(w), 2, 1)) - 1)
               % {n} AS bucket,
             CASE WHEN strpos('{hexd}', substring(md5(w), 3, 1)) - 1 < 8
                  THEN 1 ELSE -1 END AS s
      FROM wrd
    ),
    feats AS (
      SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
             CAST(CAST(sum(s) AS BIGINT) AS DECIMAL(12,0)) AS val
      FROM fh GROUP BY doc_id, bucket
    ),
    lab AS (
      SELECT doc_id,
             CAST(CASE WHEN lang = '{positive}' THEN 1 ELSE 0 END
                  AS DECIMAL(2,0)) AS y
      FROM documents WHERE text IS NOT NULL
    ),
    w0 AS (SELECT DISTINCT bucket, CAST(0 AS DECIMAL(24,12)) AS w
           FROM feats)"""
    ]
    sig = ("CAST(least(greatest(CAST(0.5 AS DECIMAL(2,1)) + {z} "
           "* CAST(0.25 AS DECIMAL(3,2)), CAST(0 AS DECIMAL(29,14))), "
           "CAST(1 AS DECIMAL(29,14))) AS DECIMAL(16,14))")
    for r in range(1, rounds + 1):
        ctes.append(
            f"""z{r} AS (
      SELECT f.doc_id, CAST(sum(w.w * f.val) AS DECIMAL(24,12)) AS z
      FROM feats f JOIN w{r - 1} w USING (bucket) GROUP BY f.doc_id
    ),
    p{r} AS (SELECT doc_id, {sig.format(z='z')} AS p FROM z{r}),
    g{r} AS (
      SELECT f.bucket,
             CAST(round(sum((lab.y - p.p) * f.val), 12)
                  AS DECIMAL(24,12)) AS g
      FROM feats f JOIN p{r} p USING (doc_id) JOIN lab USING (doc_id)
      GROUP BY f.bucket
    ),
    w{r} AS (
      SELECT w.bucket,
             CAST(round(w.w + CAST({lr} AS DECIMAL(4,3)) * g.g, 12)
                  AS DECIMAL(24,12)) AS w
      FROM w{r - 1} w JOIN g{r} g USING (bucket)
    )"""
        )
    zf = ("COALESCE(z.z, CAST(0 AS DECIMAL(24,12)))")
    return f"""
    WITH {','.join(ctes)},
    zf AS (
      SELECT f.doc_id, CAST(sum(w.w * f.val) AS DECIMAL(24,12)) AS z
      FROM feats f JOIN w{rounds} w USING (bucket) GROUP BY f.doc_id
    ),
    scored AS (
      SELECT d.doc_id, {sig.format(z=zf)} AS p
      FROM documents d LEFT JOIN zf z USING (doc_id)
    )
    SELECT doc_id, round(CAST(p AS DOUBLE), 6) AS score,
           CAST(CASE WHEN p >= CAST(0.5 AS DECIMAL(2,1)) THEN 1 ELSE 0 END
                AS INTEGER) AS pred
    FROM scored
    """


@_register("classifier_lr_scores", oracle=_lr_oracle())
def q_classifier_lr_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained model-in-the-loop curation (textanalysis.
    linear_classifier_train/_score): a fastText-style binary linear
    classifier over 16-dim hashing-trick features, trained by 3 rounds
    of full-batch gradient descent (y = lang=='en'), then scoring every
    document. The whole TRAINING RUN is oracle-certified bit-exactly —
    exact-DECIMAL arithmetic, piecewise-linear hard-sigmoid link, fixed
    weight re-quantization — the discriminative sibling of the
    closed-form Rocchio centroid query. Per round: two shuffles
    (doc-margin agg, bucket-gradient agg) independent of corpus size;
    driver state is the 16-row weight vector only."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        linear_classifier_score,
        linear_classifier_train,
    )

    docs = _t(spark, sf_dir, "documents")
    wts = linear_classifier_train(docs)
    return linear_classifier_score(docs, wts)


@_register(
    "pca_power_topk",
    oracle="""
    WITH m AS (
      SELECT vec_id, label,
             list_transform(embedding, e ->
               CAST(round(CAST(e AS DOUBLE) * 1e6, 0) AS HUGEINT)) AS mi
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = 64
    ),
    x AS (
      SELECT vec_id, label, i - 1 AS i, mi[i] AS x
      FROM m, (SELECT unnest(generate_series(1, 64)) AS i)
    ),
    sxx AS (
      SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS sxx
      FROM x a JOIN x b USING (vec_id)
      GROUP BY a.i, b.i
    ),
    s AS (SELECT i, sum(x) AS s FROM x GROUP BY i),
    nn AS (SELECT count(*) AS n FROM m),
    num AS (
      SELECT sxx.i, sxx.j, nn.n * sxx.sxx - sa.s * sb.s AS num
      FROM sxx
      JOIN s sa ON sa.i = sxx.i
      JOIN s sb ON sb.i = sxx.j
      CROSS JOIN nn
    ),
    cp AS (
      -- exact FLOOR division by 10^10: duckdb's '/' is FLOAT division,
      -- '//' is integer (truncating toward 0) — subtract the floor-mod
      -- first so truncation equals floor (matches Python's // exactly)
      SELECT i, j,
             (num - (((num % 10000000000) + 10000000000) % 10000000000))
               // 10000000000 AS c
      FROM num
    ),
    v1 AS (SELECT i, sum(c) AS v FROM cp GROUP BY i),
    v2 AS (SELECT cp.i, sum(cp.c * v1.v) AS v
           FROM cp JOIN v1 ON v1.i = cp.j GROUP BY cp.i),
    v3 AS (SELECT cp.i, sum(cp.c * v2.v) AS v
           FROM cp JOIN v2 ON v2.i = cp.j GROUP BY cp.i),
    pr AS (
      SELECT x.vec_id, x.label, sum(x.x * v3.v) AS pr
      FROM x JOIN v3 USING (i) GROUP BY x.vec_id, x.label
    )
    SELECT vec_id, label, CAST(pr AS VARCHAR) AS proj
    FROM pr
    ORDER BY abs(pr) DESC, vec_id
    LIMIT 50
    """,
)
def q_pca_power_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal component + top-|projection| documents
    (similarity.pca_top_component): exact-integer power iteration on
    the micro-unit scaled covariance — embedding analytics' drift /
    batch-effect axis finder, certified bit-exactly because every step
    is integer arithmetic (one corpus pair-expansion pass; 3
    unnormalized power steps on the driver's 64x64 bounded matrix; one
    broadcast projection pass; exact-decimal top-k ordering). The
    DuckDB twin replays the identical recurrence in HUGEINT, including
    Python floor-division semantics built from the floor-mod."""
    from gene_level_metadata_pipeline_spark.operators.similarity import (
        pca_top_component,
    )

    return pca_top_component(_t(spark, sf_dir, "embeddings"))


@_register(
    "dedup_set_similarity_exact",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    sizes AS (SELECT doc_id AS id, count(*) AS sz FROM sh GROUP BY doc_id),
    cand AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
    ),
    inter AS (
      SELECT c.a, c.b, count(*) AS inter_n
      FROM cand c
      JOIN sh ta ON ta.doc_id = c.a
      JOIN sh tb ON tb.doc_id = c.b AND tb.shingle = ta.shingle
      GROUP BY c.a, c.b
    )
    SELECT i.a, i.b, CAST(i.inter_n AS BIGINT) AS inter_n,
           CAST(sa.sz + sb.sz - i.inter_n AS BIGINT) AS union_n,
           CAST(i.inter_n * 1000000 // (sa.sz + sb.sz - i.inter_n)
                AS BIGINT) AS jac_e6
    FROM inter i
    JOIN sizes sa ON sa.id = i.a
    JOIN sizes sb ON sb.id = i.b
    WHERE 3 * i.inter_n >= sa.sz + sb.sz
    """,
)
def q_dedup_set_similarity_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered EXACT Jaccard>=0.5 self-join
    (dedup.set_similarity_join) over 3-word-shingle sets — the PPJoin
    point of the dedup design space: no false negatives (unlike the
    LSH families), no quadratic join (unlike the oracle). The oracle
    IS the quadratic join (all shingle-sharing pairs: 11.5k at sf0.01,
    1.13M at sf0.1, vs 25/256 true pairs), so the hash match is the
    prefix-filter theorem certified empirically: the rare-shingle
    prefix equi-join loses no qualifying pair. Exact integer predicate
    3i >= |a|+|b| end-to-end; word SETS were measured too corpus-
    homogeneous to discriminate (74% of doc pairs above 0.5 — shingles
    are the textbook input for a reason)."""
    from gene_level_metadata_pipeline_spark.operators.dedup import (
        set_similarity_join,
        word_shingles,
    )

    docs = _t(spark, sf_dir, "documents")
    sh = word_shingles(docs, text_col="text", id_col="doc_id", n=3)
    return set_similarity_join(
        sh, id_col="doc_id", token_col="shingle",
    )


def _winnow_fp_cte(k: int = 5, w: int = 4) -> str:
    """Shared oracle CTE chain replaying winnow_fingerprints exactly:
    normalized chars, k-gram md5 hex6 hashes, the packed
    (h * 2^31 + (2^31-1-pos)) single-bigint min over the w-window
    (= min hash, rightmost tie), full-window-or-short-doc validity."""
    d = "(strpos('0123456789abcdef', substring(md5(g), {i}, 1)) - 1)"
    hex6 = " * 16 + ".join(
        "(" * (i == 1) + d.format(i=i) for i in range(1, 7)
    )
    # fold the chain left-associatively: ((((d1*16+d2)*16+d3)...)
    expr = d.format(i=1)
    for i in range(2, 7):
        expr = f"({expr} * 16 + {d.format(i=i)})"
    base = 2 ** 31
    return f"""
    nrm AS (
      SELECT doc_id AS id,
             regexp_replace(lower(text), '[^a-z]', '', 'g') AS t
      FROM documents WHERE text IS NOT NULL
    ),
    ok AS (SELECT id, t FROM nrm WHERE length(t) >= {k}),
    grams AS (
      SELECT id, u.i - 1 AS pos, substring(t, u.i, {k}) AS g
      FROM ok, LATERAL (
        SELECT unnest(generate_series(1, length(t) - {k} + 1)) AS i
      ) u
    ),
    hashed AS (
      SELECT id, pos,
             CAST({expr} AS BIGINT) * {base} + ({base - 1} - pos) AS hp
      FROM grams
    ),
    starts AS (
      SELECT id, pos,
             min(hp) OVER win AS sel,
             count(*) OVER win AS cnt,
             count(*) OVER (PARTITION BY id) AS n
      FROM hashed
      WINDOW win AS (PARTITION BY id ORDER BY pos
                     ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING)
    ),
    fp AS (
      SELECT DISTINCT id, sel // {base} AS fp_hash,
             {base - 1} - (sel % {base}) AS fp_pos
      FROM starts WHERE cnt = {w} OR (pos = 0 AND n < {w})
    )"""


@_register(
    "winnow_fingerprints",
    oracle=f"""
    WITH {_winnow_fp_cte()}
    SELECT id AS doc_id,
           CAST(count(*) AS BIGINT) AS n_fp,
           CAST(sum(fp_hash) AS BIGINT) AS fp_sum,
           CAST(min(fp_hash) AS BIGINT) AS fp_min,
           CAST(max(fp_pos) AS BIGINT) AS max_pos
    FROM fp GROUP BY id
    """,
)
def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (textanalysis.winnow_fingerprints — the
    MOSS algorithm, Schleimer et al. 2003) over the documents table,
    reduced per doc to exact-integer evidence (count / sum / min of
    selected hashes, max position). The guarantee being certified: the
    window-min-rightmost-tie selection is replayed hash-for-hash in
    DuckDB via the SAME packed-bigint trick (h*2^31 + (2^31-1-pos), one
    min, exact div/mod decode), so the hash match certifies the whole
    selection geometry — window framing, tie rule, short-doc partial
    window — not just row counts."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        winnow_fingerprints,
    )

    docs = _t(spark, sf_dir, "documents")
    fp = winnow_fingerprints(docs, text_col="text", id_col="doc_id",
                             k=5, w=4)
    return fp.groupBy(F.col("id").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_fp"),
        F.sum("fp_hash").cast("bigint").alias("fp_sum"),
        F.min("fp_hash").cast("bigint").alias("fp_min"),
        F.max("fp_pos").cast("bigint").alias("max_pos"),
    )


@_register(
    "winnow_overlap_pairs",
    oracle=f"""
    WITH {_winnow_fp_cte()},
    by_hash AS (SELECT DISTINCT id, fp_hash FROM fp),
    dfc AS (
      -- effective cap = min(ceiling 2000, max(floor 20, 4% of docs)):
      -- replays winnow_overlap_pairs(max_df=20, max_df_frac_e6=40000,
      -- max_df_ceiling=2000) exactly — one distinct count + exact
      -- integer arithmetic. The ceiling leaves every certified tier
      -- bit-identical (eff = 20 / 200 / 2000 at sf0.01 / sf0.1 / 10x)
      -- and bounds per-hash pair fan-out by a CONSTANT beyond that.
      SELECT fp_hash FROM by_hash GROUP BY fp_hash
      HAVING count(*) <= least(2000, greatest(
        20,
        (SELECT count(DISTINCT id) FROM by_hash) * 40000 // 1000000
      ))
    ),
    kept AS (SELECT b.id, b.fp_hash FROM by_hash b JOIN dfc USING (fp_hash))
    SELECT x.id AS a, y.id AS b, CAST(count(*) AS BIGINT) AS shared_fp
    FROM kept x JOIN kept y
      ON x.fp_hash = y.fp_hash AND x.id < y.id
    GROUP BY x.id, y.id
    HAVING count(*) >= 5
    """,
)
def q_winnow_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style match report (textanalysis.winnow_overlap_pairs):
    document pairs sharing >= 5 distinct winnowed fingerprint hashes,
    boilerplate-guarded by the deterministic CORPUS-PROPORTIONAL hash
    df cap — max(20, 4% of counted docs) — replayed bit-for-bit by the
    oracle (exact document frequency + one distinct count, the LSH
    bucket-cap discipline with none of its sampling). The winnowing
    theorem makes this the guarantee-carrying near-dup screen: any
    shared substring of >= w+k-1 = 8 normalized chars forces a shared
    fingerprint, so a qualifying plagiarized span cannot evade the
    join. Thresholds tuned on the corpus's measured hash-df
    distribution (median 8, p99 110, max 394 at sf0.01): at 500 docs
    the effective cap is the absolute floor 20 (keeps the
    discriminative majority, cuts the boilerplate tail; >= 5 shared
    yields 43 pairs — selective output, not the 58k near-quadratic
    blob the untuned (50, 3) setting produced). The FRACTIONAL form is
    the wired default (VERDICT r8 item 1) because boilerplate df is
    extensive in corpus size: the r8 10x sweep MEASURED the fixed
    max_df=20 policy's pair yield going to ZERO at sf1-equivalent
    (every replica-shared hash's df decupled past the cap), while 4%
    of docs tracks the df distribution's shift and keeps the match
    report populated at every scale. The CEILING (2000, r9) is the
    third leg: a hash at a purely fractional cap joins (4% of n)^2
    pairs, quadratic in corpus size again — the clamp restores a
    constant per-hash fan-out bound while leaving every certified tier
    bit-identical (the effective cap is 20 / 200 / 2000 at sf0.01 /
    sf0.1 / 10x with or without it)."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        winnow_fingerprints,
        winnow_overlap_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    fp = winnow_fingerprints(docs, text_col="text", id_col="doc_id",
                             k=5, w=4)
    return winnow_overlap_pairs(
        fp, min_shared=5, max_df=20, max_df_frac_e6=40_000,
        max_df_ceiling=2_000,
    )


@_register(
    "dedup_threshold_curve",
    oracle="""
    WITH docs10 AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
    ),
    sh AS (
      -- mirror word_shingles(n=1): split on single space, DISTINCT,
      -- no lowercasing, empty tokens KEPT (Spark split semantics)
      SELECT DISTINCT doc_id, w AS shingle
      FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM docs10
      )
    ),
    sizes AS (SELECT doc_id AS id, count(*) AS sz FROM sh GROUP BY doc_id),
    cand AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
    ),
    inter AS (
      SELECT c.a, c.b, count(*) AS inter_n
      FROM cand c
      JOIN sh ta ON ta.doc_id = c.a
      JOIN sh tb ON tb.doc_id = c.b AND tb.shingle = ta.shingle
      GROUP BY c.a, c.b
    ),
    jac AS (
      SELECT CAST(i.inter_n * 1000000 // (sa.sz + sb.sz - i.inter_n)
                  AS BIGINT) AS jac_e6
      FROM inter i
      JOIN sizes sa ON sa.id = i.a
      JOIN sizes sb ON sb.id = i.b
      WHERE 3 * i.inter_n >= sa.sz + sb.sz
    ),
    bucketed AS (
      SELECT (jac_e6 - jac_e6 % 100000) AS bucket_lo_e6,
             count(*) AS n_pairs
      FROM jac GROUP BY 1
    )
    SELECT bucket_lo_e6, CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(sum(n_pairs) OVER (ORDER BY bucket_lo_e6 DESC)
                AS BIGINT) AS cum_pairs_ge
    FROM bucketed
    """,
)
def q_dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup POLICY curve: qualifying-pair counts per Jaccard decile
    (bucket floor at e6 fixed point) with the cumulative
    pairs-at-or-above count — the one-pass answer to "what does each
    threshold cost me?" that every dedup rollout tunes against. Uses
    word-SET Jaccard (1-shingles — the corpus is homogeneous enough
    there to populate six deciles, exactly why the curve is worth
    plotting before picking a threshold) over a DETERMINISTIC 1-in-10
    document sample (doc_id % 10 — id-stable, so both engines see the
    identical subset): estimating the threshold curve on a sample is
    the standard policy-tuning move, and it bounds the pair volume to
    (|docs|/10)^2 at every scale instead of letting the diagnostic
    outgrow the dedup it tunes. Every decile >= 0.5 is EXACT via the
    prefix-filtered set-similarity join (no false negatives above the
    floor); the oracle replays the quadratic truth and the cumulative
    window."""
    from gene_level_metadata_pipeline_spark.operators.dedup import (
        set_similarity_join,
        word_shingles,
    )
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents").where(
        F.col("doc_id") % 10 == 0
    )
    sh = word_shingles(docs, text_col="text", id_col="doc_id", n=1)
    pairs = set_similarity_join(
        sh, id_col="doc_id", token_col="shingle",
    )
    bucketed = pairs.groupBy(
        (F.col("jac_e6") - F.pmod("jac_e6", F.lit(100000)))
        .alias("bucket_lo_e6")
    ).agg(F.count(F.lit(1)).alias("n_pairs"))
    w = Window.orderBy(F.desc("bucket_lo_e6")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return bucketed.select(
        "bucket_lo_e6",
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        F.sum("n_pairs").over(w).cast("bigint").alias("cum_pairs_ge"),
    )


# 44-byte canonical PCM WAV header for 8 mono 16-bit samples @ 8 kHz —
# constant because the synthesized signal is fixed-length; only the 16
# data bytes vary per row. Layout: RIFF/52/WAVE fmt/16/PCM/1ch/8000Hz/
# 16000Bps/align2/16bit data/16.
_WAV8_HEADER_HEX = (
    "52494646" "34000000" "57415645" "666d7420" "10000000"
    "0100" "0100" "401f0000" "803e0000" "0200" "1000"
    "64617461" "10000000"
)


@_register(
    "audio_wav_decode",
    oracle="""
    WITH s AS (
      SELECT doc_id, u.i,
             ((doc_id * (u.i + 1)) % 200 + 200) % 200 - 100 AS v
      FROM documents,
           LATERAL (SELECT unnest(generate_series(0, 7)) AS i) u
    )
    SELECT doc_id,
           8000 AS sample_rate,
           1 AS n_channels,
           CAST(8 AS BIGINT) AS n_frames,
           CAST(max(abs(v)) AS INTEGER) AS peak,
           CAST(sum(v * (i + 1)) AS BIGINT) AS head_checksum
    FROM s GROUP BY doc_id
    """,
)
def q_audio_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-codec multimodal certification (multimodal.decode_audio):
    a valid RIFF/PCM WAV file is constructed PER ROW in pure Catalyst
    (constant 44-byte header + 16 data bytes of little-endian
    two's-complement int16 samples derived from doc_id — unhex/concat
    binary expressions, zero Python), decoded by the stdlib `wave`
    parser inside the Arrow mapInPandas stage, and the decoded header
    fields + signal features are hash-matched against an oracle that
    never sees a WAV at all — it predicts what the decoder MUST output
    from the same integer arithmetic. A decoder bug (endianness, header
    offset, sign handling) or a byte-construction bug on either side
    breaks the hash; this upgrades the audio modality from
    unit-tested to oracle-certified. One narrow projection + one
    Arrow batch stage; payload dropped at decode (featurize-then-drop
    discipline)."""
    from gene_level_metadata_pipeline_spark.operators.multimodal import (
        decode_audio,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    # s_i = pmod(doc_id*(i+1), 200) - 100 for i in 0..7, as LE16 hex
    sample_hex = []
    for i in range(8):
        v = F.pmod(F.col("doc_id") * (i + 1), F.lit(200)) - 100
        tc = F.pmod(v, F.lit(65536)).cast("bigint")     # two's complement
        h4 = F.lpad(F.lower(F.conv(tc, 10, 16)), 4, "0")
        sample_hex.append(F.concat(F.substring(h4, 3, 2),
                                   F.substring(h4, 1, 2)))
    payload = F.concat(
        F.unhex(F.lit(_WAV8_HEADER_HEX)),
        F.unhex(F.concat(*sample_hex)),
    )
    wav = docs.select("doc_id", payload.alias("payload"))
    dec = decode_audio(wav, payload_col="payload", codec="wav")
    return dec.select(
        "doc_id", "sample_rate", "n_channels",
        "n_frames",
        "peak",
        F.aggregate(
            F.zip_with(
                F.col("head_samples"),
                F.sequence(F.lit(1), F.lit(8)),
                lambda s, i: s.cast("bigint") * i.cast("bigint"),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("head_checksum"),
    )


@_register(
    "rbh_mutual_nn",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id % 17 = 0),
    c AS (SELECT vec_id AS corpus_id, e AS ce FROM v WHERE vec_id % 17 <> 0),
    scored AS (
      SELECT q.query_id, c.corpus_id,
             round({_COS.format(a='q.qe', b='c.ce')}, 4) AS cos_sim
      FROM q CROSS JOIN c
    ),
    bq AS (
      SELECT query_id, corpus_id, cos_sim, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, corpus_id
      ) AS rn FROM scored
    ),
    bc AS (
      SELECT query_id, corpus_id, row_number() OVER (
        PARTITION BY corpus_id ORDER BY cos_sim DESC, query_id
      ) AS rn FROM scored
    )
    SELECT b1.query_id, b1.corpus_id, b1.cos_sim
    FROM (SELECT * FROM bq WHERE rn = 1) b1
    JOIN (SELECT * FROM bc WHERE rn = 1) b2
      ON b1.query_id = b2.query_id AND b1.corpus_id = b2.corpus_id
    """,
)
def q_rbh_mutual_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal best hits (similarity.reciprocal_best_hits): mutual
    1-NN pairs between a probe panel (every 17th embedding) and the
    rest of the corpus — the ortholog-calling criterion of the
    reference's biology domain (mutual best BLAST hit) lifted to
    embedding cosine. One corpus scan (panel broadcast), two max_by
    hash aggregates, no corpus self-join and no corpus-wide window;
    the oracle independently takes both argmax directions with windows
    and intersects."""
    from gene_level_metadata_pipeline_spark.operators.similarity import (
        reciprocal_best_hits,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return reciprocal_best_hits(
        emb.where(F.col("vec_id") % 17 == 0),
        emb.where(F.col("vec_id") % 17 != 0),
    )


@_register(
    "kneser_ney_bigram_lm",
    oracle="""
    WITH toks AS (
      SELECT list_filter(string_split(text, ' '), w -> w <> '') AS a
      FROM documents
      WHERE text IS NOT NULL
    ),
    bg AS (
      SELECT a[i - 1] AS w1, a[i] AS w2
      FROM toks, LATERAL (
        SELECT unnest(generate_series(2, len(a))) AS i
      ) u
      WHERE len(a) >= 2
    ),
    c12 AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2
    ),
    c1 AS (
      SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
             CAST(count(*) AS BIGINT) AS nfol
      FROM c12 GROUP BY 1
    ),
    cw2 AS (
      SELECT w2, CAST(count(*) AS BIGINT) AS nprec FROM c12 GROUP BY 1
    ),
    tt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM c12)
    SELECT c12.w1, c12.w2, c12.c12,
           CAST(
             (CAST(greatest(4 * c12.c12 - 3, 0) AS HUGEINT) * t
              + CAST(3 AS HUGEINT) * nfol * nprec)
             * CAST(1000000000000 AS HUGEINT)
             // (CAST(4 AS HUGEINT) * c1 * t)
           AS BIGINT) AS p_kn_e12
    FROM c12
    JOIN c1 ON c12.w1 = c1.w1
    JOIN cw2 ON c12.w2 = cw2.w2
    CROSS JOIN tt
    WHERE c12.c12 >= 5
    """,
)
def q_kneser_ney_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM (textanalysis.kneser_ney_bigram)
    trained on the documents corpus with rational discount 3/4 — the
    continuation-count smoother behind every serious n-gram LM
    (KenLM-style perplexity filtering at corpus scale), here in exact
    DECIMAL(38,0) fixed point so the ENTIRE trained model hash-matches
    the oracle's HUGEINT replay. One corpus pass for bigram counts;
    everything downstream is aggregates of the vocabulary²-bounded
    count table; T rides a broadcast 1-row frame."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        kneser_ney_bigram,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return kneser_ney_bigram(
        docs, text_col="text", id_col="doc_id", min_count=5
    )


# 54-byte canonical 2x2 24-bit BI_RGB bottom-up BMP header (14-byte file
# header + 40-byte BITMAPINFOHEADER): BM / filesize 70 / offset 54 /
# hdr 40 / w 2 / h 2 / planes 1 / bpp 24 / BI_RGB / image size 16.
_BMP2X2_HEADER_HEX = (
    "424d" "46000000" "00000000" "36000000"
    "28000000" "02000000" "02000000" "0100" "1800"
    "00000000" "10000000" "00000000" "00000000" "00000000" "00000000"
)


@_register(
    "image_bmp_decode",
    oracle="""
    WITH s AS (
      SELECT doc_id, u.p,
             (299 * ((doc_id * (3 * u.p + 1)) % 256)
              + 587 * ((doc_id * (3 * u.p + 2)) % 256)
              + 114 * ((doc_id * (3 * u.p + 3)) % 256)) // 1000 AS luma
      FROM documents,
           LATERAL (SELECT unnest(generate_series(0, 3)) AS p) u
    )
    SELECT doc_id, 2 AS width, 2 AS height, 'bmp24' AS mode,
           CAST(count(*) AS INTEGER) AS n_px,
           CAST(sum((p + 1) * luma) AS BIGINT) AS luma_checksum
    FROM s GROUP BY doc_id
    """,
)
def q_image_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-codec image certification (multimodal.decode_image
    codec='bmp' — the audio_wav_decode discipline applied to the image
    modality): a valid 2x2 24-bit BI_RGB bottom-up BMP is built PER ROW
    in pure Catalyst (constant 54-byte header + 16 pixel-section bytes
    with BGR channels from doc_id arithmetic, rows stored bottom-up
    with 2-byte stride padding), parsed by the pure-stdlib struct
    decoder in the Arrow stage (which must honor the pixel offset,
    un-flip the bottom-up rows, read BGR order, and apply the exact
    integer luma), and hash-matched against an oracle that never sees
    a BMP — it predicts the decoder's mandatory luma output from the
    same arithmetic. Any header-offset / stride / channel-order /
    row-flip bug on either side breaks the hash."""
    from gene_level_metadata_pipeline_spark.operators.multimodal import (
        decode_image,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def _bhex(v):
        return F.lpad(
            F.lower(F.conv(F.pmod(v, F.lit(256)).cast("bigint"), 10, 16)),
            2, "0",
        )

    d = F.col("doc_id")
    parts = []
    for row_p in ((2, 3), (0, 1)):  # bottom-up: top-down row 1 first
        for p in row_p:
            parts.extend([
                _bhex(d * (3 * p + 3)),   # B
                _bhex(d * (3 * p + 2)),   # G
                _bhex(d * (3 * p + 1)),   # R
            ])
        parts.append(F.lit("0000"))       # 4-byte stride padding
    payload = F.concat(
        F.unhex(F.lit(_BMP2X2_HEADER_HEX)),
        F.unhex(F.concat(*parts)),
    )
    bmp = docs.select("doc_id", payload.alias("payload"))
    dec = decode_image(bmp, payload_col="payload", codec="bmp")
    return dec.select(
        "doc_id", "width", "height", "mode",
        F.size("pixels").alias("n_px"),
        F.aggregate(
            F.zip_with(
                F.col("pixels"),
                F.sequence(F.lit(1), F.lit(4)),
                lambda s, i: s.cast("bigint") * i.cast("bigint"),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("luma_checksum"),
    )


# Constant PNG scaffolding for a 2x2 8-bit grayscale image: signature +
# IHDR chunk (w=2, h=2, depth 8, color type 0, no interlace; CRC is a
# constant of those bytes), the IDAT length field (the zlib stream is
# always 17 bytes: 2 header + 5 stored-block prefix + 6 raw scanline
# bytes + 4 adler), the zlib stored-block prefix (78 01 | BFINAL=1
# BTYPE=00 | LEN=6 LE | NLEN=~6), and the constant IEND chunk.
_PNG_SIG_IHDR_HEX = (
    "89504e470d0a1a0a"
    "0000000d" "49484452" "00000002" "00000002" "08" "00" "00" "00" "00"
    "57dd52f8"
)
_PNG_IDAT_LEN_HEX = "00000011"
_PNG_ZLIB_STORED_HEX = "7801010600f9ff"
_PNG_IEND_HEX = "0000000049454e44ae426082"


@_register(
    "image_png_decode",
    oracle="""
    WITH s AS (
      SELECT doc_id, u.p, (doc_id * (u.p + 1)) % 256 AS r
      FROM documents,
           LATERAL (SELECT unnest(generate_series(0, 3)) AS p) u
    ),
    w AS (
      SELECT doc_id,
             max(CASE WHEN p = 0 THEN r END) AS r0,
             max(CASE WHEN p = 1 THEN r END) AS r1,
             max(CASE WHEN p = 2 THEN r END) AS r2,
             max(CASE WHEN p = 3 THEN r END) AS r3
      FROM s GROUP BY doc_id
    ),
    px AS (
      SELECT doc_id, r0 AS p0, (r1 + r0) % 256 AS p1,
             (r2 + r0) % 256 AS p2,
             (r3 + (r1 + r0) % 256) % 256 AS p3
      FROM w
    )
    SELECT doc_id, 2 AS width, 2 AS height, 'png-gray8' AS mode,
           CAST(4 AS INTEGER) AS n_px,
           CAST(p0 + 2 * p1 + 3 * p2 + 4 * p3 AS BIGINT) AS px_checksum
    FROM px
    """,
)
def q_image_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THIRD real codec certification (multimodal.decode_image
    codec='png', r8 — VERDICT r7 task 6): a VALID PNG is built per row
    in pure Catalyst — constant signature/IHDR/IEND, a zlib stream
    whose DEFLATE payload is a STORED (uncompressed) block so the
    scanline bytes are constructible by integer arithmetic, the
    varying adler32 computed in-plan from its closed form
    (a = 4 + Σr mod 65521; b = 18 + 5r0+4r1+2r2+r3 mod 65521), and the
    IDAT chunk CRC from Spark's built-in crc32 — then parsed by the
    pure-stdlib zlib decoder in the Arrow stage, which must verify
    every chunk CRC, inflate, and UN-FILTER the scanlines (row 0 uses
    filter 1/Sub, row 1 filter 2/Up — chosen so a decoder that skips
    reconstruction cannot hash-match). The oracle never sees a byte:
    it replays the filter reconstruction arithmetically
    (p0=r0, p1=(r1+p0)%256, p2=(r2+p0)%256, p3=(r3+p1)%256). Any
    CRC/adler/stored-block/filter bug on EITHER side breaks the hash.
    """
    from gene_level_metadata_pipeline_spark.operators.multimodal import (
        decode_image,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    raw = [F.pmod(d * (p + 1), F.lit(256)).cast("bigint") for p in range(4)]

    def _bhex(v):
        return F.lpad(F.lower(F.conv(v, 10, 16)), 2, "0")

    # raw scanlines: row 0 = [filter 1/Sub, r0, r1], row 1 = [2/Up, r2, r3]
    data_hex = F.concat(
        F.lit("01"), _bhex(raw[0]), _bhex(raw[1]),
        F.lit("02"), _bhex(raw[2]), _bhex(raw[3]),
    )
    a = F.pmod(F.lit(4) + raw[0] + raw[1] + raw[2] + raw[3], F.lit(65521))
    bsum = F.pmod(
        F.lit(18) + 5 * raw[0] + 4 * raw[1] + 2 * raw[2] + raw[3],
        F.lit(65521),
    )
    adler_hex = F.lpad(
        F.lower(F.conv((bsum * 65536 + a).cast("bigint"), 10, 16)), 8, "0"
    )
    zs = F.concat(
        F.unhex(F.lit(_PNG_ZLIB_STORED_HEX)),
        F.unhex(data_hex),
        F.unhex(adler_hex),
    )
    idat_body = F.concat(F.unhex(F.lit("49444154")), zs)  # "IDAT" + stream
    crc_hex = F.lpad(F.lower(F.conv(F.crc32(idat_body), 10, 16)), 8, "0")
    payload = F.concat(
        F.unhex(F.lit(_PNG_SIG_IHDR_HEX)),
        F.unhex(F.lit(_PNG_IDAT_LEN_HEX)),
        idat_body,
        F.unhex(crc_hex),
        F.unhex(F.lit(_PNG_IEND_HEX)),
    )
    png = docs.select("doc_id", payload.alias("payload"))
    dec = decode_image(png, payload_col="payload", codec="png")
    return dec.select(
        "doc_id", "width", "height", "mode",
        F.size("pixels").alias("n_px"),
        F.aggregate(
            F.zip_with(
                F.col("pixels"),
                F.sequence(F.lit(1), F.lit(4)),
                lambda s, i: s.cast("bigint") * i.cast("bigint"),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("px_checksum"),
    )


# Constant JPEG scaffolding for an 8x16 (h x w) 8-bit grayscale
# baseline image, two horizontal MCUs: SOI; DQT (table 0, all 16s —
# q[0]=16 makes the DC-only IDCT exact: pixel = 128 + 2*DC); SOF0
# (precision 8, h=8, w=16, 1 component, 1x1 sampling, quant 0); DHT DC
# (CUSTOM canonical table: 2 codes of length 2, HUFFVAL [1, 4], so
# category 4 = '01' and category 1 = '00' — the decoder must rebuild
# canonical codes from BITS/HUFFVAL, nothing is hardcodable); DHT AC
# (1 code of length 2: EOB = '00'); SOS. The entropy segment is TWO
# varying bytes (see the query), then EOI.
_JPEG_HDR_HEX = (
    "ffd8"
    "ffdb" "0043" "00" + "10" * 64 +
    "ffc0" "000b" "08" "0008" "0010" "01" "01" "11" "00" +
    "ffc4" "0015" "00" "0002" + "00" * 14 + "0104" +
    "ffc4" "0014" "10" "0001" + "00" * 14 + "00" +
    "ffda" "0008" "01" "01" "00" "00" "3f" "00"
)


@_register(
    "image_jpeg_decode",
    oracle="""
    WITH v AS (
      SELECT doc_id,
             doc_id % 8 + 8 AS v1,
             (doc_id // 8) % 2 AS b
      FROM documents
    )
    SELECT doc_id, 16 AS width, 8 AS height, 'jpeg-gray8' AS mode,
           CAST(128 AS INTEGER) AS n_px,
           CAST(3872 * (128 + 2 * v1)
                + 4384 * (128 + 2 * (v1 + 2 * b - 1))
                AS BIGINT) AS px_checksum
    FROM v
    """,
)
def q_image_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FOURTH real codec certification (multimodal.decode_image
    codec='jpeg', r9 — VERDICT r8 item 5, the gate PIL used to hold):
    a VALID baseline-sequential JPEG is built per row in pure Catalyst
    — constant DQT/SOF0/DHT/SOS scaffolding plus a TWO-BYTE varying
    entropy segment. Block 1 encodes DC diff v1 = doc_id%8 + 8
    (category 4 under the custom canonical DC table: code '01' + 4
    value bits + EOB '00' = exactly one byte, 0x60 + 4*(doc_id%8));
    block 2 encodes DC diff ±1 (category 1: '00' + sign bit + EOB +
    '111' padding = 0x07 + 0x20*b). The decoder must walk the markers,
    rebuild BOTH canonical Huffman tables from their DHT BITS/HUFFVAL,
    decode two blocks with DC PREDICTION across them (DC2 = v1 ± 1),
    dequantize (q00=16 → IDCT exactly 2·DC), level-shift, and place
    the blocks at the right MCU columns — the position-weighted
    checksum (3872·left + 4384·right) breaks on any swap. The oracle
    never sees a byte: it predicts both flat block values
    arithmetically. All-AC, ZRL, restart-marker, stuffing, and
    3-component paths are certified by tests/test_jpeg_decode.py
    against an independent-IDCT encoder the decoder has never seen."""
    from gene_level_metadata_pipeline_spark.operators.multimodal import (
        decode_image,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")

    def _bhex(v):
        return F.lpad(F.lower(F.conv(v.cast("bigint"), 10, 16)), 2, "0")

    byte1 = F.lit(0x60) + F.lit(4) * F.pmod(d, F.lit(8))
    byte2 = F.lit(0x07) + F.lit(0x20) * F.pmod(
        F.floor(d / F.lit(8)).cast("bigint"), F.lit(2)
    )
    payload = F.concat(
        F.unhex(F.lit(_JPEG_HDR_HEX)),
        F.unhex(F.concat(_bhex(byte1), _bhex(byte2))),
        F.unhex(F.lit("ffd9")),
    )
    jpg = docs.select("doc_id", payload.alias("payload"))
    dec = decode_image(jpg, payload_col="payload", codec="jpeg")
    return dec.select(
        "doc_id", "width", "height", "mode",
        F.size("pixels").alias("n_px"),
        F.aggregate(
            F.zip_with(
                F.col("pixels"),
                F.sequence(F.lit(1), F.lit(128)),
                lambda s, i: s.cast("bigint") * i.cast("bigint"),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("px_checksum"),
    )


# Constant RIFF/AVI scaffolding for a 3-frame Motion-JPEG video whose
# frames are the 143-byte varying JPEGs above: RIFF header (size 548),
# a minimal LIST hdrl with a 56-byte avih (3 frames, 16x8), and the
# LIST movi header (body 460 = 4 + 3 x (8-byte '00dc' chunk header +
# 143-byte JPEG + 1 pad byte for RIFF word alignment)).
_AVI_PREFIX_HEX = (
    "5249464624020000415649204c495354440000006864726c61766968380000003582"
    "0000000000000000000010000000030000000000000001000000000000001000000008"
    "000000000000000000000000000000000000004c495354cc0100006d6f7669"
)
_AVI_CHUNK_HDR_HEX = "303064638f000000"  # '00dc' + LE32(143)


@_register(
    "video_mjpeg_frames",
    oracle="""
    WITH f AS (
      SELECT doc_id, u.k AS frame_idx, doc_id + 7 * u.k AS s
      FROM documents, (SELECT unnest([0, 2]) AS k) u
    )
    SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           16 AS width, 8 AS height, 'jpeg-gray8' AS mode,
           CAST(128 AS INTEGER) AS n_px,
           CAST(3872 * (128 + 2 * (s % 8 + 8))
                + 4384 * (128 + 2 * ((s % 8 + 8) + 2 * ((s // 8) % 2) - 1))
                AS BIGINT) AS px_checksum
    FROM f
    """,
)
def q_video_mjpeg_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video path certification (multimodal.sample_frames
    codec='mjpeg-avi', r9): a VALID 3-frame Motion-JPEG AVI is built
    per row in pure Catalyst — constant RIFF/hdrl/movi scaffolding with
    word-aligned '00dc' chunks, each holding the 143-byte two-block
    JPEG of image_jpeg_decode seeded s_k = doc_id + 7k, so every frame
    differs. sample_frames must walk the RIFF chunk tree (sizes +
    alignment), recurse into the movi LIST, collect the stream-0 video
    chunks, take every 2nd frame (indices 0 and 2 — index arithmetic on
    the CHUNK sequence, not byte offsets), and decode each through the
    shared baseline-JPEG core. One input row fans out to two decoded
    frame rows; the oracle predicts both checksums arithmetically and
    never sees a byte. Frame 1 is deliberately ENCODED but never
    decoded — a parser that decodes positionally instead of by chunk
    walk, or samples by byte stride, breaks the hash. MJPEG is the
    honest first real video codec (a JPEG per frame, no inter-frame
    prediction); H.264-class codecs stay behind the documented ffmpeg
    gate."""
    from gene_level_metadata_pipeline_spark.operators.multimodal import (
        sample_frames,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")

    def _bhex(v):
        return F.lpad(F.lower(F.conv(v.cast("bigint"), 10, 16)), 2, "0")

    def _jpeg(seed):
        byte1 = F.lit(0x60) + F.lit(4) * F.pmod(seed, F.lit(8))
        byte2 = F.lit(0x07) + F.lit(0x20) * F.pmod(
            F.floor(seed / F.lit(8)).cast("bigint"), F.lit(2)
        )
        return F.concat(
            F.unhex(F.lit(_JPEG_HDR_HEX)),
            F.unhex(F.concat(_bhex(byte1), _bhex(byte2))),
            F.unhex(F.lit("ffd9")),
        )

    payload = F.concat(
        F.unhex(F.lit(_AVI_PREFIX_HEX)),
        *[
            F.concat(
                F.unhex(F.lit(_AVI_CHUNK_HDR_HEX)),
                _jpeg(d + F.lit(7 * k)),
                F.unhex(F.lit("00")),  # word-alignment pad
            )
            for k in range(3)
        ],
    )
    avi = docs.select("doc_id", payload.alias("payload"))
    dec = sample_frames(avi, every_n=2, codec="mjpeg-avi")
    return dec.select(
        "doc_id", "frame_idx", "width", "height", "mode",
        F.size("pixels").alias("n_px"),
        F.aggregate(
            F.zip_with(
                F.col("pixels"),
                F.sequence(F.lit(1), F.lit(128)),
                lambda s, i: s.cast("bigint") * i.cast("bigint"),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("px_checksum"),
    )


@_register(
    "repeated_substring_spans",
    oracle="""
    WITH g AS (
      SELECT doc_id AS id, u.p, md5(substr(text, u.p, 20)) AS h
      FROM documents,
           LATERAL (
             SELECT unnest(generate_series(1, len(text) - 19)) AS p
           ) u
      WHERE text IS NOT NULL AND len(text) >= 20
    ),
    dup AS (
      SELECT h FROM g GROUP BY h HAVING min(id) <> max(id)
    ),
    m AS (SELECT g.id, g.p FROM g JOIN dup ON g.h = dup.h),
    isl AS (
      SELECT id, p,
             CASE WHEN p > coalesce(max(p + 19) OVER (
                    PARTITION BY id ORDER BY p
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ), -1) + 1 THEN 1 ELSE 0 END AS nw
      FROM m
    ),
    grp AS (
      SELECT id, p,
             sum(nw) OVER (
               PARTITION BY id ORDER BY p
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS g_id
      FROM isl
    )
    SELECT id, CAST(min(p) AS BIGINT) AS span_start,
           CAST(max(p) + 19 AS BIGINT) AS span_end,
           CAST(max(p) + 19 - min(p) + 1 AS BIGINT) AS span_len
    FROM grp GROUP BY id, g_id
    """,
)
def q_repeated_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact arbitrary-alignment repeated-substring spans
    (dedup.repeated_substring_spans, the Lee et al. exact-substring
    dedup criterion): every 20-char rolling gram hashed, grams present
    in >= 2 distinct documents mark positions, marked windows merge to
    maximal spans per document — catches the 1-char-shifted copies the
    chunk-fingerprint detector (substring_dup_spans) structurally
    misses. Thin (id, pos, hash) shuffle, min<>max duplicate test (no
    count-distinct state), per-document merge windows; the oracle
    replays grams, duplicate test, and the interval-union windows."""
    from gene_level_metadata_pipeline_spark.operators.dedup import (
        repeated_substring_spans,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return repeated_substring_spans(
        docs, text_col="text", id_col="doc_id", gram_len=20
    )


def _lr_cv_oracle(k: int = 3, rounds: int = 3, n: int = 16,
                  lr: str = "0.001", positive: str = "en") -> str:
    """K-fold cross-validation twin of _lr_oracle: the SHARED feature /
    label CTEs once, then per fold an independent unrolled GD replay
    trained on doc_id % k <> f and scored on doc_id % k = f (inner
    join against trained buckets = weight-0 for unseen buckets, the
    linear_classifier_score contract), reduced to per-fold accuracy."""
    hexd = "0123456789abcdef"
    ctes = [
        f"""wrd AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      FROM documents WHERE text IS NOT NULL
    ),
    fh AS (
      SELECT doc_id,
             ((strpos('{hexd}', substring(md5(w), 1, 1)) - 1) * 16
              + strpos('{hexd}', substring(md5(w), 2, 1)) - 1)
               % {n} AS bucket,
             CASE WHEN strpos('{hexd}', substring(md5(w), 3, 1)) - 1 < 8
                  THEN 1 ELSE -1 END AS s
      FROM wrd
    ),
    feats AS (
      SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
             CAST(CAST(sum(s) AS BIGINT) AS DECIMAL(12,0)) AS val
      FROM fh GROUP BY doc_id, bucket
    ),
    lab AS (
      SELECT doc_id,
             CAST(CASE WHEN lang = '{positive}' THEN 1 ELSE 0 END
                  AS DECIMAL(2,0)) AS y
      FROM documents WHERE text IS NOT NULL
    ),
    yall AS (
      SELECT doc_id,
             CASE WHEN lang = '{positive}' THEN 1 ELSE 0 END AS y
      FROM documents
    )"""
    ]
    sig = ("CAST(least(greatest(CAST(0.5 AS DECIMAL(2,1)) + {z} "
           "* CAST(0.25 AS DECIMAL(3,2)), CAST(0 AS DECIMAL(29,14))), "
           "CAST(1 AS DECIMAL(29,14))) AS DECIMAL(16,14))")
    fold_sel = []
    for f in range(k):
        ctes.append(
            f"""f{f}w0 AS (SELECT DISTINCT bucket,
           CAST(0 AS DECIMAL(24,12)) AS w
      FROM feats WHERE doc_id % {k} <> {f})"""
        )
        for r in range(1, rounds + 1):
            ctes.append(
                f"""f{f}z{r} AS (
      SELECT ft.doc_id, CAST(sum(w.w * ft.val) AS DECIMAL(24,12)) AS z
      FROM feats ft JOIN f{f}w{r - 1} w USING (bucket)
      WHERE ft.doc_id % {k} <> {f} GROUP BY ft.doc_id
    ),
    f{f}p{r} AS (SELECT doc_id, {sig.format(z='z')} AS p FROM f{f}z{r}),
    f{f}g{r} AS (
      SELECT ft.bucket,
             CAST(round(sum((lab.y - p.p) * ft.val), 12)
                  AS DECIMAL(24,12)) AS g
      FROM feats ft JOIN f{f}p{r} p USING (doc_id) JOIN lab USING (doc_id)
      GROUP BY ft.bucket
    ),
    f{f}w{r} AS (
      SELECT w.bucket,
             CAST(round(w.w + CAST({lr} AS DECIMAL(4,3)) * g.g, 12)
                  AS DECIMAL(24,12)) AS w
      FROM f{f}w{r - 1} w JOIN f{f}g{r} g USING (bucket)
    )"""
            )
        zc = "COALESCE(z.z, CAST(0 AS DECIMAL(24,12)))"
        ctes.append(
            f"""f{f}zf AS (
      SELECT ft.doc_id, CAST(sum(w.w * ft.val) AS DECIMAL(24,12)) AS z
      FROM feats ft JOIN f{f}w{rounds} w USING (bucket)
      WHERE ft.doc_id % {k} = {f} GROUP BY ft.doc_id
    ),
    f{f}sc AS (
      SELECT d.doc_id, y.y,
             CASE WHEN {sig.format(z=zc)} >= CAST(0.5 AS DECIMAL(2,1))
                  THEN 1 ELSE 0 END AS pred
      FROM (SELECT doc_id FROM documents WHERE doc_id % {k} = {f}) d
      LEFT JOIN f{f}zf z USING (doc_id)
      JOIN yall y USING (doc_id)
    )"""
        )
        fold_sel.append(
            f"""SELECT CAST({f} AS BIGINT) AS fold,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN pred = y THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct
    FROM f{f}sc"""
        )
    unions = " UNION ALL ".join(fold_sel)
    return f"""
    WITH {','.join(ctes)},
    per_fold AS ({unions})
    SELECT fold, n_test, n_correct,
           n_correct * 1000000 // n_test AS acc_e6
    FROM per_fold
    """


@_register("classifier_cv_accuracy", oracle=_lr_cv_oracle())
def q_classifier_cv_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validated evaluation of the trained curation
    classifier — MODEL SELECTION inside the engine: 3 disjoint
    deterministic folds (doc_id % 3), each fold's model trained by 3
    exact-DECIMAL GD rounds on the other two folds
    (textanalysis.linear_classifier_train) and scored on its held-out
    fold, reduced to per-fold exact accuracy (floored e6). The oracle
    unrolls ALL THREE training runs (9 GD rounds of CTE quartets) plus
    the held-out scoring joins — the entire cross-validation loop is
    hash-certified, which is the strongest form of 'the engine can
    evaluate the models it trains'. Per fold: 2 shuffles per GD round
    on the TRAIN slice + one broadcast-scored test pass; 16-row driver
    state per fold."""
    from gene_level_metadata_pipeline_spark.operators.drift import (
        _floor_div_exact,
    )
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        linear_classifier_score,
        linear_classifier_train,
    )

    docs = _t(spark, sf_dir, "documents")
    k = 3
    y = docs.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    per_fold = []
    for f in range(k):
        train = docs.where(F.col("doc_id") % k != f)
        test = docs.where(F.col("doc_id") % k == f)
        wts = linear_classifier_train(train)
        sc = linear_classifier_score(test, wts)
        per_fold.append(
            sc.join(y, "doc_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_test"),
                F.sum(
                    F.when(F.col("pred") == F.col("y"), 1).otherwise(0)
                ).cast("bigint").alias("n_correct"),
            )
            .select(F.lit(f).cast("bigint").alias("fold"), "n_test",
                    "n_correct")
        )
    out = per_fold[0]
    for p in per_fold[1:]:
        out = out.unionByName(p)
    return out.select(
        "fold", "n_test", "n_correct",
        _floor_div_exact(
            F.col("n_correct") * F.lit(1_000_000), F.col("n_test")
        ).alias("acc_e6"),
    )


@_register(
    "remove_repeated_substrings",
    oracle="""
    WITH g AS (
      SELECT doc_id AS id, u.p, md5(substr(text, u.p, 20)) AS h
      FROM documents,
           LATERAL (
             SELECT unnest(generate_series(1, len(text) - 19)) AS p
           ) u
      WHERE text IS NOT NULL AND len(text) >= 20
    ),
    dup AS (SELECT h FROM g GROUP BY h HAVING min(id) <> max(id)),
    m AS (SELECT g.id, g.p FROM g JOIN dup ON g.h = dup.h),
    isl AS (
      SELECT id, p,
             CASE WHEN p > coalesce(max(p + 19) OVER (
                    PARTITION BY id ORDER BY p
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ), -1) + 1 THEN 1 ELSE 0 END AS nw
      FROM m
    ),
    grp AS (
      SELECT id, p,
             sum(nw) OVER (
               PARTITION BY id ORDER BY p
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS g_id
      FROM isl
    ),
    spans AS (
      SELECT id, min(p) AS s1, max(p) + 19 AS e1
      FROM grp GROUP BY id, g_id
    ),
    stats AS (
      SELECT id, count(*) AS n_spans, sum(e1 - s1 + 1) AS removed,
             max(e1) AS last_end
      FROM spans GROUP BY id
    ),
    base AS (
      SELECT doc_id AS id, text AS t FROM documents
      WHERE text IS NOT NULL
    ),
    segs AS (
      SELECT id,
             coalesce(lag(e1) OVER (PARTITION BY id ORDER BY s1), 0) + 1
               AS a,
             s1 - 1 AS b
      FROM spans
    ),
    tails AS (
      SELECT st.id, st.last_end + 1 AS a, len(b.t) AS b
      FROM stats st JOIN base b USING (id)
    ),
    pieces AS (
      SELECT s.id,
             string_agg(substr(b.t, s.a, s.b - s.a + 1), ''
                        ORDER BY s.a) AS kept
      FROM (SELECT * FROM segs WHERE b >= a
            UNION ALL SELECT * FROM tails WHERE b >= a) s
      JOIN base b USING (id)
      GROUP BY s.id
    )
    SELECT b.id, CAST(coalesce(st.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(coalesce(st.removed, 0) AS BIGINT) AS removed_chars,
           CASE WHEN st.id IS NULL THEN b.t
                ELSE coalesce(p.kept, '') END AS kept_text
    FROM base b
    LEFT JOIN stats st USING (id)
    LEFT JOIN pieces p USING (id)
    """,
)
def q_remove_repeated_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup APPLIED (dedup.remove_repeated_substrings):
    every maximal arbitrary-alignment repeated span cut from every
    document, survivors re-assembled in order (array_sort + concat_ws,
    never a collect); untouched docs pass through, pure-boilerplate
    docs come back empty with the loss counted. Completes the Lee et
    al. detect-then-cut pair started by repeated_substring_spans; the
    oracle replays spans, lag-window segmentation, and the ordered
    string_agg re-assembly."""
    from gene_level_metadata_pipeline_spark.operators.dedup import (
        remove_repeated_substrings,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return remove_repeated_substrings(
        docs, text_col="text", id_col="doc_id", gram_len=20
    )


@_register(
    "er_sorted_neighborhood",
    oracle="""
    WITH recs AS (
      SELECT DISTINCT c_name AS k, c_custkey AS rid FROM customer
      WHERE c_name IS NOT NULL
    ),
    ranked AS (
      SELECT k, rid, row_number() OVER (ORDER BY k, rid) AS rnk
      FROM recs
    ),
    cands AS (
      SELECT a.k, a.rid, b.k AS k2, b.rid AS rid2
      FROM ranked a JOIN ranked b
        ON b.rnk > a.rnk AND b.rnk - a.rnk <= 5
    )
    SELECT least(rid, rid2) AS id_a,
           greatest(rid, rid2) AS id_b,
           CAST(levenshtein(k, k2) AS INTEGER) AS distance
    FROM cands
    WHERE levenshtein(k, k2) <= 2
    """,
)
def q_er_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood ER blocking (dedup.sorted_neighborhood_pairs,
    Hernández-Stolfo 1995) over customer names: rank by the sort key
    DISTRIBUTED (prefix-count rank, the running_sum machinery — no
    global window), turn rank adjacency into a two-bucket equi-join in
    rank space (the interval_overlap_join trick), confirm candidates
    with exact Levenshtein <= 2. The n·w-bounded complement to the
    deletion-neighborhood blocker: candidate volume is immune to hot
    key blocks, recall trades for it by design. The oracle replays
    rank, windowed join, and confirm with an ordinary window."""
    from gene_level_metadata_pipeline_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    cust = _t(spark, sf_dir, "customer")
    return sorted_neighborhood_pairs(
        cust, key_col="c_name", id_col="c_custkey",
    )


@_register(
    "heaps_law_curve",
    oracle="""
    WITH toks AS (
      SELECT doc_id, u.i AS pos, a[i] AS w
      FROM (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS a
        FROM documents WHERE text IS NOT NULL
      ), LATERAL (SELECT unnest(generate_series(1, len(a))) AS i) u
    ),
    dlen AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
    offs AS (
      SELECT doc_id,
             sum(n) OVER (ORDER BY doc_id) - n AS off
      FROM dlen
    ),
    firsts AS (
      SELECT w, min(doc_id * 10000000 + pos) AS packed
      FROM toks GROUP BY w
    ),
    g AS (
      SELECT f.w, o.off + (f.packed % 10000000) AS gi
      FROM firsts f JOIN offs o ON o.doc_id = f.packed // 10000000
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM dlen),
    cuts AS (
      SELECT d.d, (d.d * t) // 10 AS cut
      FROM tot, (SELECT unnest(generate_series(1, 10)) AS d) d
    )
    SELECT CAST(c.d AS BIGINT) AS decile,
           CAST(c.cut AS BIGINT) AS tokens_n,
           CAST(sum(CASE WHEN g.gi <= c.cut THEN 1 ELSE 0 END) AS BIGINT)
             AS vocab_n
    FROM cuts c CROSS JOIN g
    GROUP BY c.d, c.cut
    """,
)
def q_heaps_law_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: distinct-vocabulary size at
    each corpus-prefix decile (corpus order = (doc_id, position)) —
    the companion diagnostic to corpus_zipf_fit: a curve that flattens
    early says new documents stop contributing vocabulary (template-
    heavy corpus); unbounded growth says the tokenizer's OOV budget
    must scale. Exact and window-free at token scale: each word's
    FIRST-OCCURRENCE global index = (prefix sum of earlier docs'
    token counts — a DOC-count-sized window, never a token-rank sort)
    + its in-doc position via one min-struct aggregate; decile
    cutoffs ride a broadcast 1-row total. Packed (doc_id, pos) min
    uses doc_id*1e7+pos (positions bounded by document length; the
    winnow packed-min trick)."""
    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        _ws_tokens,
    )

    toks = docs.select(
        "doc_id",
        F.posexplode(_ws_tokens("text")).alias("pos0", "w"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    dlen = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    from gene_level_metadata_pipeline_spark.operators.selection import (
        running_sum,
    )

    offs = running_sum(
        dlen, [F.col("doc_id").asc()], "n", out_col="__cum"
    ).select(
        "doc_id",
        (F.col("__cum").cast("bigint") - F.col("n")).alias("off"),
    )
    firsts = toks.groupBy("w").agg(
        F.min(F.col("doc_id") * F.lit(10_000_000) + F.col("pos"))
        .alias("packed")
    )
    g = firsts.join(
        offs,
        F.call_function("div", F.col("packed"), F.lit(10_000_000))
        == F.col("doc_id"),
    ).select(
        (F.col("off") + F.pmod(F.col("packed"), F.lit(10_000_000)))
        .alias("gi")
    )
    tot = dlen.agg(F.sum("n").cast("bigint").alias("t"))
    cuts = tot.select(
        F.explode(F.sequence(F.lit(1), F.lit(10))).alias("d"), "t"
    ).select(
        "d",
        F.call_function("div", F.col("d") * F.col("t"), F.lit(10))
        .alias("cut"),
    )
    return (
        F.broadcast(cuts).crossJoin(g)
        .groupBy("d", "cut")
        .agg(
            F.sum(
                F.when(F.col("gi") <= F.col("cut"), 1).otherwise(0)
            ).cast("bigint").alias("vocab_n")
        )
        .select(
            F.col("d").cast("bigint").alias("decile"),
            F.col("cut").cast("bigint").alias("tokens_n"),
            "vocab_n",
        )
    )


def _padding_rank_cte(order: str) -> str:
    return (
        "row_number() OVER (ORDER BY " + order + ")"
    )


@_register(
    "padding_waste_audit",
    oracle=f"""
    WITH lens AS (
      SELECT doc_id,
             least(CAST(len(list_filter(string_split(text, ' '),
                                         w -> w <> '')) AS BIGINT),
                   512) AS len_eff
      FROM documents
      WHERE text IS NOT NULL
    ),
    arrival AS (
      SELECT len_eff,
             ({_padding_rank_cte('doc_id')} - 1) // 8 AS batch
      FROM lens
    ),
    sorted_o AS (
      SELECT len_eff,
             ({_padding_rank_cte('len_eff DESC, doc_id')} - 1) // 8
               AS batch
      FROM lens
    ),
    a_b AS (
      SELECT batch, count(*) AS nb, max(len_eff) AS mx,
             sum(len_eff) AS useful
      FROM arrival GROUP BY batch
    ),
    s_b AS (
      SELECT batch, count(*) AS nb, max(len_eff) AS mx,
             sum(len_eff) AS useful
      FROM sorted_o GROUP BY batch
    ),
    both_s AS (
      SELECT 'arrival' AS strategy, count(*) AS n_batches,
             CAST(sum(useful) AS BIGINT) AS useful_tokens,
             CAST(sum(nb * mx) AS BIGINT) AS padded_tokens
      FROM a_b
      UNION ALL
      SELECT 'length_sorted', count(*),
             CAST(sum(useful) AS BIGINT),
             CAST(sum(nb * mx) AS BIGINT)
      FROM s_b
    )
    SELECT strategy, CAST(n_batches AS BIGINT) AS n_batches,
           useful_tokens, padded_tokens,
           (padded_tokens - useful_tokens) * 1000000 // padded_tokens
             AS waste_e6
    FROM both_s
    """,
)
def q_padding_waste_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inference/training batching diagnostic: padded-token waste of
    ARRIVAL-order batching vs LENGTH-SORTED batching (batch = 8 docs,
    each batch padded to its own max length, lengths capped at 512) —
    the measurement that justifies length-bucketed serving; on mixed
    corpora sorting typically reclaims most of the padding. Both
    global orders are DISTRIBUTED prefix-count ranks (the
    running_sum/fdr_bh machinery — no global window at any corpus
    size); per-batch padding is one aggregate. All integers; waste
    reported as floored e6."""
    from gene_level_metadata_pipeline_spark.operators.drift import (
        _floor_div_exact,
    )
    from gene_level_metadata_pipeline_spark.operators.selection import (
        running_sum,
    )
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        _ws_tokens,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    lens = docs.select(
        "doc_id",
        F.least(
            F.size(_ws_tokens("text")).cast("bigint"), F.lit(512)
        ).alias("len_eff"),
    ).withColumn("__one", F.lit(1))

    def audit(order_cols, tag: str) -> DataFrame:
        ranked = running_sum(lens, order_cols, "__one", out_col="rnk")
        b = ranked.select(
            "len_eff",
            F.call_function(
                "div", F.col("rnk").cast("bigint") - 1, F.lit(8)
            ).alias("batch"),
        ).groupBy("batch").agg(
            F.count(F.lit(1)).alias("nb"),
            F.max("len_eff").alias("mx"),
            F.sum("len_eff").alias("useful"),
        )
        return b.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_batches"),
            F.sum("useful").cast("bigint").alias("useful_tokens"),
            F.sum(F.col("nb") * F.col("mx")).cast("bigint")
            .alias("padded_tokens"),
        ).select(F.lit(tag).alias("strategy"), "*")

    out = audit([F.col("doc_id").asc()], "arrival").unionByName(
        audit(
            [F.col("len_eff").desc(), F.col("doc_id").asc()],
            "length_sorted",
        )
    )
    return out.select(
        "strategy", "n_batches", "useful_tokens", "padded_tokens",
        _floor_div_exact(
            (F.col("padded_tokens") - F.col("useful_tokens"))
            * F.lit(1_000_000),
            F.col("padded_tokens"),
        ).alias("waste_e6"),
    )


@_register(
    "vocab_coverage_curve",
    oracle="""
    WITH cw AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c
      FROM (
        SELECT unnest(list_filter(string_split(text, ' '),
                                  x -> x <> '')) AS w
        FROM documents WHERE text IS NOT NULL
      ) GROUP BY w
    ),
    ranked AS (
      SELECT w, c,
             row_number() OVER (ORDER BY c DESC, w) AS rnk,
             sum(c) OVER (ORDER BY c DESC, w) AS cum
      FROM cw
    ),
    tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS v
      FROM cw
    )
    SELECT CAST(d.d AS BIGINT) AS decile,
           CAST(r.rnk AS BIGINT) AS vocab_n,
           CAST(r.cum AS BIGINT) AS covered_tokens,
           CAST(r.cum * 1000000 // t AS BIGINT) AS share_e6
    FROM tot, (SELECT unnest(generate_series(1, 10)) AS d) d
    JOIN ranked r ON r.rnk = (d.d * (SELECT v FROM tot)) // 10
    """,
)
def q_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf COVERAGE curve: cumulative token share captured by the top
    10%/20%/.../100% of the frequency-ranked vocabulary — with
    heaps_law_curve and corpus_zipf_fit, the third corpus-shape
    diagnostic (a curve that hits ~1.0 by the third decile says a
    tokenizer can truncate hard; a flat one says the tail carries real
    mass). Frequency rank AND cumulative coverage are one distributed
    prefix sum each over the VOCABULARY table (running_sum — never a
    token-scale or single-task sort); decile cutoffs join against the
    broadcast 1-row total."""
    from gene_level_metadata_pipeline_spark.operators.drift import (
        _floor_div_exact,
    )
    from gene_level_metadata_pipeline_spark.operators.selection import (
        running_sum,
    )
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        _ws_tokens,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    cw = (
        docs.select(F.explode(_ws_tokens("text")).alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .withColumn("__one", F.lit(1))
    )
    order = [F.col("c").desc(), F.col("w").asc()]
    ranked = running_sum(cw, order, "__one", out_col="rnk")
    ranked = running_sum(ranked, order, "c", out_col="cum").select(
        F.col("rnk").cast("bigint").alias("rnk"),
        F.col("cum").cast("bigint").alias("cum"),
    )
    tot = cw.agg(
        F.sum("c").cast("bigint").alias("t"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
    )
    cuts = F.broadcast(
        tot.select(
            F.explode(F.sequence(F.lit(1), F.lit(10))).alias("d"),
            "t", "v",
        ).select(
            "d", "t",
            F.call_function("div", F.col("d") * F.col("v"), F.lit(10))
            .alias("k_d"),
        )
    )
    return (
        ranked.join(cuts, ranked["rnk"] == cuts["k_d"])
        .select(
            F.col("d").cast("bigint").alias("decile"),
            F.col("rnk").alias("vocab_n"),
            F.col("cum").alias("covered_tokens"),
            _floor_div_exact(
                F.col("cum") * F.lit(1_000_000), F.col("t")
            ).alias("share_e6"),
        )
    )


@_register(
    "keyness_loglik",
    oracle="""
    WITH toks AS (
      SELECT CASE WHEN CAST(substr(source, 4) AS INTEGER) < 10
                  THEN 'A' ELSE 'B' END AS side,
             unnest(list_filter(string_split(text, ' '),
                                x -> x <> '')) AS w
      FROM documents WHERE text IS NOT NULL
    ),
    counts AS (
      SELECT w,
             CAST(sum(CASE WHEN side = 'A' THEN 1 ELSE 0 END)
                  AS BIGINT) AS a,
             CAST(sum(CASE WHEN side = 'B' THEN 1 ELSE 0 END)
                  AS BIGINT) AS b
      FROM toks GROUP BY w
    ),
    tot AS (
      SELECT CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb
      FROM counts
    ),
    scored AS (
      SELECT w, a, b,
             round(2 * (
               CASE WHEN a > 0 THEN CAST(a AS DOUBLE) * ln(
                 (CAST(a AS DOUBLE) * (CAST(na AS DOUBLE)
                                       + CAST(nb AS DOUBLE)))
                 / (CAST(na AS DOUBLE) * (CAST(a AS DOUBLE)
                                          + CAST(b AS DOUBLE)))
               ) ELSE 0 END
               +
               CASE WHEN b > 0 THEN CAST(b AS DOUBLE) * ln(
                 (CAST(b AS DOUBLE) * (CAST(na AS DOUBLE)
                                       + CAST(nb AS DOUBLE)))
                 / (CAST(nb AS DOUBLE) * (CAST(a AS DOUBLE)
                                          + CAST(b AS DOUBLE)))
               ) ELSE 0 END
             ), 6) AS g2,
             CASE WHEN a * nb > b * na THEN 'A' ELSE 'B' END
               AS enriched_in
      FROM counts CROSS JOIN tot
    )
    SELECT w, a, b, g2, enriched_in
    FROM scored
    ORDER BY g2 DESC, w LIMIT 50
    """,
)
def q_keyness_loglik(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-comparison keyness (Dunning 1993 log-likelihood G²):
    which words are over-represented in source group A (src0-src9) vs
    B — the corpus-linguistics staple behind 'what changed between
    snapshots / what distinguishes this domain'. Exact integer counts;
    G² is a FIXED two-term expression over exact products (identical
    IEEE ln/multiply in both engines — no variable-order float
    aggregation), rounded 6dp; enrichment direction by exact
    cross-multiplication. Top-50 by (g2, word) is a
    TakeOrderedAndProject — no global sort."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        _ws_tokens,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = docs.select(
        F.when(
            F.substring("source", 4, 10).cast("int") < 10, "A"
        ).otherwise("B").alias("side"),
        F.explode(_ws_tokens("text")).alias("w"),
    )
    counts = toks.groupBy("w").agg(
        F.sum(F.when(F.col("side") == "A", 1).otherwise(0))
        .cast("bigint").alias("a"),
        F.sum(F.when(F.col("side") == "B", 1).otherwise(0))
        .cast("bigint").alias("b"),
    )
    tot = counts.agg(
        F.sum("a").cast("bigint").alias("na"),
        F.sum("b").cast("bigint").alias("nb"),
    )
    ad, bd = F.col("a").cast("double"), F.col("b").cast("double")
    nad, nbd = F.col("na").cast("double"), F.col("nb").cast("double")
    term_a = F.when(
        F.col("a") > 0,
        ad * F.log((ad * (nad + nbd)) / (nad * (ad + bd))),
    ).otherwise(F.lit(0.0))
    term_b = F.when(
        F.col("b") > 0,
        bd * F.log((bd * (nad + nbd)) / (nbd * (ad + bd))),
    ).otherwise(F.lit(0.0))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "w", "a", "b",
            F.round(2 * (term_a + term_b), 6).alias("g2"),
            F.when(
                F.col("a") * F.col("nb") > F.col("b") * F.col("na"), "A"
            ).otherwise("B").alias("enriched_in"),
        )
        .orderBy(F.col("g2").desc(), "w")
        .limit(50)
    )


def _hrw_weight_sql(shard_sql: str, key_sql: str) -> str:
    h = (
        f"md5('hrw:' || CAST({shard_sql} AS VARCHAR) || ':' "
        f"|| CAST({key_sql} AS VARCHAR))"
    )
    return " + ".join(
        f"(strpos('0123456789abcdef', substr({h}, {i + 1}, 1)) - 1)"
        f" * {16 ** (7 - i)}"
        for i in range(8)
    )


@_register(
    "rendezvous_shards",
    oracle=f"""
    WITH keys AS (SELECT DISTINCT doc_id AS key FROM documents),
    scored AS (
      SELECT key, s.shard, ({_hrw_weight_sql('s.shard', 'key')}) AS w
      FROM keys,
           (SELECT unnest(generate_series(0, 6)) AS shard) s
    )
    SELECT key, CAST(shard AS BIGINT) AS shard FROM scored
    QUALIFY row_number() OVER (
      PARTITION BY key ORDER BY w DESC, shard
    ) = 1
    """,
)
def q_rendezvous_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous/HRW shard assignment (selection.rendezvous_assign):
    every document keyed to one of 7 shards by highest md5 weight —
    the consistent-placement primitive whose defining property
    (growing the shard count only moves keys TO the new shard) modulo
    hashing cannot give; hypothesis-pinned. One fixed 7-way explode +
    one max_by aggregate; the oracle replays weights and argmax with a
    window."""
    from gene_level_metadata_pipeline_spark.operators.selection import (
        rendezvous_assign,
    )

    docs = _t(spark, sf_dir, "documents")
    return rendezvous_assign(docs, id_col="doc_id", n_shards=7)


@_register(
    "image_phash_near_dup",
    oracle="""
    WITH px AS (
      SELECT doc_id, u.i,
             (strpos('0123456789abcdef', substr(md5(
                'img:' || CAST(doc_id // 2 AS VARCHAR) || ':'
                       || CAST(u.i AS VARCHAR)), 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(md5(
                'img:' || CAST(doc_id // 2 AS VARCHAR) || ':'
                       || CAST(u.i AS VARCHAR)), 2, 1)) - 1)
             + (doc_id % 2)
               * (CASE WHEN u.i % 41 = 0 THEN 60 ELSE 0 END) AS p
      FROM documents,
           LATERAL (SELECT unnest(generate_series(0, 127)) AS i) u
    ),
    samp AS (
      SELECT px.doc_id, s.s, px.p AS v
      FROM (SELECT unnest(generate_series(0, 63)) AS s) s
      JOIN px ON px.i = (s.s // 8) * 16 + (s.s % 8) * 2
    ),
    tot AS (SELECT doc_id, sum(v) AS t FROM samp GROUP BY doc_id),
    bits AS (
      SELECT samp.doc_id, s,
             CASE WHEN v * 64 > t THEN 1 ELSE 0 END AS b
      FROM samp JOIN tot USING (doc_id)
    ),
    bh AS (
      SELECT doc_id, s // 16 AS band,
             string_agg(CAST(b AS VARCHAR), '' ORDER BY s) AS band_hash
      FROM bits GROUP BY doc_id, s // 16
    ),
    sized AS (
      SELECT band, band_hash, count(*) AS n FROM bh GROUP BY 1, 2
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bh a
      JOIN bh b ON a.band = b.band AND a.band_hash = b.band_hash
               AND a.doc_id < b.doc_id
      JOIN sized sz ON sz.band = a.band AND sz.band_hash = a.band_hash
      WHERE sz.n BETWEEN 2 AND 1000
    )
    SELECT c.doc_a, c.doc_b,
           CAST(sum(CASE WHEN x.b <> y.b THEN 1 ELSE 0 END)
                AS INTEGER) AS hamming
    FROM cand c
    JOIN bits x ON x.doc_id = c.doc_a
    JOIN bits y ON y.doc_id = c.doc_b AND y.s = x.s
    GROUP BY 1, 2
    HAVING sum(CASE WHEN x.b <> y.b THEN 1 ELSE 0 END) <= 6
    """,
)
def q_image_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup (r10, VERDICT r9 item 7 —
    multimodal.image_near_dup_pairs): the figure/plot-dedup use case
    that ties the multimodal and dedup pillars together. A 16x8 gray
    frame is generated per document in pure Catalyst (md5-derived
    pixel bytes, so frames are pseudo-random; pairs (2k, 2k+1) share a
    base frame and the odd twin gets +60 on every 41st pixel — a
    re-encode-with-artifacts stand-in), aHash bits come off the decoded
    plane by exact integer arithmetic (8x8 nearest-neighbor sample,
    bit = 64·px > Σpx), candidates come from the SAME banded-LSH
    cap/star bucket core the text MinHash path uses (4 bands x 16
    bits), and only candidates pay the exact 64-bit Hamming confirm
    (<= 6). The oracle replays sample/threshold/banding/cap/Hamming
    arithmetically — byte-free, bit-for-bit. A true re-encoded COPY
    hashes identically by construction (property-pinned in
    tests/test_image_phash.py: same pixels through the real BMP and
    PNG decoders give equal aHash/dHash)."""
    from gene_level_metadata_pipeline_spark.operators.multimodal import (
        image_near_dup_pairs,
    )

    # The id list reads as ONE parquet partition at bench SFs while the
    # in-plan frame construction + interpreted perceptual-hash HOFs are
    # compute-heavy per row — spread them across the cluster first
    # (round-robin shuffle of bare ids, trivial vs the compute it
    # parallelizes; measured 7.8s -> ~1.5s at sf0.1 on local[32]).
    # Real decode paths inherit sane partitioning from binaryFile.
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    d = F.col("doc_id")
    px = F.transform(
        F.sequence(F.lit(0), F.lit(127)),
        lambda i: (
            # md5-derived pixel bytes (the rendezvous_shards cross-
            # engine idiom): genuinely pseudo-random frames, so the
            # ONLY near-dups are the constructed (2k, 2k+1) twins —
            # arithmetic-progression generators left stride structure
            # in the hash bits and produced O(n²) accidental
            # hamming<=6 pairs at sf0.1 (caught at first run)
            F.conv(
                F.substring(
                    F.md5(F.concat(
                        F.lit("img:"),
                        F.floor(d / 2).cast("string"),
                        F.lit(":"),
                        i.cast("string"),
                    )),
                    1, 2,
                ),
                16, 10,
            ).cast("int")
            + F.pmod(d, F.lit(2))
            * F.when(i % 41 == 0, F.lit(60)).otherwise(F.lit(0))
        ).cast("int"),
    )
    decoded = docs.select(
        "doc_id",
        F.lit(16).alias("width"),
        F.lit(8).alias("height"),
        px.alias("pixels"),
    )
    return image_near_dup_pairs(decoded, method="ahash")


@_register(
    "image_resize_grid",
    oracle="""
    WITH px AS (
      SELECT doc_id, u.i,
             (strpos('0123456789abcdef', substr(md5(
                'img:' || CAST(doc_id // 2 AS VARCHAR) || ':'
                       || CAST(u.i AS VARCHAR)), 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(md5(
                'img:' || CAST(doc_id // 2 AS VARCHAR) || ':'
                       || CAST(u.i AS VARCHAR)), 2, 1)) - 1)
             + (doc_id % 2)
               * (CASE WHEN u.i % 41 = 0 THEN 60 ELSE 0 END) AS p
      FROM documents,
           LATERAL (SELECT unnest(generate_series(0, 127)) AS i) u
    ),
    -- nearest-neighbor 16x8 -> 6x4: out index o in 0..23,
    -- y = o//6, x = o%6, src = floor(y*8/4)*16 + floor(x*16/6)
    res AS (
      SELECT g.doc_id, o.o, px.p AS v
      FROM (SELECT DISTINCT doc_id FROM px) g,
           (SELECT unnest(generate_series(0, 23)) AS o) o
      JOIN px ON px.doc_id = g.doc_id
             AND px.i = (o.o // 6) * 2 * 16 + (o.o % 6) * 16 // 6
    )
    SELECT doc_id, 6 AS width, 4 AS height,
           CAST(24 AS INTEGER) AS n_px,
           CAST(sum(v * (o + 1)) AS BIGINT) AS px_checksum
    FROM res GROUP BY doc_id
    """,
)
def q_image_resize_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor resize certification (multimodal.resize_image,
    r10): the md5-pixel 16x8 frames of image_phash_near_dup resized to
    6x4 — non-divisible ratios on both axes, so the floor index
    arithmetic (src = floor(y·H/4)·W + floor(x·W/6)) is exercised off
    the trivial stride-2 path — hashed as a position-weighted checksum.
    The r10 resize is ONE transform lambda over sequence(0, W·H-1)
    (constant plan size at any target; the r9 form built W·H Column
    objects); the oracle replays the exact index arithmetic per output
    cell. Pure Catalyst end-to-end — zero Python."""
    from gene_level_metadata_pipeline_spark.operators.multimodal import (
        resize_image,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    px = F.transform(
        F.sequence(F.lit(0), F.lit(127)),
        lambda i: (
            F.conv(
                F.substring(
                    F.md5(F.concat(
                        F.lit("img:"),
                        F.floor(d / 2).cast("string"),
                        F.lit(":"),
                        i.cast("string"),
                    )),
                    1, 2,
                ),
                16, 10,
            ).cast("int")
            + F.pmod(d, F.lit(2))
            * F.when(i % 41 == 0, F.lit(60)).otherwise(F.lit(0))
        ).cast("int"),
    )
    decoded = docs.select(
        "doc_id",
        F.lit(16).alias("width"),
        F.lit(8).alias("height"),
        F.lit("gen-gray").alias("mode"),
        px.alias("pixels"),
    )
    out = resize_image(decoded, 6, 4)
    return out.select(
        "doc_id", "width", "height",
        F.size("pixels").alias("n_px"),
        F.aggregate(
            F.zip_with(
                F.col("pixels"),
                F.sequence(F.lit(1), F.lit(24)),
                lambda s, i: s.cast("bigint") * i.cast("bigint"),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("px_checksum"),
    )


@_register(
    "rbh_blocked_mutual_nn",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id % 17 = 0),
    c AS (SELECT vec_id AS corpus_id, e AS ce FROM v WHERE vec_id % 17 <> 0),
    scored AS (
      SELECT q.query_id, c.corpus_id,
             round({_COS.format(a='q.qe', b='c.ce')}, 4) AS cos_sim
      FROM q CROSS JOIN c
    ),
    bq AS (
      SELECT query_id, corpus_id, cos_sim, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, corpus_id
      ) AS rn FROM scored
    ),
    bc AS (
      SELECT query_id, corpus_id, row_number() OVER (
        PARTITION BY corpus_id ORDER BY cos_sim DESC, query_id
      ) AS rn FROM scored
    )
    SELECT b1.query_id, b1.corpus_id, b1.cos_sim
    FROM (SELECT * FROM bq WHERE rn = 1) b1
    JOIN (SELECT * FROM bc WHERE rn = 1) b2
      ON b1.query_id = b2.query_id AND b1.corpus_id = b2.corpus_id
    """,
)
def q_rbh_blocked_mutual_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r10 BLOCKED RBH tier under the driver's own hash gate: the
    same mutual-1-NN panel as rbh_mutual_nn, forced through
    method='blocked' with block sizes small enough (chunk 40 / pack 64)
    that every argmax merges across MANY block pairs at sf0.01 — the
    distributed exact-past-the-panel-cap path
    (similarity._rbh_blocked: executor-side packing, strip-tiled numpy
    matmul per block pair behind an equi-join on the chunk id, min_by
    partial-argmax merge in both directions; nothing collected to the
    driver). The oracle is the identical quadratic truth rbh_mutual_nn
    certifies against — so blocked == exact == truth is checked by the
    driver every round, not just by the committed
    certification/rbh_blocked_r10.json invariance run."""
    from gene_level_metadata_pipeline_spark.operators.similarity import (
        _dot,
        _rbh_blocked,
    )

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") % 17 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("__qv"),
    ).withColumn("__qn", F.sqrt(_dot(F.col("__qv"), F.col("__qv"))))
    c = emb.where(F.col("vec_id") % 17 != 0).select(
        F.col("vec_id").alias("corpus_id"),
        F.col("embedding").cast("array<double>").alias("__cv"),
    ).withColumn("__cn", F.sqrt(_dot(F.col("__cv"), F.col("__cv"))))
    return _rbh_blocked(q, c, chunk_rows=40, pack_rows=64)

"""Unit tests for dedup / similarity / text-analysis operators on
hand-checkable fixtures (SURVEY.md §5 strategy item 2)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from gene_level_metadata_pipeline_spark.operators import dedup, similarity, textanalysis


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "the quick brown fox jumps"),          # exact dup of 1
            (3, "the quick brown fox leaps high"),     # near dup of 1
            (4, "completely different text entirely here"),
            (5, "ab"),                                  # < 3 words: no shingles
        ],
        ["doc_id", "text"],
    )


def md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def test_shingles_match_reference_definition(spark, docs):
    rows = dedup.word_shingles(docs, "text", "doc_id").collect()
    got = {(r["doc_id"], r["shingle"]) for r in rows}
    assert (1, "the quick brown") in got
    assert (1, "brown fox jumps") in got
    assert all(d != 5 for d, _ in got)  # short doc produces nothing
    # doc 1: 5 words -> 3 shingles, all distinct
    assert sum(1 for d, _ in got if d == 1) == 3


def test_dedup_exact_groups_identical_texts(spark, docs):
    out = {r["fingerprint"]: r for r in dedup.dedup_exact(docs, "text", "doc_id").collect()}
    fp = md5("the quick brown fox jumps")
    assert out[fp]["n_copies"] == 2
    assert out[fp]["canonical_id"] == 1


def test_jaccard_pairs(spark, docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.01).collect()
    }
    assert pairs[(1, 2)] == 1.0  # identical docs
    # docs 1 & 3 share 'the quick brown', 'quick brown fox' -> 2/(3+4-2)
    assert pairs[(1, 3)] == round(2 / 5, 4)
    assert (1, 4) not in pairs


def test_minhash_identical_docs_share_signature(spark, docs):
    sig = {r["doc_id"]: [r[f"h{i}"] for i in range(8)]
           for r in dedup.minhash_signatures(docs, "text", "doc_id").collect()}
    assert sig[1] == sig[2]
    assert sig[1] != sig[4]
    # h_i is the lexicographic min over shingles of the i-th 8-hex slice
    # of md5('{i div 4}:'||shingle) — 4 hash functions per digest
    shingles = ["the quick brown", "quick brown fox", "brown fox jumps"]
    for i in (0, 3, 4, 7):
        salt, off = i // 4, (i % 4) * 8
        expect = min(md5(f"{salt}:" + s)[off:off + 8] for s in shingles)
        assert sig[1][i] == expect
    assert 5 not in sig  # no shingles -> excluded


def test_minhash_lsh_candidates(spark, docs):
    pairs = {(r["doc_a"], r["doc_b"])
             for r in dedup.minhash_candidate_pairs(docs, "text", "doc_id").collect()}
    assert (1, 2) in pairs  # identical docs always collide in every band
    assert (1, 4) not in pairs


def test_simhash_is_deterministic_and_16bit(spark, docs):
    out = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs, "text", "doc_id").collect()}
    assert out[1] == out[2]
    assert all(0 <= v < 2 ** 16 for v in out.values())


def test_brute_force_topk_finds_identical_vector(spark):
    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0]),
         (2, [0.0, 1.0, 0.0]), (3, [-1.0, 0.0, 0.0])],
        ["vec_id", "embedding"],
    )
    out = similarity.brute_force_topk(vecs, vecs.where("vec_id = 0"), k=3).collect()
    ranked = sorted(((r["rank"], r["neighbor_id"], r["cos_sim"]) for r in out))
    assert ranked[0] == (1, 1, 1.0)       # identical vector first
    assert ranked[-1][1] == 3             # opposite vector last
    assert ranked[-1][2] == -1.0


def test_sign_lsh_buckets_split_by_sign(spark):
    vecs = spark.createDataFrame(
        [(0, [1.0, 1.0, 0.0, 0.0, 9.0]), (1, [1.0, 1.0, 0.0, 0.0, 9.1]),
         (2, [-1.0, 1.0, 0.0, 0.0, 9.0])],
        ["vec_id", "embedding"],
    )
    pairs = {(r["vec_a"], r["vec_b"]) for r in
             similarity.sign_lsh_pairs(vecs, planes=4, threshold=0.5).collect()}
    assert (0, 1) in pairs      # same sign bucket, high cosine
    assert (0, 2) not in pairs  # different sign on dim 1 -> different bucket


def test_lang_id_tie_order_and_hits(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog"), (2, "der hund und die katze"),
         (3, "xyzzy plugh")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in textanalysis.lang_id(df, "text", "doc_id").collect()}
    assert out[1]["predicted_lang"] == "en" and out[1]["hits_en"] == 3
    assert out[2]["predicted_lang"] == "de" and out[2]["hits_de"] == 3
    assert out[3]["predicted_lang"] == "en"  # all-zero tie -> first lang


def test_quality_and_tokens(spark):
    df = spark.createDataFrame([(1, "the fast cat runs far, yes!")], ["doc_id", "text"])
    q = textanalysis.quality_scores(df, "text", "doc_id").collect()[0]
    assert q["n_words"] == 6 and q["quality_ok"]
    t = textanalysis.token_counts(df, "text", "doc_id").collect()[0]
    assert t["ws_tokens"] == 6
    # the|fast|cat|runs|far|,|yes|! -> 8 bpe-ish tokens
    assert t["bpe_tokens"] == 8


def test_multimodal_feature_plumbing(spark):
    from gene_level_metadata_pipeline_spark.operators import multimodal

    df = spark.createDataFrame([(1, "abc")], ["doc_id", "text"])
    feats = multimodal.extract_features(
        multimodal.attach_binary_payload(df, "text", "doc_id")
    ).collect()[0]
    assert feats["n_bytes"] == 3
    assert feats["checksum"] == ord("a") + ord("b") + ord("c")
    assert feats["head_bytes"] == [97, 98, 99]
    # r9: the default codec is the REAL stdlib JPEG decoder (the PIL
    # gate is gone) — non-JPEG payload bytes fail loud at execution
    binary = multimodal.attach_binary_payload(df, "text", "doc_id")
    with pytest.raises(Exception, match="not a JPEG"):
        # coalesce(1): see test_jpeg_decode — one task, no kill-race
        multimodal.decode_image(binary.coalesce(1)).collect()


def test_ivf_topk_searches_only_own_cell(spark):
    from gene_level_metadata_pipeline_spark.operators import similarity

    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0], 0), (1, [0.9, 0.1], 0), (2, [1.0, 0.0], 1)],
        ["vec_id", "embedding", "label"],
    )
    out = similarity.ivf_topk(vecs, vecs.where("vec_id = 0"), cell_col="label").collect()
    neighbors = {r["neighbor_id"] for r in out}
    assert neighbors == {1}  # vec 2 is identical but lives in another cell


def test_minhash_rejects_indivisible_bands(spark, docs):
    with pytest.raises(ValueError, match="divisible"):
        dedup.minhash_candidate_pairs(docs, "text", "doc_id", bands=3)


def test_multimodal_checksum_non_ascii(spark):
    from gene_level_metadata_pipeline_spark.operators import multimodal

    df = spark.createDataFrame([(1, "héllo")], ["doc_id", "text"])
    feats = multimodal.extract_features(
        multimodal.attach_binary_payload(df, "text", "doc_id")
    ).collect()[0]
    raw = "héllo".encode()
    assert feats["n_bytes"] == len(raw) == 6   # é is 2 UTF-8 bytes
    assert feats["checksum"] == sum(raw)


def test_salted_agg_matches_plain(spark):
    from gene_level_metadata_pipeline_spark.operators.skew import salted_agg, salted_count

    df = spark.createDataFrame(
        [("hot", i * 1.0) for i in range(50)] + [("cold", 1.0), ("cold", 2.0)],
        ["k", "v"],
    )
    got = {r["k"]: r["n"] for r in salted_count(df, ["k"], salt_buckets=4).collect()}
    assert got == {"hot": 50, "cold": 2}
    s = salted_agg(
        df, ["k"],
        partial_aggs=[F.sum("v").alias("s"), F.count(F.lit(1)).alias("c")],
        final_aggs=[F.sum("s").alias("total"), F.sum("c").alias("n")],
        salt_buckets=4,
    )
    rows = {r["k"]: (r["total"], r["n"]) for r in s.collect()}
    assert rows["hot"] == (sum(range(50)) * 1.0, 50)
    assert rows["cold"] == (3.0, 2)


def test_connected_components_and_canonicalize(spark):
    from gene_level_metadata_pipeline_spark.operators.graph import (
        canonicalize_duplicates,
        connected_components,
    )

    # two chains and a singleton pair: {1-2-3}, {7-9}, 5 unpaired
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], ["doc_a", "doc_b"]
    )
    comp = {r["doc_id"]: r["component"]
            for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}

    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 5, 7, 9]], ["doc_id"])
    canon = {r["doc_id"]: r["canonical_id"]
             for r in canonicalize_duplicates(docs, pairs).collect()}
    assert canon == {1: 1, 2: 1, 3: 1, 5: 5, 7: 7, 9: 7}


def test_tfidf_hand_checked(spark):
    from gene_level_metadata_pipeline_spark.operators.textanalysis import tf_idf_keywords
    import math

    df = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "banana cherry cherry")],
        ["doc_id", "text"],
    )
    out = {(r["doc_id"], r["w"]): r["tfidf"]
           for r in tf_idf_keywords(df, "text", "doc_id").collect()}
    # apple: tf 2/3, df 1 -> (2/3)*ln(2); banana: df 2 -> idf 0
    assert out[(1, "apple")] == round((2 / 3) * math.log(2), 6)
    assert out[(1, "banana")] == 0.0
    assert out[(2, "cherry")] == round((2 / 3) * math.log(2), 6)


def test_embedding_near_dup_transitive_chain(spark):
    from gene_level_metadata_pipeline_spark.operators.similarity import (
        embedding_near_dup,
    )

    # a~b and b~c are near-dups (same sign bucket, high cosine); d is alone
    # in a different bucket; a~c only transitively. All collapse to min id.
    df = spark.createDataFrame(
        [
            (1, [1.0, 1.0, 1.0, 1.0]),
            (2, [1.0, 1.0, 1.0, 0.9]),
            (3, [1.0, 1.0, 0.9, 0.9]),
            (4, [-1.0, -1.0, -1.0, -1.0]),
        ],
        ["vec_id", "embedding"],
    )
    out = embedding_near_dup(df, threshold=0.95)
    got = {r.vec_id: (r.canonical_id, r.is_canonical) for r in out.collect()}
    assert got == {1: (1, True), 2: (1, False), 3: (1, False), 4: (4, True)}


def test_repetition_scores_hand_checked(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c a b c a b c"),   # 7 grams: abc,bca,cab,abc,bca,cab,abc -> 3 unique
            (2, "w x y z"),             # 2 grams, both unique
            (3, "a b"),                 # < 3 words: excluded
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in textanalysis.repetition_scores(df, "text", "doc_id").collect()}
    assert out[1]["n_grams"] == 7 and out[1]["n_unique_grams"] == 3
    assert out[1]["dup_fraction"] == round(1 - 3 / 7, 4)
    assert out[2]["dup_fraction"] == 0.0
    assert 3 not in out


def test_pii_redact_counts_and_replaces(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at a.b-c@x-mail.example.org or call 555-1234 now"),
            (2, "no pii here, 5555-12345 is not a phone and a@b is no email"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in textanalysis.pii_redact(df, "text", "doc_id").collect()}
    assert out[1]["n_emails"] == 1 and out[1]["n_phones"] == 1
    assert out[1]["redacted"] == "mail me at <EMAIL> or call <PHONE> now"
    # 5555-1234 has a digit before 555 -> \b fails; a@b lacks a dot TLD
    assert out[2]["n_emails"] == 0 and out[2]["n_phones"] == 0
    assert out[2]["redacted"] == "no pii here, 5555-12345 is not a phone and a@b is no email"


def test_contamination_check_counts_shared_grams(spark):
    bench = spark.createDataFrame(
        [(100, "one two three four five six")], ["doc_id", "text"]
    )
    cand = spark.createDataFrame(
        [
            (1, "zzz one two three four five six yyy"),  # shares both bench 5-grams... 
            (2, "totally unrelated words with no overlap at all"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in
           textanalysis.contamination_check(cand, bench, "text", "doc_id").collect()}
    # bench has 2 distinct 5-grams; doc 1 contains both
    assert out[1]["n_shared_grams"] == 2 and out[1]["n_bench_docs"] == 1
    assert 2 not in out


def test_chunk_documents_windows_and_overlap(spark):
    doc = " ".join(f"w{i}" for i in range(95))  # 95 tokens
    df = spark.createDataFrame([(1, doc), (2, "a b c")], ["doc_id", "text"])
    out = {(r.doc_id, r.chunk_idx): (r.n_chunk_tokens, r.chunk_text)
           for r in textanalysis.chunk_documents(
               df, "text", "doc_id", size=50, stride=40).collect()}
    # doc 1: starts 0, 40, 80 -> 50, 50, 15 tokens
    assert out[(1, 0)][0] == 50 and out[(1, 0)][1].startswith("w0 w1 ")
    assert out[(1, 1)][0] == 50 and out[(1, 1)][1].startswith("w40 ")
    assert out[(1, 2)][0] == 15 and out[(1, 2)][1].endswith("w94")
    # overlap: chunk 1 re-covers tokens 40..49
    assert out[(1, 0)][1].split()[-1] == "w49" and out[(1, 1)][1].split()[0] == "w40"
    # short doc: one chunk with all 3 tokens
    assert out[(2, 0)] == (3, "a b c")
    assert len(out) == 4


def test_decode_image_fake_codec_plumbing(spark):
    from gene_level_metadata_pipeline_spark.operators import multimodal as mm

    docs = spark.createDataFrame([(1, "abcdef"), (2, "xy")], ["doc_id", "text"])
    binary = mm.attach_binary_payload(docs, "text", "doc_id")
    out = {r.doc_id: r for r in mm.decode_image(binary, codec="fake").collect()}
    assert out[1].pixels == [97, 98, 99, 100]  # 'abcd'
    assert out[2].pixels == [120, 121, 0, 0]   # 'xy' zero-padded
    assert (out[1].width, out[1].height, out[1].mode) == (2, 2, "L")


def test_decode_image_pil_gate_deleted(spark):
    """r9: JPEG decodes for real (codec='jpeg', pure stdlib), so the
    PIL-gated codec is GONE — 'pil' is an unknown codec, not a
    NotImplementedError gate."""
    import pytest as _pytest

    from gene_level_metadata_pipeline_spark.operators import multimodal as mm

    docs = spark.createDataFrame([(1, "abc")], ["doc_id", "text"])
    binary = mm.attach_binary_payload(docs, "text", "doc_id")
    with _pytest.raises(ValueError, match="unknown codec"):
        mm.decode_image(binary, codec="pil")


def test_resize_image_nearest_neighbor(spark):
    from gene_level_metadata_pipeline_spark.operators import multimodal as mm

    docs = spark.createDataFrame([(1, "abcd")], ["doc_id", "text"])
    decoded = mm.decode_image(
        mm.attach_binary_payload(docs, "text", "doc_id"), codec="fake"
    )  # 2x2 pixels [97,98,99,100]
    up = {r.doc_id: r for r in mm.resize_image(decoded, 4, 4).collect()}
    # nearest-neighbor 2x2 -> 4x4: each source pixel becomes a 2x2 block
    assert up[1].pixels == [97, 97, 98, 98,
                            97, 97, 98, 98,
                            99, 99, 100, 100,
                            99, 99, 100, 100]
    down = {r.doc_id: r for r in mm.resize_image(decoded, 1, 1).collect()}
    assert down[1].pixels == [97]


def test_sample_frames_fake_codec(spark):
    import pytest as _pytest

    from gene_level_metadata_pipeline_spark.operators import multimodal as mm

    docs = spark.createDataFrame(
        [(1, "aaaabbbbccccddddeeee"), (2, "xy")], ["doc_id", "text"]
    )  # doc1: 5 frames of 4 bytes; doc2: 0 full frames
    binary = mm.attach_binary_payload(docs, "text", "doc_id")
    out = [
        (r.doc_id, r.frame_idx, bytes(r.frame).decode())
        for r in mm.sample_frames(binary, every_n=2, codec="fake")
        .orderBy("doc_id", "frame_idx").collect()
    ]
    assert out == [(1, 0, "aaaa"), (1, 2, "cccc"), (1, 4, "eeee")]
    with _pytest.raises(NotImplementedError):
        mm.sample_frames(binary)  # default ffmpeg path is gated


def test_lsh_params_s_curve_solver():
    from gene_level_metadata_pipeline_spark.operators.dedup import lsh_params

    # high threshold -> few bands, long rows; low threshold -> many bands
    b_hi, r_hi = lsh_params(0.9, 16)
    b_lo, r_lo = lsh_params(0.2, 16)
    assert b_hi * r_hi == 16 and b_lo * r_lo == 16
    assert b_hi < b_lo
    # the chosen pair's implied threshold is the closest divisor option
    implied = (1.0 / b_hi) ** (1.0 / r_hi)
    candidates = [
        abs((1.0 / b) ** (1.0 / (16 // b)) - 0.9) for b in (1, 2, 4, 8, 16)
    ]
    assert abs(implied - 0.9) <= min(candidates) + 1e-9


def test_kmeans_ivf_beats_label_cells(spark):
    """The learned coarse quantizer (VERDICT r1 item 9) must meet or beat
    the pre-assigned-label cells on recall@5 — k-means cells follow the
    data's density, labels don't have to."""
    from gene_level_metadata_pipeline_spark.plans.driver_queries import QUERIES
    from tests.conftest import SF_SMOKE

    label = QUERIES["ann_ivf_recall"](spark, SF_SMOKE).collect()[0]
    learned = QUERIES["ann_ivf_kmeans_recall"](spark, SF_SMOKE).collect()[0]
    assert learned["n_truth"] == label["n_truth"]
    assert learned["recall"] >= label["recall"], (label, learned)


def test_kmeans_centroids_deterministic_shape(spark):
    """Centroids: k rows, same dim as input, repeat-run identical."""
    from gene_level_metadata_pipeline_spark.operators import similarity
    from tests.conftest import SF_SMOKE

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    c1 = similarity.kmeans_centroids(emb, k=4, iters=1).collect()
    c2 = similarity.kmeans_centroids(emb, k=4, iters=1).collect()
    assert len(c1) == 4
    dim = len(emb.select("embedding").first()[0])
    assert all(len(r["ce"]) == dim for r in c1)
    assert sorted(map(tuple, ((r["cid"], tuple(r["ce"])) for r in c1))) == \
           sorted(map(tuple, ((r["cid"], tuple(r["ce"])) for r in c2)))


def test_kmeans_multi_iteration_improves_or_holds_objective(spark):
    """More Lloyd iterations must not worsen the mean assignment
    similarity (monotone objective, up to the 4dp rounding grid)."""
    from pyspark.sql import functions as F

    from gene_level_metadata_pipeline_spark.operators import similarity
    from tests.conftest import SF_SMOKE

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")

    def objective(iters):
        cent = similarity.kmeans_centroids(emb, k=4, iters=iters)
        v = emb.withColumn(
            "__ed",
            F.transform(F.col("embedding"), lambda x: x.cast("double")),
        )
        scored = v.join(F.broadcast(cent)).select(
            "vec_id",
            F.round(similarity.cosine(F.col("__ed"), F.col("ce")), 4).alias("s"),
        )
        best = scored.groupBy("vec_id").agg(F.max("s").alias("b"))
        return best.agg(F.avg("b")).first()[0]

    assert objective(3) >= objective(1) - 1e-4


def test_dedup_against_history_exact_and_selective(spark):
    """The Bloom pre-filter must (a) never change the exact result and
    (b) actually prune: the definitely-new branch should carry ~(1-fpp)
    of the truly-new rows past the anti join for free."""
    from pyspark.sql import functions as F

    from gene_level_metadata_pipeline_spark.operators.dedup import (
        dedup_against_history,
    )

    hist = spark.range(0, 300).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("shared text "), F.col("id")).alias("text"),
    )
    new = spark.range(200, 800).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("shared text "), F.col("id")).alias("text"),
    )
    out = dedup_against_history(new, hist, "text", "doc_id",
                                expected_history=1_000)
    got = sorted(r["doc_id"] for r in out.collect())
    assert got == list(range(300, 800))  # exact: overlap 200-299 dropped


def test_kmeans_survives_empty_clusters(spark):
    """Seeds that attract no vectors simply drop out of the centroid
    frame; assignment stays total (every vector gets a cell)."""
    from pyspark.sql import functions as F

    from gene_level_metadata_pipeline_spark.operators import similarity

    # 20 vectors in two tight groups -> most of the 8 seeds end up empty
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(10)] + \
           [(i, [0.0, 1.0, 0.0, 0.0]) for i in range(10, 20)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cent = similarity.kmeans_centroids(emb, k=8, iters=2)
    n_cent = cent.count()
    assert 1 <= n_cent <= 8
    cells = similarity.assign_cells(emb, cent)
    assert cells.where(F.col("cell").isNull()).count() == 0
    assert cells.count() == 20


def test_keep_best_string_ids_deterministic_tiebreak(spark):
    """String ids must tie-break deterministically (lowest id wins among
    max-priority copies); the old -id negation NULLed out on strings and
    the pick became nondeterministic (ADVICE r2)."""
    df = spark.createDataFrame(
        [
            ("doc-b", "same text", 2),
            ("doc-a", "same text", 2),   # ties doc-b on priority; wins on id
            ("doc-z", "same text", 1),
            ("doc-x", "other text", 0),
        ],
        ["doc_id", "text", "priority"],
    )
    out = dedup.dedup_exact_keep_best(df, "text", "doc_id", "priority").collect()
    by_fp = {r["fingerprint"]: r for r in out}
    assert by_fp[md5("same text")]["keep_id"] == "doc-a"
    assert by_fp[md5("same text")]["best_priority"] == 2
    assert by_fp[md5("same text")]["n_copies"] == 3
    assert by_fp[md5("other text")]["keep_id"] == "doc-x"


def test_keep_best_rejects_non_numeric_priority(spark):
    df = spark.createDataFrame(
        [("a", "t", "high")], ["doc_id", "text", "priority"]
    )
    with pytest.raises(TypeError, match="priority_col.*numeric"):
        dedup.dedup_exact_keep_best(df, "text", "doc_id", "priority")


def test_near_dup_pairs_composes_lsh_and_jaccard(docs, spark):
    """near_dup_pairs = LSH candidates ∩ exact-Jaccard-confirmed truth:
    every emitted pair is an LSH candidate AND meets the threshold, the
    exact-dup pair scores 1.0, and confirm=None returns raw candidates."""
    cands = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_candidate_pairs(
            docs, "text", "doc_id", bands=4
        ).collect()
    }
    truth = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            docs, "text", "doc_id", threshold=0.1
        ).collect()
    }
    out = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.near_dup_pairs(
            docs, "text", "doc_id", threshold=0.1
        ).collect()
    }
    assert out == {p: j for p, j in truth.items() if p in cands}
    assert out[(1, 2)] == 1.0  # exact dup survives the composition

    raw = dedup.near_dup_pairs(docs, "text", "doc_id", confirm=None)
    assert set(raw.columns) == {"doc_a", "doc_b"}
    with pytest.raises(ValueError, match="confirm"):
        dedup.near_dup_pairs(docs, "text", "doc_id", confirm="cosine")


def test_gopher_quality_flags_discriminate(spark):
    """Each Gopher rule must actually fire on a document built to break it."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        gopher_quality_flags,
    )

    good = " ".join(["valid"] * 60)
    bullets = "\n".join(f"- item {i}" for i in range(10))
    dup_lines = "\n".join(["same line here"] * 10)
    symbols = " ".join(["###"] * 30)
    numeric = " ".join(["12345"] * 60)
    ellipses = "\n".join(f"trailing {i}..." for i in range(10))
    docs = spark.createDataFrame(
        [(1, good), (2, bullets), (3, dup_lines), (4, symbols),
         (5, numeric), (6, ellipses)],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in
           gopher_quality_flags(docs, "text", "doc_id").collect()}
    assert out[1].gopher_ok  # clean doc passes every rule
    assert not out[2].bullet_ok and out[2].bullet_ratio == 1.0
    assert not out[3].dup_line_ok and out[3].dup_line_ratio == 0.9
    assert not out[4].symbol_ok  # 3 hashes per word
    assert not out[5].alpha_ok and out[5].alpha_word_ratio == 0.0
    assert not out[6].ellipsis_ok and out[6].ellipsis_ratio == 1.0


def test_c4_clean_line_and_page_rules(spark):
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        c4_clean,
    )

    docs = spark.createDataFrame(
        [
            (1, "A good sentence stays here.\nno punct line\nAnother keeper stays!"),
            (2, "short.\nThis enables javascript on your browser."),
            (3, "function f() { return 1; }\nThis sentence is fine."),
            (4, "Filler lorem ipsum dolor sit amet.\nA real sentence here."),
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in c4_clean(docs, "text", "doc_id").collect()}
    # doc 1: punctuated >=3-word lines survive, the bare line drops
    assert out[1].clean_text == "A good sentence stays here.\nAnother keeper stays!"
    assert (out[1].n_lines_kept, out[1].n_lines_dropped) == (2, 1)
    # doc 2: "short." fails min-words, the javascript line is banned
    assert out[2].clean_text is None and out[2].n_lines_kept == 0
    assert out[2].page_ok
    # docs 3/4: page-level drops (curly brace, lorem ipsum)
    assert not out[3].page_ok and out[3].clean_text is None
    assert not out[4].page_ok and out[4].clean_text is None


def test_remove_dup_spans_drops_shared_boilerplate(spark):
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        remove_dup_spans,
    )

    boiler = " ".join(f"b{i}" for i in range(20))  # one full shared chunk
    uniq_a = " ".join(f"a{i}" for i in range(20))
    uniq_b = " ".join(f"c{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            (1, boiler + " " + uniq_a + " tail"),
            (2, boiler + " " + uniq_b),
            (3, boiler),  # nothing but boilerplate
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in
           remove_dup_spans(docs, "text", "doc_id").collect()}
    # the shared leading chunk vanishes from every doc; unique chunks stay
    assert out[1].clean_text == uniq_a + " tail"
    assert (out[1].n_chunks_kept, out[1].n_chunks_dropped) == (2, 1)
    assert out[2].clean_text == uniq_b
    # a pure-boilerplate doc is reduced to nothing
    assert out[3].clean_text is None and out[3].n_chunks_kept == 0


def test_triangle_count_known_graph(spark):
    """K4 has 4 triangles; attaching a pendant edge adds none. The
    operator canonicalizes edge direction, so reversed/duplicate input
    edges must not change the count."""
    from gene_level_metadata_pipeline_spark.operators.graph import (
        triangle_count,
    )

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = k4 + [(b, a) for a, b in k4] + [(3, 9)]  # reversed dups + pendant
    df = spark.createDataFrame(edges, "u bigint, v bigint")
    assert triangle_count(df).collect()[0].n_triangles == 4


def test_quantized_topk_recall_vs_float(spark):
    """int8 quantization should barely perturb top-5 neighbor sets: the
    audit bounds per-element error at scale/2, so recall@5 of the
    quantized search against the float truth stays high."""
    from gene_level_metadata_pipeline_spark.plans import driver_queries as dq

    sf = "/root/testdata/sf0.001"
    truth = {
        (r.query_id, r.neighbor_id)
        for r in dq.QUERIES["ann_brute_force_topk"](spark, sf).collect()
    }
    quant = {
        (r.query_id, r.neighbor_id)
        for r in dq.QUERIES["ann_quantized_topk"](spark, sf).collect()
    }
    assert len(truth) == len(quant) == 50
    recall = len(truth & quant) / len(truth)
    assert recall >= 0.9, f"quantized recall@5 degraded to {recall}"


def test_lsh_bucket_cap_bounds_runaway_buckets(spark):
    """VERDICT r3 item 1: a boilerplate-saturated (band, band_hash) bucket
    (5k identical docs) must be dropped BEFORE pair generation — bounded
    output, counted by the Observation, surfaced as a warning — while
    genuine near-dups in normal-sized buckets still pair, and the
    default-path result on dup-free buckets is cap-invariant."""
    import warnings

    from pyspark.sql import Observation

    boiler = "the quick brown fox jumps over the lazy dog every single day"
    rows = [(i, boiler) for i in range(5000)]
    rows += [
        (9001, "alpha beta gamma delta epsilon zeta eta theta"),
        (9002, "alpha beta gamma delta epsilon zeta eta iota"),
        (9003, "completely unrelated text about spark execution engines"),
    ]
    big = spark.createDataFrame(rows, "doc_id long, text string")

    obs = Observation("lsh_cap")
    capped = dedup.minhash_candidate_pairs(
        big, "text", "doc_id", max_bucket_size=100, observation=obs
    )
    pairs = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    # the 5000-doc bucket would emit ~12.5M pairs uncapped; capped output
    # is exactly the one real near-dup pair from the normal bucket
    assert pairs == {(9001, 9002)}
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        dropped = dedup.warn_capped_buckets(obs)
    assert dropped == 5000 * 4  # every band bucket of the boilerplate doc
    assert len(caught) == 1 and "bucket cap dropped" in str(caught[0].message)

    # cap plumbing reaches near_dup_pairs too, and the confirm stage
    # still scores the surviving candidate exactly
    nd = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.near_dup_pairs(
            big, "text", "doc_id", threshold=0.1, max_bucket_size=100
        ).collect()
    }
    assert nd == {(9001, 9002)}

    with pytest.raises(ValueError, match="max_bucket_size"):
        dedup.minhash_candidate_pairs(big, "text", "doc_id", max_bucket_size=1)


def test_lsh_bucket_cap_default_matches_uncapped(spark, docs):
    """Default cap (1000) must not change results on ordinary corpora —
    the driver-facing oracles run through this path."""
    a = sorted(
        map(tuple, dedup.minhash_candidate_pairs(docs, "text", "doc_id").collect())
    )
    b = sorted(
        map(
            tuple,
            dedup.minhash_candidate_pairs(
                docs, "text", "doc_id", max_bucket_size=None
            ).collect(),
        )
    )
    assert a == b


def test_sign_lsh_bucket_cap_bounds_runaway_buckets(spark):
    """Embedding twin of the minhash bucket cap: a saturated sign bucket
    (500 identical vectors — degenerate embeddings share one sign
    pattern the way boilerplate shares one MinHash band) is dropped
    whole before the intra-bucket self-join, counted by the Observation
    and surfaced by dedup.warn_capped_buckets, while the genuine
    near-dup pair in a normal bucket still scores."""
    import warnings

    from pyspark.sql import Observation

    rows = [(i, [1.0, 1.0, 1.0, 1.0]) for i in range(500)]
    rows += [
        (9001, [-1.0, 1.0, 1.0, 1.0]),
        (9002, [-1.0, 1.0, 1.0, 0.99]),   # same bucket as 9001, cos ~ 1
        (9003, [1.0, -1.0, -1.0, -1.0]),  # alone in its bucket: no pairs
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    obs = Observation("sign_cap")
    capped = similarity.sign_lsh_pairs(
        vecs, planes=4, threshold=0.9, max_bucket_size=100, observation=obs
    )
    pairs = {(r["vec_a"], r["vec_b"]) for r in capped.collect()}
    # the 500-vector bucket would alone emit ~125k pairs uncapped
    assert pairs == {(9001, 9002)}
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        dropped = dedup.warn_capped_buckets(obs)
    assert dropped == 500
    assert len(caught) == 1 and "bucket cap dropped" in str(caught[0].message)

    with pytest.raises(ValueError, match="max_bucket_size"):
        similarity.sign_lsh_pairs(vecs, max_bucket_size=1)


def test_semantic_near_dup_canonicalizes_within_cells(spark):
    """semantic_near_dup (SemDeDup shape): k-means cells block the
    corpus, intra-cell cosine >= threshold pairs canonicalize to the min
    id. Two tight clusters seeded by the two lowest ids: each cluster's
    near-identical pair collapses, cross-cluster vectors never compare."""
    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.0, 1.0, 0.0, 0.0]),
            (2, [1.0, 0.01, 0.0, 0.0]),
            (3, [0.0, 1.0, 0.01, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = {
        r["vec_id"]: (r["canonical_id"], r["is_canonical"])
        for r in similarity.semantic_near_dup(
            vecs, k=2, threshold=0.99
        ).collect()
    }
    assert out == {0: (0, True), 1: (1, True), 2: (0, False), 3: (1, False)}

    # max_cell_size plumbing: both cells have exactly 2 members, so a
    # cap of 2 keeps them (result-invariant); a cap below the pair
    # minimum raises
    out2 = {
        r["vec_id"]: r["canonical_id"]
        for r in similarity.semantic_near_dup(
            vecs, k=2, threshold=0.99, max_cell_size=2
        ).collect()
    }
    assert out2 == {0: 0, 1: 1, 2: 0, 3: 1}
    with pytest.raises(ValueError, match="max_bucket_size"):
        similarity.semantic_near_dup(vecs, k=2, max_cell_size=1)


def test_assign_cells_null_embedding_yields_null_cell(spark):
    """NULL-vector contract of the fold-based assignment (r4 review):
    the old max_by implementation ignored NULL similarity orderings and
    returned a NULL cell for a NULL embedding; the fold's -inf init
    would otherwise leak the lowest centroid id. Pin NULL in, NULL out —
    and downstream, semantic_near_dup keeps the NULL-vector row as its
    own canonical singleton (NULL cells join no pairs)."""
    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.0, 1.0]),
            (2, None),
        ],
        "vec_id long, embedding array<double>",
    )
    cents = vecs.where("vec_id < 2").select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    out = {
        r["vec_id"]: r["cell"]
        for r in similarity.assign_cells(vecs, cents).collect()
    }
    assert out == {0: 0, 1: 1, 2: None}

    sem = {
        r["vec_id"]: (r["canonical_id"], r["is_canonical"])
        for r in similarity.semantic_near_dup(
            vecs.where("vec_id < 2").unionAll(
                spark.createDataFrame([(2, None)], "vec_id long, embedding array<double>")
            ),
            k=2, threshold=0.99,
        ).collect()
    }
    assert sem[2] == (2, True)


def test_cosine_family_survives_zero_norm_vectors(spark):
    """r4 review: ANSI DIVIDE_BY_ZERO applies to double division in
    Spark 4, so a zero-norm embedding used to ABORT every cosine-based
    operator. Contract now: undefined similarity → NULL → degenerate
    vectors drop out of pair thresholds and top-k ranks; assignment
    gives them a NULL cell; real vectors are untouched."""
    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.0, 1.0]),
            (2, [0.0, 0.0]),    # zero norm
            (3, None),           # NULL vector
            (4, [0.95, 0.05]),  # near-dup of 0, NOT a k=2 seed
        ],
        "vec_id long, embedding array<double>",
    )
    # pairs: only (0,4) — the degenerate rows produce NULL sims,
    # (0,1)/(1,4) fall under the threshold
    pairs = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.sign_lsh_pairs(vecs, planes=2, threshold=0.5).collect()
    }
    assert pairs == {(0, 4)}

    # brute-force top-k: zero/NULL candidates never appear
    out = similarity.brute_force_topk(vecs, vecs.where("vec_id = 0"), k=4).collect()
    assert {r["neighbor_id"] for r in out} == {1, 4}

    # assignment: degenerate vectors get NULL cells, real ones real cells
    cents = vecs.where("vec_id < 2").select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    cells = {r["vec_id"]: r["cell"] for r in similarity.assign_cells(vecs, cents).collect()}
    assert cells == {0: 0, 1: 1, 2: None, 3: None, 4: 0}

    # the full Lloyd build + semantic dedup runs end-to-end: degenerate
    # rows stay canonical singletons (no phantom NULL centroid), the
    # real near-dup pair still collapses within its cell
    sem = {
        r["vec_id"]: (r["canonical_id"], r["is_canonical"])
        for r in similarity.semantic_near_dup(vecs, k=2, threshold=0.5).collect()
    }
    assert sem[2] == (2, True) and sem[3] == (3, True)
    assert sem[4] == (0, False) and sem[0] == (0, True)


def test_centroid_classifier_hand_checkable(spark):
    """Rocchio classifier on a fixture small enough to verify by hand:
    two one-doc classes with disjoint vocabulary classify themselves and
    a fresh document perfectly; a doc sharing nothing with the vocab and
    an empty doc get NULL (a filterable "don't know", never a guess)."""
    train = spark.createDataFrame(
        [
            (1, "cat cat dog", "pets"),
            (2, "stock bond stock", "finance"),
        ],
        "doc_id long, text string, lang string",
    )
    model = textanalysis.centroid_train(train, "text", "lang", "doc_id")
    m = {(r["label"], r["word"]): r["m"] for r in model.collect()}
    # one doc per label: centroid == that doc's raw counts
    assert m == {
        ("pets", "cat"): 2.0, ("pets", "dog"): 1.0,
        ("finance", "stock"): 2.0, ("finance", "bond"): 1.0,
    }

    test = spark.createDataFrame(
        [
            (10, "dog dog cat"),
            (11, "bond stock"),
            (12, "zebra quark"),
            (13, ""),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["label"], r["cos_sim"])
        for r in textanalysis.centroid_classify(test, model, "text", "doc_id").collect()
    }
    assert out[10][0] == "pets" and out[11][0] == "finance"
    # cos((2,1),(1,2)) = 4/5 = 0.8 exactly
    assert out[10][1] == 0.8
    assert out[12] == (None, None) and out[13] == (None, None)


def test_centroid_classifier_separates_signal_classes(spark):
    """On a corpus with real class signal (label-specific vocabulary
    plus heavy shared noise) the classifier must recover the labels of
    unseen documents — the smoke check a curation pipeline runs before
    trusting a filter model. (The parquet documents fixture is NOT used
    here: its lang column is uncorrelated random metadata, so agreement
    there is chance by construction.)"""
    noise = "data table row batch merge join"
    train = [
        (i, f"{noise} kitten whisker paw fur meow tail", "pets")
        for i in range(20)
    ] + [
        (100 + i, f"{noise} dividend ledger bond equity yield", "finance")
        for i in range(20)
    ]
    tdf = spark.createDataFrame(train, "doc_id long, text string, lang string")
    model = textanalysis.centroid_train(tdf, "text", "lang", "doc_id")

    test = spark.createDataFrame(
        [
            (200, f"{noise} paw fur kitten"),
            (201, f"{noise} meow tail whisker"),
            (202, f"{noise} bond yield dividend"),
            (203, f"{noise} ledger equity bond"),
        ],
        "doc_id long, text string",
    )
    pred = {
        r["doc_id"]: r["label"]
        for r in textanalysis.centroid_classify(test, model, "text", "doc_id").collect()
    }
    assert pred == {200: "pets", 201: "pets", 202: "finance", 203: "finance"}


def test_dedup_history_bloom_underestimate_rebuilds_bounded(spark):
    """r4 advice: a caller's 100x under-estimated expected_history used
    to silently saturate the mask (every probe a hit -> the whole new
    batch paid the exact confirm join). The build now verifies the
    estimate against a free row-count Observation and rebuilds once at
    the measured size: warning fires, the mask's measured bit-fill stays
    near the ideal ~50% (a saturated mask is ~100%), and the result is
    still exact."""
    import warnings as w

    from gene_level_metadata_pipeline_spark.operators.dedup import (
        _bloom_size,
        _history_bloom,
        dedup_against_history,
    )

    hist = spark.range(0, 5000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), F.col("id")).alias("text"),
    )
    hist_fp = hist.select(F.md5("text").alias("fp"))

    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        arr, m, k = _history_bloom(hist_fp, 50, 0.01)
    assert any("under-estimated" in str(c.message) for c in caught)
    # rebuilt at the measured size, not the estimate
    assert (m, k) == _bloom_size(5000, 0.01)
    fill = sum(bin(x & (2**64 - 1)).count("1") for x in arr) / m
    assert 0.3 < fill < 0.6  # ideal sizing fills ~50%; saturation is ~1.0
    # confirm-side bound follows: P(bloom hit | truly new) ~ fill^k
    assert fill ** k < 0.05

    # end to end: same under-estimate, result still exact
    new = spark.range(4000, 6000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), F.col("id")).alias("text"),
    )
    with w.catch_warnings(record=True):
        w.simplefilter("always")
        out = dedup_against_history(new, hist, "text", "doc_id",
                                    expected_history=50)
    assert sorted(r["doc_id"] for r in out.collect()) == list(range(5000, 6000))


def test_dedup_history_bloom_auto_sizes_from_count(spark):
    """expected_history=None (new default) sizes from history.count():
    no drift warning, exact result."""
    import warnings as w

    from gene_level_metadata_pipeline_spark.operators.dedup import (
        dedup_against_history,
    )

    hist = spark.range(0, 400).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("t "), F.col("id")).alias("text"),
    )
    new = spark.range(300, 700).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("t "), F.col("id")).alias("text"),
    )
    with w.catch_warnings():
        w.simplefilter("error")  # any drift warning -> test failure
        out = dedup_against_history(new, hist, "text", "doc_id")
        got = sorted(r["doc_id"] for r in out.collect())
    assert got == list(range(400, 700))

    import pytest

    with pytest.raises(ValueError, match="expected_history=0"):
        dedup_against_history(new, hist, "text", "doc_id", expected_history=0)


def test_bm25_ranks_rare_term_match_first(spark):
    """BM25 semantics on a hand-built corpus: the doc containing the
    query's RARE word outranks docs matching only the common word
    (idf dominance); ranks are dense from 1; ties break by doc id."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        bm25_topk,
    )

    docs = spark.createDataFrame(
        [
            (1, "common common common"),
            (2, "common rare"),
            (3, "common common"),
            (4, "other words entirely"),
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(0, "rare common")], "qid bigint, query string"
    )
    out = bm25_topk(docs, queries, "text", "doc_id", k=3).collect()
    ranked = [r["doc_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked[0] == 2  # only doc with the rare term
    assert len(ranked) == 3 and 4 not in ranked  # no query word -> absent
    assert all(r["score"] > 0 for r in out)


def test_unigram_logprob_scores_contract(spark):
    """Common-word documents score LOWER surprise than rare-word ones;
    token counts are exact; empty/NULL docs are excluded (no 0/0)."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        unigram_logprob_scores,
    )

    docs = spark.createDataFrame(
        [
            (1, "the the the the the the the the"),
            (2, "zyx"),
            (3, ""),
            (4, None),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           unigram_logprob_scores(docs, "text", "doc_id").collect()}
    assert set(out) == {1, 2}
    assert out[1]["n_tokens"] == 8 and out[2]["n_tokens"] == 1
    assert out[1]["avg_neg_logprob"] < out[2]["avg_neg_logprob"]
    # hand check doc 2: p(zyx) = (1+1)/(9+2); -ln(2/11) = 1.7047
    assert abs(out[2]["avg_neg_logprob"] - 1.7047) < 1e-4


def test_corpus_overlap_minhash_extremes(spark):
    """Identical corpora estimate 1.0, disjoint 0.0, empty side 0.0 (a
    NULL minimum matches nothing); invalid k raises."""
    import pytest

    from gene_level_metadata_pipeline_spark.operators.dedup import (
        corpus_overlap_minhash,
    )

    a = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(20)], "doc_id long, text string"
    )
    same = corpus_overlap_minhash(a, a, "text", num_hashes=8).collect()[0]
    assert (same["k"], same["n_match"], same["jaccard_est"]) == (8, 8, 1.0)
    b = spark.createDataFrame(
        [(i, f"other {i}") for i in range(20)], "doc_id long, text string"
    )
    disj = corpus_overlap_minhash(a, b, "text", num_hashes=8).collect()[0]
    assert (disj["n_match"], disj["jaccard_est"]) == (0, 0.0)
    empty = corpus_overlap_minhash(
        a, a.where("doc_id < 0"), "text", num_hashes=4
    ).collect()[0]
    assert (empty["n_match"], empty["jaccard_est"]) == (0, 0.0)
    with pytest.raises(ValueError, match="num_hashes=0"):
        corpus_overlap_minhash(a, b, "text", num_hashes=0)


def test_zipf_fit_degenerate_vocab_yields_null_fit(spark, tmp_path):
    """A 1-word vocabulary puts the single fit point at x = ln(1) = 0,
    making the least-squares denominator exactly 0 — the fit is NULL,
    not an ANSI DIVIDE_BY_ZERO abort (and DuckDB's nullif mirrors it)."""
    from gene_level_metadata_pipeline_spark.plans.q_dedup_text import (
        q_corpus_zipf_fit,
    )

    spark.createDataFrame(
        [(1, "word word word"), (2, "word")],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    row = q_corpus_zipf_fit(spark, str(tmp_path)).collect()[0]
    assert row["n_words_fit"] == 1
    assert row["zipf_slope"] is None and row["zipf_intercept"] is None


def test_fuzzy_dup_pairs_k2_and_edges(spark):
    """Deletion-neighborhood completeness at k=2 (hand-checkable set),
    empty strings pair only with <=k-length strings, NULL text emits
    nothing, and k outside [1, 2] raises."""
    import pytest

    from gene_level_metadata_pipeline_spark.operators.dedup import (
        fuzzy_dup_pairs,
    )

    df = spark.createDataFrame(
        [(1, "abcd"), (2, "abxy"), (3, "abc"), (4, ""), (5, "ab"), (6, None)],
        "id long, t string",
    )
    out = {(r["id_a"], r["id_b"]): r["distance"]
           for r in fuzzy_dup_pairs(df, "t", "id", max_distance=2).collect()}
    # exact expected set by hand: ld(abcd,abxy)=2, ld(abcd,abc)=1,
    # ld(abcd,ab)=2, ld(abxy,abc)=2, ld(abxy,ab)=2, ld(abc,ab)=1,
    # ld("",ab)=2; "" vs abc/abcd/abxy are 3-4, absent
    assert out == {
        (1, 2): 2, (1, 3): 1, (1, 5): 2, (2, 3): 2, (2, 5): 2,
        (3, 5): 1, (4, 5): 2,
    }
    with pytest.raises(ValueError, match="max_distance=3"):
        fuzzy_dup_pairs(df, "t", "id", max_distance=3)


def test_containment_catches_what_jaccard_misses(spark):
    """The operator's reason to exist: a sentence fully copied into a
    much longer page has tiny Jaccard but containment 1.0."""
    from gene_level_metadata_pipeline_spark.operators.dedup import (
        ngram_containment_pairs, ngram_jaccard_pairs,
    )

    small = "the quick brown fox jumps"
    big = small + " " + " ".join(f"w{i}" for i in range(200))
    df = spark.createDataFrame(
        [(1, small), (2, big)], "doc_id long, text string"
    )
    jac = ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.5).collect()
    assert jac == []  # J = 3/205 — invisible to the symmetric metric
    out = ngram_containment_pairs(
        df, "text", "doc_id", threshold=0.8
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["doc_a"], r["doc_b"], r["c_ab"], r["containment"]) == (
        1, 2, 1.0, 1.0,
    )
    assert r["c_ba"] < 0.05


def test_bpe_train_greedy_and_multichar_merges(spark):
    """Hand-checkable corpus: 'abab' must merge (a,b) TWICE per word
    (consecutive merge sites share no chars in the wrapped form), 'aaa'
    merges greedily left-to-right into [aa, a], and a later round must
    merge a MULTI-CHAR symbol produced earlier."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        bpe_train,
    )

    docs = spark.createDataFrame(
        [(1, "abab abab abx"), (2, "abab abx aaa")],
        "doc_id long, text string",
    )
    out = {r["round"]: (r["sym_a"], r["sym_b"], r["pair_count"])
           for r in bpe_train(docs, rounds=3).collect()}
    # vocab: abab freq 3, abx freq 2, aaa freq 1
    # round 1 pairs: (a,b)=3*2+2=8, (b,a)=3, (b,x)=2, (a,a)=2 -> merge (a,b)
    assert out[1] == ("a", "b", 8)
    # round 2: abab->[ab,ab], abx->[ab,x], aaa->[aa,a] (greedy);
    # pairs: (ab,ab)=3, (ab,x)=2, (a,a)=2 -> merge (ab,ab): multi-char
    assert out[2] == ("ab", "ab", 3)
    # round 3: remaining pairs (ab,x)=2, (a,a)=2 -> tie broken on sym_a:
    # 'a' < 'ab' -> (a,a)
    assert out[3] == ("a", "a", 2)


def test_bpe_train_empty_corpus(spark):
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        bpe_train,
    )

    docs = spark.createDataFrame([(1, "123 456")], "doc_id long, text string")
    out = bpe_train(docs, rounds=2)
    assert out.count() == 0
    assert out.columns == ["round", "sym_a", "sym_b", "pair_count"]


def test_bpe_encode_counts_and_compression(spark):
    """doc 1 = 'abab abab cd', merges [(a,b),(ab,ab)]: 'abab' encodes to
    1 token (abab), 'cd' stays 2 tokens (c,d) -> 2 words 'abab' (x2) +
    'cd': n_words=3, n_chars=10, n_tokens=2*1+2=4, compression=2.5."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        bpe_encode,
    )

    docs = spark.createDataFrame(
        [(1, "abab abab cd"), (2, None)], "doc_id long, text string"
    )
    out = bpe_encode(docs, [("a", "b"), ("ab", "ab")]).collect()
    assert len(out) == 1  # NULL-text doc produces no row
    r = out[0]
    assert (r["doc_id"], r["n_words"], r["n_chars"], r["n_tokens"],
            r["compression"]) == (1, 3, 10, 4, 2.5)


def test_bpe_encode_accepts_trained_frame(spark):
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        bpe_encode,
        bpe_train,
    )

    docs = spark.createDataFrame(
        [(1, "hello hello world")], "doc_id long, text string"
    )
    m = bpe_train(docs, rounds=2)
    r = bpe_encode(docs, m).collect()[0]
    # 2 merges shave exactly 2 symbols off every word containing the
    # merged pairs; counts stay consistent
    assert r["n_words"] == 3 and r["n_chars"] == 15
    assert r["n_tokens"] < 15 and r["n_tokens"] >= 3


def test_feature_hash_fixed_space_and_sign_cancellation(spark):
    """Same word always lands in the same bucket with the same sign
    (engine-independent md5 arithmetic); repeated occurrences
    accumulate; unsigned mode counts plainly; bounds validated."""
    import pytest

    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        feature_hash,
    )

    docs = spark.createDataFrame(
        [(1, "alpha alpha beta"), (2, "alpha")], "doc_id long, text string"
    )
    out = feature_hash(docs, n_features=8)
    rows = {(r["doc_id"], r["bucket"]): r["val"] for r in out.collect()}
    # alpha's (bucket, sign) identical across docs: doc2's single alpha
    # val must be half doc1's double-alpha val (same sign, 1 vs 2) when
    # they don't collide with beta
    import hashlib
    h = hashlib.md5(b"alpha").hexdigest()
    ab = (int(h[0], 16) * 16 + int(h[1], 16)) % 8
    asg = 1 if int(h[2], 16) < 8 else -1
    assert rows[(2, ab)] == asg
    unsigned = feature_hash(docs, n_features=8, signed=False)
    totals = {r["doc_id"]: r["val"] for r in unsigned.groupBy("doc_id")
              .agg(__import__("pyspark.sql.functions", fromlist=["F"])
                   .sum("val").alias("val")).collect()}
    assert totals == {1: 3, 2: 1}  # unsigned sums = word counts
    with pytest.raises(ValueError, match="n_features"):
        feature_hash(docs, n_features=0)


def test_near_dup_against_history_bipartite_only(spark):
    """Candidates are strictly new x history: two identical docs INSIDE
    the new batch must not pair with each other, and a new doc matching
    a history doc must; the history cap drops a saturated bucket."""
    from gene_level_metadata_pipeline_spark.operators.dedup import (
        near_dup_against_history,
    )

    txt = "the quick brown fox jumps over the lazy dog tonight"
    new = spark.createDataFrame(
        [(1, txt), (3, txt), (5, "completely different words here folks")],
        "doc_id long, text string",
    )
    hist = spark.createDataFrame(
        [(2, txt), (4, "unrelated history document text body")],
        "doc_id long, text string",
    )
    out = sorted(
        (r["new_id"], r["hist_id"]) for r in near_dup_against_history(
            new, hist, "text", "doc_id", threshold=0.5
        ).collect()
    )
    assert out == [(1, 2), (3, 2)]  # never (1, 3)

    # cap = 1: history bucket with the shared text has 1 member, so it
    # survives; cap semantics smoke-checked by a 2-member bucket
    hist2 = spark.createDataFrame(
        [(2, txt), (6, txt)], "doc_id long, text string"
    )
    capped = near_dup_against_history(
        new, hist2, "text", "doc_id", threshold=0.5, max_history_bucket=1
    )
    assert capped.count() == 0  # both history copies share every bucket


def test_source_overlap_matrix_identical_disjoint_empty(spark):
    """Identical feeds estimate 1.0, disjoint ~0, a NULL-text feed
    matches nothing; rows only for src_a < src_b."""
    from gene_level_metadata_pipeline_spark.operators.dedup import (
        source_overlap_matrix,
    )

    rows = (
        [("a", f"doc {i}") for i in range(12)]
        + [("b", f"doc {i}") for i in range(12)]       # identical to a
        + [("c", f"other {i}") for i in range(12)]      # disjoint
        + [("d", None)]                                  # empty sketch
    )
    df = spark.createDataFrame(rows, "source string, text string")
    out = {(r["src_a"], r["src_b"]): r["jaccard_est"]
           for r in source_overlap_matrix(df, "source", "text", 16).collect()}
    assert set(out) == {("a", "b"), ("a", "c"), ("a", "d"),
                        ("b", "c"), ("b", "d"), ("c", "d")}
    assert out[("a", "b")] == 1.0
    assert out[("a", "c")] <= 0.25          # disjoint: few chance matches
    assert out[("a", "d")] == 0.0 and out[("c", "d")] == 0.0


def test_bpe_train_batched_batch1_replays_sequential(spark):
    """batch=1 must be EXACTLY sequential BPE: same argmax, same
    tie-break, same application — the equivalence anchor for the batched
    path. The expected table is the one the separate sequential trainer
    produced before the batched body replaced it."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        bpe_train,
    )

    docs = spark.createDataFrame(
        [(1, "abab abab abx"), (2, "abab abx aaa zqzq zq")],
        "doc_id long, text string",
    )
    seq = [(1, "a", "b", 8), (2, "ab", "ab", 3), (3, "z", "q", 3),
           (4, "a", "a", 2), (5, "ab", "x", 2)]
    b1 = [tuple(r) for r in bpe_train(docs, rounds=5, batch=1).collect()]
    assert seq == b1 and len(seq) > 0
    assert [tuple(r) for r in bpe_train(docs, rounds=5).collect()] == seq


def test_bpe_train_batched_disjoint_selection(spark):
    """Within one job the selected merges must be symbol-disjoint: the
    corpus makes (a,b) the top pair and (b,c)/(a,b)-touching pairs the
    runners-up, so batch=2 must SKIP to the best non-touching pair.
    vocab: 'abc' freq 4 -> pairs (a,b)=4, (b,c)=4; 'xy' freq 3 -> (x,y)=3.
    Sequential would merge (a,b) then (ab,c); one batched job must pick
    (a,b) [tie-break beats (b,c) on sym_a] then skip (b,c) [shares b]
    and take (x,y)."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        bpe_train,
    )

    docs = spark.createDataFrame(
        [(1, "abc abc abc abc xy xy xy")], "doc_id long, text string"
    )
    out = [tuple(r) for r in
           bpe_train(docs, rounds=1, batch=2).collect()]
    assert out == [(1, "a", "b", 4), (2, "x", "y", 3)]


def test_bpe_train_batched_merged_symbol_blocked(spark):
    """Used-set contract over real data: within each job's batch, no
    selection may share a symbol with an earlier one OR name an earlier
    pick's merged concatenation (the a+b guard matters from job 2 on,
    when multi-char symbols exist in the vocabulary)."""
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        bpe_train,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = [tuple(r) for r in
           bpe_train(docs, rounds=2, batch=4).collect()]
    assert len(out) >= 4
    # reconstruct per-job batches (4 per job) and check the invariant
    for j in (0, 1):
        batch = out[j * 4:(j + 1) * 4]
        used = set()
        for _, a, b, _c in batch:
            assert a not in used and b not in used and (a + b) not in used
            used.update((a, b, a + b))


def test_bpe_train_batched_bad_batch_raises(spark):
    import pytest as _pytest

    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        bpe_train,
    )

    docs = spark.createDataFrame([(1, "ab")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        bpe_train(docs, batch=0)


class TestLinearClassifier:
    """textanalysis.linear_classifier_train/_score — exact-DECIMAL GD."""

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        # 'alpha' appears only in positives, 'omega' only in negatives;
        # with n_features=16 they hash to distinct buckets (md5-dependent
        # but stable), so 3 GD rounds must separate the classes.
        return spark.createDataFrame(
            [
                (1, "alpha alpha alpha", "en"),
                (2, "alpha alpha", "en"),
                (3, "omega omega omega", "fr"),
                (4, "omega omega", "fr"),
                (5, None, "en"),          # NULL text: excluded from training
                (6, "12345 !!!", "fr"),   # no [a-z] tokens: zero features
            ],
            ["doc_id", "text", "lang"],
        )

    def test_training_separates_classes(self, spark, corpus):
        w = textanalysis.linear_classifier_train(corpus, rounds=3)
        scores = {
            r["doc_id"]: (r["score"], r["pred"])
            for r in textanalysis.linear_classifier_score(
                corpus, w
            ).collect()
        }
        assert scores[1][0] > scores[3][0]
        assert scores[1][1] == 1 and scores[2][1] == 1
        assert scores[3][1] == 0 and scores[4][1] == 0
        # featureless docs sit exactly on the (inclusive) 0.5 boundary
        assert scores[5] == (0.5, 1)
        assert scores[6] == (0.5, 1)
        # scores are clamped probabilities
        assert all(0.0 <= s <= 1.0 for s, _ in scores.values())

    def test_zero_rounds_is_untrained_half(self, spark, corpus):
        w = textanalysis.linear_classifier_train(corpus, rounds=0)
        assert all(r["w"] == 0 for r in w.collect())
        got = textanalysis.linear_classifier_score(corpus, w).collect()
        assert all(r["score"] == 0.5 and r["pred"] == 1 for r in got)

    def test_weights_are_exact_decimals_and_replayable(self, spark, corpus):
        a = textanalysis.linear_classifier_train(corpus, rounds=2)
        b = textanalysis.linear_classifier_train(corpus, rounds=2)
        assert sorted(map(tuple, a.collect())) == sorted(
            map(tuple, b.collect())
        )


class TestPcaTopComponent:
    """similarity.pca_top_component — exact-integer power iteration."""

    def test_dominant_axis_wins(self, spark):
        # variance lives on axis 0 (values +-8); axis 2 has tiny spread.
        rows = [
            (1, [8.0, 0.0, 0.1, 0.0], 0),
            (2, [-8.0, 0.0, 0.2, 0.0], 0),
            (3, [4.0, 0.0, 0.15, 0.0], 1),
            (4, [-4.0, 0.0, 0.05, 0.0], 1),
            (5, [0.5, 0.0, 0.1, 0.0], 2),
            (6, None, 2),                     # NULL vector: excluded
            (7, [1.0, 2.0], 2),               # wrong dim: excluded
        ]
        from gene_level_metadata_pipeline_spark.operators.similarity import (
            pca_top_component,
        )

        df = spark.createDataFrame(
            rows, "vec_id bigint, embedding array<float>, label int"
        )
        got = pca_top_component(
            df, dim=4, k=3
        ).collect()
        # top-|projection| docs are the extreme axis-0 vectors (the
        # projection is uncentered, so the axis-0 mean offset decides
        # order within the +-8 pair; the component still dominates)
        assert {r["vec_id"] for r in got[:2]} == {1, 2}
        assert got[2]["vec_id"] in (3, 4)
        # projections are exact integer digit strings (sign allowed)
        assert all(
            r["proj"].lstrip("-").isdigit() for r in got
        )
        # opposite extremes project with opposite signs
        assert (got[0]["proj"].startswith("-")) != (
            got[1]["proj"].startswith("-")
        )

    def test_deterministic_replay(self, spark):
        from gene_level_metadata_pipeline_spark.operators.similarity import (
            pca_top_component,
        )

        rows = [
            (i, [float((i * 7) % 5 - 2), float(i % 3), 0.5, -1.0], i % 2)
            for i in range(20)
        ]
        df = spark.createDataFrame(
            rows, "vec_id bigint, embedding array<float>, label int"
        )
        a = pca_top_component(df, dim=4, k=10).collect()
        b = pca_top_component(df, dim=4, k=10).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_decode_audio_wav_real_bytes_end_to_end(spark):
    """Round-7 (VERDICT r6 task 8): the WAV/PCM path decodes REAL bytes
    with the stdlib wave module — synthesize a 16-bit PCM WAV with a
    known sample pattern, push it through the Arrow-batched decoder,
    and check every header field and sample-derived feature exactly."""
    import array
    import io
    import wave

    from gene_level_metadata_pipeline_spark.operators import multimodal as mm

    def make_wav(samples, rate=8000, channels=1):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(channels)
            w.setsampwidth(2)
            w.setframerate(rate)
            w.writeframes(array.array("h", samples).tobytes())
        return buf.getvalue()

    s1 = [0, 1000, -2000, 32767, -32768, 5, -5, 42, 7]
    s2 = [100, -100, 100, -100]          # stereo: 2 frames x 2 channels
    df = spark.createDataFrame(
        [(1, bytearray(make_wav(s1))),
         (2, bytearray(make_wav(s2, rate=16000, channels=2)))],
        "doc_id long, payload binary",
    )
    out = {r.doc_id: r for r in mm.decode_audio(df).collect()}

    r1 = out[1]
    assert (r1.sample_rate, r1.n_channels, r1.sample_width) == (8000, 1, 2)
    assert r1.n_frames == len(s1)
    assert r1.peak == 32768
    assert r1.head_samples == s1[:8]

    r2 = out[2]
    assert (r2.sample_rate, r2.n_channels, r2.sample_width) == (16000, 2, 2)
    assert r2.n_frames == 2              # frames, not samples
    assert r2.peak == 100
    assert r2.head_samples == s2


def test_decode_audio_rejects_non_pcm16_and_garbage(spark):
    """Fail-loud contract: 8-bit WAV and non-WAV bytes raise, never
    silently null out (corpus corruption must surface)."""
    import io
    import wave

    import pytest

    from gene_level_metadata_pipeline_spark.operators import multimodal as mm

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)                # 8-bit: unsupported
        w.setframerate(8000)
        w.writeframes(b"\x80\x7f")
    eight_bit = spark.createDataFrame(
        [(1, bytearray(buf.getvalue()))], "doc_id long, payload binary"
    )
    with pytest.raises(Exception, match="16-bit PCM"):
        mm.decode_audio(eight_bit.coalesce(1)).collect()

    garbage = spark.createDataFrame(
        [(2, bytearray(b"not a wav file"))], "doc_id long, payload binary"
    )
    with pytest.raises(Exception):
        mm.decode_audio(garbage.coalesce(1)).collect()


def test_decode_audio_compressed_still_gated(spark):
    """The NotImplementedError surface is ffmpeg-only as of r9 (video
    frame sampling + compressed audio) — WAV, BMP, PNG and baseline
    JPEG all decode for real."""
    import pytest

    from gene_level_metadata_pipeline_spark.operators import multimodal as mm

    df = spark.createDataFrame([(1, bytearray(b"x"))],
                               "doc_id long, payload binary")
    with pytest.raises(NotImplementedError, match="ffmpeg"):
        mm.decode_audio(df, codec="ffmpeg")
    with pytest.raises(ValueError, match="unknown codec"):
        mm.decode_audio(df, codec="flac")


def _mk_bmp(w, h, rgb_rows, topdown=False):
    """Build a 24-bit BI_RGB BMP from rgb_rows[y][x] = (r, g, b),
    y=0 the TOP row. Stored bottom-up unless topdown (negative height)."""
    import struct

    stride = (w * 3 + 3) // 4 * 4
    body = bytearray()
    ys = range(h) if topdown else range(h - 1, -1, -1)
    for y in ys:
        row = bytearray()
        for x in range(w):
            r, g, b = rgb_rows[y][x]
            row += bytes((b, g, r))
        row += b"\x00" * (stride - len(row))
        body += row
    hdr = b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, (-h if topdown else h), 1, 24, 0,
        len(body), 0, 0, 0, 0,
    )
    return bytes(hdr + info + body)


def test_decode_image_bmp_real_bytes(spark):
    from gene_level_metadata_pipeline_spark.operators import multimodal as mm

    rows = [[(255, 0, 0), (0, 255, 0), (0, 0, 255)],
            [(10, 20, 30), (200, 100, 50), (0, 0, 0)]]
    lumas = [
        (299 * r + 587 * g + 114 * b) // 1000
        for row in rows for (r, g, b) in row
    ]
    df = spark.createDataFrame(
        [(1, bytearray(_mk_bmp(3, 2, rows))),
         (2, bytearray(_mk_bmp(3, 2, rows, topdown=True)))],
        "doc_id long, payload binary",
    )
    out = {r.doc_id: r for r in mm.decode_image(df, codec="bmp").collect()}
    for i in (1, 2):
        assert (out[i].width, out[i].height, out[i].mode) == (3, 2, "bmp24")
        # both storage orders decode to the same TOP-DOWN pixel list
        assert out[i].pixels == lumas


def test_decode_image_bmp_fail_loud(spark):
    import pytest

    from gene_level_metadata_pipeline_spark.operators import multimodal as mm

    garbage = spark.createDataFrame(
        [(1, bytearray(b"NOTABMP" * 10))], "doc_id long, payload binary"
    )
    with pytest.raises(Exception, match="not a BMP"):
        mm.decode_image(garbage.coalesce(1), codec="bmp").collect()

    # 8-bit palette BMPs are unsupported -> loud, not silent nulls
    import struct

    hdr = b"BM" + struct.pack("<IHHI", 54, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, 1, 1, 1, 8, 0, 4, 0, 0, 0, 0)
    palette = spark.createDataFrame(
        [(1, bytearray(hdr + info + b"\x00\x00\x00\x00"))],
        "doc_id long, payload binary",
    )
    with pytest.raises(Exception, match="only uncompressed 24-bit"):
        mm.decode_image(palette.coalesce(1), codec="bmp").collect()


def test_resize_image_constant_plan_and_224(spark):
    """r10 (VERDICT r9 item 2): resize_image's plan is ONE transform
    lambda over sequence(0, W*H-1) — its analyzed-plan size must not
    grow with the target, and a 224x224 resize must analyze+run in
    interactive time (the r9 per-pixel Column form built ~50k Catalyst
    expressions and took minutes). Values pinned against an
    independently computed nearest-neighbor expectation."""
    import time

    from gene_level_metadata_pipeline_spark.operators import multimodal as mm

    docs = spark.createDataFrame([(1, "abcd")], ["doc_id", "text"])
    decoded = mm.decode_image(
        mm.attach_binary_payload(docs, "text", "doc_id"), codec="fake"
    )  # 2x2 pixels [97,98,99,100]

    small = mm.resize_image(decoded, 4, 4)
    big = mm.resize_image(decoded, 64, 64)
    p_small = small._jdf.queryExecution().analyzed().toString()
    p_big = big._jdf.queryExecution().analyzed().toString()
    # constant plan: a 256x bigger target may only differ by literals
    assert len(p_big) < len(p_small) + 200, (
        len(p_small), len(p_big)
    )

    t0 = time.time()
    row = mm.resize_image(decoded, 224, 224).collect()[0]
    assert time.time() - t0 < 30, "224x224 resize not interactive"
    src = [97, 98, 99, 100]
    want = [
        src[(y * 2 // 224) * 2 + (x * 2 // 224)]
        for y in range(224) for x in range(224)
    ]
    assert row.width == 224 and row.height == 224
    assert row.pixels == want

    import pytest as _pytest

    with _pytest.raises(ValueError, match="resize_image"):
        mm.resize_image(decoded, 0, 4)

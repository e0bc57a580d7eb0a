"""Text-analysis operators for training-data curation.

Language ID (stopword-hit heuristic), quality scoring, token counting, and
document fingerprinting — all Catalyst expressions (array lambdas + regex),
no Python in the hot path. Each op is deterministic and SQL-expressible so
the DuckDB oracle certifies it end-to-end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from gene_level_metadata_pipeline_spark.materialize import (
    materialize as _materialize,
)

__all__ = [
    "STOPWORDS",
    "bpe_train",
    "bpe_encode",
    "feature_hash",
    "lang_scores",
    "lang_id",
    "quality_scores",
    "gopher_quality_flags",
    "c4_clean",
    "hex_sample_bound",
    "token_counts",
    "fingerprint",
    "stable_sample",
    "tf_idf_keywords",
    "repetition_scores",
    "pii_redact",
    "contamination_check",
    "decontaminate",
    "chunk_documents",
    "remove_dup_spans",
    "train_split",
    "normalize_text",
    "centroid_train",
    "centroid_classify",
    "bm25_topk",
    "unigram_logprob_scores",
]

# Tiny per-language stopword lists: enough for the n-gram-heuristic shape;
# a production list would be loaded as a broadcast dimension instead.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "das", "und", "zu"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "los", "de", "y", "una"],
}

# TIE ORDER: languages are compared in this fixed order; argmax ties go to
# the earlier entry. The oracle must use the same chain.
LANGS = list(STOPWORDS)


def _hits(words: Column, vocab: list[str]) -> Column:
    """Occurrence count (not distinct) of vocab words in the token array."""
    arr = F.array(*[F.lit(w) for w in vocab])
    return F.size(F.filter(words, lambda w: F.array_contains(arr, w))).cast("long")


def lang_scores(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-language stopword hit counts: (id, hits_en, hits_de, ...)."""
    words = F.split(F.col(text_col), " ")
    return df.select(
        F.col(id_col),
        *[_hits(words, STOPWORDS[lang]).alias(f"hits_{lang}") for lang in LANGS],
    )


def lang_id(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Predicted language = argmax of stopword hits (ties → LANGS order).

    The n-gram-heuristic language detector: cheap, fully vectorized, and a
    useful pre-filter before any model-based detector at scale.
    Returns (id, hits_*, predicted_lang)."""
    scored = lang_scores(df, text_col, id_col)
    pred = None
    for i, lang in enumerate(LANGS):
        cond = None
        for other in LANGS[i + 1:]:
            c = F.col(f"hits_{lang}") >= F.col(f"hits_{other}")
            cond = c if cond is None else (cond & c)
        if cond is None:  # last language — fallback arm
            pred = pred.otherwise(F.lit(lang))
        else:
            pred = (
                F.when(cond, F.lit(lang)) if pred is None else pred.when(cond, F.lit(lang))
            )
    return scored.withColumn("predicted_lang", pred)


def quality_scores(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Document quality heuristics (length / word shape / stopword ratio).

    Returns (id, n_chars, n_words, avg_word_len, stopword_ratio,
    quality_ok). Mirrors the usual pretraining-filter stack: degenerate
    length, degenerate word shapes, too-low stopword density."""
    words = F.split(F.col(text_col), " ")
    n_chars = F.length(F.col(text_col)).cast("long")
    n_words = F.size(words).cast("long")
    nospace = F.length(F.regexp_replace(F.col(text_col), " ", ""))
    avg_wl = F.round(nospace / n_words, 3)
    stop_ratio = F.round(_hits(words, STOPWORDS["en"]) / n_words, 4)
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        avg_wl.alias("avg_word_len"),
        stop_ratio.alias("stopword_ratio"),
        (
            (n_words >= 5) & (n_words <= 100000) & (nospace / n_words < 12.0)
        ).alias("quality_ok"),
    )


def gopher_quality_flags(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_words: int = 50,
) -> DataFrame:
    """The published Gopher-style document-quality rule stack (Rae et al.
    2021 §A1.1 heuristics, public), each rule a Catalyst array
    expression over one scan — no shuffle, no Python:

    * word count within [min_words, 100000];
    * mean word length within [3, 10];
    * symbol-to-word ratio (``#`` and ``...`` marks) ≤ 0.1;
    * fraction of lines starting with a bullet ≤ 0.9;
    * fraction of lines ending in an ellipsis ≤ 0.3;
    * fraction of words containing an alphabetic char ≥ 0.8;
    * duplicate-line fraction ≤ 0.3.

    Returns per-rule ratios (rounded 4dp — the cross-engine-stable form)
    plus the per-rule booleans and the conjunction ``gopher_ok``.
    Documents with no words fail closed (``gopher_ok`` false)."""
    words = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    lines = F.filter(F.split(F.col(text_col), "\n"), lambda l: l != "")
    n_words = F.size(words).cast("long")
    n_lines = F.size(lines).cast("long")
    # every ratio divides via try_divide: a zero-word / zero-line document
    # yields NULL ratios (not DIVIDE_BY_ZERO under ANSI mode, the Spark 4
    # default), and the flag coalesce below turns NULL into fail-closed —
    # exactly the documented contract for degenerate pages
    mean_wl = F.round(
        F.try_divide(
            F.aggregate(
                words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
            ),
            n_words,
        ),
        4,
    )
    hash_marks = F.length(F.col(text_col)) - F.length(
        F.regexp_replace(F.col(text_col), "#", "")
    )
    ellipsis_marks = F.size(F.split(F.col(text_col), "\\.\\.\\.")) - 1
    symbol_ratio = F.round(
        F.try_divide(hash_marks + ellipsis_marks, n_words), 4
    )
    bullet_lines = F.size(
        F.filter(
            lines,
            lambda l: F.substring(F.ltrim(l), 1, 1).isin("-", "*", "•"),
        )
    )
    bullet_ratio = F.round(F.try_divide(bullet_lines, n_lines), 4)
    ellipsis_lines = F.size(
        F.filter(lines, lambda l: l.endswith("...") | l.endswith("…"))
    )
    ellipsis_ratio = F.round(F.try_divide(ellipsis_lines, n_lines), 4)
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]")))
    alpha_ratio = F.round(F.try_divide(alpha_words, n_words), 4)
    dup_line_ratio = F.round(
        1 - F.try_divide(F.size(F.array_distinct(lines)), n_lines), 4
    )

    out = df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_ratio.alias("bullet_ratio"),
        ellipsis_ratio.alias("ellipsis_ratio"),
        alpha_ratio.alias("alpha_word_ratio"),
        dup_line_ratio.alias("dup_line_ratio"),
    )
    flags = {
        "words_ok": (F.col("n_words") >= min_words)
        & (F.col("n_words") <= 100_000),
        "mean_wl_ok": (F.col("mean_word_len") >= 3.0)
        & (F.col("mean_word_len") <= 10.0),
        "symbol_ok": F.col("symbol_ratio") <= 0.1,
        "bullet_ok": F.col("bullet_ratio") <= 0.9,
        "ellipsis_ok": F.col("ellipsis_ratio") <= 0.3,
        "alpha_ok": F.col("alpha_word_ratio") >= 0.8,
        "dup_line_ok": F.col("dup_line_ratio") <= 0.3,
    }
    for name, expr in flags.items():
        out = out.withColumn(name, F.coalesce(expr, F.lit(False)))
    return out.withColumn(
        "gopher_ok",
        F.col("words_ok")
        & F.col("mean_wl_ok")
        & F.col("symbol_ok")
        & F.col("bullet_ok")
        & F.col("ellipsis_ok")
        & F.col("alpha_ok")
        & F.col("dup_line_ok"),
    )


def c4_clean(
    df: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2 heuristics,
    public): keep only lines that end in terminal punctuation, carry at
    least 3 words, and do not mention "javascript";
    drop the whole page if it contains a curly brace (code marker) or
    the phrase "lorem ipsum".

    One scan, all array lambdas — the line filter is a nested
    higher-order function (a word-count filter inside the line filter),
    still fully inside codegen. Returns (id, clean_text, n_lines_kept,
    n_lines_dropped, page_ok); ``clean_text`` is NULL for dropped pages
    AND for pages where no line survived (engines disagree on joining
    an empty array — '' vs NULL — and "nothing survived" is NULL-shaped
    anyway).
    """
    lines = F.filter(F.split(F.col(text_col), "\n"), lambda l: l != "")
    kept = F.filter(
        lines,
        lambda l: (
            l.endswith(".")
            | l.endswith("!")
            | l.endswith("?")
            | l.endswith('"')
            | l.endswith("'")
        )
        & (
            F.size(F.filter(F.split(l, " "), lambda w: w != ""))
            >= 3
        )
        & ~F.contains(F.lower(l), F.lit("javascript")),
    )
    page_ok = ~F.contains(F.col(text_col), F.lit("{")) & ~F.contains(
        F.lower(F.col(text_col)), F.lit("lorem ipsum")
    )
    return df.select(
        F.col(id_col),
        F.when(page_ok & (F.size(kept) > 0), F.array_join(kept, "\n"))
        .alias("clean_text"),
        F.size(kept).cast("long").alias("n_lines_kept"),
        (F.size(lines) - F.size(kept)).cast("long").alias("n_lines_dropped"),
        page_ok.alias("page_ok"),
    )


def token_counts(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Whitespace tokens + BPE-ish regex tokens per document.

    The regex tokenizer splits letter runs, digit runs, and single
    non-alphanumeric marks — the standard pre-BPE word-splitting shape.
    Returns (id, ws_tokens, bpe_tokens)."""
    ws = F.size(F.split(F.col(text_col), " ")).cast("long")
    bpe = F.size(
        F.regexp_extract_all(
            F.col(text_col), F.lit(r"([a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s])"), F.lit(1)
        )
    ).cast("long")
    return df.select(
        F.col(id_col), ws.alias("ws_tokens"), bpe.alias("bpe_tokens")
    )


def fingerprint(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Deterministic document fingerprint: the lexicographic minimum md5
    over word 3-gram shingles (a 1-hash MinHash — the rolling-hash
    fingerprint of the survey's north-star list). Equal fingerprints ⇒
    shared rarest shingle hash; used as a cheap near-dup blocking key.
    Computed array-natively — no explode, no shuffle. Returns
    (id, fingerprint); documents with fewer than 3 words are excluded."""
    from gene_level_metadata_pipeline_spark.operators.dedup import shingle_array

    grams = shingle_array(text_col, 3)
    return df.where(F.size(grams) > 0).select(
        F.col(id_col),
        F.array_min(F.transform(grams, lambda s: F.md5(s))).alias("fingerprint"),
    )


_WINNOW_POS_BASE = 2 ** 31  # pos packs below the hash in one bigint


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003 —
    the MOSS algorithm): hash every character k-gram of the normalized
    text (lowercased, non-letters stripped), slide a window of ``w``
    consecutive hashes, and select each window's MINIMUM hash with the
    RIGHTMOST position on ties. The winnowing theorem guarantees any
    substring match of length >= w + k - 1 shares a selected
    fingerprint, with selected density ~ 2/(w+1) — the
    guarantee-carrying sparse fingerprint the survey's rolling-hash
    item asks for, and the standard plagiarism/near-dup primitive.

    Returns (id, fp_hash, fp_pos): DISTINCT selected fingerprints with
    their 0-based k-gram positions. Documents shorter than k normalized
    characters yield nothing; documents with fewer than ``w`` k-grams
    winnow their single partial window (global min, rightmost tie).

    Engine-portable exactness: the hash is the first 6 md5 hex digits
    as an integer (< 16^6, the feature_hash/CMS discipline), and the
    min-hash-rightmost-tie selection is ONE bigint ``min`` over the
    window frame of ``h * 2^31 + (2^31 - 1 - pos)`` — minimizing that
    packs (h asc, pos desc) lexicographically, so the argmin needs no
    nested window or min_by tie luck in either engine. Decode is exact
    integral div/pmod.

    Scale shape (r10-opt rewrite): the sliding-window min runs INSIDE
    each row over the packed-hash array — ``transform(sequence(0, n-w),
    s -> array_min(slice(hp, s+1, w)))`` — so the k-gram frame is never
    exploded and the former exchange + sort + two window passes over
    every character of the corpus (rows = total chars) are gone from
    the plan entirely; only the ~2/(w+1)-dense selection is exploded,
    deduped per-doc with ``array_distinct`` (distinct on the packed
    value IS distinct on (hash, pos) — the decode is bijective), and
    then globally distinct (one exchange over sparse rows, kept for the
    duplicate-input-id contract). Per-window cost is O(w) interpreted
    array ops — cheaper than the sort at the guarantee-bearing small w
    (2/(w+1) density needs small w); a very large w would tilt back
    toward the window form. Measured 1.8x on the overlap headline at
    sf0.1 (interleaved min-of-5, output bit-identical via exceptAll
    both ways), stacking on the by_hash materialization fix. No joins,
    no driver state, no explode-per-window."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z]", "")
    base = (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("id"), norm.alias("t"))
        .where(F.length("t") >= k)
    )
    B = F.lit(_WINNOW_POS_BASE)
    # hp[i] = packed (hash asc, pos desc) exactly as the window form:
    # h * B + (B - 1 - pos), pos 0-based
    hp = F.transform(
        F.sequence(F.lit(1), F.length("t") - k + 1),
        lambda i: (
            F.conv(
                F.substring(F.md5(F.substring(F.col("t"), i, k)), 1, 6),
                16, 10,
            ).cast("bigint") * B
            + (B - F.lit(1) - (i - F.lit(1)).cast("bigint"))
        ),
    )
    arr = base.select("id", hp.alias("hp"))
    n = F.size("hp")
    # full windows start at every s in [0, n-w]; a doc with fewer than
    # w k-grams winnows its single partial window (global min — the
    # same rows the window form kept via (pos==0 AND n<w))
    sels = F.when(
        n >= w,
        F.transform(
            F.sequence(F.lit(0), n - w),
            lambda s: F.array_min(F.slice(F.col("hp"), s + 1, w)),
        ),
    ).otherwise(F.array(F.array_min(F.col("hp"))))
    return (
        arr.select("id", F.explode(F.array_distinct(sels)).alias("sel"))
        .select(
            "id",
            F.call_function(
                "div", F.col("sel"), F.lit(_WINNOW_POS_BASE)
            ).alias("fp_hash"),
            (
                F.lit(_WINNOW_POS_BASE - 1)
                - F.pmod(F.col("sel"), F.lit(_WINNOW_POS_BASE))
            ).cast("bigint").alias("fp_pos"),
        )
        .distinct()
    )


def winnow_overlap_pairs(
    fps: DataFrame,
    min_shared: int = 3,
    max_df: int = 50,
    max_df_frac_e6: int | None = None,
    max_df_ceiling: int | None = None,
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` DISTINCT winnowed
    fingerprint hashes — the MOSS match report over
    :func:`winnow_fingerprints` output. Returns (a, b, shared_fp) for
    a < b.

    ``max_df`` is the boilerplate guard (the LSH bucket-cap
    discipline): a fingerprint hash present in more than ``max_df``
    documents joins quadratically and signals boilerplate, not
    similarity — such hashes are EXCLUDED, deterministically (document
    frequency is exact, so the oracle replays the cap bit-for-bit
    rather than sampling around it). Positions are deliberately
    dropped before the join: sharing is by hash content, and the
    distinct-on-hash keeps one row per (doc, hash) so the pair count
    is a set intersection, never an occurrence product.

    RECALL CONTRACT (hypothesis-pinned, tests/test_winnow_cap.py): for
    any pair, ``shared_fp`` counts exactly the shared hashes whose
    document frequency is <= ``max_df`` — so a pair EVERY one of whose
    shared hashes is sub-cap is always reported with its full shared
    count, and the only pairs the cap can lose are those that need a
    boilerplate hash (df > max_df) to reach ``min_shared``. The cap is
    therefore SF-sensitive in selectivity but never in correctness of
    what it reports: at 10x-100x the df distribution shifts right and a
    FIXED max_df excludes more hashes — measured at the r8 10x sweep,
    where the fixed cap's pair yield went to ZERO (every shared hash's
    df decupled past 50, both engines agreeing). ``max_df_frac_e6`` is
    the scale-proportional alternative (r8): the effective cap becomes
    ``max(max_df, n_docs * frac // 1e6)`` with n_docs counted from the
    input — boilerplate df is extensive in corpus size, so a FRACTION
    is the 100 TB-stable policy while the absolute floor keeps small
    corpora from capping at 0. Exact integer arithmetic (one count +
    one floor multiply), so any engine replays the effective cap.

    ``max_df_ceiling`` (r9) bounds the OTHER regime the fractional cap
    re-opens: a hash at the effective df cap joins df² pairs, so with a
    purely proportional cap the worst-case per-hash fan-out is
    (frac·n)² — quadratic in corpus size again, at exactly the scale
    the cap exists to protect. The ceiling clamps the effective cap
    from above (``eff = min(ceiling, max(max_df, n·frac))``), restoring
    a CONSTANT per-hash pair bound of ceiling² at any corpus size.
    Choose per use: the MATCH-REPORT configuration (this module's
    headline query) runs floor+fraction with no ceiling — at report
    scale the operator's consumers want the boilerplate-tail evidence
    and the corpus is screened upstream; the DEDUP-SCREEN configuration
    at open-web scale sets a ceiling sized to the pair budget
    (ceiling = isqrt(budget_pairs_per_hash)). Same recall contract
    either way: the cap (whatever its origin) is replayed exactly by
    both engines, and only pairs needing an above-cap hash to reach
    ``min_shared`` can be lost."""
    # by_hash feeds FOUR consumers — the corpus-proportional n_docs
    # count (an eager job at plan-build time), df_counts, and both
    # sides of the pair join — and its upstream subtree is the full
    # winnowing pipeline (per-row in-array sliding-window minima over
    # the packed-hash array — one md5 per normalized corpus char — plus
    # the sparse selection explode; the r10-opt rewrite that replaced
    # the gram-level explode + two window passes). Without a
    # materialization point that pipeline would still run once per
    # consumer (the r10-opt audit measured 4-5x before the rewrite).
    # Checkpoint the thin (id, fp_hash) selection — ~2/(w+1) of the
    # gram count — so winnowing runs once; results unchanged.
    by_hash = (
        fps.select("id", "fp_hash").distinct().transform(_materialize)
    )
    eff_max_df = max_df
    if max_df_frac_e6 is not None:
        if max_df_frac_e6 <= 0:
            raise ValueError(
                f"winnow_overlap_pairs: max_df_frac_e6={max_df_frac_e6} "
                "must be > 0"
            )
        n_docs = by_hash.select("id").distinct().count()
        eff_max_df = max(max_df, n_docs * max_df_frac_e6 // 10 ** 6)
    if max_df_ceiling is not None:
        if max_df_ceiling < 1:
            raise ValueError(
                f"winnow_overlap_pairs: max_df_ceiling={max_df_ceiling} "
                "must be >= 1"
            )
        eff_max_df = min(eff_max_df, max_df_ceiling)
    df_counts = by_hash.groupBy("fp_hash").agg(
        F.count(F.lit(1)).alias("df")
    )
    kept = by_hash.join(
        df_counts.where(F.col("df") <= eff_max_df).select("fp_hash"),
        "fp_hash",
    )
    return (
        kept.alias("x")
        .join(kept.alias("y"), "fp_hash")
        .where(F.col("x.id") < F.col("y.id"))
        .groupBy(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .agg(F.count(F.lit(1)).alias("shared_fp"))
        .where(F.col("shared_fp") >= min_shared)
    )


def hex_sample_bound(fraction: float) -> str:
    """The 8-hex-char threshold for hash-Bernoulli sampling, saturated at
    the boundaries: ``fraction * 16^8`` formatted to 8 hex chars — but
    fraction ≥ 1.0 would format to NINE chars ('100000000'), which
    compares lexicographically BELOW any hash not starting with '0' and
    silently keeps ~6% instead of 100%. Saturate to 'g' (every hex char
    < 'g', so every row passes) and clamp negatives to keep-nothing."""
    if fraction >= 1.0:
        return "g"
    if fraction <= 0.0:
        return "00000000"
    return format(int(fraction * 16 ** 8), "08x")


def stable_sample(df: DataFrame, key_col: str, fraction: float) -> DataFrame:
    """Deterministic hash-based Bernoulli sample: keep rows whose
    md5("sample:" || key) hex prefix falls under the fraction threshold.

    Unlike ``DataFrame.sample`` this is reproducible across runs, engines,
    and partitionings — the property a training-data pipeline needs so a
    re-run selects the SAME documents. Threshold compares the first 8 hex
    chars against fraction * 16^8; the same predicate re-expressed in any
    SQL engine selects the identical row set.
    """
    bound = hex_sample_bound(fraction)
    h = F.md5(F.concat(F.lit("sample:"), F.col(key_col).cast("string")))
    return df.where(F.substring(h, 1, 8) < F.lit(bound))


def tf_idf_keywords(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Top-3 tf-idf keywords per document (SURVEY §7 Phase 7 text slice).

    tf = term count / document length; idf = ln(N / df) over the corpus.
    Two aggregations (term counts per doc; document frequency per term)
    joined back — the document-frequency side is corpus-vocabulary-sized
    and broadcast. Deterministic ranking: (rounded score desc, word asc).
    Returns (id, word, tfidf, rank).
    """
    from pyspark.sql import Window

    words = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("w")
    )
    tf = words.groupBy(id_col, "w").agg(F.count(F.lit(1)).alias("cnt"))
    doc_len = words.groupBy(id_col).agg(F.count(F.lit(1)).alias("len"))
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(id_col).distinct().count()

    scored = (
        tf.join(doc_len, id_col)
        .join(F.broadcast(dfreq), "w")
        .withColumn(
            "tfidf",
            F.round(
                (F.col("cnt") / F.col("len"))
                * F.log(F.lit(float(n_docs)) / F.col("df")),
                6,
            ),
        )
    )
    rank_w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("w"))
    return (
        scored.withColumn("rank", F.row_number().over(rank_w).cast("long"))
        .where(F.col("rank") <= 3)
        .select(id_col, "w", "tfidf", "rank")
    )


def repetition_scores(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Intra-document repetition score: fraction of duplicated word
    3-grams (Gopher-style repetition filter). dup_fraction = 1 −
    distinct-grams / total-grams; high values flag boilerplate or
    degenerate generations. Entirely array-native per row — a pure map,
    ZERO shuffles at any scale. Returns (id, n_grams, n_unique_grams,
    dup_fraction); documents shorter than 3 words are excluded."""
    from gene_level_metadata_pipeline_spark.operators.dedup import shingle_array

    grams = shingle_array(text_col, 3, distinct=False)
    g = df.select(F.col(id_col), grams.alias("grams")).where(F.size("grams") > 0)
    total = F.size("grams").cast("long")
    uniq = F.size(F.array_distinct(F.col("grams"))).cast("long")
    # replicate DuckDB's double rounding (see plans.driver_queries._round_to)
    frac = F.lit(1.0) - uniq / total
    p = F.lit(10000.0)
    return g.select(
        F.col(id_col),
        total.alias("n_grams"),
        uniq.alias("n_unique_grams"),
        (F.round(frac * p, 0) / p).alias("dup_fraction"),
    )


# PII patterns: RE2/Java-regex-compatible subset so Spark and any SQL
# oracle agree byte-for-byte. Production would use a larger vetted set.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b555-[0-9]{4}\b"


def pii_redact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Regex PII scrubbing (emails, reserved-prefix phone numbers):
    counts matches and replaces them with typed placeholders. Pure
    per-row Catalyst regex — no shuffle, codegen-friendly. Returns
    (id, n_emails, n_phones, redacted)."""
    c = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), F.lit(0))).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(c, F.lit(PHONE_RE), F.lit(0))).cast("long").alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace(c, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
        ).alias("redacted"),
    )


def contamination_check(
    df: DataFrame, bench: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Benchmark-contamination scan: for every candidate document, count
    distinct word 5-grams shared with an evaluation/benchmark corpus and
    how many distinct benchmark docs are hit. The benchmark side is tiny
    relative to the corpus → distinct benchmark shingles broadcast, so
    the corpus side is a map-side semi-probe (no corpus shuffle before
    the per-doc agg). Returns (id, n_shared_grams, n_bench_docs)."""
    from gene_level_metadata_pipeline_spark.operators.dedup import word_shingles

    cand = word_shingles(df, text_col, id_col, 5)
    bgrams = word_shingles(bench, text_col, id_col, 5).withColumnRenamed(
        id_col, "bench_id"
    )
    return (
        cand.join(F.broadcast(bgrams), "shingle")
        .groupBy(id_col)
        .agg(
            F.countDistinct("shingle").alias("n_shared_grams"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
    )


def decontaminate(
    df: DataFrame,
    bench: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Benchmark decontamination — the removal half of
    :func:`contamination_check`: drop every document sharing ANY word
    5-gram with the evaluation corpus. The contaminated-id set is
    an anti join, so clean documents never shuffle; the detection side
    keeps its broadcast-benchmark shape."""
    hits = contamination_check(df, bench, text_col, id_col)
    bad = hits.where(F.col("n_shared_grams") > 0).select(
        id_col
    )
    return df.join(bad, id_col, "left_anti")


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    size: int = 50,
    stride: int = 40,
) -> DataFrame:
    """Token-window document chunking with overlap — the standard
    context-window preparation op for training/RAG corpora.

    Each document's whitespace tokens are cut into windows of ``size``
    tokens starting every ``stride`` tokens (overlap = size - stride).
    Returns (id, chunk_idx, n_chunk_tokens, chunk_text). Fully
    array-native: sequence → explode → slice, no Python, no shuffle —
    chunking is embarrassingly parallel over input partitions, and at
    100 TB output partition sizing is governed by
    files.maxPartitionBytes on the scan plus the ~size/stride fan-out.
    """
    toks = F.split(F.col(text_col), " ")
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size(F.col("__toks")) - 1, F.lit(0)),
        F.lit(stride),
    )
    chunk = F.slice(F.col("__toks"), F.col("__start") + 1, size)
    return (
        df.select(F.col(id_col), toks.alias("__toks"))
        .select(id_col, "__toks", F.explode(starts).alias("__start"))
        .select(
            F.col(id_col),
            (F.col("__start") / stride).cast("long").alias("chunk_idx"),
            F.size(chunk).cast("long").alias("n_chunk_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


def remove_dup_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Cross-document boilerplate REMOVAL — the rewrite complement of the
    span detector (``substring_dup_spans`` reports repeated passages;
    this drops them from the text). Non-overlapping 20-token
    chunks; a full chunk whose md5 appears in ≥ 2 distinct
    documents is boilerplate and is removed from every document; partial
    tail chunks are never candidates (they keep their text). Documents
    reduced to nothing surface with ``clean_text`` NULL.

    Scale shape: chunking is map-side; the dup-hash table is ONE
    16-byte-hash groupBy, and the removal join shuffles (id, hash)
    pairs — payload text rides only the final per-document re-assembly
    (one shuffle on the doc id, in-order via sorted struct collect, the
    materialize_packed discipline). Returns (id, clean_text,
    n_chunks_kept, n_chunks_dropped).
    """
    # NULL-text documents bypass the chunker entirely: chunking NULL
    # yields one NULL chunk which array_join would silently rebuild as ''
    # — valid-looking empty content replacing unknown content. They pass
    # through as (id, NULL, 0, 0) instead.
    null_docs = df.where(F.col(text_col).isNull()).select(
        F.col(id_col),
        F.lit(None).cast("string").alias("clean_text"),
        F.lit(0).cast("long").alias("n_chunks_kept"),
        F.lit(0).cast("long").alias("n_chunks_dropped"),
    )
    df = df.where(F.col(text_col).isNotNull())
    chunks = chunk_documents(df, text_col, id_col, size=20, stride=20)
    dup_hashes = (
        chunks.where(F.col("n_chunk_tokens") == 20)
        .select(id_col, F.md5("chunk_text").alias("__h"))
        .groupBy("__h")
        .agg(F.countDistinct(id_col).alias("__nd"))
        .where(F.col("__nd") >= 2)
        .select("__h")
    )
    kept = chunks.join(
        dup_hashes,
        F.md5(chunks.chunk_text) == dup_hashes.__h,
        "left_anti",
    )
    parts = F.struct(F.col("chunk_idx"), F.col("chunk_text"))
    rebuilt = (
        kept.groupBy(F.col(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_chunks_kept"),
            F.array_sort(F.collect_list(parts)).alias("__parts"),
        )
        .select(
            id_col,
            F.array_join(
                F.transform(F.col("__parts"), lambda s: s["chunk_text"]), " "
            ).alias("clean_text"),
            "n_chunks_kept",
        )
    )
    totals = chunks.groupBy(F.col(id_col)).agg(
        F.count(F.lit(1)).alias("__total")
    )
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            id_col,
            "clean_text",
            F.coalesce("n_chunks_kept", F.lit(0).cast("long")).alias(
                "n_chunks_kept"
            ),
            (
                F.col("__total")
                - F.coalesce("n_chunks_kept", F.lit(0).cast("long"))
            ).alias("n_chunks_dropped"),
        )
        .unionByName(null_docs)
    )


def train_split(
    df: DataFrame,
    key_col: str,
    fractions: tuple[float, float, float] = (0.8, 0.1, 0.1),
) -> DataFrame:
    """Deterministic train/val/test assignment — the dataset-split op a
    training pipeline runs last.

    Same engine-portable machinery as ``stable_sample``: the md5 hex
    prefix of "split:" || key is binned by the cumulative fractions, so a
    document's split membership is a pure function of its key —
    reproducible across runs, engines, partitionings, and additions of
    other documents (no global shuffle, no count dependency). Appends a
    ``split`` column ∈ {'train','val','test'}.
    """
    if abs(sum(fractions) - 1.0) > 1e-9:
        raise ValueError("fractions must sum to 1")
    b1 = hex_sample_bound(fractions[0])
    b2 = hex_sample_bound(fractions[0] + fractions[1])
    h = F.substring(
        F.md5(F.concat(F.lit("split:"), F.col(key_col).cast("string"))),
        1, 8,
    )
    return df.withColumn(
        "split",
        F.when(h < F.lit(b1), "train")
        .when(h < F.lit(b2), "val")
        .otherwise("test"),
    )


def normalize_text(df: DataFrame, text_col: str, out_col: str | None = None) -> DataFrame:
    """Corpus text normalization, all JVM-side: lowercase, strip control
    characters, collapse whitespace runs to single spaces, trim. The
    standard pre-tokenization cleanup (unicode NFC/NFKC folding would
    slot in here as a Pandas UDF where the ICU dependency is available).
    """
    out = out_col or text_col
    c = F.lower(F.col(text_col))
    c = F.regexp_replace(c, r"[\x00-\x1f\x7f]", " ")
    c = F.regexp_replace(c, r"\s+", " ")
    return df.withColumn(out, F.trim(c))


def _ws_tokens(text_col: str) -> Column:
    """Non-empty single-space tokens — matches the oracle convention
    ``unnest(string_split(text, ' ')) ... WHERE w <> ''`` used across
    the shingle/tf-idf family."""
    return F.filter(F.split(F.col(text_col), " "), lambda w: w != "")


def centroid_train(
    df: DataFrame,
    text_col: str,
    label_col: str,
    id_col: str,
) -> DataFrame:
    """Train a Rocchio / nearest-centroid text classifier — the
    model-driven quality/domain filter of web-curation pipelines
    (public method: Rocchio relevance feedback applied to text
    categorization), expressed so the DuckDB oracle is bit-exact.

    The per-label centroid over bag-of-words token counts is
    ``m(l, w) = round(Σ_docs tf(d, w) / n_docs(l), 6)`` — and
    ``Σ_d tf(d, w)`` is just the total occurrence count of ``w`` in
    label ``l``, so training is ONE (label, word) aggregation plus a
    per-label doc count: exact bigint sums, one correctly-rounded
    double division, no transcendental math anywhere (the reason this
    is Rocchio and not Naive Bayes: ``log`` is not guaranteed
    bit-identical across engines, ``/`` and ``sqrt`` are). Documents
    with no tokens contribute nothing and are not counted in
    ``n_docs``. Returns (label, word, m).

    Scale: shuffle keys are (label, word) with map-side combine; the
    model is |vocab| × |labels| rows — a dimension table that
    :func:`centroid_classify` broadcasts.
    """
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.col(label_col).alias("label"),
        F.explode(_ws_tokens(text_col)).alias("word"),
    )
    counts = toks.groupBy("label", "word").agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    ndocs = toks.groupBy("label").agg(
        F.count_distinct(F.col("__id")).alias("__n")
    )
    return counts.join(F.broadcast(ndocs), "label").select(
        "label",
        "word",
        F.round(F.col("__cnt").cast("double") / F.col("__n"), 6).alias("m"),
    )


def centroid_classify(
    df: DataFrame,
    model: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Assign each document the nearest centroid label by cosine over
    sparse bag-of-words counts.

    Exactness discipline (the engine's standard): the sparse dot product
    sums ``cnt × m`` as DECIMAL (m is 6-dp-rounded so its DECIMAL(18,6)
    image is exact) and both norms come from exact integer/decimal
    sums-of-squares, so every engine computes the identical rational
    before the one correctly-rounded divide; cosine is rounded to 4 dp
    and ties go to the LEXICOGRAPHICALLY SMALLEST label. A degenerate
    all-zeros centroid (possible only when rounding floors every mean)
    yields NULL cosine via try_divide and never wins. Documents with no
    tokens — or no token shared with the vocabulary — get a NULL label
    (kept via left join: a filterable "don't know", never a guess).

    Returns (id, label, cos_sim). Scale: the model broadcasts; the only
    shuffles are the per-(id, word) tf aggregation and the per-id
    argmax, both map-side combinable.
    """
    mdec = F.col("m").cast("decimal(18,6)")
    cnorm = model.groupBy("label").agg(
        F.sqrt(F.sum(mdec * mdec).cast("double")).alias("__nc")
    )
    tf = (
        df.select(
            F.col(id_col).alias("__id"),
            F.explode(_ws_tokens(text_col)).alias("word"),
        )
        .groupBy("__id", "word")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    dnorm = tf.groupBy("__id").agg(
        F.sqrt(F.sum(F.col("__cnt") * F.col("__cnt")).cast("double")).alias(
            "__nd"
        )
    )
    scores = (
        tf.join(F.broadcast(model), "word")
        .groupBy("__id", "label")
        .agg(F.sum(F.col("__cnt") * mdec).alias("__dot"))
        .join(F.broadcast(cnorm), "label")
        .join(dnorm, "__id")
        .select(
            "__id",
            "label",
            F.round(
                F.try_divide(
                    F.col("__dot").cast("double"),
                    F.col("__nd") * F.col("__nc"),
                ),
                4,
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim").isNotNull())
    )
    best = scores.groupBy("__id").agg(
        F.min_by(
            F.struct("label", "cos_sim"),
            F.struct((-F.col("cos_sim")).alias("s"), F.col("label")),
        ).alias("__b")
    )
    return (
        df.select(F.col(id_col))
        .join(best, df[id_col] == best["__id"], "left")
        .select(
            F.col(id_col),
            F.col("__b.label").alias("label"),
            F.col("__b.cos_sim").alias("cos_sim"),
        )
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    text_col: str,
    id_col: str,
    query_col: str = "query",
    qid_col: str = "qid",
    k: int = 5,
) -> DataFrame:
    """BM25 top-k document retrieval per query — the lexical-retrieval
    complement to the embedding ANN family (the standard first-stage
    ranker; Robertson/Spärck Jones probabilistic idf with the Okapi
    saturation/length normalization at the fixed k1=1.2, b=0.75).

    Scale shape: ``queries`` is a small frame (a broadcast dimension —
    retrieval workloads score thousands of queries against billions of
    docs). Exploding queries to (qid, word) and BROADCAST-joining onto
    the per-document term-frequency table turns the scan into an
    inverted-index probe: only postings of query words survive the join,
    everything else is filtered in the scan's hash lookup — no
    corpus-sized shuffle keyed on words. Per-(query, doc) scores then
    aggregate on doc-partitioned data and a per-query window takes
    top-k.

    Cross-engine determinism: idf and the saturation term are pure IEEE
    double ops on integer inputs (identical everywhere); the only
    order-dependent step — summing per-word contributions — casts each
    contribution to DECIMAL(18,6) first (the _dsum discipline:
    deterministic nearest-6-digit rounding, exact decimal sum), so an
    external engine reproduces scores bit-for-bit. Ranking tie-break:
    (score desc, doc id asc). Returns (qid, id, score, rank).
    """
    from pyspark.sql import Window

    words = docs.select(
        F.col(id_col), F.explode(_ws_tokens(text_col)).alias("w")
    )
    tf = words.groupBy(id_col, "w").agg(F.count(F.lit(1)).alias("cnt"))
    dlen = words.groupBy(id_col).agg(F.count(F.lit(1)).alias("len"))
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    # N and avg doc length: one 1-row aggregate broadcast into the plan
    # (no driver-side collect)
    stats = dlen.agg(
        F.count(F.lit(1)).alias("__n"),
        (F.sum("len") / F.count(F.lit(1))).alias("__avglen"),
    )
    qwords = queries.select(
        F.col(qid_col),
        F.explode(F.array_distinct(_ws_tokens(query_col))).alias("w"),
    )
    idf = F.log(
        (F.col("__n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    k1, b = 1.2, 0.75
    sat = (F.col("cnt") * (k1 + 1)) / (
        F.col("cnt")
        + k1 * (1 - b + b * F.col("len") / F.col("__avglen"))
    )
    contrib = (idf * sat).cast("decimal(18,6)")
    scored = (
        tf.join(F.broadcast(qwords), "w")
        .join(dlen, id_col)
        .join(F.broadcast(dfreq), "w")
        .join(F.broadcast(stats))
        .groupBy(qid_col, id_col)
        .agg(F.round(F.sum(contrib), 4).cast("double").alias("score"))
    )
    rank_w = Window.partitionBy(qid_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(rank_w).cast("long"))
        .where(F.col("rank") <= k)
        .select(qid_col, id_col, "score", "rank")
    )


def unigram_logprob_scores(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Per-document average negative log-probability under an add-one-
    smoothed unigram LM trained on the corpus itself — the
    perplexity-proxy quality score (the CCNet/KenLM filtering shape:
    rank documents by how surprising they are to a corpus-level LM;
    gibberish and boilerplate-fragment docs land in the tails).

    p(w) = (c(w) + 1) / (T + V) with corpus token count T and vocabulary
    size V — all integers, so every engine derives identical
    probabilities; ln(p) is correctly-rounded IEEE on identical doubles.
    Per-document sums cast each token-type contribution
    (cnt · ln p(w)) to DECIMAL(18,6) (exact, order-free sum).

    Scale: word counts aggregate with map-side combine; the model —
    vocabulary-sized (c(w), ln p) pairs — joins back BROADCAST, and T/V
    ride a 1-row aggregate, so scoring is one pass over (doc, word)
    counts with zero corpus-sized shuffles beyond the count itself.
    Empty/NULL-text documents have no tokens and are excluded (no 0/0).
    Returns (id, n_tokens, avg_neg_logprob).
    """
    words = df.select(
        F.col(id_col), F.explode(_ws_tokens(text_col)).alias("w")
    )
    cnt_dw = words.groupBy(id_col, "w").agg(F.count(F.lit(1)).alias("cnt"))
    cw = words.groupBy("w").agg(F.count(F.lit(1)).alias("cw"))
    totals = cw.agg(
        F.sum("cw").alias("__t"), F.count(F.lit(1)).alias("__v")
    )
    probs = cw.join(F.broadcast(totals)).select(
        "w",
        F.log(
            (F.col("cw") + 1).cast("double")
            / (F.col("__t") + F.col("__v")).cast("double")
        ).alias("lp"),
    )
    contrib = (F.col("cnt") * F.col("lp")).cast("decimal(18,6)")
    return (
        cnt_dw.join(F.broadcast(probs), "w")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.round(
                -F.sum(contrib).cast("double") / F.sum("cnt"), 4
            ).alias("avg_neg_logprob"),
        )
    )


# Unit separator: can never appear in [a-z]+ word tokens, so it is a
# safe symbol-boundary marker for the BPE wrapped-string representation.
_BPE_SEP = "\x1f"

# Longest [a-z]+ word that bpe_train learns from and bpe_encode counts —
# one value, so both halves of the tokenizer see the same vocabulary.
_BPE_MAX_WORD_LEN = 20


def _bpe_wrapped_words(docs: DataFrame, text_col: str):
    """Word-frequency table in the wrapped-string symbol representation
    (every symbol delimited by unit separators on both sides) — the
    starting state of :func:`bpe_train`.
    Eagerly checkpointed: vocabulary-sized, re-read every round."""
    sep = _BPE_SEP
    return (
        docs.where(F.col(text_col).isNotNull())
        .select(
            F.explode(
                F.expr(f"regexp_extract_all(lower({text_col}), '[a-z]+', 0)")
            ).alias("w")
        )
        .where(F.length("w").between(1, _BPE_MAX_WORD_LEN))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.regexp_replace("w", "(.)", sep + "$1" + sep).alias("s"), "freq"
        )
        .localCheckpoint(eager=True)
    )


def _bpe_pair_counts(words: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts over the wrapped word table, in the
    canonical (cnt DESC, a, b) argmax order — the per-job aggregation of
    :func:`bpe_train`. All built-ins: split + slice/transform lambdas,
    no UDF."""
    sep = _BPE_SEP
    syms = words.withColumn(
        "__syms", F.split(F.btrim(F.col("s"), F.lit(sep)), sep + sep)
    )
    pairs = syms.select(
        F.explode(
            F.expr(
                "transform(slice(__syms, 1, size(__syms)-1), (x, i) -> "
                "struct(x as a, element_at(__syms, i+2) as b))"
            )
        ).alias("p"),
        "freq",
    )
    return (
        pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").alias("cnt"))
        .orderBy(F.desc("cnt"), "a", "b")
    )


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    rounds: int = 4,
    batch: int = 1,
) -> DataFrame:
    """Byte-pair-encoding merge training — the tokenizer-training core of
    an LLM data pipeline (Sennrich et al. 2016): start from characters,
    repeatedly merge the corpus-wide most frequent adjacent symbol pair.
    Returns the learned merge table (round, sym_a, sym_b, pair_count),
    one row per merge, exact bigint counts; ``round`` is the global
    1-based merge index.

    Word model: lowercase ``[a-z]+`` tokens (length <= 20,
    ``_BPE_MAX_WORD_LEN``),
    merges stay word-internal (no end-of-word marker — documented
    divergence from the classic </w> variant). Ties in the argmax break
    on (count DESC, sym_a ASC, sym_b ASC) — fully deterministic, so any
    engine replaying the recurrence reproduces the same merges.

    Representation is the key trick: each word is ONE string with every
    symbol individually wrapped in unit separators (``\\x1f a \\x1f
    \\x1f b \\x1f ...``), so applying a merge is a single built-in
    ``replace(s, SEP+a+SEP+SEP+b+SEP, SEP+ab+SEP)`` — left-to-right
    non-overlapping, exactly the greedy BPE merge order, and because
    every symbol carries BOTH its own delimiters, consecutive merge
    sites share no characters (``a b a b`` merges twice). No UDF
    anywhere: pair extraction is split + slice/transform lambdas, the
    merge is replace — all whole-stage-codegen expressions.

    Batching: each of the ``rounds`` jobs runs ONE pair-count pass and
    selects up to ``batch`` merges greedily in the canonical order from
    the top ``batch * 8`` candidates, skipping any pair that TOUCHES an
    earlier selection in the same job — shares a symbol with it, or
    names its merged output symbol. Disjointness makes the batch
    order-independent and keeps every recorded ``pair_count`` exact: a
    merge (a, b) only rewrites fully-delimited ``a``/``b`` symbols, so it
    cannot create, destroy, or overlap an occurrence of a
    symbol-disjoint pair (c, d). The selected merges apply as one
    chained ``replace()`` projection. ``batch=1`` is strictly sequential
    BPE (``rounds`` merges). For ``batch > 1`` the recurrence stays
    deterministic but may diverge from sequential BPE in one documented
    case: a pair CREATED by an earlier merge in the batch (count measured
    only next job) can outrank a later batch member that sequential
    training would have deferred — the standard batched-BPE trade; the
    table is still a valid greedy merge order for :func:`bpe_encode`.

    Scale: the shuffled unit is the WORD-FREQUENCY table (vocabulary),
    which grows sublinearly with corpus size (Heaps' law — the
    vocab_growth_curve diagnostic measures exactly this), not the
    corpus; each job is one groupBy over vocab-many rows plus a bounded
    driver-side candidate collect (``batch * 8`` rows — a global top-k
    necessarily reduces to the driver; the header-peek discipline) and a
    narrow map for the merges, so a vocabulary of M merges costs
    M / ``batch`` jobs (measured: ~0.1 s of driver round-trip per job at
    sf0.01; PLANS.md round 6). Jobs eagerly localCheckpoint: each job's
    collect would otherwise replay the whole merge lineage.
    """
    if batch < 1:
        raise ValueError(f"bpe_train: batch={batch} must be >= 1")
    sep = _BPE_SEP
    spark = docs.sparkSession
    words = _bpe_wrapped_words(docs, text_col)
    merges: list[tuple[int, str, str, int]] = []
    for _ in range(rounds):
        cands = _bpe_pair_counts(words).limit(batch * 8).collect()
        if not cands:
            break
        used: set[str] = set()
        chosen: list[tuple[str, str, int]] = []
        for row in cands:
            a, b = row["a"], row["b"]
            if a in used or b in used or (a + b) in used:
                continue
            chosen.append((a, b, int(row["cnt"])))
            used.update((a, b, a + b))
            if len(chosen) >= batch:
                break
        col = F.col("s")
        for a, b, cnt in chosen:
            merges.append((len(merges) + 1, a, b, cnt))
            col = F.replace(
                col,
                F.lit(sep + a + sep + sep + b + sep),
                F.lit(sep + a + b + sep),
            )
        words = words.select(col.alias("s"), "freq").localCheckpoint(
            eager=True
        )
    return spark.createDataFrame(
        merges, "round int, sym_a string, sym_b string, pair_count bigint"
    )


def bpe_encode(
    docs: DataFrame,
    merges: DataFrame | list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply learned BPE merges to the corpus and account tokens per
    document — the tokenizer-APPLICATION half of :func:`bpe_train`
    (train learns the merge table; encode measures what it buys).
    Returns (id, n_words, n_chars, n_tokens, compression) per document
    with >= 1 word of at most 20 letters (``_BPE_MAX_WORD_LEN``, the
    training vocabulary's bound), where ``compression = chars/token``
    rounded to 6dp
    (higher = better merges) and the counts are exact bigints.

    ``merges`` is the bpe_train output frame (collected driver-side —
    bounded at the merge-round count, the header-peek discipline) or a
    literal [(sym_a, sym_b), ...] in merge order. Each merge compiles
    to one built-in replace() over the wrapped-string form; the whole
    encode is a single narrow projection per word plus one groupBy on
    the document id — no UDFs, no joins, and the merge chain is
    codegen'd as nested string expressions.

    Scale: unlike training (vocabulary-sized), encoding touches every
    word occurrence — but grouped at (id, word) first, so repeated
    words within a document wrap and merge once and the per-word token
    count multiplies by the occurrence count.
    """
    sep = _BPE_SEP
    if isinstance(merges, DataFrame):
        pairs = [
            (r["sym_a"], r["sym_b"])
            for r in merges.orderBy("round").collect()
        ]
    else:
        pairs = list(merges)
    words = (
        docs.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("__id"),
            F.explode(
                F.expr(f"regexp_extract_all(lower({text_col}), '[a-z]+', 0)")
            ).alias("w"),
        )
        .where(F.length("w").between(1, _BPE_MAX_WORD_LEN))
        .groupBy("__id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    s = F.regexp_replace("w", "(.)", sep + "$1" + sep)
    for a, b in pairs:
        s = F.replace(
            s, F.lit(sep + a + sep + sep + b + sep), F.lit(sep + a + b + sep)
        )
    toks = F.size(F.split(F.btrim(s, F.lit(sep)), sep + sep))
    # r10-opt: run the merge-replace chain once per DISTINCT word, not
    # once per (doc, word) group — token count is a pure function of
    # the word, and Zipf makes |vocab| orders of magnitude smaller than
    # |(doc, word)| (measured 31 vs 116k at sf0.1). The encoded vocab
    # joins back on the word; AQE broadcasts it when it is small and
    # falls back to a w-keyed shuffle for a genuinely huge vocabulary.
    enc = (
        words.select("w").distinct().withColumn("__toks", toks)
    )
    return (
        words.join(enc, "w")
        .groupBy(F.col("__id").alias(id_col))
        .agg(
            F.sum("c").alias("n_words"),
            F.sum(F.col("c") * F.length("w")).alias("n_chars"),
            F.sum(F.col("c") * F.col("__toks")).alias("n_tokens"),
        )
        .withColumn(
            "compression",
            F.round(
                F.col("n_chars").cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            ),
        )
    )


def feature_hash(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_features: int = 64,
    signed: bool = True,
) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009): project each document
    onto a FIXED ``n_features``-dimensional space with no vocabulary —
    bucket = hash(word) mod n, entry = sum of per-occurrence signs —
    the vectorizer that feeds linear classifiers/regressors at corpus
    scale because it needs no global vocabulary pass, no broadcast
    dictionary, and no OOV handling (new words at inference hash to the
    same fixed space). ``signed`` applies the sign-hash bias correction
    (collisions cancel in expectation instead of accumulating).

    Returns LONG-form sparse vectors (id, bucket, val) — the relational
    representation every downstream op here uses (matrix ops, Rocchio
    dots); zero-sum cancelled buckets are kept (they are real entries).
    Determinism: bucket and sign derive from md5 hex-digit arithmetic
    (two digits -> 0..255 mod n; third digit's high bit -> sign),
    reproducible in any engine — no conv()/hash() dependency. One
    explode + one (id, bucket) aggregation; n_features caps the
    per-doc output at a constant, so the vectorized corpus is O(docs),
    not O(docs x vocab).
    """
    if not 1 <= n_features <= 256:
        raise ValueError(
            f"feature_hash: n_features={n_features} not in [1, 256]"
        )
    hexd = "0123456789abcdef"
    words = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("__id"),
        F.explode(
            F.expr(f"regexp_extract_all(lower({text_col}), '[a-z]+', 0)")
        ).alias("w"),
    )
    # SQL form: pyspark's F.locate only takes a LITERAL needle, and the
    # needle here is the per-row hex digit
    dig = (
        f"(locate(substring(md5(w), {{i}}, 1), '{hexd}') - 1)"
    )
    d1 = F.expr(dig.format(i=1))
    d2 = F.expr(dig.format(i=2))
    d3 = F.expr(dig.format(i=3))
    bucket = ((d1 * 16 + d2) % n_features).cast("bigint")
    sign = (
        F.when(d3 < 8, F.lit(1)).otherwise(F.lit(-1))
        if signed
        else F.lit(1)
    )
    return (
        words.select(F.col("__id").alias(id_col), bucket.alias("bucket"),
                     sign.alias("__s"))
        .groupBy(id_col, "bucket")
        .agg(F.sum("__s").cast("bigint").alias("val"))
    )


def _hard_sigmoid(z):
    """Piecewise-linear sigmoid ``clamp(0.5 + z/4, 0, 1)`` in exact
    DECIMAL arithmetic — the link function of :func:`linear_classifier_
    train`. Chosen over the logistic exp() PRECISELY because it is
    division- and transcendental-free: every value it produces is an
    exact decimal any engine reproduces bit-for-bit (the Rocchio
    rationale, q_dedup_text's centroid oracle, applied to a TRAINED
    model)."""
    half = F.lit("0.5").cast("decimal(2,1)")
    quarter = F.lit("0.25").cast("decimal(3,2)")
    lo = F.lit(0).cast("decimal(29,14)")
    hi = F.lit(1).cast("decimal(29,14)")
    return F.least(F.greatest(half + z * quarter, lo), hi).cast(
        "decimal(16,14)"
    )


# Hash-feature width of the linear classifier — one value, so a model
# trained by linear_classifier_train always matches the buckets that
# linear_classifier_score hashes.
_LINEAR_N_FEATURES = 16


def linear_classifier_train(
    docs: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    id_col: str = "doc_id",
    rounds: int = 3,
) -> DataFrame:
    """Train a binary linear classifier on hashing-trick features by
    full-batch gradient descent — the fastText-style model-in-the-loop
    quality filter of LLM curation pipelines (a tiny trained linear
    model scores every document; CCNet/Gopher-class pipelines use
    exactly this shape), as a DISTRIBUTED iterative DataFrame program:
    per round, one (doc) aggregation computes every document's margin,
    one (bucket) aggregation computes the full gradient, and the
    16-row (``_LINEAR_N_FEATURES``) weight vector round-trips through
    the driver (bounded by construction — the header-peek discipline, same as the
    Lloyd and BPE trainers).

    Arithmetic contract: everything is exact DECIMAL — features are
    integer sign-hash counts, the link is :func:`_hard_sigmoid`
    (piecewise linear), the learning rate is the decimal literal 0.001,
    and
    each round re-quantizes weights to scale 12. No floats, no
    transcendentals, no divides ⇒ an unrolled SQL CTE chain replays
    training bit-for-bit in any engine (the oracle twin in
    plans/q_dedup_text.py does exactly that). Labels: ``y = 1`` where
    ``label_col == "en"`` else 0 (NULL ⇒ 0).

    Update rule per round (classic LSM/perceptron hybrid — with the
    clamped link the gradient is the residual):
    ``w_j ← round(w_j + lr · round(Σ_i (y_i − p_i)·x_ij, 12), 12)``
    with ``p_i = clamp(0.5 + (w·x_i)/4, 0, 1)``.

    Scale: the corpus is touched twice per round (margin pass, gradient
    pass) through a checkpointed O(docs × 16) sparse feature
    table; the only driver state is the weight vector. Rounds are
    sequential by nature (SGD dependency), but each round is two
    shuffles regardless of corpus size — at 100 TB you cap rounds, not
    data. Returns the learned weights (bucket, w) — feed to
    :func:`linear_classifier_score`.
    """
    from decimal import Decimal

    spark = docs.sparkSession
    feats = feature_hash(docs, text_col, id_col, _LINEAR_N_FEATURES)
    y = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("__yid"),
        F.when(F.col(label_col) == "en", 1)
        .otherwise(0)
        .cast("decimal(2,0)")
        .alias("__y"),
    )
    base = (
        feats.join(y, feats[id_col] == y["__yid"])
        .select(
            F.col(id_col),
            "bucket",
            F.col("val").cast("decimal(12,0)").alias("val"),
            "__y",
        )
        .localCheckpoint(eager=True)  # re-scanned twice per round
    )
    w: dict[int, Decimal] = {j: Decimal(0) for j in range(_LINEAR_N_FEATURES)}
    lr_lit = F.lit("0.001").cast("decimal(4,3)")
    for _ in range(rounds):
        wdf = F.broadcast(
            spark.createDataFrame(
                sorted(w.items()), "bucket bigint, w decimal(24,12)"
            )
        )
        z = (
            base.join(wdf, "bucket")
            .groupBy(id_col)
            .agg(
                F.sum(F.col("w") * F.col("val"))
                .cast("decimal(24,12)")
                .alias("z")
            )
        )
        p = z.select(F.col(id_col), _hard_sigmoid(F.col("z")).alias("p"))
        grad = (
            base.join(p, id_col)
            .select(
                "bucket",
                ((F.col("__y") - F.col("p")) * F.col("val")).alias("__t"),
            )
            .groupBy("bucket")
            .agg(F.round(F.sum("__t"), 12).cast("decimal(24,12)").alias("g"))
        )
        upd = grad.join(wdf, "bucket").select(
            "bucket",
            F.round(F.col("w") + lr_lit * F.col("g"), 12)
            .cast("decimal(24,12)")
            .alias("w"),
        )
        for row in upd.collect():  # <= _LINEAR_N_FEATURES rows — bounded
            w[int(row["bucket"])] = row["w"]
    return spark.createDataFrame(
        sorted(w.items()), "bucket bigint, w decimal(24,12)"
    )


def linear_classifier_score(
    docs: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score every document with a :func:`linear_classifier_train` model:
    hash features, one broadcast join against the tiny weight vector,
    one (doc) aggregation — O(corpus) with no driver participation.
    Documents with no hashable tokens (or NULL text) score the
    zero-margin ``p = 0.5`` (and therefore ``pred = 1`` — the clamp's
    decision boundary is inclusive). Returns (id, score DOUBLE rounded
    6dp, pred int)."""
    feats = feature_hash(docs, text_col, id_col, _LINEAR_N_FEATURES)
    z = (
        feats.join(F.broadcast(weights), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum(F.col("w") * F.col("val").cast("decimal(12,0)"))
            .cast("decimal(24,12)")
            .alias("z")
        )
    )
    p = _hard_sigmoid(
        F.coalesce(F.col("z"), F.lit(0).cast("decimal(24,12)"))
    )
    return (
        docs.select(id_col)
        .join(z, id_col, "left")
        .select(
            F.col(id_col),
            F.round(p.cast("double"), 6).alias("score"),
            F.when(p >= F.lit("0.5").cast("decimal(2,1)"), 1)
            .otherwise(0)
            .cast("int")
            .alias("pred"),
        )
    )


def _cms_bucket(word_col, seed: int, width: int):
    """Row j's CMS bucket for a token: the first two hex digits of
    md5(seed ':' token) — hex-digit arithmetic reproducible in any
    engine with md5 (the feature_hash discipline), uniform over
    [0, 256) and reduced mod ``width``.

    The two-digit source has only 256 distinct values, so ``width``
    must divide 256: a width > 256 would leave buckets >= 256
    permanently empty (silently degrading eps below the documented
    k/width), and a width not dividing 256 would get modulo-biased
    buckets — the round-6 advisor's catch; fail loud instead of
    degrading. (Widening to 4 hex digits would fix arbitrary widths
    but change every certified bucket assignment and its DuckDB
    oracle twin; all real callers use width <= 256, so validation is
    the behavior-preserving fix.)"""
    if width <= 0 or width > 256 or 256 % width != 0:
        raise ValueError(
            f"CMS width must be a divisor of 256 in (0, 256] "
            f"(2 md5 hex digits = 256 distinct hash values); got {width}"
        )
    h = F.md5(F.concat(F.lit(f"{seed}:"), word_col))
    return (F.conv(F.substring(h, 1, 2), 16, 10).cast("int") % width).alias(
        "bucket"
    )


def count_min_estimates(
    word_counts: DataFrame,
    word_col: str = "word",
    n_col: str = "n",
    width: int = 256,
    depth: int = 4,
) -> DataFrame:
    """Count-min-sketch frequency estimates (Cormode & Muthukrishnan
    2005) for every word in an exact (word, count) table: ``depth``
    hash rows of ``width`` counters each; a word's estimate is the MIN
    over rows of its bucket's total. Returns (word, est).

    The sketch is built FROM the aggregated counts (bucket total =
    sum of member-word counts), so the input scan is vocabulary-sized,
    and the sketch itself is a fixed depth×width frame — trivially
    broadcastable, mergeable across partitions/streams by addition
    (the property that makes CMS the standard distributed heavy-hitter
    sketch at 100 TB: each executor sketches locally, the driver adds).

    Estimates carry CMS's one-sided guarantee: est >= true ALWAYS
    (buckets only ever add counts), and est <= true + eps*N with
    probability 1 - (1/k)^depth for eps = k/width (Markov per row,
    independent rows) — the certifiable contract the registry query
    asserts against an exact oracle."""
    wc = word_counts.select(
        F.col(word_col).alias("word"), F.col(n_col).cast("bigint").alias("n")
    )
    sketch = cms_sketch(wc, width=width, depth=depth)
    return cms_lookup(wc.select("word"), sketch, width=width, depth=depth)


def _cms_probe_rows(words: DataFrame, width: int, depth: int) -> DataFrame:
    """(word, j, bucket) probe rows for every word × hash row."""
    return words.select(
        "*",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("j"),
                    _cms_bucket(F.col("word"), j, width),
                )
                for j in range(depth)
            ])
        ).alias("jb"),
    ).select(
        *[c for c in words.columns],
        F.col("jb.j").alias("j"),
        F.col("jb.bucket").alias("bucket"),
    )


def cms_sketch(
    word_counts: DataFrame, width: int = 256, depth: int = 4
) -> DataFrame:
    """Build the (j, bucket, tot) count-min sketch frame from an exact
    (word, n) table — fixed depth×width rows, MERGEABLE BY ADDITION:
    union two sketches and re-sum (j, bucket) and you have the sketch
    of the concatenated corpora, the property streaming/incremental
    pipelines rely on (see streaming.cms_stream_merge)."""
    rows = _cms_probe_rows(word_counts, width, depth)
    return rows.groupBy("j", "bucket").agg(F.sum("n").alias("tot"))


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Merge CMS sketches built with identical (width, depth, hash):
    union + re-sum — the additivity that makes CMS the distributed /
    streaming heavy-hitter sketch."""
    if not sketches:
        raise ValueError("cms_merge: need at least one sketch")
    u = sketches[0]
    for s in sketches[1:]:
        u = u.unionByName(s)
    return u.groupBy("j", "bucket").agg(F.sum("tot").alias("tot"))


def cms_lookup(
    words: DataFrame, sketch: DataFrame, width: int = 256, depth: int = 4
) -> DataFrame:
    """Frequency estimates for a (word) frame against a (j, bucket,
    tot) sketch: min over hash rows of the bucket total. Returns
    (word, est); a word probing only empty buckets gets est=0 via the
    left join (an absent word's buckets may legitimately be empty)."""
    probes = _cms_probe_rows(words.select("word").distinct(), width, depth)
    return (
        probes.join(F.broadcast(sketch), ["j", "bucket"], "left")
        .groupBy("word")
        .agg(F.min(F.coalesce(F.col("tot"), F.lit(0))).alias("est"))
    )


def rrf_fuse(
    *rankings: DataFrame,
    topk: int = 5,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of two or more
    per-query rankings — the standard hybrid-retrieval combiner (BM25 +
    ANN, sparse + dense) that needs NO score calibration: each ranker
    contributes 1/(60 + rank) per (query, doc), missing docs
    contribute 0, and the fused top-k is re-ranked on the summed
    contribution. Inputs are (qid, doc_id, rank) frames; returns
    (qid, doc_id, fused_e9, fused_rank) for the per-query top ``topk``.

    Contributions are FIXED-POINT bigints — floor(10^9/(60+rank))
    — so the fused scores are exact integers any engine reproduces
    (IEEE 1/(k+r) sums are order-dependent; integer sums are not).
    Ties break on (fused DESC, doc_id ASC), a total order.

    Scale shape: rankings are already top-k-bounded per query (the
    expensive retrieval happened upstream), so fusion is a union +
    one (qid, doc) aggregation + one per-query window over frames of
    |queries| x k rows — dimension-sized work, broadcastable
    downstream. At 100 TB the rankers bound the cost; RRF never
    touches the corpus."""
    from pyspark.sql import Window

    if len(rankings) < 2:
        raise ValueError("rrf_fuse: need at least two rankings")
    contribs = None
    for r in rankings:
        c = r.select(
            "qid", "doc_id",
            F.expr("1000000000 div (60 + rank)").cast("bigint").alias(
                "contrib"
            ),
        )
        contribs = c if contribs is None else contribs.unionByName(c)
    fused = contribs.groupBy("qid", "doc_id").agg(
        F.sum("contrib").alias("fused_e9")
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("fused_e9").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("fused_rank") <= topk)
    )


def term_overlap_topk(
    docs: DataFrame,
    queries: DataFrame,
    text_col: str,
    id_col: str,
    query_col: str = "query",
    qid_col: str = "qid",
) -> DataFrame:
    """Distinct-term-overlap ranking — the deliberately simple second
    ranker for fusion demos and a useful recall-oriented first stage:
    score(q, d) = |distinct query words present in d|, ties on doc_id.
    Same inverted-index probe shape as bm25_topk (queries broadcast
    onto the doc term table; only query-word postings survive).
    Returns (qid, doc_id, overlap, rank) for the per-query top 20."""
    from pyspark.sql import Window

    qw = queries.select(
        F.col(qid_col).alias("qid"),
        F.explode(F.array_distinct(F.split(query_col, " "))).alias("w"),
    ).where(F.col("w") != "")
    dw = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(F.split(text_col, " "))).alias("w"),
    ).where(F.col("w") != "")
    hits = dw.join(F.broadcast(qw), "w").groupBy("qid", "doc_id").agg(
        F.count(F.lit(1)).alias("overlap")
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("overlap").desc(), F.col("doc_id").asc()
    )
    return (
        hits.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= 20)
    )


def skipgram_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Skip-gram (center, context) pair extraction — the word2vec /
    GloVe co-occurrence data generator: every ordered token pair at
    distance 1..2 inside a document yields both (a→b) and
    (b→a) training pairs, aggregated to (center, context, n). Token
    positions come from the raw whitespace split (empties keep their
    position, then drop — engine-independent positions), so any engine
    re-deriving the same positional join reproduces the counts
    exactly.

    Scale shape: the positional self-join keys on the document id with
    a bounded position-range predicate — work is O(tokens × 2)
    and document-local (no cross-doc pairs, the shuffle key is the doc
    id), then one map-side-combinable aggregation onto the pair
    vocabulary. The classic formulation at 100 TB: pair generation
    never materializes more than 2 rows per token."""
    toks = docs.select(
        F.col(id_col).alias("did"),
        F.posexplode(F.split(text_col, " ")).alias("p", "w"),
    ).where(F.col("w") != "")
    a = toks.select(
        F.col("did"), F.col("p").alias("pa"), F.col("w").alias("wa")
    )
    b = toks.select(
        F.col("did"), F.col("p").alias("pb"), F.col("w").alias("wb")
    )
    ordered = a.join(b, "did").where(
        (F.col("pb") >= F.col("pa") + 1)
        & (F.col("pb") <= F.col("pa") + 2)
    )
    sym = ordered.select(
        F.col("wa").alias("center"), F.col("wb").alias("context")
    ).unionByName(
        ordered.select(
            F.col("wb").alias("center"), F.col("wa").alias("context")
        )
    )
    return sym.groupBy("center", "context").agg(
        F.count(F.lit(1)).alias("n")
    )


def mmr_diversify(
    candidates: DataFrame,
    sims: DataFrame,
    k: int = 3,
) -> DataFrame:
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    1998) — the diversity stage of a retrieval stack: greedily pick the
    candidate maximizing relevance minus its worst redundancy against
    what's already picked. Inputs are exact integers: ``candidates``
    = (qid, doc_id, rel) fixed-point relevances, ``sims`` = (qid, a,
    b, sim) fixed-point pairwise similarities among the candidates
    (missing pair => similarity 0). Round 1 takes the max-relevance
    candidate; round r scores the rest as rel*100 - max(sim to
    selected) under the (score DESC, doc_id ASC) total order — every
    pick a pure function of the inputs, so a k-round unrolled SQL
    recurrence replays it exactly. Returns (qid, pick_order, doc_id).

    Scale shape: candidate lists are top-k-bounded per query (the
    corpus-scale work happened in the retriever), so every round is a
    window + a broadcast-joined max over |queries| x k rows —
    dimension-sized; k rounds of it."""
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"mmr_diversify: k={k} must be >= 1")
    cand = candidates.select(
        "qid", "doc_id", F.col("rel").cast("bigint").alias("rel")
    ).localCheckpoint(eager=True)
    w_rel = Window.partitionBy("qid").orderBy(
        F.col("rel").desc(), F.col("doc_id").asc()
    )
    picked = (
        cand.withColumn("rn", F.row_number().over(w_rel))
        .where(F.col("rn") == 1)
        .select("qid", F.lit(1).cast("int").alias("pick_order"), "doc_id")
    ).localCheckpoint(eager=True)
    sym = sims.select(
        "qid", F.col("a").alias("doc_id"), F.col("b").alias("other"),
        F.col("sim").cast("bigint").alias("sim"),
    ).unionByName(sims.select(
        "qid", F.col("b").alias("doc_id"), F.col("a").alias("other"),
        F.col("sim").cast("bigint").alias("sim"),
    ))
    for r in range(2, k + 1):
        remaining = cand.join(
            picked.select("qid", "doc_id"), ["qid", "doc_id"], "anti"
        )
        redundancy = (
            remaining.join(
                sym.join(
                    picked.select(
                        "qid", F.col("doc_id").alias("other")
                    ),
                    ["qid", "other"],
                ).select("qid", "doc_id", "sim"),
                ["qid", "doc_id"],
                "left",
            )
            .groupBy("qid", "doc_id", "rel")
            .agg(F.coalesce(F.max("sim"), F.lit(0)).alias("red"))
        )
        scored = redundancy.select(
            "qid", "doc_id",
            (F.col("rel") * 100 - F.col("red")).alias("score"),
        )
        w = Window.partitionBy("qid").orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        )
        nxt = (
            scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(
                "qid", F.lit(r).cast("int").alias("pick_order"), "doc_id"
            )
        )
        picked = picked.unionByName(nxt).localCheckpoint(eager=True)
    return picked


def kneser_ney_bigram(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_count: int = 1,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram language model, trained corpus-
    wide in EXACT fixed point — the standard n-gram smoother (Kneser &
    Ney 1995; Chen & Goodman 1999's interpolated form) that unigram
    add-one smoothing (unigram_logprob_scores) cannot approach, because
    its backoff weight is the CONTINUATION count (in how many distinct
    contexts does w2 appear), not the raw frequency:

        P(w2|w1) = max(c(w1,w2) - D, 0)/c(w1)
                   + (D·N1+(w1·)/c(w1)) · N1+(·w2)/T

    with discount D = 3/4 and T the number of distinct bigram types.
    Every quantity is an integer, so with the discount kept RATIONAL
    the probability is the exact fraction
       (max(4·c12 − 3, 0)·T + 3·N1+(w1·)·N1+(·w2)) / (4·c(w1)·T)
    floored at 10^12 — DECIMAL(38,0) intermediates (≈4e26 at a
    10M-token corpus, well inside 38 digits; the HUGEINT PCA
    discipline), so the trained model is hash-certifiable cross-engine,
    which a float KN never is.

    Scale shape: one corpus pass builds bigram counts (map-side
    combine); c(w1)/N1+(w1·), N1+(·w2) and T are aggregates OF THE
    COUNT TABLE (vocabulary²-bounded, far smaller than the corpus),
    joined back on their own keys; T rides a broadcast 1-row frame.
    Returns (w1, w2, c12, p_kn_e12) for bigrams with c12 >= min_count.
    """
    from gene_level_metadata_pipeline_spark.operators.drift import (
        _floor_div_exact,
    )

    toks = df.select(_ws_tokens(text_col).alias("a")).where(
        F.size("a") >= 2
    )
    bg = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(2, size(a)), "
                "i -> struct(a[i-2] AS w1, a[i-1] AS w2))"
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c12 = c12.transform(_materialize)
    c1 = c12.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("nfol")
    )
    cw2 = c12.groupBy("w2").agg(F.count(F.lit(1)).alias("nprec"))
    tt = c12.agg(F.count(F.lit(1)).alias("t"))
    d38 = "decimal(38,0)"
    num = (
        F.greatest(
            F.lit(4) * F.col("c12") - F.lit(3), F.lit(0)
        ).cast(d38)
        * F.col("t").cast(d38)
        + F.lit(3).cast(d38)
        * F.col("nfol").cast(d38)
        * F.col("nprec").cast(d38)
    ) * F.lit(10 ** 12).cast(d38)
    den = (
        F.lit(4).cast(d38) * F.col("c1").cast(d38)
        * F.col("t").cast(d38)
    )
    return (
        c12.where(F.col("c12") >= min_count)
        .join(c1, "w1")
        .join(cw2, "w2")
        .crossJoin(F.broadcast(tt))
        .select(
            "w1", "w2", "c12",
            _floor_div_exact(num, den).cast("bigint").alias("p_kn_e12"),
        )
    )

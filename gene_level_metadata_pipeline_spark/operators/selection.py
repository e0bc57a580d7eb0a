"""Corpus selection under a token budget + fixed-context sequence packing.

Both operators need a GLOBAL ordered running sum — the one window shape
that does not distribute naively (``Window.orderBy`` with no partition key
collapses the whole dataset onto one task). ``running_sum`` implements the
scalable two-phase form instead:

  1. range-repartition on the (total) ordering key, so partition *i* holds
     a contiguous key range and every row in partition i sorts before every
     row in partition i+1;
  2. per-partition cumulative sum (an ordinary partitioned window over
     ``spark_partition_id()``);
  3. per-partition totals (one tiny row per partition) prefix-summed on a
     single task and broadcast back as additive offsets.

The result is partitioning-independent: range boundaries come from
sampling, but wherever they land, within-partition cumsum + prior-partition
offset is the same global prefix sum — so the operator is deterministic
even though the physical split is not. The ordering key must be a TOTAL
order (include a unique tiebreaker column); equal keys straddling a range
boundary would otherwise make "prior partitions" ambiguous.

Scale notes (100 TB): phase 2 is a map-side sort per partition, phase 3
moves #partitions rows — the only global structure is a broadcast array of
partition offsets. Contrast with the naive global window: one executor
sorts 100 TB.

Reference parity: the reference has no selection/packing (R pipeline,
scripts enumerated in SURVEY §2); these are training-data-pipeline
extensions per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from gene_level_metadata_pipeline_spark.materialize import (
    materialize as _materialize,
)

from gene_level_metadata_pipeline_spark.operators.textanalysis import (
    hex_sample_bound,
)

__all__ = [
    "running_sum",
    "budget_select",
    "pack_sequences",
    "materialize_packed",
    "mixture_sample",
    "temperature_mixture_rates",
    "corpus_shuffle",
    "stratified_take",
    "weighted_take_k",
    "stratified_weighted_take",
    "abc_classification",
]


def running_sum(
    df: DataFrame,
    order_by: list[str | Column],
    value_col: str | Column,
    out_col: str = "running_total",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global inclusive prefix sum of ``value_col`` in ``order_by`` order.

    ``order_by`` must be a total order (append a unique key as the last
    column). The sum is computed in DECIMAL(28,6) so it is exact and
    order-of-combination-independent (see driver_queries._dsum rationale),
    then left as decimal for the caller to cast.

    The ranged+labelled frame is MATERIALIZED (lazy localCheckpoint)
    before fanning out into the offsets aggregate and the main join:
    ``repartitionByRange`` samples its range bounds per evaluation, and
    without pinning, the two consumers of ``_pid`` can observe
    DIFFERENT partitionings of the same data — offsets then join
    against the wrong partitions and the prefix sums silently corrupt.
    Found live at sf0.1 by the full-registry oracle gate
    (ks_value_drift supremum inflated, non-deterministic across runs);
    sf0.01 never hit it because the range sampler sees every row at
    small scale, making both evaluations agree by coincidence. The
    checkpoint input is the caller's pre-aggregated table (values /
    parts / documents-after-groupBy), so the materialization is small
    relative to the raw data at any scale.
    """
    n = num_partitions or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32"
    )
    keys = [F.col(c) if isinstance(c, str) else c for c in order_by]
    ranged = df.repartitionByRange(int(n), *keys)
    ranged = ranged.withColumn(
        "_pid", F.spark_partition_id()
    ).transform(_materialize)

    w = Window.partitionBy("_pid").orderBy(*keys)
    val = (
        F.col(value_col) if isinstance(value_col, str) else value_col
    ).cast("decimal(28,6)")
    local = ranged.withColumn("_local_cum", F.sum(val).over(w))

    # One row per partition; the offset window runs on <= num_partitions
    # rows, so its single-task sort is O(partition count), not O(data).
    wp = Window.orderBy("_pid")
    offsets = (
        local.groupBy("_pid")
        .agg(F.sum(val).alias("_ptotal"))
        .withColumn(
            "_offset",
            F.coalesce(
                F.sum("_ptotal").over(wp.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0).cast("decimal(28,6)"),
            ),
        )
        .select("_pid", "_offset")
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, (F.col("_local_cum") + F.col("_offset")).cast("decimal(28,6)"))
        .drop("_pid", "_local_cum", "_offset")
    )


def budget_select(
    df: DataFrame,
    order_by: list[str | Column],
    cost_col: str | Column,
    budget: float,
    out_col: str = "running_total",
) -> DataFrame:
    """Greedy selection under a budget: walk rows in ``order_by`` order
    (best first), keep each row while the inclusive running cost stays
    within ``budget``. The canonical "take the highest-quality documents
    until the token budget is spent" curation step."""
    cum = running_sum(df, order_by, cost_col, out_col=out_col)
    return cum.where(F.col(out_col) <= F.lit(budget).cast("decimal(28,6)"))


def pack_sequences(
    df: DataFrame,
    order_by: list[str | Column],
    size_col: str | Column,
    context_len: int,
    bin_col: str = "bin_id",
) -> DataFrame:
    """Assign each document to a fixed-capacity context bin by exclusive
    prefix sum: bin = floor((running_total - size) / context_len). A
    streaming-friendly approximation of sample packing — documents stay in
    ``order_by`` order and bins overflow by at most one document (the
    straddler is truncated or re-binned downstream), in exchange for a
    fully parallel plan with no sequential first-fit loop."""
    size = (F.col(size_col) if isinstance(size_col, str) else size_col).cast(
        "decimal(28,6)"
    )
    cum = running_sum(df, order_by, size_col, out_col="_cum")
    return (
        cum.withColumn(
            bin_col,
            F.floor((F.col("_cum") - size) / F.lit(context_len)).cast("long"),
        )
        .drop("_cum")
    )


def pack_concat_chunks(
    df: DataFrame,
    order_by: list[str | Column],
    size_col: str | Column,
    window: int,
    id_cols: list[str] | None = None,
) -> DataFrame:
    """EXACT concat-and-chunk packing (r9): the GPT-pretraining form of
    sequence packing — conceptually concatenate every document's tokens
    in ``order_by`` order and cut the stream into consecutive windows
    of exactly ``window`` tokens, SPLITTING documents that straddle a
    boundary. This is the complement of :func:`pack_sequences` (which
    keeps documents whole and lets each bin overflow by at most one
    straddler): here every window is exactly full — zero padding waste,
    the property pretraining batches want — at the cost of split
    documents, and the operator emits the (window, document, span)
    MAPPING rather than moving any text:

        (window_id, <id_cols...>, tok_start, tok_len, win_off, is_split)

    where ``tok_start`` is the 0-based offset of the span within ITS
    document, ``win_off`` is the 0-based offset of the span within its
    WINDOW (the stream-order key — in-window spans partition
    [0, window), so sorting a window's segments by ``win_off``
    reconstructs the concatenated stream for ANY ``order_by``, not just
    ascending doc id; ADVICE r9), and a document spanning k boundaries
    emits k+1 rows. Feeding the mapping to a gather stage materializes
    the actual windows; keeping it relational keeps the shuffle thin
    (ids + four ints) at any corpus size.

    Scale shape: one :func:`running_sum` (range repartition +
    per-partition cumsum + broadcast offsets — never a global
    single-task window) and one bounded ``sequence``-explode: a
    document with n tokens spans at most n/window + 1 windows, so the
    fan-out is at most a factor (1 + 1/window) over the input. All
    arithmetic is exact integers (token counts), so the mapping is
    engine-replayable bit-for-bit. Zero-token documents emit no span.
    """
    if window < 1:
        raise ValueError(f"pack_concat_chunks: window={window} must be >= 1")
    id_cols = id_cols if id_cols is not None else ["doc_id"]
    size = (F.col(size_col) if isinstance(size_col, str) else size_col)
    cum = running_sum(df, order_by, size_col, out_col="_cum")
    n = size.cast("bigint")
    off = (F.col("_cum").cast("bigint") - n).alias("_off")
    spans = (
        cum.select(*id_cols, n.alias("_n"), off)
        .where(F.col("_n") > 0)
        .withColumn(
            "window_id",
            F.explode(
                F.sequence(
                    F.floor(F.col("_off") / window).cast("bigint"),
                    F.floor((F.col("_off") + F.col("_n") - 1) / window)
                    .cast("bigint"),
                )
            ),
        )
    )
    tok_start = F.greatest(
        F.lit(0).cast("bigint"),
        F.col("window_id") * window - F.col("_off"),
    )
    tok_end = F.least(
        F.col("_n"),
        (F.col("window_id") + 1) * window - F.col("_off"),
    )
    return spans.select(
        "window_id",
        *id_cols,
        tok_start.alias("tok_start"),
        (tok_end - tok_start).alias("tok_len"),
        # stream offset of this span WITHIN its window: the key the
        # gather stage sorts on, valid for any order_by (ADVICE r9 —
        # sorting on doc id silently scrambled non-id-ordered packs)
        F.greatest(
            F.lit(0).cast("bigint"),
            F.col("_off") - F.col("window_id") * window,
        ).alias("win_off"),
        (tok_end - tok_start < F.col("_n")).alias("is_split"),
    )


def materialize_chunks(
    mapping: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gather stage for :func:`pack_concat_chunks`: join the thin
    (window_id, doc_id, tok_start, tok_len) mapping back to the
    documents, slice each document's whitespace tokens to its span, and
    assemble every window's token sequence in stream order. Returns
    (window_id, n_segs, n_tokens, window_text) where ``window_text``
    joins the window's tokens with single spaces — every interior
    window carries exactly the pack width.

    In-window segment order is STREAM order: segments sort on the
    mapping's ``win_off`` (the span's 0-based offset within its window,
    emitted by :func:`pack_concat_chunks` — in-window offsets partition
    [0, window), so the sort is a total order and reconstructs the
    concatenated stream for ANY pack ``order_by``, not just ascending
    doc id; ADVICE r9). Assembly is the A6 ordered-collect discipline
    (``array_sort`` over structs then flatten), never relying on
    shuffle arrival order. Two shuffles: the mapping ⋈ docs join keyed
    on the doc id (the mapping side is thin — ids + four ints) and the
    window groupBy; text bytes move ONCE, already sliced to spans."""
    if "win_off" not in mapping.columns:
        raise ValueError(
            "materialize_chunks: mapping has no 'win_off' column — the "
            "stream-order key pack_concat_chunks emits; without it, "
            "in-window segment order is undefined for non-id order_by. "
            "Re-run pack_concat_chunks to produce the mapping."
        )
    toks = docs.select(
        F.col(id_col).alias("_id"),
        F.filter(F.split(F.col(text_col), " "), lambda x: x != "").alias(
            "_toks"
        ),
    )
    seg = (
        mapping.join(toks, mapping[id_col] == F.col("_id"))
        .select(
            "window_id",
            F.col("win_off").alias("_wo"),
            F.slice(
                F.col("_toks"),
                (F.col("tok_start") + 1).cast("int"),
                F.col("tok_len").cast("int"),
            ).alias("_seg"),
        )
    )
    return (
        seg.groupBy("window_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segs"),
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("_wo", "_seg"))
                    ),
                    lambda s: s.getField("_seg"),
                )
            ).alias("_tokens"),
        )
        .select(
            "window_id",
            "n_segs",
            F.size("_tokens").cast("bigint").alias("n_tokens"),
            F.concat_ws(" ", F.col("_tokens")).alias("window_text"),
        )
    )


def materialize_packed(
    df: DataFrame,
    bin_col: str,
    order_by: list[str],
    text_col: str,
) -> DataFrame:
    """Materialize packed context rows: per bin, the documents joined in
    order with the ``<|eos|>`` separator token — the final step of
    sample packing (pack_sequences assigns bins; this emits the actual
    training rows).

    One shuffle on the bin id; the in-bin order is made deterministic by
    sorting the collected (order_key, text) structs, so the packed text
    is identical whatever the physical partitioning (the A6 ordered
    string-agg discipline applied to corpus packing). Returns
    (bin, n_docs, packed_text).
    """
    keys = F.struct(*[F.col(c) for c in order_by], F.col(text_col))
    return (
        df.groupBy(F.col(bin_col).alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.array_sort(F.collect_list(keys)).alias("_parts"),
        )
        .select(
            "bin",
            "n_docs",
            F.array_join(
                F.transform(F.col("_parts"), lambda s: s[text_col]),
                "<|eos|>",
            ).alias("packed_text"),
        )
    )


def corpus_shuffle(
    df: DataFrame,
    key_col: str,
    salt: str = "shuffle",
    pos_col: str = "shuffle_pos",
) -> DataFrame:
    """Deterministic global corpus shuffle: a reproducible training order.

    LLM training wants the corpus in a pseudo-random order that is (a)
    identical across re-runs and engines (resume/repro), and (b) cheap to
    re-derive with a different ``salt`` per epoch. ``orderBy(rand())`` is
    neither; a naive global ``row_number`` collapses onto one task. This
    op orders by ``md5(salt:key)`` (uniform, deterministic) and assigns
    the global 1-based position with the distributed prefix COUNT
    (``running_sum`` of 1) — range partition on the hash, per-partition
    cumsum, broadcast partition offsets. The position is partitioning-
    independent: wherever the range boundaries land, within-partition
    count + prior-partition offset is the same global rank (the hash
    plus ``key_col`` tiebreak is a total order).
    """
    h = F.md5(
        F.concat_ws(":", F.lit(salt), F.col(key_col).cast("string"))
    )
    hashed = df.withColumn("_h", h)
    out = running_sum(hashed, ["_h", key_col], F.lit(1), out_col="_pos")
    return (
        out.withColumn(pos_col, F.col("_pos").cast("long"))
        .drop("_h", "_pos")
    )


def temperature_mixture_rates(
    df: DataFrame, stratum_col: str, alpha: float = 0.5
) -> DataFrame:
    """Temperature-based domain reweighting (the published α-sampling
    scheme for multilingual/domain mixes — Conneau & Lample 2019 §3.1):
    sampling rate per stratum ∝ n^(α−1), normalized so the SMALLEST
    stratum samples at rate 1.0 — α<1 flattens the mix toward small
    domains, α=1 keeps natural proportions.

    Returns (stratum, n_docs, sample_rate) — a domain-count table
    (bounded: one row per stratum), rate rounded 6dp. The scalar min
    rides in as a broadcast 1-row aggregate (no driver collect, no
    global window). Feed the rates into :func:`mixture_sample` for the
    actual row selection. For α=0.5 the rate is ``sqrt(n_min/n)`` —
    computed with ``sqrt`` (IEEE-correctly-rounded in every engine),
    not ``pow(x, 0.5)`` (libm-dependent last ulp)."""
    counts = df.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    nmin = counts.agg(F.min("n_docs").alias("__nmin"))
    base = F.col("__nmin") / F.col("n_docs")
    e = 1.0 - alpha
    rate = F.sqrt(base) if e == 0.5 else F.pow(base, F.lit(e))
    return counts.crossJoin(F.broadcast(nmin)).select(
        "stratum",
        "n_docs",
        F.round(rate, 6).alias("sample_rate"),
    )


def mixture_sample(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    fractions: dict[str, float],
    salt: str = "mix",
    default: float = 0.0,
) -> DataFrame:
    """Domain-mixture sampling: keep each row with its OWN stratum's
    probability — the per-source reweighting step of a training-data mix
    ("80% of en, 10% of zh, ..."). Deterministic hash-Bernoulli like
    textanalysis.stable_sample: md5(salt:stratum:key) hex prefix compared
    to the stratum's threshold, so re-runs (and other engines evaluating
    the same predicate) select the identical row set, and changing one
    stratum's rate never perturbs another stratum's selection. The
    rate table is a literal when-chain — zero joins, zero shuffles,
    evaluated inside the scan's codegen stage.

    A ``None`` key in ``fractions`` sets the NULL stratum's rate (an
    equality comparison would never match NULL and silently drop the
    stratum; groupBy-derived rate tables — temperature_mixture_rates —
    legitimately contain it). An EMPTY dict degrades to the default
    rate for every row. NULL strata hash under a reserved sentinel so
    their selection is deterministic too."""
    null_keyed = [(s, f) for s, f in fractions.items() if s is None]
    bound = None
    for stratum, frac in sorted(
        ((s, f) for s, f in fractions.items() if s is not None)
    ):
        hexb = F.lit(hex_sample_bound(frac))
        cond = F.col(stratum_col) == stratum
        bound = (
            F.when(cond, hexb) if bound is None else bound.when(cond, hexb)
        )
    if null_keyed:
        hexb = F.lit(hex_sample_bound(null_keyed[0][1]))
        cond = F.col(stratum_col).isNull()
        bound = (
            F.when(cond, hexb) if bound is None else bound.when(cond, hexb)
        )
    default_bound = F.lit(hex_sample_bound(default))
    bound = default_bound if bound is None else bound.otherwise(default_bound)
    h = F.md5(
        F.concat(
            F.lit(salt + ":"),
            F.coalesce(F.col(stratum_col).cast("string"), F.lit("\x00null")),
            F.lit(":"),
            F.col(key_col).cast("string"),
        )
    )
    return df.where(F.substring(h, 1, 8) < bound)


def stratified_take(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    k: int,
) -> DataFrame:
    """EXACT-k per-stratum sampling: keep the ``k`` rows of each stratum
    whose salted hash ranks lowest — the fixed-budget counterpart to the
    rate-based :func:`mixture_sample` ("exactly 10k docs per domain",
    where a Bernoulli rate only hits the budget in expectation).

    Deterministic and engine-reproducible: rank = ``row_number`` over
    ``(md5("take:" || key), key)`` within the stratum, so re-runs, other
    engines, and ANY partitioning select the identical rows; adding rows
    to one stratum never perturbs another stratum's selection, and
    growing ``k`` only ever ADDS rows (nested samples, the property that
    makes ablation corpora comparable). NULL strata form their own group
    (partitionBy treats NULL as a key, matching the NULL-stratum
    contract of mixture_sample). Returns the sampled rows plus
    ``sample_rank`` (1-based within the stratum).

    Scale: one hash-partition shuffle on the stratum column plus a
    per-partition sort — the same shape as any windowed top-k; skewed
    strata are bounded by k at the OUTPUT but still sort their full
    input, so cap runaway strata upstream (gopher gate, exact dedup)
    the way the LSH bucket caps do.
    """
    from pyspark.sql.window import Window

    if k < 1:
        raise ValueError(f"stratified_take: k={k} must be >= 1")
    h = F.md5(
        F.concat(F.lit("take:"), F.col(key_col).cast("string"))
    )
    # asc_nulls_last = DuckDB's default NULL ordering (Spark would sort
    # a NULL hash/key FIRST and silently re-rank the stratum)
    w = Window.partitionBy(stratum_col).orderBy(
        h.asc_nulls_last(), F.col(key_col).asc_nulls_last()
    )
    return (
        df.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .where(F.col("sample_rank") <= k)
    )


def weighted_take_k(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    salt: str = "wtake",
) -> DataFrame:
    """EXACT-k weighted sampling WITHOUT replacement — the
    Efraimidis-Spirakis A-ES scheme (public algorithm: each row draws a
    uniform u and the k largest u^(1/w) win, which selects each subset
    with probability proportional to its weights), made deterministic
    and engine-reproducible the `stable_sample` way: u derives from
    md5(salt:key), not an RNG.

    The sort key is ln(u)/w (monotone in u^(1/w); u from the first 8
    md5 hex digits, u = (v+1)/2^32 in (0,1] so ln is defined) — every
    input to the comparison is an IEEE-identical double in any engine
    (md5 slice -> integer arithmetic -> ln -> divide), and ties (a
    2^-32 event) break on the key, so two engines select the identical
    set. The mixture-weighting use: weight = token count samples
    "probability proportional to training mass"; weight = a quality
    score samples toward the curated head without a hard cutoff.

    Rows with NULL or non-positive weight CANNOT be sampled and are
    excluded (ln(u)/w flips sign at w<0 and explodes at 0 — there is no
    meaningful "weight 0 row that might still win").

    Scale: global top-k plans as TakeOrderedAndProject (per-partition
    heap + driver merge of k-row heads) — no global sort, no
    single-partition window, no shuffle of the corpus. Returns
    (key, weight, es_score) with es_score rounded 6dp (DuckDB-matching
    double rounding).
    """
    if k < 1:
        raise ValueError(f"weighted_take_k: k={k} must be >= 1")
    v = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt + ":"), F.col(key_col).cast("string"))),
            1, 8,
        ),
        16, 10,
    ).cast("long")
    u = (v + 1).cast("double") / F.lit(float(2 ** 32))
    w = F.col(weight_col).cast("double")
    es = F.log(u) / w
    # round like DuckDB rounds doubles: round(x * 10^n) / 10^n
    es_out = F.round(es * F.lit(1e6), 0) / F.lit(1e6)
    return (
        df.where(w > 0)
        .select(
            F.col(key_col),
            F.col(weight_col),
            es.alias("__es"),
            es_out.alias("es_score"),
        )
        .orderBy(F.col("__es").desc(), F.col(key_col).asc_nulls_last())
        .limit(k)
        .drop("__es")
    )


def stratified_weighted_take(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    weight_col: str,
    k: int,
) -> DataFrame:
    """EXACT-k weighted sampling WITHIN each stratum — the fixed-budget
    weighted mixer: "exactly k documents per language, drawn with
    probability proportional to weight". Composes the
    :func:`weighted_take_k` Efraimidis-Spirakis key (deterministic
    uniforms from md5("wtake:" || key), ln(u)/w, engine-identical
    doubles) with the
    :func:`stratified_take` per-stratum window rank, and inherits both
    contracts: NULL strata form their own group, NULL/non-positive
    weights are unsampleable, strata are independent (adding rows to
    one never perturbs another's selection), growing k only adds rows.

    Scale: one hash-partition shuffle on the stratum plus the windowed
    top-k sort — identical to stratified_take; the skewed-stratum
    caveat applies verbatim. Returns the sampled rows plus
    ``sample_rank`` (1-based within the stratum by descending ES key).
    """
    from pyspark.sql.window import Window

    if k < 1:
        raise ValueError(f"stratified_weighted_take: k={k} must be >= 1")
    v = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("wtake:"), F.col(key_col).cast("string"))),
            1, 8,
        ),
        16, 10,
    ).cast("long")
    u = (v + 1).cast("double") / F.lit(float(2 ** 32))
    w = F.col(weight_col).cast("double")
    es = F.log(u) / w
    rank_w = Window.partitionBy(stratum_col).orderBy(
        es.desc_nulls_last(), F.col(key_col).asc_nulls_last()
    )
    return (
        df.where(w > 0)
        .withColumn("sample_rank", F.row_number().over(rank_w).cast("long"))
        .where(F.col("sample_rank") <= k)
    )


def abc_classification(
    df: DataFrame,
    key_col: str,
    value_col: str | Column,
) -> DataFrame:
    """Pareto / ABC contribution analysis: rank keys by contribution
    (descending), compute each key's cumulative share of the grand
    total, and classify A (the head up to 50% of the total), B
    (up to 80%), C (the tail) — the classic 80/20 inventory and
    corpus-source triage.

    Cuts are RATIONAL — 1/2 and 4/5 — so class boundaries are decided
    by the EXACT decimal inequalities cum * 2 <= total and
    cum * 5 <= total * 4, never by comparing a rounded double to 0.5
    (a hash-match killer at the boundary). The cumulative
    sum reuses ``running_sum`` (range-repartition + per-partition
    window + broadcast offsets — never a single-task global window);
    the grand total is a 1-row broadcast. Shuffles: one groupBy on the
    key, one range exchange — same shape at 100 TB.

    Returns (key, contribution DECIMAL(18,6), cum_share double 6dp,
    abc_class). Ordering ties break on the key ascending for a total
    order.
    """
    val = (F.col(value_col) if isinstance(value_col, str) else value_col)
    contrib = df.groupBy(F.col(key_col).alias("key")).agg(
        F.sum(val.cast("decimal(18,6)")).alias("contribution")
    )
    cum = running_sum(
        contrib,
        [F.col("contribution").desc(), F.col("key").asc_nulls_last()],
        "contribution",
        out_col="__cum",
    )
    total = contrib.agg(
        F.sum("contribution").cast("decimal(28,6)").alias("__total")
    )
    cls = (
        F.when(F.col("__cum") * F.lit(2) <= F.col("__total"), "A")
        .when(F.col("__cum") * F.lit(5) <= F.col("__total") * F.lit(4), "B")
        .otherwise("C")
    )
    return (
        cum.join(F.broadcast(total))
        .select(
            "key",
            "contribution",
            (
                F.round(
                    F.try_divide(
                        F.col("__cum").cast("double"),
                        F.col("__total").cast("double"),
                    )
                    * F.lit(1e6),
                    0,
                )
                / F.lit(1e6)
            ).alias("cum_share"),
            cls.alias("abc_class"),
        )
    )


def mixture_reweight_mw(
    df: DataFrame,
    domain_col: str,
    stat_col: str,
) -> DataFrame:
    """Multiplicative-weights domain-mixture reweighting — the DoReMi
    shape (Xie et al. 2023) in exact integer arithmetic: start from
    uniform domain weights, and each of 4 rounds moves weight toward domains
    whose statistic sits above the current MIXTURE average (the
    weighted mean under the evolving weights), by a clamped relative
    step. The recurrence per round t:

        mix_t  = floor(sum_d w_t(d)*m(d) / sum_d w_t(d))
        rel(d) = floor(m(d)*1e6 / mix_t) - 1e6          # signed e6
        w_{t+1}(d) = max(1, floor(w_t(d) *
                        (1e6 + clamp(rel, ±250000)) / 1e6))

    with m(d) = floor(sum(stat)*1e6 / n_d) the scaled per-domain
    mean. Every quantity is a bigint; every division has a POSITIVE
    divisor and numerator (the signed part is a subtraction, never a
    division), so Spark's integral `div` and DuckDB's `//` replay the
    whole training loop bit-for-bit — the trained-operator
    certification discipline of classifier_lr_scores, applied to data
    mixing. The clamp bounds per-round drift at ±25% so one outlier
    domain cannot saturate the mixture in a step (the standard MW
    stability trade).

    Returns (domain, n_rows, stat_scaled, w_final, w_share_e6) with
    w_share_e6 the final normalized mixture share.

    Scale shape: ONE grouped pass over the corpus builds the
    |domains|-row stat table; each round is a 1-row aggregate plus a
    broadcast projection over |domains| rows — training cost is
    independent of corpus size after the first scan, the property a
    mixture optimizer must have at 100 TB. The |domains|-row stat
    table is eagerly localCheckpointed ONCE (executor-side,
    dimension-sized — the converged-scan discipline), so the
    per-round 1-row aggregates fold the tiny frame instead of
    replaying the corpus scan lineage every round (audited: 32
    static exchanges -> 2 at 4 rounds). No driver state."""
    stats = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col(stat_col).cast("bigint")).alias("__s"),
    ).select(
        "domain", "n_rows",
        F.call_function(
            "div", F.col("__s") * F.lit(10 ** 6), F.col("n_rows")
        ).alias("m"),
    ).localCheckpoint(eager=True)
    e6 = F.lit(10 ** 6).cast("bigint")
    w = stats.withColumn("w", e6)
    for _ in range(4):
        tot = w.agg(
            F.sum(F.col("w") * F.col("m")).alias("__sm"),
            F.sum("w").alias("__sw"),
        ).select(
            F.call_function("div", F.col("__sm"), F.col("__sw"))
            .alias("__mix")
        )
        rel = (
            F.call_function("div", F.col("m") * e6, F.col("__mix")) - e6
        )
        relc = F.least(
            F.lit(250_000).cast("bigint"),
            F.greatest(F.lit(-250_000).cast("bigint"), rel),
        )
        w = w.crossJoin(F.broadcast(tot)).select(
            "domain", "n_rows", "m",
            F.greatest(
                F.lit(1).cast("bigint"),
                F.call_function("div", F.col("w") * (e6 + relc), e6),
            ).alias("w"),
        )
    total = w.agg(F.sum("w").alias("__tw"))
    return w.crossJoin(F.broadcast(total)).select(
        "domain", "n_rows",
        F.col("m").alias("stat_scaled"),
        F.col("w").alias("w_final"),
        F.call_function(
            "div", F.col("w") * e6, F.col("__tw")
        ).alias("w_share_e6"),
    )


def rendezvous_assign(
    df: DataFrame,
    id_col: str,
    n_shards: int,
) -> DataFrame:
    """Rendezvous (highest-random-weight, Thaler-Ravishankar 1998)
    shard assignment: every key scores each shard with an
    engine-portable md5 weight and lands on the argmax — the placement
    primitive behind consistent data distribution (cache routing,
    bucket assignment, shard rebalancing). Its defining property —
    growing N to N+1 moves ONLY the keys that now win shard N+1, and
    never moves a key between old shards — is what modulo hashing
    (key % N, which reshuffles ~everything) cannot give; pinned by a
    hypothesis test.

    Weight = the first-8-hex-digit integer of md5('hrw:{shard}:{key}')
    (the stable_sample idiom — pure function of (shard, key), bit-equal
    in any engine with md5); argmax via one max_by over a sortable
    (weight, -shard) struct, ties to the smaller shard id. The shard
    axis is a fixed ``n_shards``-way explode — one projection, one
    map-side-combinable aggregate, no shuffle beyond the final group.
    Returns (key, shard).
    """
    if n_shards < 1:
        raise ValueError(f"rendezvous_assign: n_shards={n_shards} < 1")
    keyed = df.select(F.col(id_col).alias("key")).distinct()
    exploded = keyed.select(
        "key",
        F.explode(
            F.sequence(F.lit(0), F.lit(int(n_shards) - 1))
        ).alias("shard"),
    )
    w = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":", F.lit("hrw"), F.col("shard").cast("string"),
                    F.col("key").cast("string"),
                )
            ),
            1, 8,
        ),
        16, 10,
    ).cast("long")
    return (
        exploded.withColumn("__w", w)
        .groupBy("key")
        .agg(
            F.max(
                F.struct(F.col("__w"), (-F.col("shard")).alias("ns"))
            ).alias("b")
        )
        .select("key", (-F.col("b.ns")).cast("bigint").alias("shard"))
    )


def dsir_log_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str,
    id_col: str,
    buckets: int = 4096,
    alpha: float = 1.0,
) -> DataFrame:
    """DSIR importance log-weights (Xie et al., "Data Selection for
    Language Models via Importance Resampling", NeurIPS 2023): score
    every raw document by how much more likely its hashed-n-gram bag is
    under the TARGET distribution than under the RAW distribution —
    log w(d) = sum_b c_b(d) * (log p_target(b) - log p_raw(b)) over
    hashed unigram+bigram buckets with add-``alpha`` smoothing. The
    standard pretraining-data-selection move: estimate cheap bag-of-
    hashed-ngrams LMs on both corpora, then resample raw by importance.

    Exactness discipline (what makes a float-heavy score
    hash-certifiable): the per-BUCKET log-ratio is computed once in the
    fixed four-term IEEE form
    ``ln(tc+a) - ln(T+aB) - ln(rc+a) + ln(R+aB)`` (exact integer
    inputs — the keyness_loglik precedent), rounded to 6 dp and cast
    DECIMAL(18,6); a document's log-weight is then the exact decimal
    SUM of its occurrences' bucket terms — order-independent, so
    Spark's partial aggregation and a single SQL GROUP BY agree
    bit-for-bit.

    Scale shape: two corpus passes build the <=``buckets``-row count
    tables (partial-agg shuffles of bucket rows, never text); the term
    table is a BROADCAST join onto the exploded gram stream; the only
    corpus-sized shuffle is the per-document sum of short (id, decimal)
    rows. Raw documents with NULL text get no grams and no weight (a
    scoreless doc cannot be resampled). Returns (id_col, logw double).
    """
    if not 1 <= buckets <= 65536:
        raise ValueError(
            f"dsir_log_weights: buckets={buckets} must be in [1, 65536] "
            "(the bucket index is a 16-bit digest slice)"
        )
    if alpha <= 0:
        raise ValueError(
            f"dsir_log_weights: alpha={alpha} must be > 0 (unsmoothed "
            "zero-count buckets make log p undefined)"
        )
    from gene_level_metadata_pipeline_spark.operators.dedup import (
        _hex4_to_int,
        shingle_array,
    )

    def grams(df: DataFrame) -> DataFrame:
        words = F.split(F.col(text_col), " ")
        bigrams = shingle_array(text_col, 2, distinct=False)
        return (
            df.where(F.col(text_col).isNotNull())
            .select(
                F.col(id_col),
                F.explode(F.concat(words, bigrams)).alias("__gram"),
            )
            .select(
                F.col(id_col),
                (_hex4_to_int(F.md5(F.col("__gram"))) % buckets).alias(
                    "__bucket"
                ),
            )
        )

    # rb feeds the bucket-count aggregate AND the final term join, each
    # of which would re-run the corpus-sized gram explode + md5 without
    # a materialization point (r10-opt: the before plan expanded the
    # explode 5x). Checkpoint the thin (id, bucket-int) stream once.
    rb = grams(raw).transform(_materialize)
    tb = grams(target)
    rcnt = rb.groupBy("__bucket").agg(F.count(F.lit(1)).alias("__rc"))
    tcnt = tb.groupBy("__bucket").agg(F.count(F.lit(1)).alias("__tc"))
    # corpus totals = exact sums of the per-bucket counts (<= ``buckets``
    # rows) — identical bigints to a count over the gram stream, minus
    # two more full corpus passes (r10-opt).
    # coalesce: sum over an EMPTY count table is NULL where the old
    # corpus-pass count was 0 — keep the degenerate-input semantics.
    rtot = rcnt.agg(
        F.coalesce(F.sum("__rc"), F.lit(0).cast("bigint")).alias("__rtot")
    )
    ttot = tcnt.agg(
        F.coalesce(F.sum("__tc"), F.lit(0).cast("bigint")).alias("__ttot")
    )
    a = float(alpha)
    ab = float(alpha * buckets)
    term = (
        rcnt.join(tcnt, "__bucket", "left")
        .crossJoin(F.broadcast(rtot))
        .crossJoin(F.broadcast(ttot))
        .select(
            "__bucket",
            (
                F.round(
                    F.log(F.coalesce(F.col("__tc"), F.lit(0)) + F.lit(a))
                    - F.log(F.col("__ttot") + F.lit(ab))
                    - F.log(F.col("__rc") + F.lit(a))
                    + F.log(F.col("__rtot") + F.lit(ab)),
                    6,
                )
            ).cast("decimal(18,6)").alias("__term"),
        )
    )
    return (
        rb.join(F.broadcast(term), "__bucket")
        .groupBy(id_col)
        .agg(F.sum("__term").cast("double").alias("logw"))
    )


def dsir_gumbel_select(
    weights: DataFrame,
    id_col: str,
    k: int,
    logw_col: str = "logw",
) -> DataFrame:
    """Deterministic Gumbel-top-k resampling over DSIR log-weights —
    exact-k sampling WITHOUT replacement where selection probability
    follows the softmax of the log-weights (the Gumbel-max trick; the
    log-space twin of weighted_take_k's Efraimidis-Spirakis key, which
    would need exp(logw) and under/overflows at corpus-scale
    log-ratios). Made engine-reproducible the ``stable_sample`` way:
    u in (0,1] derives from md5("dsir:" || id), g = -ln(-ln(u)), and the k
    largest (logw + g) win with ties (a 2^-32 event) broken on the id.

    Scale: global top-k plans as TakeOrderedAndProject (per-partition
    heaps + a k-row driver merge), never a global sort. Returns
    (id_col, logw, sel_key rounded 6dp, sample_rank 1..k).
    """
    if k < 1:
        raise ValueError(f"dsir_gumbel_select: k={k} must be >= 1")
    v = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("dsir:"), F.col(id_col).cast("string"))),
            1, 8,
        ),
        16, 10,
    ).cast("long")
    u = (v + 1).cast("double") / F.lit(float(2 ** 32))
    key = F.col(logw_col) + (-F.log(-F.log(u)))
    out = (
        weights.select(
            F.col(id_col),
            F.col(logw_col),
            key.alias("__key"),
            (F.round(key * F.lit(1e6), 0) / F.lit(1e6)).alias("sel_key"),
        )
        .orderBy(F.col("__key").desc(), F.col(id_col).asc_nulls_last())
        .limit(k)
    )
    w = Window.orderBy(F.col("__key").desc(), F.col(id_col).asc_nulls_last())
    return (
        out.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .drop("__key")
    )

"""Structured Streaming slices over the events table (SURVEY.md §2.12).

The reference is strictly batch; streaming is the engine's extension
surface. Every entry point here does one job: stage a bounded input, run
one streaming query to completion with an availableNow trigger, and
return the result as a batch DataFrame the oracle can check. At 100 TB
the identical plans run continuously against an object-store drop zone
with watermarks bounding state.

That job is written once, in private helpers:

* ``_pinned_confs`` sets confs for one query and restores each caller
  value afterwards (or unsets it if the caller had not set it);
* ``_run_to_end`` starts a writer with availableNow under pinned shuffle
  partitions and waits for it — the ``foreachBatch`` entry points call
  it directly;
* ``_drain`` runs a query into a memory sink through ``_run_to_end`` and
  returns its rows as a batch frame, dropping the sink view even when
  the query fails;
* ``_events_source`` is the events parquet as a stream (plus its static
  twin);
* ``_stage_jsonl`` writes the deterministic multi-batch demos' inputs
  with pinned modification times and returns the stream over them;
* ``_demo_dir`` owns a demo's working directory: a caller-supplied one
  is kept (the replay tests restart from it), a temporary one is removed
  once the rows are collected.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gene_level_metadata_pipeline_spark.sources.readers import normalize_event_ts

__all__ = [
    "asof_enrich_stream",
    "hourly_event_counts_stream",
    "incremental_corpus_stream",
    "session_window_counts_stream",
    "sessionize_stream",
    "stream_dedup_within_watermark_demo",
    "stream_outer_join_demo",
    "stream_stream_interval_join",
    "transform_with_state_counts",
]


@contextlib.contextmanager
def _pinned_confs(spark: SparkSession, confs: dict[str, str]):
    """Set ``confs`` for one streaming query, then restore each caller
    value — or unset the key if the caller had not set it. A stream's
    confs are bound at ``start()``, so restoring afterwards is safe."""
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _run_to_end(spark: SparkSession, writer, shuffle: int) -> None:
    """Start ``writer`` with an availableNow trigger (process every input
    present at start, then stop) and wait for it; a failed query
    re-raises here.

    Shuffle/state partitions are pinned to ``shuffle``: stateful
    operators allocate one state-store task per shuffle partition per
    micro-batch, so on a caller session with the 200 default a
    kilobyte-scale demo stream pays 200 × operators × batches empty
    tasks."""
    with _pinned_confs(spark, {"spark.sql.shuffle.partitions": str(shuffle)}):
        writer.trigger(availableNow=True).start().awaitTermination()


def _drain(
    spark: SparkSession,
    df: DataFrame,
    mode: str,
    shuffle: int = 16,
    finish: Callable[[DataFrame], DataFrame] = lambda t: t,
) -> DataFrame:
    """Run the streaming ``df`` into a memory sink in output ``mode`` to
    completion and return ``finish(sink table)`` as a batch frame. The
    rows are collected before the sink view is dropped, and the view is
    dropped in a ``finally``: a query that fails re-raises and leaves no
    ``stream_*`` view behind."""
    name = f"stream_{uuid.uuid4().hex[:8]}"
    try:
        _run_to_end(
            spark,
            df.writeStream.format("memory").queryName(name).outputMode(mode),
            shuffle,
        )
        out = finish(spark.table(name))
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        spark.catalog.dropTempView(name)


def _events_confs(spark: SparkSession) -> None:
    """The events path must work on ANY caller-provided session (the
    driver's verify uses its own): nanos-as-long for the parquet read and
    UTC rendering to agree with the timezone-free oracle."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _events_source(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(static events frame, the same file as a stream). The stream
    reads ``sf_dir`` filtered to ``events.parquet``, with the static
    frame's schema (a file stream cannot infer one)."""
    _events_confs(spark)
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return static, src


def _stage_jsonl(
    spark: SparkSession, d: str, schema: str, batches: list[list[tuple]]
) -> DataFrame:
    """Stage a deterministic multi-batch demo in ``d`` and return the
    stream over it.

    Batch i (1-based) is written once to ``batch_{i}.json``, one JSON
    object per row keyed by the field names of the DDL ``schema``, and
    its mtime pinned to 1_700_000_000 + 600·(i−1): FileStreamSource
    orders files by modification time, not name, and
    ``maxFilesPerTrigger=1`` makes each file one micro-batch. A file that
    already exists (a restart over a caller's directory) is not
    rewritten, only re-pinned."""
    os.makedirs(d, exist_ok=True)
    names = [field.split()[0] for field in schema.split(",")]
    for i, rows in enumerate(batches, 1):
        path = os.path.join(d, f"batch_{i}.json")
        if not os.path.exists(path):
            with open(path, "w") as f:
                f.writelines(json.dumps(dict(zip(names, r))) + "\n" for r in rows)
        mtime = 1_700_000_000 + 600 * (i - 1)
        os.utime(path, (mtime, mtime))
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(d)


@contextlib.contextmanager
def _demo_dir(d: str | None, prefix: str):
    """A demo's working directory. A caller-supplied ``d`` is created if
    needed and kept; otherwise a fresh temporary directory is yielded and
    removed on exit, so the caller must collect its rows inside the
    ``with``."""
    if d:
        os.makedirs(d, exist_ok=True)
        yield d
        return
    tmp = tempfile.mkdtemp(prefix=prefix)
    try:
        yield tmp
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _versions(d: str, prefix: str) -> list[int]:
    """Sorted version numbers of the ``{prefix}{n}`` snapshots in ``d``."""
    return sorted(
        int(m.group(1))
        for f in os.listdir(d)
        if (m := re.fullmatch(rf"{prefix}(\d+)", f))
    )


def hourly_event_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window counts via an actual streaming query.

    Reads the events parquet as a stream (availableNow = process all
    existing files then stop), aggregates with ``window()``, lands in a
    memory sink, and returns the completed result as a batch DataFrame —
    so the driver can oracle-check a genuinely streaming plan.
    """
    _, src = _events_source(spark, sf_dir)
    agg = (
        normalize_event_ts(src)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return _drain(
        spark, agg, "complete",
        finish=lambda t: t.select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n",
        ),
    )


_FLUSH_SENTINEL_UID = -(2**40)  # impossible user_id reserved for the punctuation row

# Inactivity gap that closes a session — one value, so the custom
# sessionizer and the native session_window demo cut identical sessions.
_SESSION_GAP_MINUTES = 30


def _stage_with_flush_sentinel(
    spark: SparkSession, static: DataFrame, sf_dir: str, gap_minutes: int
) -> str:
    """Stage events.parquet plus one far-future sentinel event.

    Watermark punctuation: EventTimeTimeout only fires when the watermark
    (max event time − delay) passes ``last_seen + gap``, so every user's
    final open session would otherwise sit in state when a bounded run
    ends. One synthetic event at ``max(ts) + delay + gap + 1s`` under a
    reserved user_id pushes the final watermark past every real session's
    timeout, so the trailing no-data micro-batch drains all of them. The
    sentinel user's own (single-event) session is the only state left
    behind, and its output is filtered. This is the standard bounded-
    replay flush; on a true unbounded stream no sentinel is needed.

    Returns ``None`` when the static frame is EMPTY — there is nothing
    to flush and no row to template the sentinel from (the caller falls
    back to the plain no-sentinel source). The sentinel row is built
    against a NULLABLE copy of the schema: payload columns are nulled,
    and ``createDataFrame`` would reject a null in any field the parquet
    footer declared required.
    """
    import datetime
    import glob as _glob

    from pyspark.sql.types import StructField, StructType

    first = static.limit(1).collect()
    if not first:
        return None
    horizon_s = 3600 + gap_minutes * 60 + 1  # watermark delay + gap + margin
    fields = static.schema.fields
    ts_type = static.schema["ts"].dataType.simpleString()
    row = first[0].asDict()
    for f in fields:  # null out payload columns; keep only the key + time
        if f.name not in ("ts", "user_id", "event_id"):
            row[f.name] = None
    row["user_id"] = _FLUSH_SENTINEL_UID
    if "event_id" in row:
        row["event_id"] = -1
    max_ts = static.agg(F.max("ts")).first()[0]
    if ts_type == "bigint":  # raw nanos under nanosAsLong
        row["ts"] = int(max_ts) + horizon_s * 1_000_000_000
    else:  # timestamp / timestamp_ntz
        row["ts"] = max_ts + datetime.timedelta(seconds=horizon_s)
    stage = tempfile.mkdtemp(prefix="sessionize_flush_")
    os.symlink(
        os.path.abspath(f"{sf_dir}/events.parquet"), f"{stage}/events.parquet"
    )
    nullable = StructType(
        [StructField(f.name, f.dataType, True) for f in fields]
    )
    sent = spark.createDataFrame(
        [tuple(row[f.name] for f in fields)], nullable
    )
    tmp_out = stage + "_w"
    sent.coalesce(1).write.mode("overwrite").parquet(tmp_out)
    part = _glob.glob(os.path.join(tmp_out, "part-*.parquet"))[0]
    shutil.move(part, os.path.join(stage, "zz_sentinel.parquet"))
    shutil.rmtree(tmp_out, ignore_errors=True)
    return stage


def _without_sentinel(t: DataFrame) -> DataFrame:
    return t.where(F.col("user_id") != F.lit(_FLUSH_SENTINEL_UID))


def sessionize_stream(
    spark: SparkSession,
    sf_dir: str,
    flush_final: bool = True,
) -> DataFrame:
    """Stateful streaming sessionization via applyInPandasWithState.

    The custom-stateful-operator slice: per-user sessions with a
    30-minute (``_SESSION_GAP_MINUTES``) inactivity timeout, state =
    (session start, last seen, count), emitted on event-time timeout. The watermark bounds state.

    With ``flush_final=True`` (default) a watermark-punctuation sentinel
    (see ``_stage_with_flush_sentinel``) drains every open session when
    the bounded replay ends, making the result provably identical to the
    batch twin ``sessionize`` — the registered query shares its oracle.
    With ``flush_final=False`` the run keeps strict unbounded-stream
    semantics: sessions whose timeout the final watermark never passed
    stay in state (e.g. 21 of 150 users' last sessions at sf0.01),
    awaiting data that will never come.

    Returns (user_id, session_start_us, session_end_us, n_events).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    static, src = _events_source(spark, sf_dir)
    stage_dir = None
    if flush_final:
        # None when events is empty: nothing to flush, no sentinel template
        stage_dir = _stage_with_flush_sentinel(
            spark, static, sf_dir, _SESSION_GAP_MINUTES
        )
    if stage_dir is not None:
        src = spark.readStream.schema(static.schema).parquet(stage_dir)
    ev = normalize_event_ts(src).withWatermark("ts", "1 hour")

    gap_us = _SESSION_GAP_MINUTES * 60 * 1_000_000

    def fn(key, pdf_iter, state):
        import pandas as pd

        (user_id,) = key
        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield pd.DataFrame(
                {"user_id": [user_id], "session_start_us": [start],
                 "session_end_us": [last], "n_events": [n]}
            )
            return
        out = []
        cur = list(state.get) if state.exists else None
        # accumulate ALL chunks before sorting: pdf_iter yields the group
        # in Arrow-batch chunks in partition order, so sorting per chunk
        # would sessionize a >1-batch user out of time order
        all_us = sorted(
            int(t)
            for pdf in pdf_iter
            for t in (pdf["ts"].astype("int64") // 1000)
        )
        for t in all_us:
            if cur is None:
                cur = [t, t, 0]
            elif t - cur[1] > gap_us:
                out.append((user_id, cur[0], cur[1], cur[2]))
                cur = [t, t, 0]
            cur[1] = max(cur[1], t)
            cur[2] += 1
        if cur is not None:
            state.update(tuple(cur))
            state.setTimeoutTimestamp(cur[1] // 1000 + gap_us // 1000)
        yield pd.DataFrame(
            out, columns=["user_id", "session_start_us", "session_end_us", "n_events"]
        )

    sessions = ev.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id long, session_start_us long, "
                         "session_end_us long, n_events long",
        stateStructType="start long, last long, n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    try:
        return _drain(spark, sessions, "append", finish=_without_sentinel)
    finally:
        if stage_dir is not None:
            shutil.rmtree(stage_dir, ignore_errors=True)


def session_window_counts_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Native streaming session windows: ``F.session_window`` with the
    30-minute ``_SESSION_GAP_MINUTES`` gap under a watermark in append
    mode — Spark's built-in window-MERGE state (distinct from the
    tumbling-window state of ``hourly_event_counts_stream`` and the custom
    ``applyInPandasWithState`` sessionizer): per-key session windows
    merge as events arrive and emit once the watermark passes a
    session's end.

    Append mode has the same bounded-replay horizon problem as the
    custom sessionizer — sessions whose end the final watermark never
    passes stay in state — so the run reuses the watermark-punctuation
    flush (``_stage_with_flush_sentinel``): the sentinel advances the
    final watermark past every real session's end, all sessions emit,
    and the result provably equals the batch ``F.session_window``
    aggregation over the same events.

    Returns (user_id, session_start_us, session_end_us, n, total).
    """
    _events_confs(spark)
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    stage_dir = _stage_with_flush_sentinel(
        spark, static, sf_dir, _SESSION_GAP_MINUTES
    )
    try:
        src = spark.readStream.schema(static.schema).parquet(stage_dir)
        ev = normalize_event_ts(src).withWatermark("ts", "1 hour")
        agg = (
            ev.groupBy(
                "user_id",
                F.session_window(
                    "ts", f"{_SESSION_GAP_MINUTES} minutes"
                ).alias("sw"),
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
                .cast("double")
                .alias("total"),
            )
        )
        return _drain(
            spark, agg, "append",
            finish=lambda t: _without_sentinel(t).select(
                "user_id",
                F.unix_micros("sw.start").alias("session_start_us"),
                F.unix_micros("sw.end").alias("session_end_us"),
                "n",
                "total",
            ),
        )
    finally:
        shutil.rmtree(stage_dir, ignore_errors=True)


def asof_enrich_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming as-of enrichment against a VERSIONED dimension — the
    feature-store lookup pattern: each event joins the dimension version
    valid at its event time (not the latest), via the batch
    ``temporal.as_of_join`` applied per micro-batch in ``foreachBatch``
    (the as-of union-window is not expressible on an unbounded stream;
    per-batch batch semantics is the standard composition).

    The dimension is derived deterministically from the data so the
    oracle can rebuild it: two versions per user — tier = user_id % 3
    from epoch 0, then tier + 10 from the corpus' midpoint timestamp.
    Events before the midpoint must pick version 1, the rest version 2.

    Returns (event_id, user_id, us, tier).
    """
    from gene_level_metadata_pipeline_spark.operators.temporal import as_of_join

    static, src = _events_source(spark, sf_dir)
    stat_us = normalize_event_ts(static).select(
        "event_id", "user_id", F.unix_micros("ts").alias("us")
    )
    lo, hi = stat_us.agg(F.min("us"), F.max("us")).first()
    t0 = lo + (hi - lo) // 2
    users = stat_us.select("user_id").distinct()
    dim = users.select(
        "user_id",
        F.lit(0).cast("long").alias("valid_from_us"),
        (F.col("user_id") % 3).alias("tier"),
    ).unionByName(
        users.select(
            "user_id",
            F.lit(t0).cast("long").alias("valid_from_us"),
            (F.col("user_id") % 3 + 10).alias("tier"),
        )
    )

    results: list = []

    def enrich(batch_df, _bid):
        j = as_of_join(
            batch_df, dim, on="user_id", left_ts="us", right_ts="valid_from_us"
        )
        results.extend(
            j.select(
                "event_id", "user_id", "us", F.col("right_tier").alias("tier")
            ).collect()
        )

    ev = normalize_event_ts(src).select(
        "event_id", "user_id", F.unix_micros("ts").alias("us")
    )
    _run_to_end(spark, ev.writeStream.foreachBatch(enrich), 16)
    return spark.createDataFrame(
        results, "event_id long, user_id long, us long, tier long"
    )


def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream event-time interval join: click → purchase funnels.

    Joins two STREAMING sides (clicks and purchases filtered from the same
    source stream) on user_id with the purchase constrained to
    [click.ts, click.ts + 30 minutes]. Both sides carry watermarks, so
    Spark bounds the join state: a buffered click is evicted once the
    purchase-side watermark passes click.ts + interval — the unbounded-
    stream contract that makes this run forever at 100 TB/day.

    Run with availableNow over one parquet file → a single micro-batch, so
    every in-interval match is emitted before state eviction and the result
    equals the batch interval join (the oracle).

    Returns (click_id, purchase_id, user_id, lag_s).
    """
    _, src = _events_source(spark, sf_dir)
    ev = normalize_event_ts(src)
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")
        ),
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        (
            F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts")
        ).cast("long").alias("lag_s"),
    )
    return _drain(spark, joined, "append")


def stream_dedup_within_watermark_demo(
    spark: SparkSession, demo_dir: str | None = None
) -> DataFrame:
    """``dropDuplicatesWithinWatermark``: dedup state that EXPIRES.

    Plain streaming ``dropDuplicates`` (streaming_dedup) keeps every key
    forever — unbounded state on an unbounded stream. The
    within-watermark variant guarantees dedup only for duplicates that
    arrive within the watermark delay of each other, which lets Spark
    evict a key once the watermark passes its horizon. That trade —
    bounded state for time-bounded dedup — is the only viable exact-dedup
    contract on a 100 TB/day stream.

    Deterministic four-batch demo: k1/k2 arrive in batch 1; batches 2-3
    advance the watermark far past k1's horizon and give the
    (one-batch-delayed) eviction pass time to run; batch 4 re-sends k1,
    which EMITS AGAIN — the expiry observable. A near-duplicate of k2
    inside batch 1 is suppressed — the dedup observable.

    Returns every emitted (event_id, k) row.
    """
    _events_confs(spark)
    with _demo_dir(demo_dir, "dedup_wm_demo_") as d:
        src = _stage_jsonl(spark, d, "event_id string, k string, ts string", [
            [
                ("e1", "k1", "2024-01-01 01:00:00"),
                ("e2", "k2", "2024-01-01 01:05:00"),
                ("e2dup", "k2", "2024-01-01 01:06:00"),  # within delay: suppressed
            ],
            # far-future row: watermark jumps to 09:50, past k1's 01:10 horizon
            [("e3", "k9", "2024-01-01 10:00:00")],
            # filler: eviction runs with the advanced watermark one batch later
            [("e4", "k8", "2024-01-01 10:02:00")],
            # k1 again, long after expiry: emits a SECOND time
            [("e5", "k1", "2024-01-01 10:03:00")],
        ])
        dedup = (
            src.withColumn("ts", F.to_timestamp("ts"))
            .withWatermark("ts", "10 minutes")
            .dropDuplicatesWithinWatermark(["k"])
            .select("event_id", "k")
        )
        return _drain(spark, dedup, "append", shuffle=8)


def transform_with_state_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event counts via ``transformWithStateInPandas`` — Spark 4's
    arbitrary-stateful-processing API (the applyInPandasWithState
    successor: typed state handles, timers, TTL, and a state store the
    operator can evolve). A ValueState cell accumulates each user's count
    across micro-batches; Arrow moves rows in grouped pandas batches.

    Requires the RocksDB state store provider (a transformWithState
    precondition) — set for this query and restored after. Run with
    availableNow over the events parquet; the emitted totals must equal
    the batch GROUP BY.

    Environment gate: the transformWithState protocol speaks protobuf to
    the state server, so the ``protobuf`` Python package must be present
    (it is not part of this engine's minimal dependency set). Raises
    ``NotImplementedError`` when absent; tests skip accordingly. The
    applyInPandasWithState sessionizer (sessionize_stream) is the
    dependency-free stateful path.
    """
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as ex:
        raise NotImplementedError(
            "transformWithStateInPandas requires the 'protobuf' package "
            "(pyspark's state-server protocol); not installed here"
        ) from ex

    import pandas as pd  # noqa: F401 (executor-side)
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import LongType, StructField, StructType

    class CountProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._n = handle.getValueState(
                "n", StructType([StructField("n", LongType())])
            )

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            batch_n = sum(len(pdf) for pdf in rows)
            prev = self._n.get()[0] if self._n.exists() else 0
            total = prev + batch_n
            self._n.update((total,))
            yield pd.DataFrame({"user_id": [key[0]], "n": [total]})

        def close(self) -> None:
            pass

    out_schema = StructType([
        StructField("user_id", LongType()),
        StructField("n", LongType()),
    ])
    _, src = _events_source(spark, sf_dir)
    counts = src.select("user_id").groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=CountProcessor(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )
    with _pinned_confs(spark, {
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    }):
        return _drain(spark, counts, "update")


def late_data_window_counts(spark: SparkSession, gap_dir: str | None = None) -> DataFrame:
    """Watermark + append-mode windowed counts: the late-data contract.

    Deterministic three-batch demo: batch 1 carries hour-1/hour-2 events
    plus a far-future event that will advance the watermark; batch 2 is a
    filler; batch 3 carries a LATE hour-1 event. Append mode emits a
    window once the eviction watermark passes its end, and late rows are
    filtered with the PREVIOUS batch's watermark (Spark keeps
    watermarkForLateEvents one batch behind watermarkForEviction —
    SPARK-24588), which is why the late event must arrive two batches
    after the watermark-advancing one to be provably dropped. The emitted
    hour-1 count is 2, not 3.

    Returns (hour, n) for every CLOSED window.
    """
    _events_confs(spark)
    with _demo_dir(gap_dir, "late_demo_") as d:
        src = _stage_jsonl(spark, d, "ts string, user_id long", [
            [
                ("2024-01-01 01:10:00", 1), ("2024-01-01 01:20:00", 2),
                ("2024-01-01 02:15:00", 3),
                # max event time far ahead: watermark = 09:00 - 2h = 07:00,
                # so windows 01:00 and 02:00 are closed after this batch
                ("2024-01-01 09:00:00", 4),
            ],
            # filler: lets the 07:00 watermark become the late-event filter
            [("2024-01-01 09:30:00", 5)],
            [("2024-01-01 01:40:00", 6)],  # LATE: behind the 07:00 watermark
        ])
        agg = (
            src.withColumn("ts", F.to_timestamp("ts"))
            .withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        # append: emit each window once, on watermark close
        return _drain(
            spark, agg, "append",
            finish=lambda t: t.select(
                F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
                "n",
            ),
        )


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: a stream of events enriched by a static
    dimension (per-user tier derived from the customer table) — the
    standard streaming-enrichment shape. The static side is planned as a
    broadcast per micro-batch (no state, unlike stream-stream joins);
    the memory sink returns the completed result for oracle comparison
    against the equivalent batch join.
    """
    _, src = _events_source(spark, sf_dir)
    dim = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .where(F.col("c_custkey") < 100)
        .select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("tier"),
        )
    )
    ev = normalize_event_ts(src).select("event_id", "user_id", "event_type")
    joined = ev.join(F.broadcast(dim), "user_id")
    return _drain(
        spark, joined, "append",
        finish=lambda t: t.select("event_id", "user_id", "event_type", "tier"),
    )


def stream_outer_join_demo(spark: SparkSession, demo_dir: str | None = None) -> DataFrame:
    """LEFT OUTER stream-stream join: the watermark-driven NULL contract.

    Inner stream-stream joins (stream_stream_interval_join) emit matches
    as they arrive; the OUTER variant additionally emits an unmatched
    left row with NULLs — but only once the watermark proves no future
    match is possible (otherwise the NULL would be a lie a later row
    contradicts). That proof is exactly the state-eviction bound, so this
    is the one join where result completeness is governed by watermark
    progress, not input exhaustion.

    Deterministic three-batch demo: batch 1 carries clicks c1/c2 and a
    purchase matching only c1; batch 2 advances both sides' watermarks
    far past c2's 30-minute match window; batch 3 triggers the
    (one-batch-delayed) eviction pass that emits c2 with NULLs. The
    far-future batch-2/3 rows themselves stay inside their own match
    windows at query end and are provably NOT emitted — stopping the
    stream does not flush state.

    Returns (click_id, purchase_id, user_id, lag_s): one matched row and
    one NULL-padded row.
    """
    _events_confs(spark)
    with _demo_dir(demo_dir, "outer_join_demo_") as d:
        src = _stage_jsonl(
            spark, d, "kind string, event_id string, user_id long, ts string", [
                [
                    ("click", "c1", 1, "2024-01-01 01:00:00"),
                    ("click", "c2", 2, "2024-01-01 01:05:00"),
                    ("purchase", "p1", 1, "2024-01-01 01:10:00"),
                ],
                # far-future rows on BOTH sides (different users — no match):
                # each side's watermark jumps to 09:50, far past c2's 01:35
                # match horizon
                [
                    ("click", "c8", 8, "2024-01-01 10:00:00"),
                    ("purchase", "p9", 9, "2024-01-01 10:00:00"),
                ],
                # filler batch: eviction (and its NULL emission) runs one
                # batch behind the watermark advance, same lag as
                # SPARK-24588's late filter
                [("purchase", "p7", 7, "2024-01-01 10:05:00")],
            ],
        ).withColumn("ts", F.to_timestamp("ts"))
        clicks = (
            src.where(F.col("kind") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                "user_id",
                F.col("ts").alias("click_ts"),
            )
            .withWatermark("click_ts", "10 minutes")
        )
        purchases = (
            src.where(F.col("kind") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user_id"),
                F.col("ts").alias("purchase_ts"),
            )
            .withWatermark("purchase_ts", "10 minutes")
        )
        joined = clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
            "leftOuter",
        ).select(
            "click_id",
            "purchase_id",
            "user_id",
            (
                F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts")
            ).cast("long").alias("lag_s"),
        )
        return _drain(spark, joined, "append", shuffle=8)


def incremental_corpus_stream(
    spark: SparkSession, demo_dir: str | None = None
) -> DataFrame:
    """Incremental corpus ingestion with exact dedup against the
    accumulated history — the streaming form of
    ``dedup.dedup_against_history``.

    The 100 TB/day ingestion contract: each micro-batch of arriving
    documents is (1) exact-deduped WITHIN the batch (min doc_id per
    content hash), then (2) deduped AGAINST the full history via the
    Bloom-prefiltered exact anti join, and (3) the survivors append to
    the history parquet — so the history only ever holds the first-seen
    copy of every distinct text, and each batch pays one Bloom build
    over the history (at scale: size the mask once and persist it; the
    operator's auto-sizing re-derives it per batch here for
    self-containment). ``foreachBatch`` is the right primitive because
    the sink transaction (read history -> filter -> append) is a batch
    job per trigger, not a continuous stateful operator — Spark's
    streaming dedup (``dropDuplicates``) keeps state on the driver/state
    store, while this keeps it IN THE SINK, which is what lets a
    restarted job resume from the parquet history alone.

    Deterministic three-batch demo: batch 1 carries an in-batch
    duplicate, batches 2-3 carry history duplicates and fresh texts.
    Returns the final history (doc_id, text) — first-seen ids 1, 2, 5, 8
    only.
    """
    from gene_level_metadata_pipeline_spark.operators.dedup import (
        dedup_against_history, dedup_exact,
    )

    with _demo_dir(demo_dir, "inc_corpus_") as d:
        hist_dir = os.path.join(d, "history")
        src = _stage_jsonl(
            spark, os.path.join(d, "incoming"), "doc_id long, text string", [
                [
                    (1, "alpha beta"),
                    (2, "gamma delta"),
                    (3, "alpha beta"),      # in-batch duplicate of 1: dropped in (1)
                ],
                [
                    (4, "alpha beta"),      # history duplicate: dropped in (2)
                    (5, "epsilon zeta"),
                ],
                [
                    (6, "epsilon zeta"),    # history duplicate
                    (7, "gamma delta"),     # history duplicate
                    (8, "eta theta"),
                ],
            ],
        )

        def ingest(batch_df: DataFrame, _bid: int) -> None:
            sp = batch_df.sparkSession
            # (1) in-batch exact dedup: keep the minimum id per content hash
            keep = dedup_exact(batch_df, "text", "doc_id").select(
                F.col("canonical_id").alias("doc_id")
            )
            batch = batch_df.join(F.broadcast(keep), "doc_id")
            # (2) against-history dedup (Bloom prefilter + exact confirm)
            if os.path.isdir(hist_dir) and any(
                f.endswith(".parquet") for f in os.listdir(hist_dir)
            ):
                hist = sp.read.parquet(hist_dir)
                batch = dedup_against_history(batch, hist, "text", "doc_id")
            # (3) survivors become history
            batch.write.mode("append").parquet(hist_dir)

        _run_to_end(
            spark,
            src.writeStream.foreachBatch(ingest)
            .option("checkpointLocation", os.path.join(d, "_checkpoint")),
            8,
        )
        out = spark.read.parquet(hist_dir)
        return spark.createDataFrame(out.collect(), out.schema)


def cdc_stream_apply(
    spark: SparkSession, demo_dir: str | None = None
) -> DataFrame:
    """Streaming CDC materialization: a snapshot table maintained in the
    sink, each micro-batch of change events applied with
    ``harmonize.cdc_apply`` (tombstones + multi-version latest-wins) and
    the result written as the next snapshot VERSION — the
    materialized-view-maintenance pattern (what Delta/Iceberg MERGE
    does per commit), with ``foreachBatch`` as the transaction
    boundary and ALL state in the sink: a restarted job resumes from
    the latest snapshot version + the source checkpoint alone.
    Versioned directories (never overwrite-in-place: the job reading
    snap_v{n} writes snap_v{n+1}) are the copy-on-write discipline.

    Deterministic three-batch demo: upsert + insert, then a tombstone +
    a re-upsert, then a delete-of-inserted + update + fresh insert.
    Final snapshot: {1: A3, 2: B, 4: d, 6: F} — key 3 tombstoned, key 5
    inserted then deleted."""
    from gene_level_metadata_pipeline_spark.operators.harmonize import (
        cdc_apply,
    )

    with _demo_dir(demo_dir, "cdc_stream_") as d:
        snap0 = os.path.join(d, "snap_v0")
        if not os.path.isdir(snap0):
            spark.createDataFrame(
                [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "k long, val string"
            ).write.mode("overwrite").parquet(snap0)
        src = _stage_jsonl(
            spark, os.path.join(d, "changes"),
            "k long, val string, version int, op string", [
                [(2, "B", 1, "upsert"), (5, "E", 1, "upsert")],
                [(3, None, 2, "delete"), (5, "E2", 2, "upsert")],
                [(5, None, 3, "delete"), (1, "A3", 3, "upsert"), (6, "F", 1, "upsert")],
            ],
        )

        def apply_batch(batch_df: DataFrame, bid: int) -> None:
            sp = batch_df.sparkSession
            cur = _versions(d, "snap_v")[-1]
            snap = sp.read.parquet(os.path.join(d, f"snap_v{cur}"))
            out = cdc_apply(snap, batch_df, "k")
            out.write.mode("overwrite").parquet(
                os.path.join(d, f"snap_v{cur + 1}")
            )

        _run_to_end(
            spark,
            src.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", os.path.join(d, "_checkpoint")),
            8,
        )
        last = _versions(d, "snap_v")[-1]
        out = spark.read.parquet(os.path.join(d, f"snap_v{last}"))
        return spark.createDataFrame(out.collect(), out.schema)


def cms_stream_merge(
    spark: SparkSession, demo_dir: str | None = None
) -> DataFrame:
    """Streaming heavy-hitter sketch maintenance: each micro-batch of
    tokens becomes a count-min sketch (textanalysis.cms_sketch) and is
    MERGED BY ADDITION into the sink's running sketch — the property
    that makes CMS the streaming/distributed frequency sketch (executors
    sketch locally, merges are sums; here the foreachBatch commit is the
    merge boundary, copy-on-write sketch versions like cdc_stream_apply).

    Restart safety is BY BATCH ID, not latest-version+1: foreachBatch
    is at-least-once, and CMS addition — unlike cdc_apply — is NOT
    idempotent, so a batch replayed after its snapshot write committed
    but before the streaming checkpoint commit must OVERWRITE its own
    snapshot (cms_v{bid}, merged from the max version < bid), never
    re-add into a newer one. The round-6 advisor caught the original
    latest()+1 scheme double-adding in exactly that crash window;
    tests/test_streaming_foreachbatch.py pins the replay.

    Deterministic three-batch demo; the returned frame certifies, per
    distinct word, against the exact union counts:
      * never_underestimates — est >= true, CMS's deterministic
        one-sided guarantee, SURVIVES merging;
      * within_eps — est <= true + 8N/width + 1 (Markov at k=8,
        depth 4);
      * merge_exact — the merged sketch's estimate EQUALS the estimate
        from a sketch built over the concatenated batches in one shot:
        additivity certified end-to-end, not assumed.
    """
    from gene_level_metadata_pipeline_spark.operators.textanalysis import (
        cms_lookup,
        cms_merge,
        cms_sketch,
    )

    width, depth = 256, 4
    batches = [
        ["apple"] * 3 + ["banana"] * 2 + ["cherry"],
        ["apple"] * 2 + ["durian"] * 4,
        ["banana"] + ["cherry"] * 2 + ["elderberry"] * 5 + ["apple"],
    ]

    def sketch_of(df: DataFrame) -> DataFrame:
        wc = df.groupBy(F.col("value").alias("word")).agg(
            F.count(F.lit(1)).alias("n")
        )
        return cms_sketch(wc, width=width, depth=depth)

    with _demo_dir(demo_dir, "cms_stream_") as d:
        src_dir = os.path.join(d, "tokens")
        src = _stage_jsonl(
            spark, src_dir, "value string", [[(w,) for w in b] for b in batches]
        )

        def apply_batch(batch_df: DataFrame, bid: int) -> None:
            sp = batch_df.sparkSession
            # Snapshot keyed by BATCH ID: a replayed batch (at-least-once
            # foreachBatch) merges from the same predecessor (max version
            # strictly below bid) and OVERWRITES cms_v{bid} — byte-identical
            # rewrite instead of a non-idempotent double-add.
            prevs = [v for v in _versions(d, "cms_v") if v < bid]
            batch_sketch = sketch_of(batch_df)
            if not prevs:
                merged = batch_sketch
            else:
                prev = sp.read.parquet(os.path.join(d, f"cms_v{prevs[-1]}"))
                merged = cms_merge(prev, batch_sketch)
            merged.write.mode("overwrite").parquet(
                os.path.join(d, f"cms_v{bid}")
            )

        _run_to_end(
            spark,
            src.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", os.path.join(d, "_checkpoint")),
            8,
        )

        last = _versions(d, "cms_v")[-1]
        merged = spark.read.parquet(os.path.join(d, f"cms_v{last}"))
        allw = spark.read.schema("value string").json(src_dir)
        exact = allw.groupBy(F.col("value").alias("word")).agg(
            F.count(F.lit(1)).alias("exact_n")
        )
        one_shot = cms_sketch(exact.select("word", F.col("exact_n").alias("n")),
                              width=width, depth=depth)
        est_m = cms_lookup(exact.select("word"), merged, width=width, depth=depth)
        est_o = (
            cms_lookup(exact.select("word"), one_shot, width=width, depth=depth)
            .withColumnRenamed("est", "est_once")
        )
        total = exact.agg(F.sum("exact_n").alias("big_n"))
        out = (
            exact.join(est_m, "word").join(est_o, "word")
            .crossJoin(F.broadcast(total))
            .select(
                "word", "exact_n",
                (F.col("est") >= F.col("exact_n")).alias("never_underestimates"),
                (
                    F.col("est")
                    <= F.col("exact_n") + (F.col("big_n") * 8) / width + 1
                ).alias("within_eps"),
                (F.col("est") == F.col("est_once")).alias("merge_exact"),
            )
        )
        return spark.createDataFrame(out.collect(), out.schema)


def ivm_stream_join(
    spark: SparkSession, demo_dir: str | None = None
) -> DataFrame:
    """STREAMING incremental view maintenance of a JOIN view — the
    foreachBatch completion of ``cdc.join_view_delta``: a per-priority
    (row count, revenue) view over A ⋈ B is kept materialized in the
    sink while signed A-side deltas stream in; each micro-batch joins
    ONLY the delta against the static B side (ΔA ⋈ B — the base join
    never re-runs), aggregates with signs, and retract-merges into the
    next view version.

    Restart safety is BY BATCH ID (the cms_stream_merge discipline,
    NOT cdc_stream_apply's latest()+1): a signed merge is additive and
    therefore NOT idempotent, so a batch replayed after its snapshot
    write but before the checkpoint commit must overwrite its OWN
    version (view_v{bid+1}, merged from the max version < bid+1),
    never re-add into a newer one.
    tests/test_streaming_foreachbatch.py pins the kill-between-commit
    replay.

    Deterministic three-batch demo: inserts into both groups, a
    delete that retracts a 2-row order, and a delete + an insert whose
    key has no B rows (a join-empty delta). Final view:
    HIGH (2 rows, 800 cents), LOW (1 row, 400 cents).
    """
    with _demo_dir(demo_dir, "ivm_stream_") as d:
        b_dir = os.path.join(d, "base_b")
        if not os.path.isdir(b_dir):
            spark.createDataFrame(
                [(1, 100), (1, 50), (2, 200), (3, 300), (4, 400), (5, 500)],
                "k long, cents long",
            ).write.mode("overwrite").parquet(b_dir)
        v0 = os.path.join(d, "view_v0")
        if not os.path.isdir(v0):
            a_old = spark.createDataFrame(
                [(1, "HIGH"), (2, "LOW"), (3, "HIGH")], "k long, prio string"
            )
            b = spark.read.parquet(b_dir)
            a_old.join(b, "k").groupBy("prio").agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum("cents").cast("bigint").alias("cents_total"),
            ).write.mode("overwrite").parquet(v0)
        src = _stage_jsonl(
            spark, os.path.join(d, "deltas"), "k long, prio string, sign int", [
                [(4, "LOW", 1), (5, "HIGH", 1)],
                [(1, "HIGH", -1)],
                [(2, "LOW", -1), (6, "LOW", 1)],
            ],
        )

        def apply_batch(batch_df: DataFrame, bid: int) -> None:
            sp = batch_df.sparkSession
            target = bid + 1
            prev = max(v for v in _versions(d, "view_v") if v < target)
            view = sp.read.parquet(os.path.join(d, f"view_v{prev}"))
            b = sp.read.parquet(b_dir)
            delta = (
                batch_df.join(b, "k")
                .groupBy("prio")
                .agg(
                    F.sum("sign").cast("bigint").alias("n_rows"),
                    F.sum(F.col("sign") * F.col("cents")).cast("bigint")
                    .alias("cents_total"),
                )
            )
            merged = (
                view.unionByName(delta)
                .groupBy("prio")
                .agg(
                    F.sum("n_rows").cast("bigint").alias("n_rows"),
                    F.sum("cents_total").cast("bigint").alias("cents_total"),
                )
                .where(F.col("n_rows") > 0)
            )
            merged.write.mode("overwrite").parquet(
                os.path.join(d, f"view_v{target}")
            )

        _run_to_end(
            spark,
            src.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", os.path.join(d, "_checkpoint")),
            8,
        )
        last = _versions(d, "view_v")[-1]
        out = spark.read.parquet(os.path.join(d, f"view_v{last}"))
        return spark.createDataFrame(out.collect(), out.schema)

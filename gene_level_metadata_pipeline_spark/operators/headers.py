"""Schema-repair & positional operators (SURVEY.md §1.2, §2.3 P3/P5–P8, §2.9 O4).

The reference repairs messy source schemas by hand; these are the
first-class equivalents. Row-position ops require a stable order, which
Spark does not guarantee — the readers in ``sources.readers`` attach a
file-order ``__row_id`` (single-file reads only) that these ops consume.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ROW_ID = "__row_id"

# Row-order ops are an ingest-edge contract: one small freshly-read (or
# driver-created) frame. The guard below enforces it instead of assuming
# it (a fact table piped in by mistake would otherwise silently coalesce
# to one task, and a shuffled frame has no file order at all).
MAX_ROW_ORDER_ROWS = 100_000


def _assert_ingest_edge(df: DataFrame, op: str) -> None:
    """Raise if ``df`` is not a plausible ingest-edge frame.

    Two cheap checks:

    * **No SHUFFLE exchange in the plan.** "Row order" only means file
      order; a shuffle (``Exchange hashpartitioning/rangepartitioning/
      SinglePartition/...`` from groupBy/join/repartition upstream)
      destroys it, so a shuffled input is a contract violation however
      small it is. ``BroadcastExchange`` is explicitly LEGAL — with a
      caveat: a broadcast join preserves PROBE-side order only, so the
      resulting frame's "row order" is the probe side's file order, and
      the order-bearing file must be the probe (left/stream) side.
      ``BuildLeft`` joins are rejected: there the frame written FIRST is
      the one being redistributed, which is exactly the layout a caller
      mistakes for "my file, decorated" (the review scenario
      ``stream.join(broadcast(ingest))`` with ingest as the build side
      keeps STREAM order — if the stream side is the order-bearing scan
      that is fine and accepted; put the file whose order matters on the
      left).
      Multi-partition inputs WITHOUT a shuffle stay legal: both a
      single-file scan and a ``createDataFrame``/``parallelize`` frame
      hold contiguous in-order chunks, which ``coalesce(1)`` concatenates
      back in partition order.
    * **Bounded size.** ``limit(N+1).count()`` — the probe never scans a
      fact table end-to-end. Note this probe IS one extra (tiny) Spark
      job per row-order-op call; acceptable because these ops run once
      per ingested file at the ingest edge, never in a per-row or
      per-batch hot path.
    """
    plan = df._jdf.queryExecution().executedPlan().toString()
    # \bExchange\b matches the shuffle node ("Exchange hashpartitioning…")
    # but not "BroadcastExchange" (no word boundary inside the token)
    if re.search(r"\bExchange\b", plan):
        raise ValueError(
            f"{op}: input plan contains a shuffle (Exchange); row-order "
            "ops are only defined for unshuffled ingest-edge reads — "
            "apply them before any groupBy/join/repartition"
        )
    if "BuildLeft" in plan:
        raise ValueError(
            f"{op}: input plan broadcast-redistributes its LEFT side "
            "(BuildLeft); row order follows the probe (non-broadcast) "
            "side only. Two ways this happens, two fixes: (1) the "
            "order-bearing file is on the RIGHT — reorder the join so it "
            "is the left/stream side; (2) the order-bearing file is "
            "already on the LEFT but the planner auto-broadcast it for "
            "being the smaller side — reordering changes nothing there; "
            "instead force broadcast() onto the dimension side, or raise "
            "spark.sql.autoBroadcastJoinThreshold so the order-bearing "
            "frame stays the probe side"
        )
    probe = df.limit(MAX_ROW_ORDER_ROWS + 1).count()
    if probe > MAX_ROW_ORDER_ROWS:
        raise ValueError(
            f"{op}: input exceeds {MAX_ROW_ORDER_ROWS} rows; this is an "
            "ingest-edge schema-repair op, not a fact-table transform"
        )

__all__ = [
    "ROW_ID",
    "select_positional",
    "rename_all",
    "reorder_first",
    "fix_shifted_header",
    "promote_first_row_to_header",
    "with_row_id",
]


def with_row_id(df: DataFrame) -> DataFrame:
    """Attach a file-order row id.

    Valid only for single-file, single-partition reads (the reference's
    row-order idioms all operate on one freshly-read file — ``TM:107-109``);
    ``_assert_ingest_edge`` enforces the contract. Coalesce to 1 partition
    so ``monotonically_increasing_id`` is dense and ordered; acceptable
    because these files are small by construction, and the op is never
    applied to fact tables.
    """
    _assert_ingest_edge(df, "with_row_id")
    return df.coalesce(1).withColumn(ROW_ID, F.monotonically_increasing_id())


def select_positional(df: DataFrame, *positions: int) -> DataFrame:
    """1-based ordinal projection — R's ``df[, c(1,17,19)]`` / ``select(7,5)``
    (P3: ``TM:35``, ``T:251``)."""
    cols = df.columns
    return df.select(*[_q(cols[p - 1]) for p in positions])


def rename_all(df: DataFrame, new_names: list[str]) -> DataFrame:
    """Bulk positional rename — ``names(df) <- c(…)`` (P5: ``TM:81``)."""
    if len(new_names) != len(df.columns):
        raise ValueError(
            f"rename_all: {len(new_names)} names for {len(df.columns)} columns"
        )
    return df.toDF(*new_names)


def _q(name: str) -> str:
    """Backtick-quote a column name so R-style dotted names (``mean.comb``,
    ``TM:68``) resolve literally instead of as struct-field access."""
    return "`" + name.replace("`", "``") + "`"


def reorder_first(df: DataFrame, col: str) -> DataFrame:
    """``select(col, everything())`` (P8: ``TM:57``)."""
    return df.select(_q(col), *[_q(c) for c in df.columns if c != col])


def fix_shifted_header(df: DataFrame) -> DataFrame:
    """Repair a header offset one column left (P6: ``T:504-508``).

    The orthologs TSV's header names actually belong one column to the
    right: drop the first header name, shift the rest left, name the last
    column ``blank`` and drop it — byte-for-byte the reference's fix.
    """
    shifted = df.columns[1:] + ["blank"]
    return df.toDF(*shifted).drop("blank")


def promote_first_row_to_header(df: DataFrame) -> DataFrame:
    """First data row becomes the header; that row is removed (P7+O4,
    ``TM:107-109`` ``setNames(as.character(.[1,])) %>% slice(-1)``).

    Requires :func:`with_row_id` order (attached here if absent). The
    collect is a single row — driver-safe.
    """
    d = df if ROW_ID in df.columns else with_row_id(df)
    first = d.orderBy(ROW_ID).limit(1).collect()[0]
    names = [str(first[c]) for c in d.columns if c != ROW_ID]
    rest = d.where(F.col(ROW_ID) > first[ROW_ID]).drop(ROW_ID)
    return rest.toDF(*names)

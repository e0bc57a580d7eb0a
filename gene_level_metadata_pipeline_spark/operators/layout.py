"""Multi-dimensional data layout: Z-order (Morton) clustering.

Sorting 100 TB of parquet by ONE column gives perfect min/max pruning on
that column and none on any other. Interleaving the bits of two (or more)
key columns into a Z-value and range-partitioning on it gives every file a
narrow min/max envelope on EVERY interleaved dimension — the standard
layout for fact tables queried by several independent predicates
(Delta/Iceberg OPTIMIZE ZORDER does exactly this; here the Z-value is a
plain column a caller can ``repartitionByRange`` on, no table format
required).

The Z-value is pure integer bit arithmetic — expressible identically in
any SQL engine, so layout decisions are oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["zorder_value"]


def zorder_value(cols: list[Column | str]) -> Column:
    """Morton interleave of the low 8 bits of each column.

    Bit i of column j lands at position i * len(cols) + j. Columns are
    masked to 8 bits first (callers bucket/scale real keys into
    that range). Built-in shifts/masks only — stays in codegen.
    """
    ncols = len(cols)
    z = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        col = (F.col(c) if isinstance(c, str) else c).cast("long")
        masked = col % 256
        for i in range(8):
            bit = F.floor(masked / (1 << i)) % 2
            z = z + bit * F.lit(1 << (i * ncols + j)).cast("long")
    return z

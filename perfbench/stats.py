"""Host-steal-aware timing, percentiles and order-insensitive digests."""

from __future__ import annotations

import hashlib
import time

import numpy as np
import pandas as pd
import pyarrow as pa

PERCENTILES = (50, 75, 90, 95, 99, 99.9)


def stamp() -> tuple[float, int, int]:
    """(wall seconds, steal jiffies, runnable jiffies) now, the jiffies
    summed over CPUs from /proc/stat. Runnable is busy time plus steal:
    the time a CPU had work, whether the host let it run or not."""
    t = time.perf_counter()
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return t, v[7], sum(v) - v[3] - v[4]  # less idle and iowait


def stolen_share(a, b) -> float:
    """Share of the runnable CPU time between two stamps that the host
    gave to other guests (steal)."""
    runnable = b[2] - a[2]
    return (b[1] - a[1]) / runnable if runnable > 0 else 0.0


def unstolen_s(a, b) -> float:
    """Wall seconds between two stamps less the stolen share: the time the
    work would have taken on CPUs the host did not take away. On a host
    without steal accounting it is the plain wall time."""
    return (b[0] - a[0]) * (1 - stolen_share(a, b))


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    return float(np.percentile(np.asarray(values, dtype=float), p))


def tail_percentile(n: int) -> float | None:
    """The highest percentile with at least ten samples beyond it, or None
    when fewer than 20 samples leave not even the median that margin."""
    best = None
    for p in PERCENTILES:
        if round(n * (100 - p) / 100, 9) >= 10:
            best = p
    return best


def summarize(values) -> dict:
    """Median, p90 and the rule-based tail percentile, with the count."""
    n = len(values)
    tail = tail_percentile(n)
    return {
        "n": n,
        "p50": percentile(values, 50) if n else None,
        "p90": percentile(values, 90) if n else None,
        "tail_p": tail,
        "tail": percentile(values, tail) if tail is not None else None,
    }


def table_digest(t: pa.Table) -> dict:
    """Order-insensitive digest of a table plus its duplicate-row count.

    Each row is hashed (floats rounded to 6 places, so last-bit
    differences in a floating aggregate cannot flip it); the digest is the
    wrapping sum of the row hashes with the schema and row count, so any
    row order gives the same value."""
    df = t.to_pandas()
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
    h = pd.util.hash_pandas_object(df, index=False).to_numpy(np.uint64)
    total = int(h.sum(dtype=np.uint64))
    key = f"{t.schema.names}|{t.num_rows}|{total}"
    return {
        "digest": hashlib.sha256(key.encode()).hexdigest()[:16],
        "rows": t.num_rows,
        "duplicates": int(len(h) - len(np.unique(h))),
    }


def rows_digest(rows) -> str:
    """Order-insensitive digest of collected Spark rows."""
    def canon(v):
        return round(v, 6) if isinstance(v, float) else v

    lines = sorted(repr(tuple(canon(v) for v in r)) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]

"""Constant-density row-scale stress for grid_nn_join_2d (round 6).

The claim under test is the operator's own: candidate work scales with
LOCAL density, not corpus size. stress_scale.py's replica trick is
wrong for this operator — replicating embeddings verbatim multiplies
density 10x and candidate pairs 100x (a duplicate-pile skew test, not a
row-scale test). Instead: synthesize N deterministic points (md5-hashed
coordinates — no RNG, replayable) over a square whose side grows with
sqrt(N), so points-per-cell stays constant while N scales 10x and 100x.
Linear-ish wall ratios are the evidence.

Usage: python tools/stress_grid.py     (writes nothing)
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def points(spark, n: int, side: float):
    from pyspark.sql import functions as F

    # two independent md5-derived uniforms in [0, 1) scaled to the square
    ids = spark.range(n).select(F.col("id").alias("vec_id"))
    hx = F.conv(F.substring(F.md5(F.concat(F.lit("x:"), F.col("vec_id"))), 1, 6), 16, 10).cast("double") / 16 ** 6
    hy = F.conv(F.substring(F.md5(F.concat(F.lit("y:"), F.col("vec_id"))), 1, 6), 16, 10).cast("double") / 16 ** 6
    return ids.select(
        "vec_id", (hx * side).alias("x"), (hy * side).alias("y")
    ).localCheckpoint(eager=True)


def main() -> None:
    from gene_level_metadata_pipeline_spark.operators.similarity import (
        grid_nn_join_2d,
    )
    from gene_level_metadata_pipeline_spark.session import get_spark

    spark = get_spark("stress-grid")
    spark.sparkContext.setLogLevel("ERROR")
    base_n, base_side = 2_000, 2.0  # ~sf0.1 embeddings count; ~31 pts/cell
    print(f"{'scale':>6s} {'n':>9s} {'sec':>8s} {'ratio':>6s}")
    t1 = None
    for mult in (1, 10, 100):
        n = base_n * mult
        side = base_side * (mult ** 0.5)
        pts = points(spark, n, side)
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            grid_nn_join_2d(pts).write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        t1 = t1 or best
        print(f"{mult:>5d}x {n:>9d} {best:8.2f} {best / t1:6.2f}")


if __name__ == "__main__":
    main()

"""Shared-subtree materialization point with a cluster-reliability knob.

The r10-opt round introduced ``localCheckpoint(eager=False)`` at every
diamond-shared subtree (a thin frame feeding 2+ consumers — guide
§1.2/§2.4: compute the shared pass once, not once per consumer). Local
checkpoints are the right LOCAL default: zero extra I/O paths, blocks
live in executor storage, and the bench pays nothing it doesn't have
to. On a real cluster they are a reliability trade Spark documents
explicitly: the truncated-lineage RDD lives only in executor-local
storage, so an executor loss (or dynamic-allocation decommission) makes
it unrecoverable and fails the job — and at 100 TB the materialized
proxy frames are corpus-sized executor state (VERDICT r10 item 4 /
ADVICE r10).

``materialize`` makes the strategy injectable per deployment via
``SPARK_GRAFT_MATERIALIZE`` (read once per call — cheap, and tests can
flip it):

* ``local`` (default) — ``localCheckpoint``: fastest, executor-local,
  NOT executor-loss-safe. Right for local mode (executor == driver: if
  the process dies the job dies with it, so reliability adds nothing)
  and for clusters that accept re-running a failed job.
* ``reliable`` — ``DataFrame.checkpoint``: writes the materialized
  blocks to the fault-tolerant checkpoint dir
  (``SPARK_GRAFT_CHECKPOINT_DIR``, e.g. an HDFS/S3 path, set once per
  session here). Survives executor loss; costs one distributed-FS
  round trip per materialization. The 100 TB default for long jobs.
  With neither the env var nor a session checkpoint dir set, the call
  raises ``ValueError`` at once rather than at the first action.
* ``persist`` — ``persist(DISK_ONLY)``: keeps lineage intact (an
  executor loss RECOMPUTES the lost blocks instead of failing), stores
  on executor local disk, no distributed-FS traffic. Middle ground;
  note the blocks stay pinned in Spark's CacheManager until the caller
  runs ``unpersist()`` — unlike localCheckpoint RDDs, the ContextCleaner
  never reclaims them, so a long session accumulates them — and the
  UNTRUNCATED plan keeps Catalyst's planning cost for very deep
  lineages.

All three strategies materialize the same rows — results are identical;
only failure recovery and storage placement differ. The knob exists so
the choice is a deployment decision, not a code edit (scale_conf.py
prints the recommended pairing).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

__all__ = ["materialize"]

_VALID = ("local", "reliable", "persist")


def materialize(df: DataFrame, eager: bool = False) -> DataFrame:
    """Materialize a shared subtree once for N downstream consumers.

    Strategy from ``SPARK_GRAFT_MATERIALIZE`` (default ``local`` —
    ``localCheckpoint``; see module docstring for the cluster options).
    ``eager=True`` materializes before returning under every strategy.
    """
    mode = os.environ.get("SPARK_GRAFT_MATERIALIZE", "local")
    if mode not in _VALID:
        raise ValueError(
            f"materialize: SPARK_GRAFT_MATERIALIZE={mode!r} must be one "
            f"of {_VALID}"
        )
    if mode == "local":
        return df.localCheckpoint(eager=eager)
    if mode == "reliable":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            ckdir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
            if not ckdir:
                raise ValueError(
                    "materialize: SPARK_GRAFT_MATERIALIZE=reliable needs a "
                    "checkpoint dir; set SPARK_GRAFT_CHECKPOINT_DIR (or call "
                    "sc.setCheckpointDir)"
                )
            sc.setCheckpointDir(ckdir)
        return df.checkpoint(eager=eager)
    from pyspark import StorageLevel

    out = df.persist(StorageLevel.DISK_ONLY)
    if eager:
        out.count()
    return out

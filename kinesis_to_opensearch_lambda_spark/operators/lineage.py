"""Lineage truncation for iterative operators (pagerank, label
propagation, connected components).

Iterative DataFrame algorithms grow an O(rounds)-deep plan unless each
round's result is checkpointed.  Two modes, picked for the whole
deployment by one setting, ``$SPARK_GRAFT_CHECKPOINT_DIR``:

- unset (or empty) → ``localCheckpoint``: blocks live on executors.
  Fast (no FS round-trip) and right for local / short jobs, but an
  executor loss on a real cluster drops blocks whose lineage has been
  truncated — the job cannot recover.
- a path → reliable ``checkpoint()`` against a fault-tolerant
  filesystem (HDFS/S3/NFS): survives executor loss, at the cost of a
  write + an extra computation of the checkpointed round (Spark
  recomputes the RDD when materializing a reliable checkpoint; for
  these operators each round is one join + one aggregation, so the
  overhead is a constant factor on the round, not the job).

Durability is a deployment setting, not a per-call argument: every
registered query builder has the signature ``(spark, sf_dir)``, which
cannot carry a directory, and a cluster wants every cut reliable at
once.  Motivation (r9 sweep, SWEEP_SF10_r09.json): a long heavy-entry
session died of GCLocker allocation thrash evicting a localCheckpoint
block mid-CC — executor-local blocks share the sick JVM's fate,
reliable checkpoint files do not.  ``tools/sweep.py --checkpoint-dir``
sets the variable; on a real cluster set it to an HDFS/S3 path in
spark-env.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from .. import scale

CHECKPOINT_DIR_ENV = "SPARK_GRAFT_CHECKPOINT_DIR"


def _reliable_dir() -> str | None:
    """The deployment's reliable checkpoint directory, or None for
    executor-local cuts (an exported-but-empty variable included)."""
    return os.environ.get(CHECKPOINT_DIR_ENV) or None


def truncate_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut ``df``'s lineage: reliable ``checkpoint()`` into
    ``$SPARK_GRAFT_CHECKPOINT_DIR`` when it is set, else executor-local
    ``localCheckpoint()``.  Eager by default — iterative callers want
    the materialization job to run now so the next round's plan starts
    from the checkpoint."""
    checkpoint_dir = _reliable_dir()
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=eager)
    df.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
    return df.checkpoint(eager=eager)


def truncate_lineage_scaled(
    df: DataFrame,
    source: DataFrame,
    eager: bool = False,
    live_cuts: int = 3,
    serialized_tier: bool = True,
) -> DataFrame:
    """Cut ``df``'s lineage with storage matched to the frame's scale.

    - A reliable checkpoint dir ($SPARK_GRAFT_CHECKPOINT_DIR) always
      cuts: the blocks land on a fault-tolerant FS, not in executor
      heap — the cluster deployment path.
    - Otherwise ``scale.cut_tier`` picks the executor-local tier from
      ``source``'s scan bytes, the heap and ``live_cuts`` (the number
      of concurrently-live cuts in the calling query; default 3, the
      budget's original assumption).  DESERIALIZED cuts are fast: rows
      are consumed as-is.  SERIALIZED cuts (MEMORY_AND_DISK_SER) keep
      the planning/broadcast dedup the cut buys without the
      deserialized-row heap storm (r13's sf10 OOM).
    - Above both budgets (or unknowable mass): ``df`` is returned UNCUT
      — results are identical either way (a cut never changes
      expressions), duplicated subtrees are deduped physically by
      runtime exchange reuse, and the fixed planning overhead the cut
      saves is amortized by the very scale that made it unsafe.

    ``serialized_tier=False`` opts a call site out of the middle tier
    (over-deser-budget frames lapse to uncut, the r13 behavior).  The
    serialized materialization only pays when the cut frame feeds MANY
    duplicated downstream subtrees; a frame consumed a few times whose
    physical dedup already comes free from runtime exchange reuse
    loses outright — measured at sf10: graph_bfs_reachability's
    undirected edge frame read 136.6 s serialized vs 65.2 s uncut
    (isolated fresh sessions), while kcore/triangle won 197.6→160.6 /
    372.0→357.6 s.
    """
    if _reliable_dir() is not None:
        return truncate_lineage(df, eager=eager)
    tier = scale.cut_tier(df, source, live_cuts)
    if tier == "deserialized":
        return df.localCheckpoint(eager=eager)
    if tier == "serialized" and serialized_tier:
        from pyspark import StorageLevel

        # PySpark's MEMORY_AND_DISK is the SERIALIZED level (JVM
        # MEMORY_AND_DISK_SER; deserialized=False) — the deserialized
        # variant is spelled MEMORY_AND_DISK_DESER in Python.
        return df.localCheckpoint(
            eager=eager, storageLevel=StorageLevel.MEMORY_AND_DISK
        )
    return df

"""Iterative graph operators over edge lists (PageRank-style random-walk
importance).

Same architectural family as :func:`operators.dedup.connected_components`:
the graph lives as a distributed ``(src, dst)`` edge DataFrame, each
round is one join shuffle + one aggregation, and ``localCheckpoint``
truncates lineage so round *k* never recomputes rounds ``0..k-1``.

Determinism at scale: ranks are kept in exact integer micro-units
(1.0 == 1_000_000) and every per-round update is integer arithmetic —
``contrib = rank DIV degree`` then
``rank' = 150_000 + (85 * sum(contrib)) DIV 100`` (damping 0.85,
teleport 0.15).  Integer sums are associative, so the result is
independent of partitioning / summation order and engine-exact against
a SQL oracle.  64-bit headroom: total rank mass stays ~n·10⁶, so a
single node's in-sum (×85) fits BIGINT up to ~10¹¹ nodes; shrink the
unit for larger graphs.

Reference parity: the reference (lambda_function.py) has no graph
surface; this is part of the driver-mandated large-scale extension
(link/citation graphs are standard corpus-curation signals).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .lineage import truncate_lineage

RANK_UNIT = 1_000_000
TELEPORT_I = 150_000  # 0.15 in micro-units
DAMPING_PCT = 85  # 0.85 as an integer percentage


def pagerank(edges: DataFrame, iters: int = 5) -> DataFrame:
    """Integer-exact PageRank over a directed edge list ``(src, dst)``.

    Assumes every node has at least one out-edge (callers modelling an
    undirected graph union both edge directions, which guarantees it) —
    so there is no dangling-mass term and every node receives in-flow.

    Per round: ONE shuffle (the ``groupBy(dst)`` aggregation; the
    rank-to-edge join reuses the same hash partitioning on the join
    key) and an eager lineage cut to stop plan growth.  Rounds are
    bounded by ``iters`` — PageRank is a fixed-point iteration, not
    a convergence race, so a fixed small round count is the standard
    production choice.  On a real cluster set
    ``$SPARK_GRAFT_CHECKPOINT_DIR`` (HDFS/S3) for executor-loss-resilient
    reliable checkpoints; the default is executor-local (see
    operators.lineage).

    Returns ``(node, degree, rank_i)`` with ``rank_i`` in micro-units.
    """
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    # Static per-round operand: edge list with the source's out-degree
    # attached, materialized ONCE (the join would otherwise recompute
    # the degree aggregation every round).
    ew = truncate_lineage(edges.join(deg, "src"), eager=False)
    ranks = deg.select(
        F.col("src").alias("node"),
        F.lit(RANK_UNIT).cast("long").alias("rank_i"),
    )
    for _ in range(iters):
        contrib = ew.join(ranks, ew.src == ranks.node).select(
            F.col("dst"), F.expr("rank_i DIV deg").alias("c")
        )
        ranks = (
            contrib.groupBy("dst")
            .agg(F.sum("c").alias("s"))
            .select(
                F.col("dst").alias("node"),
                (
                    F.lit(TELEPORT_I).cast("long")
                    + F.expr(f"({DAMPING_PCT} * s) DIV 100")
                ).alias("rank_i"),
            )
        )
        ranks = truncate_lineage(ranks, eager=True)
    return ranks.join(
        deg.select(F.col("src").alias("node"), F.col("deg").alias("degree")), "node"
    ).select("node", "degree", "rank_i")


def label_propagation(edges: DataFrame, iters: int = 3) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) over a
    directed edge list ``(src, dst)`` — undirected graphs union both
    directions, as for :func:`pagerank`.

    Every node starts labeled with itself; each round a node adopts the
    most frequent label among its neighbors, ties broken by the
    lexicographically smallest label — the determinism rule that makes
    sync LPA engine-exact (asynchronous/random-order LPA converges
    faster but is irreproducible, the wrong trade for a verified
    pipeline).  Fixed round count, same per-round shape as pagerank:
    one join + one shuffle on the neighbor key + the window pick, with
    lineage truncated per round (reliable when
    ``$SPARK_GRAFT_CHECKPOINT_DIR`` is set — see operators.lineage).

    Returns ``(node, lbl)`` after ``iters`` rounds.
    """
    from pyspark.sql import Window

    nodes = edges.select("src").distinct()
    labels = nodes.select(F.col("src").alias("node"), F.col("src").alias("lbl"))
    e = truncate_lineage(edges, eager=False)
    w = Window.partitionBy("node").orderBy(F.col("c").desc(), F.col("lbl"))
    for _ in range(iters):
        neigh = e.join(labels, e.src == labels.node).select(
            F.col("dst").alias("node"), "lbl"
        )
        labels = (
            neigh.groupBy("node", "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "lbl")
        )
        labels = truncate_lineage(labels, eager=True)
    return labels

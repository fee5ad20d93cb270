"""Reliable-checkpoint path of the iterative operators: durability is
the deployment setting $SPARK_GRAFT_CHECKPOINT_DIR, not a docstring
promise.

Each test runs the operator twice — executor-local default vs the
variable pointing at a directory — asserts identical results, and
checks that RDD checkpoint files were actually written under the
directory (proof the reliable path executed, not the local one)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from kinesis_to_opensearch_lambda_spark.operators.dedup import connected_components
from kinesis_to_opensearch_lambda_spark.operators.graph import (
    label_propagation,
    pagerank,
)
from kinesis_to_opensearch_lambda_spark.operators.lineage import CHECKPOINT_DIR_ENV


def _edges(spark):
    # two components: {1,2,3} (triangle) and {10,11}; both directions
    pairs = [(1, 2), (2, 3), (1, 3), (10, 11)]
    df = spark.createDataFrame(pairs, "src long, dst long")
    return df.union(df.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def _checkpoint_files(root):
    return [
        os.path.join(dirpath, f)
        for dirpath, _, files in os.walk(root)
        for f in files
        if not f.startswith(".")
    ]


def test_pagerank_reliable_checkpoint_matches_local(spark, tmp_path, monkeypatch):
    e = _edges(spark)
    ckdir = str(tmp_path / "pr")
    monkeypatch.delenv(CHECKPOINT_DIR_ENV, raising=False)
    local = sorted(pagerank(e, iters=3).collect())
    monkeypatch.setenv(CHECKPOINT_DIR_ENV, ckdir)
    reliable = sorted(pagerank(e, iters=3).collect())
    assert local == reliable
    assert _checkpoint_files(ckdir), "no reliable checkpoint written"


def test_label_propagation_reliable_checkpoint_matches_local(
    spark, tmp_path, monkeypatch
):
    e = _edges(spark)
    ckdir = str(tmp_path / "lpa")
    monkeypatch.delenv(CHECKPOINT_DIR_ENV, raising=False)
    local = sorted(label_propagation(e, iters=2).collect())
    monkeypatch.setenv(CHECKPOINT_DIR_ENV, ckdir)
    reliable = sorted(label_propagation(e, iters=2).collect())
    assert local == reliable
    assert _checkpoint_files(ckdir)


def test_connected_components_raises_when_unconverged(spark):
    """Soundness guard (r7 verdict): exhausting max_iter with labels
    still changing must RAISE, not silently return wrong cluster ids.
    A 12-node path cannot settle in one round."""
    import pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=1)


def test_connected_components_pointer_jump_beats_diameter(spark):
    """The label-of-label jump term lets a chain far longer than
    max_iter converge: a 40-node path (diameter 39) settles within 8
    rounds — plain 1-hop propagation would need 39 and raise."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], "doc_a long, doc_b long"
    )
    labels = sorted(connected_components(chain, max_iter=8).collect())
    assert all(r.cluster_id == 0 for r in labels)
    assert len(labels) == 40


def test_connected_components_reliable_checkpoint_matches_local(
    spark, tmp_path, monkeypatch
):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    ckdir = str(tmp_path / "cc")
    monkeypatch.delenv(CHECKPOINT_DIR_ENV, raising=False)
    local = sorted(connected_components(pairs).collect())
    monkeypatch.setenv(CHECKPOINT_DIR_ENV, ckdir)
    reliable = sorted(connected_components(pairs).collect())
    assert local == reliable
    assert {tuple(r) for r in local} == {
        (1, 1),
        (2, 1),
        (3, 1),
        (10, 10),
        (11, 10),
    }
    assert _checkpoint_files(ckdir)

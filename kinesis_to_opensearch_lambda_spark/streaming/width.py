"""The stream-width probe: a stateful streaming query's shuffle width
derived from its source's byte mass (guide §2: derive partition counts
from input size, never from a constant tuned to one box).

The stateful analytics operators (``operators.streaming_queries``)
scope their width with :class:`stream_shuffle_width` and size their
other per-drain settings from the same :func:`source_bytes` walk.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

BYTES_PER_PARTITION = 64 << 20


def source_bytes(src_dir: str) -> int:
    """Total size of the files under a local source directory (0 for a
    missing one)."""
    total = 0
    for root, _dirs, files in os.walk(src_dir):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


class stream_shuffle_width:
    """Scope the stateful-shuffle width of a streaming query to its
    source's byte mass.

    ``spark.sql.shuffle.partitions`` at a query's first start fixes its
    state store partition count for the life of the checkpoint: Spark
    records it in the offset log's metadata and restores it from there
    on restart, whatever the session then says.  The session default is
    sized to the cores, so a kilobyte-scale micro-batch would get one
    state store per core: one store commit (and one Python worker in
    ``applyInPandasWithState``) per partition per trigger of pure
    overhead.  Width here = ceil(source bytes / 64 MB) clamped to [1,
    session width] — a 100 TB firehose keeps the session width, the test
    corpus gets 1 — overridable via $SPARK_GRAFT_STREAM_SHUFFLE for
    deployments that pin their own.  Restored on exit; correctness is
    partition-count-invariant (state logic is per-key; asserted by the
    oracle parity at any width).

    Applies to JVM-stateful aggregations (streaming groupBy/agg), whose
    per-partition cost is store-commit overhead, and to
    ``applyInPandasWithState`` over hash buckets: group count is
    O(buckets), so the per-group Python invocation no longer forces the
    full session width (the r13 width sweep on streaming_dedup_minhash
    reads 32/16/8/4 -> 5.9/4.2/4.0/3.9 s at sf0.1 — store commits
    dominate).

    Deployment seam: the byte probe walks the source dir, which is
    always a LOCAL tempdir here (the streaming operators fabricate
    their own micro-batch sources).  A deployment whose stream source
    is remote (Kinesis, a cloud bucket) cannot stat it this way — pin
    ``$SPARK_GRAFT_STREAM_SHUFFLE`` (or pass ``width=``) from its own
    throughput knowledge instead; the env pin is checked first
    precisely so that path never walks."""

    def __init__(self, spark: SparkSession, src_dir: str, width: int | None = None):
        self.spark = spark
        self.prev = spark.conf.get("spark.sql.shuffle.partitions")
        env = os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE")
        if env is not None:
            self.width = max(1, int(env))
            return
        if width is None:
            # a caller-derived width (e.g. the stream-stream join derives
            # it from the candidate-pair mass, not the source bytes — its
            # dominant cost is join-output generation) skips the probe
            width = -(-source_bytes(src_dir) // BYTES_PER_PARTITION)
        self.width = max(1, min(int(self.prev), int(width)))

    def __enter__(self):
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.width))
        return self

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)
        return False

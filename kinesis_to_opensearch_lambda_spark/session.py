"""SparkSession factory with scale-oriented defaults.

Local mode is a correctness harness; the config is chosen so the same
logical plans are the ones we'd want on a 1000-executor cluster:

- AQE on (runtime coalesce, skew-join splitting, dynamic join selection).
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster this is superseded by AQE's coalescing from a higher initial
  partition count.
- Session timezone pinned to UTC so event-time semantics are stable and
  comparable with the DuckDB oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled for any pandas-interop path (vectorized UDF transfer).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def get_session(
    app_name: str = "kinesis_to_opensearch_lambda_spark",
    cpus: str | int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    cpus = str(cpus or DEFAULT_CPUS)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata parquet stores TIMESTAMP(NANOS), which Spark's vectorized
        # reader rejects; read as long nanos, loader converts to micros
        # (matching DuckDB/Arrow truncation).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Streaming checkpoints commit each file by rename.  On a file:
        # path the default FileContext manager stats both ends of every
        # rename through FileUtil.readLink, which forks a `readlink`
        # process each time: tens of forks per trigger.  The FileSystem
        # manager renames through FileSystem.rename, which forks
        # nothing.  On a file: checkpoint both managers check the
        # target, then rename: the same no-overwrite guarantee.  That is
        # argued and tested for file: checkpoints only; the setting is
        # session-wide, so a checkpoint on another scheme (hdfs://,
        # s3a://) also gets this manager, and its guarantees there are
        # unchecked.  Spark's state-file checksums and Hadoop's .crc
        # files stay on.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # The parity harness's full-value comparator collects the entire
        # result (tests/oracle_compare.timed_parity) — by design, so the
        # check is a value check and not a sample.  At sf10 a wide
        # projection entry (pipeline_es_projection: ~1.07 GiB serialized)
        # trips Spark's 1g default, which exists to protect multi-tenant
        # drivers; on this single-tenant 16g driver 4g is safe headroom.
        # Engine queries never collect unbounded results (plan-tested),
        # so this only widens the HARNESS ceiling, not query behavior.
        .config("spark.driver.maxResultSize", "4g")
        # InferFiltersFromGenerate duplicates the ENTIRE generator
        # expression into a size(...)>0 pre-filter.  For cheap
        # generators that is harmless; for shingle/n-gram transforms it
        # re-evaluates an O(len) lambda (whose element_at calls defeat
        # codegen CSE) once more per input row — measured 148s of a
        # 153s query at sf1 — and the complex predicate can never reach
        # parquet PushedFilters anyway, while Generate itself already
        # emits nothing for empty arrays.  Excluding the rule never
        # changes results, only removes the duplicated evaluation.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

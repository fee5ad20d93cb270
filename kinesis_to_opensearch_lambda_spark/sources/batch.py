"""Batch Parquet sources for the driver-generated tables (TESTDATA.md).

Parquet is the engine's canonical batch format: columnar, predicate
pushdown, partition pruning, vectorized reads — all free via the
DataSource V2 scan.  At 100 TB these would be partitioned/bucketed
table roots; the loader API is path-based so the same code serves both.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import scale

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Testdata temporal encodings have varied across driver rounds:
# TIMESTAMP(NANOS) (read as long via spark.sql.legacy.parquet.nanosAsLong,
# converted with integer division — identical to the Arrow/DuckDB µs cast)
# and plain timestamp[us] without timezone (read as TIMESTAMP_NTZ).  The
# loader normalizes both to session-TZ TimestampType (session is pinned
# UTC, so the NTZ→TZ cast is instant-preserving) so every downstream
# operator sees one temporal type regardless of writer version.
_NANO_TS_COLS: dict[str, tuple[str, ...]] = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}


def _ensure_session_conf(spark: SparkSession) -> None:
    """Defensive runtime confs for externally-created sessions (the
    driver constructs its own SparkSession): nanos-timestamp parquet
    reads and UTC temporal semantics are required for correctness."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        # see session.py: the inferred size(generator)>0 filter
        # re-evaluates expensive shingle transforms once more per row;
        # excluding the rule is result-identical (runtime conf, so
        # externally-created sessions — e.g. the driver's — get it too).
        # Appended to any rules the session already excludes, not set
        # wholesale (r6 ADVICE: don't clobber an external caller's list)
        rule = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
        try:
            existing = spark.conf.get("spark.sql.optimizer.excludedRules")
        except Exception:
            existing = None
        # strip each entry (r7 ADVICE): an external list like
        # 'ruleA, ruleB' would otherwise never match the membership
        # check and re-append the rule on every call
        rules = [r.strip() for r in (existing or "").split(",") if r.strip()]
        if rule not in rules:
            rules.append(rule)
        spark.conf.set("spark.sql.optimizer.excludedRules", ",".join(rules))
    except Exception:
        pass  # conf locked down — session factory defaults already apply


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table. Column pruning + filter pushdown reach the scan."""
    _ensure_session_conf(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for c in _NANO_TS_COLS.get(name, ()):
        if c not in df.columns:
            continue
        dt = df.schema[c].dataType
        if isinstance(dt, T.LongType):
            df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
        elif isinstance(dt, T.TimestampNTZType):
            df = df.withColumn(c, F.col(c).cast(T.TimestampType()))
    return df


def fan_out(df: DataFrame) -> DataFrame:
    """Spread a parallelism-starved scan across the cluster: one
    round-robin repartition to the width :func:`scale.fan_out_width`
    picks, or ``df`` unchanged when it picks none."""
    width = scale.fan_out_width(df)
    return df if width is None else df.repartition(width)

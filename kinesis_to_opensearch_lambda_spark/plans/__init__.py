"""Physical-plan introspection and discipline checks.

The 100 TB design rules (SURVEY.md §4) are enforceable properties of
the physical plan, not aspirations: filters reach the parquet scan,
small dimensions broadcast, windows sharing a partitioning share one
exchange, and no row-at-a-time Python ever appears in a hot path.
These helpers read ``EXPLAIN FORMATTED`` output so tests can assert
each property and fail when a plan regresses.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    """The EXPLAIN output as a string (same text ``df.explain`` prints)."""
    jqe = df._jdf.queryExecution()
    jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        mode
    )
    return jqe.explainString(jmode)


def shuffle_exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges (excludes broadcast exchanges)."""
    plan = plan_string(df, "simple")
    return len(re.findall(r"Exchange (?:hash|range)partitioning", plan))


def has_broadcast_hash_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in plan_string(df, "simple")


def broadcast_join_count(df: DataFrame) -> int:
    plan = plan_string(df, "simple")
    return plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin")


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across the plan's scans."""
    plan = plan_string(df, "formatted")
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        if m.group(1).strip():
            out.extend(s.strip() for s in m.group(1).split(","))
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema strings (one per file scan) — column-pruning evidence."""
    plan = plan_string(df, "formatted")
    return [m.group(1) for m in re.finditer(r"ReadSchema: (\S+)", plan)]


# The Python exec nodes as PySpark 4.1's ``EXPLAIN`` names them; each
# name is also the prefix of its ``...WithState`` or ``...UDTF`` variant.
_PYTHON_NODE = (
    r"BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow"
    r"|FlatMapGroupsInPandas|FlatMapGroupsInArrow|FlatMapCoGroupsInPandas"
    r"|FlatMapCoGroupsInArrow|ArrowAggregatePython|ArrowWindowPython"
    r"|TransformWithStateInPySpark"
)


def python_eval_nodes(df: DataFrame) -> list[str]:
    """Python-execution operators in the plan.  Row-at-a-time
    ``BatchEvalPython`` is banned engine-wide; Arrow-batched nodes
    (scalar pandas UDFs, ``mapInPandas``/``mapInArrow``, pandas UDAFs and
    window UDFs, grouped and cogrouped ``applyInPandas``/``applyInArrow``,
    stateful processors) are the sanctioned slow path for genuinely
    non-relational work."""
    return re.findall(_PYTHON_NODE, plan_string(df, "simple"))

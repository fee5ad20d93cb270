"""Query catalog: every operator from SURVEY.md §2 as a named query.

Each entry pairs a Spark DataFrame builder ``(spark, sf_dir) -> DataFrame``
with the equivalent ANSI SQL for the DuckDB oracle (``None`` for
non-SQL-expressible operators — the driver then records a rows-only
check).  ``__spark_entry__.py`` exposes this registry to the driver.

Conventions (driver contract, see /root/repo/__spark_entry__.py):

- every computed column is aliased identically in Spark and SQL;
- double aggregates are ``round()``-ed on BOTH sides so the
  order-insensitive value hash is stable across summation orders;
- timestamps/dates in outputs are formatted to canonical strings so the
  hash does not depend on engine-specific temporal rendering.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Q:
    name: str
    spark: SparkQuery
    oracle: str | None
    headline: bool = False  # included in bench.py's timed set
    doc: str = ""


REGISTRY: dict[str, Q] = {}


def register(
    name: str, oracle: str | None, headline: bool = False, doc: str = ""
) -> Callable[[SparkQuery], SparkQuery]:
    def deco(fn: SparkQuery) -> SparkQuery:
        REGISTRY[name] = Q(name=name, spark=fn, oracle=oracle, headline=headline, doc=doc)
        return fn

    return deco


# Import for side effects: each module registers its queries.
from .operators import (  # noqa: E402,F401
    pipeline_queries,
    relational_queries,
    dedup_queries,
    similarity_queries,
    text_queries,
    multimodal_queries,
    streaming_queries,
    subquery_queries,
    analytic_queries,
    corpus_queries,
    training_queries,
    bucketed_queries,
    graph_queries,
    quality_queries,
    source_queries,
    timeseries_queries,
    maintenance_queries,
)

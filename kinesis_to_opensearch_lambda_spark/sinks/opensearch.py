"""OpenSearch-bulk-shaped sink (reference elasticsearch_handler,
lambda_function.py:56-88).

Reproduces the action shape and semantics:

- daily index routing: ``index_prefix + yyyy-MM-dd(datetime)``
  (lambda_function.py:80);
- deterministic doc id = ``random_id`` → idempotent replays
  (lambda_function.py:81);
- bulk chunks with ``max_retries=3`` and error containment
  (lambda_function.py:84-86);
- the reference's ES None-guard (:78-79) is owned here, and only here:
  a record with a NULL ``random_id`` (a failed parse, or a valid record
  without an id) is skipped.  The decode chain keeps every row, so the
  Splunk sink still sees it; unlike the reference's reporting quirk a
  skipped record is not counted in this sink's delivered total.

Each delivered line is one bulk action serialized JVM-side as
``{"_index": ..., "_id": ..., "_source": {...}}``; a production
transport would emit the two-line bulk wire format from it.  With the
opensearch-hadoop connector available this whole class collapses to
connector options (``es.mapping.id=random_id``,
``es.batch.write.retry.count=3``) — the sink exists so the engine has
reference-shaped semantics without a non-hermetic dependency.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.pipeline import daily_index_col, project_es
from .base import ChunkedTransportSink


@dataclass
class OpenSearchBulkSink(ChunkedTransportSink):
    name: str = "opensearch"
    index_prefix: str = "logs-"

    def payload(self, df: DataFrame) -> tuple[DataFrame, Column]:
        doc = project_es(df)  # the ES allowlist (lambda_function.py:144)
        # to_json drops null fields -> dict-key-absence parity with the
        # reference's popped keys (SURVEY.md §7 "absent-vs-null").
        action = F.to_json(
            F.struct(
                daily_index_col(self.index_prefix).alias("_index"),
                F.col("random_id").alias("_id"),
                F.struct(*[doc[c] for c in doc.columns]).alias("_source"),
            )
        )
        return df, F.when(F.col("random_id").isNotNull(), action)

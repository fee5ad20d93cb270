"""Drop-in compatibility facade for the reference's Lambda entry point.

A user of ``app-sre/kinesis-to-opensearch-lambda`` invokes
``handler(event, context)`` with the AWS Kinesis event envelope
(lambda_function.py:140-148).  This module accepts the *same* event
dict, runs the engine's DataFrame pipeline over it, and fans out to the
same two sinks — so switching repos is changing an import.

The sinks are injected (defaults come from :class:`config.EngineConfig`)
and the SparkSession is reused across invocations; for real streams use
``streaming.dual_sink_fanout`` instead — this shim exists for
batch-shaped, Lambda-style invocation parity.
"""

from __future__ import annotations

from dataclasses import replace
from typing import Any

from pyspark.sql import SparkSession

from .config import EngineConfig
from .sinks import OpenSearchBulkSink, SplunkHECSink
from .sinks.base import deliver, payload_frame
from .sinks.splunk import is_disabled
from .streaming.pipeline import decode_stream


def records_to_envelope_df(spark: SparkSession, event: dict[str, Any]):
    """AWS event dict -> one-column envelope frame
    (``record["kinesis"]["data"]``, lambda_function.py:44-45).

    Driver-side by construction AND bounded by construction: the input
    is a Lambda event — a dict AWS materialized in the function's
    memory, capped by the service at 10,000 records / 6 MB per
    invocation — so building rows on the driver is inherent to the
    shim's contract, not a scale leak.  Unbounded sources (real
    streams, files) never pass through here; they enter via
    ``sources.kinesis`` / ``sources.batch`` as distributed reads."""
    rows = [(r["kinesis"]["data"],) for r in event.get("Records", [])]
    return spark.createDataFrame(rows, "kinesis_data: string")


def handler(
    event: dict[str, Any],
    context: Any = None,
    *,
    spark: SparkSession | None = None,
    config: EngineConfig | None = None,
    es_sink: OpenSearchBulkSink | None = None,
    splunk_sink: SplunkHECSink | None = None,
) -> dict[str, int]:
    """Reference-parity handler: decode -> normalize -> ES branch
    (projected) + Splunk branch (full record).

    Returns per-sink delivered counts plus the reference's ``total``
    denominator.  Counter quirk carried over exactly: the reference
    prints ``success/total`` where ``total = len(processed_records)``
    for BOTH branches (lambda_function.py:87-88,137-138) — the
    denominator counts records a sink's guard skipped — a missing
    ``random_id`` for the ES branch (the ``None``-guard at :78-79), a
    payload that is not a parsed JSON object for both — so a run that
    skips one record reports ``1/2``, not ``1/1``.
    """
    if spark is None:
        from .session import get_session

        spark = get_session(app_name="lambda-compat")
    config = config or EngineConfig()

    if splunk_sink is not None and is_disabled(config.splunk_disabled):
        splunk_sink = replace(splunk_sink, disabled=True)  # the secret's flag
    sinks = [s for s in (es_sink, splunk_sink) if s is not None]
    df = decode_stream(records_to_envelope_df(spark, event))
    # one pass, one job (lambda_function.py:141,144,148); its row count
    # is the reference's shared denominator
    total = deliver(*payload_frame(df, sinks))
    result = {"elasticsearch": 0, "splunk": 0, "total": total}
    if es_sink is not None:
        result["elasticsearch"] = ok = es_sink.last_success
        print(f"Successfully processed {ok}/{total} items for opensearch")
    if splunk_sink is not None and splunk_sink.enabled:
        result["splunk"] = ok = splunk_sink.last_success
        print(f"Successfully processed {ok}/{total} items to Splunk")
    return result

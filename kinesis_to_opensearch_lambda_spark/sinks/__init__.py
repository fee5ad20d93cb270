"""Pluggable sink layer (SURVEY.md §2A R10-R17).

The reference fans one decoded batch out to two HTTP sinks
(lambda_function.py:140-148).  Here a ``Sink`` consumes a DataFrame
inside ``foreachBatch``; the HTTP-shaped sinks build their payloads
JVM-side (``to_json``) as columns of one projection, and one pass moves
bytes per partition through each sink's pluggable ``Transport`` —
connection-per-partition, chunked payloads, bounded retries, error
containment.  Tests inject a filesystem spool transport;
production would inject an HTTPS transport (never exercised in CI,
matching the reference's own test strategy,
test_lambda_function.py:170-171).
"""

from .base import ChunkedTransportSink, SpoolDirTransport, Transport, TransportError
from .opensearch import OpenSearchBulkSink
from .parquet import ParquetSink
from .splunk import SplunkHECSink

__all__ = [
    "ChunkedTransportSink",
    "OpenSearchBulkSink",
    "ParquetSink",
    "SplunkHECSink",
    "SpoolDirTransport",
    "Transport",
    "TransportError",
]

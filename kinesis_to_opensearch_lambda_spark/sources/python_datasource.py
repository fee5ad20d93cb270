"""Custom Python DataSource (Spark 4 `pyspark.sql.datasource` API) for
the Kinesis-envelope JSONL format — a connector with NO JVM jar.

The reference consumes AWS-shaped records `{"kinesis": {"data":
base64(json)}}` pushed by the Kinesis trigger (lambda_function.py:
140-141, 45).  The real Structured Streaming Kinesis connector is a JVM
package that is absent from this image (sources/kinesis.py probes for
it); this module shows the OTHER production answer when no jar exists
for a niche source: implement the source in pure Python against Spark's
DataSource V2 Python API.  Spark distributes one `InputPartition` per
envelope file to executors and runs the generator there — parallel,
executor-side, no driver collect; the rows cross into the JVM via
Arrow batches (this is sanctioned batched Python, same budget class as
mapInPandas, and it exists only at the ingest edge — everything
downstream is codegen'd DataFrame ops).

At 100 TB the partitions() listing would come from the object-store
manifest and each partition would map to one S3 object / shard
checkpoint range; the per-partition generator shape is identical.
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)


def _part_files(path: str) -> list[str]:
    """The envelope files under ``path``, in name order."""
    return sorted(glob.glob(os.path.join(path, "part-*")))


def _envelope_rows(path: str):  # noqa: ANN202
    """One ``(kinesis_data,)`` row per non-blank JSONL line of ``path``."""
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if line:
                yield (json.loads(line)["kinesis"]["data"],)


class EnvelopeFilePartition(InputPartition):
    def __init__(self, path: str) -> None:
        self.path = path


class KinesisEnvelopeJsonlSource(DataSource):
    """`spark.read.format("kinesis_envelope_jsonl").load(dir)`."""

    @classmethod
    def name(cls) -> str:
        return "kinesis_envelope_jsonl"

    def schema(self) -> str:
        return "kinesis_data string"

    def reader(self, schema) -> "KinesisEnvelopeJsonlReader":  # noqa: ANN001
        return KinesisEnvelopeJsonlReader(self.options)

    def simpleStreamReader(self, schema):  # noqa: ANN001, ANN201
        return KinesisEnvelopeJsonlStreamReader(self.options)


class KinesisEnvelopeJsonlReader(DataSourceReader):
    def __init__(self, options) -> None:  # noqa: ANN001
        self.path = options.get("path")
        if not self.path:
            raise ValueError("kinesis_envelope_jsonl requires a path")

    def partitions(self):  # noqa: ANN201 - base signature
        return [EnvelopeFilePartition(p) for p in _part_files(self.path)]

    def read(self, partition):  # noqa: ANN001, ANN201 - base signature
        return _envelope_rows(partition.path)


class KinesisEnvelopeJsonlStreamReader(SimpleDataSourceStreamReader):
    """Streaming half of the connector: offset = high-water FILENAME.

    One `read()` call takes every file past the high-water name, and
    its offset is the last of them.  Spark fixes an availableNow
    query's end offset at the simple reader's first `read()` (a
    `SimpleDataSourceStreamReader` does not implement
    SupportsTriggerAvailableNow), so that query drains every file
    present when it starts; under a processing-time trigger each
    micro-batch takes what arrived since the last one, as the built-in
    file source does without maxFilesPerTrigger.  The offset records
    the basename of the last consumed file, NOT a positional index: an
    integer index into a freshly re-sorted listing re-maps to different
    files if a lexically earlier name appears (or one is removed)
    between commit and restart.  With a name high-water mark,
    `readBetweenOffsets` replays the committed (start, end] range by
    NAME comparison — deterministic under listing churn — and `read()`
    skips late-arriving older names exactly like Spark's built-in file
    source does past its processed-log high-water mark.
    """

    def __init__(self, options) -> None:  # noqa: ANN001
        self.path = options.get("path")
        if not self.path:
            raise ValueError("kinesis_envelope_jsonl requires a path")

    @staticmethod
    def _name(path: str) -> str:
        return os.path.basename(path)

    @staticmethod
    def _pos(offset: dict) -> str:
        """Name high-water mark of an offset."""
        if "pos" not in offset:
            raise ValueError(f"unrecognized offset shape: {offset!r}")
        return offset["pos"]

    def initialOffset(self) -> dict:
        return {"pos": ""}  # "" sorts before every part-* basename

    def read(self, start: dict):  # noqa: ANN201 - base signature
        pos = self._pos(start)
        pending = [p for p in _part_files(self.path) if self._name(p) > pos]
        if not pending:
            return iter([]), {"pos": pos}
        # read now, so the rows are the ones the returned offset covers
        rows = [row for p in pending for row in _envelope_rows(p)]
        return iter(rows), {"pos": self._name(pending[-1])}

    def readBetweenOffsets(self, start: dict, end: dict):  # noqa: ANN201
        lo, hi = self._pos(start), self._pos(end)
        rows = []
        for p in _part_files(self.path):
            if lo < self._name(p) <= hi:
                rows.extend(_envelope_rows(p))
        return iter(rows)

    def commit(self, end: dict) -> None:
        pass

"""Sink/transport base machinery.

Design constraints carried over from the reference, re-expressed for a
distributed engine:

- **chunking**: payloads move in fixed-size chunks
  (``max_batch_size = 500`` at lambda_function.py:115,127-135);
- **bounded retry**: ``helpers.bulk(..., max_retries=3)``
  (lambda_function.py:84);
- **error containment**: per-chunk failures are logged/counted, never
  raised into the stream (``raise_on_error=False`` at :84-86, the
  swallowed ``requests`` exception at :100-102) — a sink hiccup must
  not fail a 1000-executor stage;
- **connection per partition**: transports are constructed on the
  executor inside ``foreachPartition`` — nothing network-ish is
  serialized from the driver;
- **one pass**: the reference loops over a batch once and hands each
  record to both sinks (lambda_function.py:140-148).  Here each enabled
  sink's payload is a nullable column of one projection, built once per
  query (:func:`payload_frame`), and one ``foreachPartition`` per batch
  (:func:`deliver`) feeds every sink's non-NULL payloads to its own
  transport — one Spark job and no persist per batch, however many sinks.

Counters (R17) are Spark accumulators, the distributed analogue of the
reference's ``success/total`` prints (lambda_function.py:87-88,137-138);
one more counts every row the pass iterated.
"""

from __future__ import annotations

import json
import os
import sys
import uuid
import zipimport
from collections.abc import Callable, Iterator, Sequence
from dataclasses import dataclass, field
from typing import Any, Protocol

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class TransportError(RuntimeError):
    """A transport delivery failure (retryable)."""


class Transport(Protocol):
    """Delivers one chunk of serialized records; raises on failure."""

    def send(self, chunk: list[str]) -> None: ...


class SpoolDirTransport:
    """Filesystem transport: each chunk lands as one JSON-lines file.

    Executor-safe stand-in for an HTTPS endpoint (foreachPartition runs
    in separate worker processes, so an in-memory list would vanish);
    tests read the spool back.  ``fail_times`` injects failures for
    retry/containment tests.
    """

    def __init__(self, spool_dir: str, fail_times: int = 0) -> None:
        self.spool_dir = spool_dir
        self.fail_times = fail_times
        self._marker = os.path.join(spool_dir, "_failures")

    def send(self, chunk: list[str]) -> None:
        os.makedirs(self.spool_dir, exist_ok=True)
        if self.fail_times > 0:
            os.makedirs(self._marker, exist_ok=True)
            n_failed = len(os.listdir(self._marker))
            if n_failed < self.fail_times:
                with open(os.path.join(self._marker, uuid.uuid4().hex), "w"):
                    pass
                raise TransportError(f"injected failure {n_failed + 1}")
        path = os.path.join(self.spool_dir, f"{uuid.uuid4().hex}.jsonl")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write("\n".join(chunk))
        os.rename(tmp, path)

    def read_back(self) -> list[dict[str, Any]]:
        """Driver-side helper for tests: all delivered records."""
        out: list[dict[str, Any]] = []
        if not os.path.isdir(self.spool_dir):
            return out
        for name in sorted(os.listdir(self.spool_dir)):
            if not name.endswith(".jsonl"):
                continue
            with open(os.path.join(self.spool_dir, name)) as f:
                out.extend(json.loads(line) for line in f if line.strip())
        return out


class _Outbox:
    """One sink's side of one partition: payloads are buffered into
    fixed-size chunks, and each chunk is sent with bounded retries and
    contained failure."""

    def __init__(self, transport: Transport, size: int, retries: int) -> None:
        self.transport, self.size, self.retries = transport, size, retries
        self.buf: list[str] = []
        self.ok = self.total = 0

    def add(self, payload: str) -> None:
        self.buf.append(payload)
        if len(self.buf) >= self.size:
            self.flush()

    def flush(self) -> None:
        """Send the buffered chunk; also flushes the remainder
        (lambda_function.py:133-135)."""
        if not self.buf:
            return
        chunk, self.buf = self.buf, []
        self.total += len(chunk)
        for _ in range(self.retries + 1):
            try:
                self.transport.send(chunk)  # a retry re-sends the same list
                self.ok += len(chunk)
                return
            except Exception as exc:  # noqa: BLE001 - containment
                error = exc
        # logged-not-raised (lambda_function.py:85-86)
        print(
            f"[{type(error).__name__}] chunk dropped "
            f"after {self.retries} retries: {error}"
        )


def _skip_unchanged_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive changed; idempotent.

    PySpark's worker calls ``importlib.invalidate_caches()`` before every
    task. On CPython < 3.13 each cached ``zipimporter`` then eagerly
    re-reads its archive's central directory (``pyspark.zip``: 1,328
    entries, about 16 importers per worker), which costs far more Python
    worker CPU than iterating a small partition. 3.13 made the re-read
    lazy, so nothing is installed there. An archive whose
    ``(st_mtime_ns, st_size, st_ino)`` changed since its directory was
    read is re-read as before, so import semantics do not change.
    Called from inside ``foreachPartition``: only worker processes install
    it.
    """
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or hasattr(cls.invalidate_caches, "reread"):
        return
    reread = cls.invalidate_caches
    # archive path -> (stat stamp taken before the read, directory read)
    seen: dict[str, tuple[tuple[int, int, int], dict]] = {}

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
        except OSError:  # gone: the stock method drops the cached directory
            return reread(self)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        cached = zipimport._zip_directory_cache.get(self.archive)
        seen_stamp, seen_files = seen.get(self.archive, (None, None))
        if stamp == seen_stamp and cached is seen_files:
            self._files = cached
            return
        reread(self)
        seen[self.archive] = (stamp, self._files)

    invalidate_caches.reread = reread
    cls.invalidate_caches = invalidate_caches


def payload_frame(
    df: DataFrame, sinks: Sequence[ChunkedTransportSink]
) -> tuple[DataFrame, list[ChunkedTransportSink]]:
    """``(frame, active)``: ``df`` projected to one nullable payload column
    per enabled sink (``_p0``, ``_p1``, ...; NULL where it skips the row),
    and those sinks; a disabled one gets no column, reads 0/0 and says so."""
    frame, active, payloads = df, [], []
    for sink in sinks:
        if sink.enabled:
            frame, payload = sink.payload(frame)
            payloads.append(payload.alias(f"_p{len(active)}"))
            active.append(sink)
        else:
            sink.last_success = sink.last_total = 0
            print(f"{sink.name} delivery is disabled")
    return frame.select(*payloads), active


def deliver(frame: DataFrame, sinks: Sequence[ChunkedTransportSink]) -> int:
    """Deliver ``(frame, sinks)`` from :func:`payload_frame` in one pass,
    like the reference's single loop over the batch
    (lambda_function.py:140-148): one ``foreachPartition`` chunks,
    retries and counts each sink's non-NULL payloads through its own
    transport.  Sets each sink's ``last_success`` / ``last_total``;
    returns the number of rows the pass iterated."""
    sc = frame.sparkSession.sparkContext
    acc_rows = sc.accumulator(0)
    accs = [(sc.accumulator(0), sc.accumulator(0)) for _ in sinks]
    # read when the pass runs, not when the sink was built, so that a
    # replaced transport factory takes effect on the next pass
    specs = [(s.transport_factory, s.max_batch_size, s.max_retries) for s in sinks]

    def deliver_partition(partition: Iterator[Any]) -> None:
        _skip_unchanged_zip_rereads()
        # connection per partition
        boxes = [_Outbox(factory(), size, retries) for factory, size, retries in specs]
        n = 0
        for row in partition:
            n += 1
            for box, payload in zip(boxes, row):
                if payload is not None:
                    box.add(payload)
        for box, (acc_ok, acc_total) in zip(boxes, accs):
            box.flush()
            acc_ok.add(box.ok)
            acc_total.add(box.total)
        acc_rows.add(n)

    frame.foreachPartition(deliver_partition)
    for sink, (acc_ok, acc_total) in zip(sinks, accs):
        sink.last_success, sink.last_total = acc_ok.value, acc_total.value
        print(
            f"Successfully sent {sink.last_success}/{sink.last_total} "
            f"records to {sink.name}"
        )
    return acc_rows.value


@dataclass
class ChunkedTransportSink:
    """Generic HTTP-shaped sink: a payload column built JVM-side, then
    per partition fixed-size chunks through a transport with bounded
    retries and error containment (:func:`deliver`).

    Subclasses provide :meth:`payload`.
    """

    transport_factory: Callable[[], Transport]
    name: str = "sink"
    max_batch_size: int = 500  # lambda_function.py:115
    max_retries: int = 3  # lambda_function.py:84

    #: filled by deliver(): driver-visible counters (R17)
    last_success: int = field(default=0, init=False)
    last_total: int = field(default=0, init=False)

    @property
    def enabled(self) -> bool:
        """A disabled sink contributes no payload column to the pass."""
        return True

    def payload(self, df: DataFrame) -> tuple[DataFrame, Column]:  # pragma: no cover
        """``(frame, column)``: ``frame`` is ``df`` plus any columns the
        payload needs, and ``column`` over it is the row's serialized
        record, NULL where this sink skips the row."""
        raise NotImplementedError

    def serialize(self, df: DataFrame) -> DataFrame:
        """The delivered records of ``df``: one string column ``payload``."""
        frame, payload = self.payload(df)
        # The one-element ``explode`` is a barrier: a filter on a plain
        # projection would be pushed below it and evaluate the payload
        # expression a second time.
        return frame.select(F.explode(F.array(payload)).alias("payload")).filter(
            F.col("payload").isNotNull()
        )

    def write(self, df: DataFrame) -> tuple[int, int]:
        """Deliver ``df``; returns (success_count, total_count)."""
        deliver(*payload_frame(df, [self]))
        return self.last_success, self.last_total

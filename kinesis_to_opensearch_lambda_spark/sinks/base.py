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
  serialized from the driver.

Counters (R17) are Spark accumulators, the distributed analogue of the
reference's ``success/total`` prints (lambda_function.py:87-88,137-138).
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass, field
from typing import Any, Protocol

from pyspark.sql import DataFrame


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


def _chunks(it: Iterable[str], size: int) -> Iterator[list[str]]:
    buf: list[str] = []
    for x in it:
        buf.append(x)
        if len(buf) >= size:
            yield buf
            buf = []
    if buf:
        yield buf  # flush remainder (lambda_function.py:133-135)


@dataclass
class ChunkedTransportSink:
    """Generic HTTP-shaped sink: serialize rows JVM-side, then per
    partition deliver fixed-size chunks through a transport with
    bounded retries and error containment.

    Subclasses provide :meth:`serialize` (DataFrame -> one string
    column named ``payload``).
    """

    transport_factory: Callable[[], Transport]
    name: str = "sink"
    max_batch_size: int = 500  # lambda_function.py:115
    max_retries: int = 3  # lambda_function.py:84

    #: filled by write(): driver-visible counters (R17)
    last_success: int = field(default=0, init=False)
    last_total: int = field(default=0, init=False)

    def serialize(self, df: DataFrame) -> DataFrame:  # pragma: no cover
        raise NotImplementedError

    def write(self, df: DataFrame) -> tuple[int, int]:
        """Deliver ``df``; returns (success_count, total_count)."""
        payloads = self.serialize(df)
        sc = payloads.sparkSession.sparkContext
        acc_ok = sc.accumulator(0)
        acc_total = sc.accumulator(0)
        factory = self.transport_factory
        batch_size = self.max_batch_size
        retries = self.max_retries

        def deliver(partition: Iterator[Any]) -> None:
            transport = factory()  # connection per partition
            for chunk in _chunks((row["payload"] for row in partition), batch_size):
                acc_total.add(len(chunk))
                attempt = 0
                while True:
                    try:
                        transport.send(chunk)
                        acc_ok.add(len(chunk))
                        break
                    except Exception as exc:  # noqa: BLE001 - containment
                        attempt += 1
                        if attempt > retries:
                            # logged-not-raised (lambda_function.py:85-86)
                            print(
                                f"[{type(exc).__name__}] chunk dropped "
                                f"after {retries} retries: {exc}"
                            )
                            break

        payloads.foreachPartition(deliver)
        self.last_success, self.last_total = acc_ok.value, acc_total.value
        print(
            f"Successfully sent {self.last_success}/{self.last_total} "
            f"records to {self.name}"
        )
        return self.last_success, self.last_total

"""Tracing for the benchmark's traced runs.

Spans ``(name, start, end, parent, run_id)`` are kept in memory and
written out once, when the run ends. They are recorded from outside the
program, around the calls into each layer:

- a wrapper around each sink's ``write`` (driver side), parented to the
  micro-batch it served;
- :class:`TimedTransport`, a ``Transport`` wrapper that times every
  ``send`` on the executors and ships the spans back through an
  accumulator;
- one span per trigger, rebuilt from the progress that
  :class:`ProgressRecorder` (a ``StreamingQueryListener``) captures for
  every trigger;
- spans the benchmark opens itself (drains, probes).

``self_ms`` gives each span name's self time: its duration minus the
part of it that its children cover.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import time
from contextlib import contextmanager
from datetime import datetime

from pyspark import AccumulatorParam
from pyspark.sql.streaming import StreamingQueryListener


class ListParam(AccumulatorParam):
    """Accumulator that concatenates lists."""

    def zero(self, value):
        return []

    def addInPlace(self, a, b):
        a.extend(b)
        return a


class TimedTransport:
    """Times each ``send`` of an inner transport. A retry is a ``send``
    of the same chunk object the previous call received."""

    def __init__(self, sink: str, inner_factory, spans_acc) -> None:
        self.inner = inner_factory()
        self.sink = sink
        self.spans_acc = spans_acc
        self._last = None

    def send(self, chunk: list[str]) -> None:
        retry = chunk is self._last
        self._last = chunk
        start, ok = time.time(), False
        try:
            self.inner.send(chunk)
            ok = True
        finally:
            self.spans_acc.add([{
                "name": f"{self.sink}.send", "start": start, "end": time.time(),
                "records": len(chunk), "ok": ok, "retry": retry,
                "bytes": sum(len(s.encode()) for s in chunk),
            }])


class ProgressRecorder(StreamingQueryListener):
    """Keeps every trigger's progress (``recentProgress`` keeps only the
    last 100) plus the source backlog seen when each one finished."""

    def __init__(self, backlog_files=None) -> None:
        self.progress: list[dict] = []
        self.backlog: list[int] = []
        self._backlog_files = backlog_files

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        self.progress.append(p)
        if self._backlog_files is not None:
            self.backlog.append(self._backlog_files(p))

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class Tracer:
    """In-memory span store for one run."""

    def __init__(self, run_id: str, spark_context) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self.executor_spans = spark_context.accumulator([], ListParam())
        self._ids = itertools.count(1)
        self._pending: list[dict] = []  # sink writes not yet tied to a batch
        self._originals: dict[int, tuple] = {}

    def add(self, name: str, start: float, end: float, parent: str | None,
            **attrs) -> dict:
        span = {"id": f"{name}#{next(self._ids)}", "name": name, "start": start,
                "end": end, "parent": parent, "run_id": self.run_id, **attrs}
        self.spans.append(span)
        return span

    @contextmanager
    def span(self, name: str, parent: str | None = None):
        start = time.time()
        holder: dict = {}
        try:
            yield holder
        finally:
            holder.update(self.add(name, start, time.time(), parent))

    # -- sinks ---------------------------------------------------------
    def instrument(self, sink) -> None:
        """Wrap ``sink.write`` and its transport factory."""
        original_write, original_factory = sink.write, sink.transport_factory
        self._originals[id(sink)] = (original_write, original_factory)

        @functools.wraps(original_write)
        def write(df):
            start = time.time()
            try:
                return original_write(df)
            finally:
                self._pending.append(self.add(f"{sink.name}.write", start,
                                              time.time(), None))

        sink.write = write
        sink.transport_factory = functools.partial(
            TimedTransport, sink.name, original_factory, self.executor_spans)

    def restore(self, sink) -> None:
        """Undo :meth:`instrument`."""
        original_write, original_factory = self._originals.pop(id(sink))
        sink.write = original_write
        sink.transport_factory = original_factory

    def on_batch(self, epoch_id: int, rows: int) -> None:
        """``on_batch`` hook of ``dual_sink_fanout``: parents the writes
        made since the previous batch to this one."""
        for s in self._pending:
            s["parent"] = f"batch:{epoch_id}"
            s["batch"] = epoch_id
        self._pending = []

    # -- progress ------------------------------------------------------
    def add_triggers(self, progress: list[dict], parent: str | None,
                     query_tag: str) -> None:
        """One span per trigger, from its progress timestamp and
        ``triggerExecution`` duration; writes of the same batch become
        its children."""
        for p in progress:
            start = _epoch(p["timestamp"])
            dur = p.get("durationMs", {}).get("triggerExecution", 0) / 1000
            trig = self.add("trigger", start, start + dur, parent,
                            batch=p["batchId"], rows=p.get("numInputRows", 0),
                            query=query_tag)
            for s in self.spans:
                if s.get("batch") == p["batchId"] and s.get("query") is None \
                        and s["name"].endswith(".write") and \
                        start <= s["start"] <= start + dur:
                    s["parent"] = trig["id"]
                    s["query"] = query_tag

    def collect_executor_spans(self) -> None:
        """Move the executors' send spans into the store, each parented
        to the sink write that was open when it started."""
        writes = [s for s in self.spans if s["name"].endswith(".write")]
        for e in self.executor_spans.value:
            sink = e["name"].split(".")[0]
            parent = next((w["id"] for w in writes
                           if w["name"] == f"{sink}.write"
                           and w["start"] <= e["start"] <= w["end"]), None)
            self.add(e["name"], e["start"], e["end"], parent,
                     **{k: e[k] for k in ("records", "ok", "retry", "bytes")})
        self.executor_spans.value = []

    # -- output --------------------------------------------------------
    def self_ms(self) -> dict[str, float]:
        """Self time per span name, in milliseconds."""
        children: dict[str, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            own = (s["end"] - s["start"]) - covered
            out[s["name"]] = out.get(s["name"], 0.0) + own * 1000
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "self_ms": self.self_ms(),
                       **extra, "spans": self.spans}, f)

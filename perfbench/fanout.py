"""The two fan-out workloads: a bulk drain and an open-loop trickle.

Both run the engine's public streaming path unchanged:

    sources.kinesis.read_envelope_stream -> streaming.pipeline.decode_stream
      -> streaming.pipeline.dual_sink_fanout -> OpenSearchBulkSink
                                             -> SplunkHECSink
                                                  -> SpoolDirTransport

and check every delivered OpenSearch action and HEC event against the
model in :mod:`perfbench.model`.
"""

from __future__ import annotations

import functools
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

from . import eventlog, gen, model
from .tracing import ProgressRecorder, Tracer

INDEX_PREFIX = "audit-"
SPLUNK_INDEX = "audit"
SETUP_REPS = 3


@dataclass(frozen=True)
class Bulk:
    """``fanout_bulk``: a fixed number of availableNow drains of one wide
    backlog, so a run does the same work however fast the host is."""

    records: int = 50_000
    files: int = 16
    shares: gen.Shares = gen.Shares(width=1000, unknown_fields=0.6)
    warm_records: int = 4_000
    drains: int = 3
    dedup: str | None = None


@dataclass(frozen=True)
class Trickle:
    """``fanout_trickle``: narrow files renamed in on a fixed schedule."""

    per_file: int = 200
    interval_s: float = 0.1  # 2,000 records/s offered
    warmup_s: float = 3.0  # feed time left out of the latency sample
    subwindows: int = 4  # the measured window is cut into this many
    event_step_s: float = 360.0  # event time covered by one file
    shares: gen.Shares = gen.Shares(width=250, unknown_fields=0.3,
                                    redelivered=0.05)
    warm_files: int = 5
    dedup: str | None = "3 hours"  # > event-time lag of redelivered records


@dataclass
class Run:
    """One benchmark run: its directories, session factory and tracer."""

    workload: str
    seed: int
    seconds: float
    traced: bool
    run_dir: str
    new_session: object  # () -> SparkSession
    spark: object = None
    tracer: Tracer | None = None
    recorder: ProgressRecorder | None = None
    setup_s: list[float] = field(default_factory=list)
    extra: dict = field(default_factory=dict)
    phase_end: float = field(default_factory=time.perf_counter)

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def phase(self, name: str) -> None:
        """Record the wall time since the previous phase ended."""
        now = time.perf_counter()
        self.extra.setdefault("phase_s", {})[name] = now - self.phase_end
        self.phase_end = now


def _pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in [0, 100])."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, math.ceil(q / 100 * len(s)) - 1))]


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def steal_ticks() -> tuple[int, int]:
    """``(steal, total)`` CPU ticks of all CPUs so far; steal is the
    time the hypervisor ran other guests on them."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its live descendants
    (the Spark JVM and its Python workers), each counting the children
    it has reaped, so the difference of two readings is the CPU time the
    whole tree used between them."""
    parent, cpu = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process has exited
            continue
        parent[int(name)] = int(fields[1])
        cpu[int(name)] = sum(int(x) for x in fields[11:15])  # u/s + cu/cs time
    me, total = os.getpid(), 0
    for pid, ticks in cpu.items():
        p = pid
        while p != me and p in parent and p > 1:
            p = parent[p]
        if p == me:
            total += ticks
    return total / os.sysconf("SC_CLK_TCK")


def _steal(run: Run, since: tuple[int, int]) -> None:
    steal, total = steal_ticks()
    run.extra["steal_frac"] = (steal - since[0]) / max(1, total - since[1])


def _sinks(spool_root: str):
    from kinesis_to_opensearch_lambda_spark.sinks import SpoolDirTransport
    from kinesis_to_opensearch_lambda_spark.sinks.opensearch import OpenSearchBulkSink
    from kinesis_to_opensearch_lambda_spark.sinks.splunk import SplunkHECSink

    es = OpenSearchBulkSink(
        transport_factory=functools.partial(
            SpoolDirTransport, os.path.join(spool_root, "opensearch")),
        index_prefix=INDEX_PREFIX)
    hec = SplunkHECSink(
        transport_factory=functools.partial(
            SpoolDirTransport, os.path.join(spool_root, "splunk")),
        splunk_index=SPLUNK_INDEX)
    return es, hec


def _start(spark, src: str, out: str, available_now: bool, dedup: str | None,
           on_batch=None, before=None):
    """Start the fan-out query; ``before(es, hec)`` runs first."""
    from kinesis_to_opensearch_lambda_spark.sources.kinesis import read_envelope_stream
    from kinesis_to_opensearch_lambda_spark.streaming.pipeline import (
        decode_stream,
        dual_sink_fanout,
    )

    es, hec = _sinks(out)
    if before is not None:
        before(es, hec)
    decoded = decode_stream(read_envelope_stream(spark, src))
    query = dual_sink_fanout(decoded, es, hec, os.path.join(out, "checkpoint"),
                             available_now=available_now,
                             dedup_watermark=dedup, on_batch=on_batch)
    return query, es, hec


def _check(expected: dict[str, dict], out: str) -> model.Delivery:
    return model.check_spools(expected, os.path.join(out, "opensearch"),
                              os.path.join(out, "splunk"), INDEX_PREFIX,
                              SPLUNK_INDEX)


def _setup(run: Run, warm_src: str, dedup: str | None) -> None:
    """Session start plus one warm-up drain, ``SETUP_REPS`` times; the
    first repetition also launches the JVM."""
    for rep in range(SETUP_REPS):
        if run.spark is not None:
            run.spark.stop()
        t0 = time.perf_counter()
        run.spark = run.new_session()
        query, _, _ = _start(run.spark, warm_src, run.path(f"warm-{rep}"),
                             True, dedup)
        query.awaitTermination()
        run.setup_s.append(time.perf_counter() - t0)
        shutil.rmtree(run.path(f"warm-{rep}"), ignore_errors=True)
    if run.traced:
        run.tracer = Tracer(f"{run.workload}-s{run.seed}",
                            run.spark.sparkContext)


# -- fanout_bulk ----------------------------------------------------------

def bulk(run: Run, cfg: Bulk = Bulk()) -> dict:
    src = run.path("backlog")
    recs = gen.backlog(run.seed, src, cfg.records, cfg.files, cfg.shares)
    # as many files as the backlog, so warm-up starts every Python worker
    gen.backlog(run.seed + 1_000_003, run.path("warm-src"), cfg.warm_records,
                cfg.files, cfg.shares)
    expected = {r["random_id"]: r for r in recs}
    run.phase("generate")
    _setup(run, run.path("warm-src"), cfg.dedup)
    run.phase("setup")
    if run.traced:
        run.recorder = ProgressRecorder(lambda p: cfg.files)
        run.spark.streams.addListener(run.recorder)

    drains = []
    measure_start = time.time()
    steal0 = steal_ticks()
    for i in range(cfg.drains):
        traced = run.tracer is not None and i % 2 == 1
        out = run.path(f"drain-{i}")
        t0 = time.time()
        before = None
        if traced:
            def before(es, hec):
                run.tracer.instrument(es)
                run.tracer.instrument(hec)
        cpu0 = tree_cpu_s()
        query, _, _ = _start(run.spark, src, out, True, cfg.dedup,
                             run.tracer.on_batch if run.tracer else None,
                             before)
        query.awaitTermination()
        t1 = time.time()
        if run.tracer is not None:
            run.tracer.add("drain", t0, t1, None, traced=traced)
        drains.append({"out": out, "t0": t0, "t1": t1, "traced": traced,
                       "cpu_s": tree_cpu_s() - cpu0})
    _steal(run, steal0)
    run.extra["measure_ms"] = (measure_start * 1000, time.time() * 1000)
    run.phase("measure")

    p50s, p99s, failed = [], [], 0
    for d in drains:
        got = _check(expected, d["out"])
        failed += len(got.failed_ids)
        # a backlog record is due when its drain starts
        lat = [(t - d["t0"]) * 1000 for t in got.delivered_at.values()]
        if lat:
            run.extra.setdefault("records_per_s", []).append(
                len(lat) / (d["t1"] - d["t0"]))
            p50s.append(_pct(lat, 50))
            p99s.append(_pct(lat, 99))
    run.phase("check")
    if run.tracer is not None:
        plain = [d["t1"] - d["t0"] for d in drains if not d["traced"]]
        traced = [d["t1"] - d["t0"] for d in drains if d["traced"]]
        run.extra["trace_overhead_frac"] = _median(traced) / _median(plain) - 1
        run.extra["probe_src"] = src
    run.extra["drain_cpu_s"] = [d["cpu_s"] for d in drains]
    return {
        "attempted": len(expected) * len(drains),
        "failed": failed,
        "latency_p50_ms": _median(p50s),
        "latency_p99_ms": _median(p99s),
        # median over drains, so the one that still JIT-compiles the
        # hot paths does not set the figure
        "cpu_ms_per_krec": _median([d["cpu_s"] for d in drains]) * 1e6
                           / len(expected),
    }


# -- fanout_trickle ---------------------------------------------------------

def trickle(run: Run, cfg: Trickle = Trickle()) -> dict:
    n_files = math.ceil((cfg.warmup_s + run.seconds) / cfg.interval_s)
    staging, src = run.path("staging"), run.path("source")
    os.makedirs(src)
    files = gen.trickle(run.seed, staging, n_files, cfg.per_file,
                        cfg.event_step_s, cfg.shares)
    gen.trickle(run.seed + 1_000_003, run.path("warm-src"), cfg.warm_files,
                cfg.per_file, cfg.event_step_s, cfg.shares)
    run.phase("generate")
    _setup(run, run.path("warm-src"), cfg.dedup)
    run.phase("setup")

    consumed = [0]

    def backlog_files(p: dict) -> int:
        waiting = len(os.listdir(src)) - consumed[0] // cfg.per_file
        consumed[0] += p.get("numInputRows", 0)
        return waiting

    traced_batches: dict[int, bool] = {}
    on_batch = before = None
    if run.tracer is not None:
        run.recorder = ProgressRecorder(backlog_files)
        run.spark.streams.addListener(run.recorder)
        tracer, sinks = run.tracer, []

        def before(es, hec):
            sinks.extend((es, hec))
            for sink in sinks:
                tracer.instrument(sink)

        def on_batch(epoch_id: int, rows: int) -> None:
            # Even batches are traced and odd ones not, so the two
            # interleave; their difference is the tracing overhead.
            tracer.on_batch(epoch_id, rows)
            traced_batches[epoch_id] = epoch_id % 2 == 0
            for sink in sinks:
                if epoch_id % 2 == 1:
                    tracer.instrument(sink)
                else:
                    tracer.restore(sink)

    out = run.path("stream")
    query, _, _ = _start(run.spark, src, out, False, cfg.dedup, on_batch, before)
    total_rows = n_files * cfg.per_file
    t0 = time.time() + 1.0
    moves_json = run.path("moves.json")
    cpu0, steal0 = tree_cpu_s(), steal_ticks()
    feeder = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__), "feeder.py"),
         staging, src, repr(t0), repr(cfg.interval_s), moves_json])
    try:
        feeder.wait(timeout=n_files * cfg.interval_s + 60)
        deadline = time.time() + 90
        while sum(p["numInputRows"] for p in query.recentProgress) < total_rows:
            if query.exception() is not None or time.time() > deadline:
                raise RuntimeError(f"stream stalled: {query.exception()}")
            time.sleep(0.1)
        # Stop between triggers: a stop that interrupts a running
        # foreachBatch callback makes Spark log a spurious error.
        query.processAllAvailable()
        deadline = time.time() + 10
        while query.status["isTriggerActive"] and time.time() < deadline:
            time.sleep(0.05)
    finally:
        if feeder.poll() is None:
            feeder.kill()
            feeder.wait()
        query.stop()
    cpu_s = tree_cpu_s() - cpu0
    _steal(run, steal0)
    run.extra["measure_ms"] = (t0 * 1000, time.time() * 1000)
    run.phase("measure")
    with open(moves_json) as f:
        moves = json.load(f)

    expected, due = {}, {}
    for i, recs in enumerate(files):
        for r in recs:
            if r["random_id"] not in expected:
                expected[r["random_id"]] = r
                due[r["random_id"]] = t0 + i * cfg.interval_s
    got = _check(expected, out)
    run.phase("check")
    # Latency percentiles per sub-window of the measured window, and
    # their median, so that a short stall of the shared host moves one
    # sub-window and not the figure.
    w0 = t0 + cfg.warmup_s
    width = run.seconds / cfg.subwindows
    lat: list[list[float]] = [[] for _ in range(cfg.subwindows)]
    for rid, t in got.delivered_at.items():
        k = math.floor((due[rid] - w0) / width)
        if 0 <= k < cfg.subwindows:
            lat[k].append((t - due[rid]) * 1000)
    p50s = [_pct(v, 50) for v in lat if v]
    p99s = [_pct(v, 99) for v in lat if v]
    run.extra["subwindow_p50_ms"], run.extra["subwindow_p99_ms"] = p50s, p99s
    run.extra["gen_late_ms"] = [(m[2] - m[1]) * 1000 for m in moves]
    run.extra["probe_src"] = src
    if run.tracer is not None:
        run.extra["traced_batches"] = traced_batches
    return {
        "attempted": len(expected),
        "failed": len(got.failed_ids),
        "latency_p50_ms": _median(p50s),
        "latency_p99_ms": _median(p99s),
        "cpu_ms_per_krec": cpu_s * 1e6 / total_rows,
    }


# -- per-layer figures of a traced run ----------------------------------------

def _noop_s(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def probes(run: Run) -> dict:
    """Noop-sink timings of decode and of each sink's serialize over the
    workload's own input, median of three each."""
    from kinesis_to_opensearch_lambda_spark.sources.kinesis import ENVELOPE_SCHEMA
    from kinesis_to_opensearch_lambda_spark.streaming.pipeline import decode_stream

    spark, tracer = run.spark, run.tracer
    env = spark.read.schema(ENVELOPE_SCHEMA).parquet(run.extra["probe_src"])
    out = {"decode.rows_in": env.count()}
    decoded = decode_stream(env)
    with tracer.span("probe.decode"):
        out["decode.s"] = _median([_noop_s(decoded) for _ in range(3)])
    decoded = decoded.persist()
    out["decode.rows_out"] = decoded.count()
    for sink in _sinks(run.path("probe-unused")):
        with tracer.span(f"probe.{sink.name}.serialize"):
            out[f"{sink.name}.serialize_s"] = _median(
                [_noop_s(sink.serialize(decoded)) for _ in range(3)])
    decoded.unpersist()
    return out


def layer_metrics(run: Run, probe: dict, log_dir: str) -> dict:
    tracer, progress = run.tracer, run.recorder.progress
    tracer.collect_executor_spans()
    by_query: dict[str, list[dict]] = {}
    for p in progress:
        by_query.setdefault(p["id"], []).append(p)
    for qid, ps in by_query.items():
        tracer.add_triggers(ps, None, qid)

    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    dur = [p.get("durationMs", {}) for p in data]
    state = [op for p in data for op in p.get("stateOperators", [])]
    m = {
        "sources.latest_offset_ms": _median([d.get("latestOffset", 0) for d in dur]),
        "sources.get_batch_ms": _median([d.get("getBatch", 0) for d in dur]),
        "sources.rows_per_trigger": _median([p["numInputRows"] for p in data]),
        "sources.backlog_files_max": max(run.recorder.backlog, default=0),
        "streaming.triggers": len(progress),
        "streaming.trigger_ms": _median([d.get("triggerExecution", 0) for d in dur]),
        "streaming.planning_ms": _median([d.get("queryPlanning", 0) for d in dur]),
        "streaming.commit_ms": _median([d.get("walCommit", 0) + d.get("commitOffsets", 0)
                                        for d in dur]),
        "streaming.add_batch_ms": _median([d.get("addBatch", 0) for d in dur]),
        "state.rows_total": max((op.get("numRowsTotal", 0) for op in state), default=0),
        "state.memory_bytes": max((op.get("memoryUsedBytes", 0) for op in state),
                                  default=0),
        "state.commit_ms": _median([op.get("commitTimeMs", 0) for op in state]),
        "state.dups_dropped": sum(op.get("customMetrics", {}).get(
            "numDroppedDuplicateRows", 0) for op in state),
    }

    # addBatch minus both sink writes, per traced batch with rows
    writes: dict[tuple[str, int], float] = {}
    for s in tracer.spans:
        if s["name"].endswith(".write") and s.get("query") is not None:
            key = (s["query"], s["batch"])
            writes[key] = writes.get(key, 0.0) + (s["end"] - s["start"]) * 1000
    m["streaming.fanout_overhead_ms"] = _median([
        p["durationMs"]["addBatch"] - writes[(p["id"], p["batchId"])]
        for p in data if (p["id"], p["batchId"]) in writes])

    for sink in ("opensearch", "splunk"):
        w = [(s["end"] - s["start"]) * 1000 for s in tracer.spans
             if s["name"] == f"{sink}.write" and s.get("query") is not None]
        sends = [s for s in tracer.spans if s["name"] == f"{sink}.send"]
        m[f"{sink}.serialize_s"] = probe[f"{sink}.serialize_s"]
        m[f"{sink}.write_ms"] = _median(w)
        m[f"{sink}.send_ms"] = _median([(s["end"] - s["start"]) * 1000 for s in sends])
        m[f"{sink}.chunks"] = sum(1 for s in sends if s["ok"])
        m[f"{sink}.payload_bytes"] = sum(s["bytes"] for s in sends if s["ok"])
        m[f"{sink}.failed_records"] = sum(s["records"] for s in sends if not s["ok"])
        m[f"{sink}.retries"] = sum(1 for s in sends if s["retry"])
    for k in ("decode.s", "decode.rows_in", "decode.rows_out"):
        m[k] = probe[k]

    if "traced_batches" in run.extra:  # trickle: interleaved batches
        tb = run.extra["traced_batches"]
        on = [p["durationMs"]["addBatch"] for p in data if tb.get(p["batchId"])]
        off = [p["durationMs"]["addBatch"] for p in data
               if tb.get(p["batchId"]) is False]
        run.extra["trace_overhead_frac"] = (_median(on) / _median(off) - 1
                                            if on and off else 0.0)
    m["trace.overhead_frac"] = run.extra["trace_overhead_frac"]
    late = run.extra.get("gen_late_ms")
    m["gen.late_ms_p99"] = _pct(late, 99) if late else 0.0

    logs = eventlog.logs_in(log_dir)
    since, until = run.extra["measure_ms"]
    st = eventlog.totals(eventlog.stages(logs[-1]), since, until) if logs else {}
    for k in ("stages", "executor_run_ms", "gc_ms", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes"):
        m[f"spark.{k}"] = st.get(k, 0)
    return m

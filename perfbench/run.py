#!/usr/bin/env python3
"""Fan-out benchmark entry point.

    python3 perfbench/run.py --workload fanout_trickle --seed 1 --seconds 12 --trace 0

Builds the workload's inputs from ``--seed``, runs it, checks every
delivered record against the reference model and prints one JSON object
as the last line of standard output::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``fanout_bulk`` does a fixed amount of work (three drains of one
backlog); ``--seconds`` is the length of ``fanout_trickle``'s measured
window. ``BENCHMARK.json`` fixes its value.

``--trace 0`` reports the end-to-end metrics, the same on both
workloads:

- ``cpu_ms_per_krec``: CPU time of the driver, the JVM and its Python
  workers per 1,000 records, over the median drain (bulk) or the whole
  feed (trickle);
- ``peak_rss_mb``: high-water RSS of the driver JVM plus this process;
- ``setup_s``: median of three session starts plus warm-up drain.

Delivery latency (per record, from when it was due -- its drain's start
or its file's feed time -- until the later of the two sinks delivered
it) is in the run record and, as ``delivery.latency_p50_ms`` /
``delivery.latency_p99_ms``, among the per-layer metrics. It is not an
end-to-end metric: it is wall time, and on a shared 4-vCPU virtual
machine the CPU time the hypervisor gave other guests (``steal_frac`` in
the run record, 0-13% of it) moved it by 20-35% between runs where CPU
time per record moved by about 10%.

``--trace 1`` runs the same workload with tracing on, reports the
per-layer metrics and writes the spans to
``.perfbench_run/trace-<workload>-s<seed>.json``. Everything the run
writes stays under ``.perfbench_run/`` in the checkout. The host and run
record goes to standard error and into
``.perfbench_run/record-<workload>-s<seed>-t<trace>.json``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "kinesis_to_opensearch_lambda_spark"
WORKLOADS = ("fanout_bulk", "fanout_trickle")
DRIVER_MEMORY = "2g"  # well inside a 15 GiB host with no swap

UNITS = {"cpu_ms_per_krec": "ms/krec", "peak_rss_mb": "MB", "setup_s": "s"}


def _layer_unit(name: str) -> str:
    if name.endswith("_ms") or name.endswith("_ms_p99"):
        return "ms"
    if name.endswith("_s") or name == "decode.s":
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_frac"):
        return "fraction"
    return "count"


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _host_record(spark) -> dict:
    import pyspark

    with open("/proc/meminfo") as f:
        mem_total = next(line.split(":")[1].strip() for line in f
                         if line.startswith("MemTotal:"))
    sc = spark.sparkContext
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total": mem_total,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "cpus_effective": sc.defaultParallelism,
        "spark.driver.memory": sc.getConf().get("spark.driver.memory"),
    }


def _prepare_env(run_dir: str) -> None:
    """Pin the driver heap and keep every file the run writes, Spark's
    scratch space included, inside ``run_dir``; executors import the
    engine from the checkout whatever the working directory."""
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def _session_factory(run_dir: str, cpus: int, log_dir: str | None):
    from kinesis_to_opensearch_lambda_spark.session import get_session

    # The whole heap is touched at launch: without it the driver's RSS
    # high-water mark followed GC sizing and varied by 10-30% per run.
    conf = {
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"
            f" -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.ui.showConsoleProgress": "false",
    }
    if log_dir is not None:
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})

    def new_session():
        spark = get_session(app_name="perfbench", cpus=cpus, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    return new_session


def _stop_jvm(spark) -> None:
    """Stop Spark, then the JVM the session launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits on end of input
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def run(workload: str, seed: int, seconds: float, traced: bool) -> dict:
    base = os.path.join(ROOT, ".perfbench_run")
    run_dir = os.path.join(base, f"{workload}-s{seed}-t{int(traced)}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _prepare_env(run_dir)
    from perfbench import fanout

    log_dir = os.path.join(run_dir, "eventlog") if traced else None
    cpus = len(os.sched_getaffinity(0))
    r = fanout.Run(workload, seed, seconds, traced, run_dir,
                   _session_factory(run_dir, cpus, log_dir))
    try:
        body = fanout.bulk(r) if workload == "fanout_bulk" else fanout.trickle(r)
        host = _host_record(r.spark)
        probe = fanout.probes(r) if traced else None
        jvm = getattr(type(r.spark.sparkContext)._gateway, "proc", None)
        rss_kb = _vm_hwm_kb(os.getpid()) + (_vm_hwm_kb(jvm.pid) if jvm else 0)
    finally:
        if r.spark is not None:
            _stop_jvm(r.spark)

    if traced:
        metrics = fanout.layer_metrics(r, probe, log_dir)
        metrics["delivery.latency_p50_ms"] = body["latency_p50_ms"]
        metrics["delivery.latency_p99_ms"] = body["latency_p99_ms"]
        r.tracer.dump(os.path.join(base, f"trace-{workload}-s{seed}.json"),
                      {"host": host, "metrics": metrics})
        units = {k: _layer_unit(k) for k in metrics}
    else:
        metrics = {
            "cpu_ms_per_krec": body["cpu_ms_per_krec"],
            "peak_rss_mb": rss_kb / 1024,
            "setup_s": sorted(r.setup_s)[len(r.setup_s) // 2],
        }
        units = UNITS
    record = {"workload": workload, "seed": seed, "seconds": seconds,
              "trace": int(traced), "host": host, "setup_s": r.setup_s,
              "attempted": body["attempted"], "failed": body["failed"],
              "metrics": metrics, "steal_frac": r.extra.get("steal_frac"),
              "latency_p50_ms": body["latency_p50_ms"],
              "latency_p99_ms": body["latency_p99_ms"],
              "records_per_s": r.extra.get("records_per_s"),
              "drain_cpu_s": r.extra.get("drain_cpu_s"),
              "phase_s": r.extra.get("phase_s"),
              **{k: r.extra.get(k) for k in ("subwindow_p50_ms", "subwindow_p99_ms")}}
    with open(os.path.join(base, f"record-{workload}-s{seed}-t{int(traced)}.json"),
              "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"host": host, "setup_s": r.setup_s}), file=sys.stderr)
    shutil.rmtree(run_dir, ignore_errors=True)
    return {
        "correct": body["failed"] == 0,
        "attempted": body["attempted"],
        "failed": body["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/ in {ROOT}; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path[0] = ROOT  # import the checkout's engine and perfbench package
    t0 = time.perf_counter()
    try:
        with contextlib.redirect_stdout(sys.stderr):  # sinks print per write
            result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception:
        traceback.print_exc()
        return 1
    print(f"perfbench: {args.workload} done in {time.perf_counter() - t0:.1f}s",
          file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

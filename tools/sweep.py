#!/usr/bin/env python
"""Full-registry parity sweep at an arbitrary scale factor.

Usage: python tools/sweep.py [SF_DIR] [CPUS] [ONLY] [--checkpoint-dir DIR]

CPUS defaults to $SPARK_GRAFT_CPUS, else the host's cores
(``session.DEFAULT_CPUS``).

Runs every registered query against $SF_DIR (default /root/testdata/sf0.1)
and compares rows + schema + value-hash with its DuckDB oracle — the same
comparator strictness as the driver's CORRECTNESS gate.  This is the
discipline that caught the round-4 stream-stream-join OOM: correctness at
sf0.001 does not prove the plan survives 100x the data.

ONLY (optional) restricts the sweep to a comma-separated list of query
names and/or name prefixes (e.g. "streaming_,graph_,tpch_q1_pricing") —
used for the sf1 stress subset where a full-registry pass is hours.

--checkpoint-dir DIR (r9 verdict task 2): exports
SPARK_GRAFT_CHECKPOINT_DIR so every iterative operator's lineage cut
(pagerank / LPA / connected-components / simhash rank join) uses a
reliable checkpoint() into DIR instead of localCheckpoint.  The r9
sf10 sweep's session died of GCLocker thrash evicting an
executor-local checkpoint block mid-CC; reliable checkpoint files
survive the sick JVM.  The sweep verifies files actually landed in
DIR and records that in the summary line.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    from kinesis_to_opensearch_lambda_spark.session import DEFAULT_CPUS, get_session

    argv = list(sys.argv[1:])
    checkpoint_dir = None
    if "--checkpoint-dir" in argv:
        i = argv.index("--checkpoint-dir")
        checkpoint_dir = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if len(argv) > 0 else "/root/testdata/sf0.1"
    cpus = argv[1] if len(argv) > 1 else DEFAULT_CPUS
    only = argv[2].split(",") if len(argv) > 2 else None
    if checkpoint_dir:
        os.makedirs(checkpoint_dir, exist_ok=True)
        os.environ["SPARK_GRAFT_CHECKPOINT_DIR"] = checkpoint_dir
        print(f"# reliable checkpoints -> {checkpoint_dir}", flush=True)
    from kinesis_to_opensearch_lambda_spark.queries import REGISTRY
    from tests.oracle_compare import timed_parity

    spark = get_session(app_name="sweep", cpus=cpus)
    names = sorted(
        n
        for n in REGISTRY
        if only is None or any(n == o or n.startswith(o) for o in only)
    )
    failed: list[str] = []
    timings: dict[str, float] = {}
    splits: dict[str, dict[str, float]] = {}
    t_all = time.time()
    # Session recycling (r9): the sf10 headline sweep's first session
    # died of GCLocker allocation thrash after ~20 minutes of heavy
    # entries — an executor-local checkpoint block was evicted from the
    # sick JVM and every later entry cascade-failed on the dead session
    # (sweeps/SWEEP_SF10_r09.json).  A long sweep is many independent
    # queries, so bound the blast radius: restart the session after
    # every ~10 minutes of accumulated query wall time.  Cheap (one
    # ~8s JVM start per recycle) and each entry still runs in a
    # driver-equivalent fresh-conf session.
    recycle_budget_s = float(os.environ.get("SWEEP_RECYCLE_SEC", "600"))
    since_recycle = 0.0
    for i, name in enumerate(names):
        t0 = time.time()
        try:
            splits[name] = timed_parity(spark, name, sf_dir)
            status = "ok"
        except Exception as exc:  # noqa: BLE001 - record and continue
            failed.append(name)
            status = f"FAIL {str(exc)[:300]}"
        timings[name] = round(time.time() - t0, 1)
        split = splits.get(name)
        attrib = (
            f", spark {split['spark_sec']}s / oracle {split['oracle_sec']}s"
            if split
            else ""
        )
        print(
            f"[{i + 1}/{len(names)}] {name}: {status} "
            f"({timings[name]:.1f}s{attrib})",
            flush=True,
        )
        since_recycle += timings[name]
        if since_recycle >= recycle_budget_s and i + 1 < len(names):
            print(f"# recycling session after {since_recycle:.0f}s", flush=True)
            spark.stop()
            spark = get_session(app_name="sweep", cpus=cpus)
            since_recycle = 0.0
    print(f"TOTAL {len(names)} in {time.time() - t_all:.0f}s")
    print("FAILED:", failed or "none")
    # machine-readable summary (one line, bench.py convention) so sweep
    # runs self-document per-query parity timings for the round record
    import json

    summary = {
        "metric": "parity_sweep",
        "sf_dir": sf_dir,
        "n": len(names),
        "failed": failed,
        "queries": timings,
        # engine-vs-oracle attribution (r9 verdict task 3): combined
        # totals hide how much of a "950s entry" is DuckDB harness cost
        "query_splits": splits,
        "unit": "sec",
    }
    if checkpoint_dir:
        ckpt_files = sum(len(fs) for _, _, fs in os.walk(checkpoint_dir))
        summary["checkpoint_dir"] = checkpoint_dir
        summary["checkpoint_files"] = ckpt_files
        print(f"# reliable checkpoint files written: {ckpt_files}", flush=True)
    print(json.dumps(summary), flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())

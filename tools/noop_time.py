#!/usr/bin/env python
"""Isolate a query's computation cost with the noop sink (guide §1.4).

Usage: python tools/noop_time.py <name[,name...]> [SF_DIR] [CPUS] [RUNS]

CPUS defaults to $SPARK_GRAFT_CPUS, else the host's cores
(``session.DEFAULT_CPUS``).

Times ``df.write.format("noop").mode("overwrite").save()`` — every
column of every row is computed and discarded — after one warmup pass,
and prints per-query samples + median as one JSON line.  This is the
instrument for per-change A/B during the optimization rounds; bench.py
(count()-based, regression-guarded) stays the round-over-round record.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    names = [n.strip() for n in sys.argv[1].split(",") if n.strip()]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    from kinesis_to_opensearch_lambda_spark.queries import REGISTRY
    from kinesis_to_opensearch_lambda_spark.session import DEFAULT_CPUS, get_session

    cpus = sys.argv[3] if len(sys.argv) > 3 else DEFAULT_CPUS
    runs = int(sys.argv[4]) if len(sys.argv) > 4 else 3

    spark = get_session(app_name="noop-time", cpus=cpus)
    samples: dict[str, list[float]] = {}
    for name in names:
        q = REGISTRY[name]
        spark.sparkContext.setJobDescription(f"warmup:{name}")
        q.spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
        for r in range(runs):
            spark.sparkContext.setJobDescription(f"timed:{name}:{r}")
            t0 = time.perf_counter()
            q.spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
            sec = time.perf_counter() - t0
            samples.setdefault(name, []).append(round(sec, 3))
            print(f"# {name} run {r + 1}/{runs}: {sec:.3f}s", file=sys.stderr)
        spark.sparkContext.setJobDescription(None)
    print(
        json.dumps(
            {
                "metric": "noop_sink_runtime",
                "sf_dir": sf_dir,
                "cpus": cpus,
                "medians": {
                    n: round(statistics.median(v), 3) for n, v in samples.items()
                },
                "samples": samples,
                "unit": "sec",
            }
        )
    )


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Dump the formatted physical plan of every headline query to a
committed markdown artifact, so plan drift between rounds shows up in
`git diff` instead of only in narrative audits.

Usage: python tools/explain_audit.py [SF_DIR] [OUT_MD]

Defaults: the sf0.1 test data -> sweeps/EXPLAIN_HEADLINE.md.
Plans are built (not executed) except where a query's own builder runs
a planner probe; runtime is seconds.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_path = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.path.join(REPO, "sweeps", "EXPLAIN_HEADLINE.md")
    )

    from kinesis_to_opensearch_lambda_spark.queries import REGISTRY
    from kinesis_to_opensearch_lambda_spark.session import get_session

    spark = get_session(app_name="explain-audit", cpus="8")
    sf_label = sf_dir.rstrip("/").split("/")[-1]
    lines = [
        f"# Formatted physical plans — headline queries at {sf_label}",
        "",
        "Regenerate: `python tools/explain_audit.py` (writes this file).",
        "Committed so round-over-round plan drift shows up in `git diff` —",
        "the narrative audit in VERDICT/SURVEY points here for evidence.",
        "",
    ]
    for q in REGISTRY.values():
        if not q.headline:
            continue
        df = q.spark(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        lines.append(f"## {q.name}\n\n```\n{plan}\n```\n")
    with open(out_path, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out_path} ({sum(len(x) for x in lines)} chars)")


if __name__ == "__main__":
    main()

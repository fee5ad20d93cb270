"""Regenerate SURVEY.md §12 (consolidated query status table) from the
registry + CORRECTNESS files.

The table's `driver` column was hand-maintained through r8 and went
stale at every end-of-round snapshot (r6/r7/r8 verdicts all flagged
it).  This tool recomputes it deterministically:

    driver = rEarliest [→ rLatest]

where earliest/latest are passing driver CORRECTNESS rounds.
family/oracle/headline are recomputed from the registry; the only
hand-curated cell preserved from the existing table is `test ref`.
Parsed family/oracle are diffed against the recompute and a warning
is printed on mismatch.  New registry entries get fresh rows.

Usage:  python tools/survey_status.py   # rewrite SURVEY.md in place
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _correctness_rounds() -> dict[str, tuple[int, int]]:
    """name -> (earliest, latest) passing driver round."""
    spans: dict[str, tuple[int, int]] = {}
    for f in sorted(ROOT.glob("CORRECTNESS_r*.json")):
        rnd = int(f.stem.split("_r")[1])
        for name, row in json.loads(f.read_text()).items():
            if isinstance(row, dict) and row.get("rows_match") and not row.get("err"):
                lo, hi = spans.get(name, (rnd, rnd))
                spans[name] = (min(lo, rnd), max(hi, rnd))
    return spans


def _driver_cell(name: str, spans) -> str:
    if name not in spans:
        return "—"
    lo, hi = spans[name]
    return f"r{lo} → r{hi}" if hi > lo else f"r{lo}"


def build_table() -> str:
    """Return the fresh §12 block (header + table).

    family/oracle are RECOMPUTED from the registry (the table's source
    of truth); the only hand-curated cell carried over from the
    existing table is `test ref`.  Parsed family/oracle values are
    compared against the recomputed ones and a warning is printed on
    drift, so a hand-edit that disagrees with the registry is surfaced
    instead of silently overwritten."""
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    from kinesis_to_opensearch_lambda_spark.queries import REGISTRY

    spans = _correctness_rounds()

    survey = (ROOT / "SURVEY.md").read_text()
    # Parse existing table rows: testref is preserved; family/oracle
    # are kept only to cross-check against the registry recompute.
    existing: dict[str, tuple[str, str, str]] = {}  # name -> (family, oracle, testref)
    m = re.search(
        r"^## 12\..*?^\| query \|.*?\n\|[-| ]+\|\n(.*?)(?=^## |\Z)",
        survey,
        re.S | re.M,
    )
    if m:
        for line in m.group(1).strip().splitlines():
            cells = [c.strip() for c in line.strip().strip("|").split("|")]
            if len(cells) >= 6:
                existing[cells[0]] = (cells[1], cells[2], cells[5])

    rows = []
    for name in sorted(REGISTRY):
        q = REGISTRY[name]
        family = q.spark.__module__.rsplit(".", 1)[-1].replace("_queries", "")
        oracle = "sql" if q.oracle is not None else "rows-only"
        headline = "yes" if q.headline else ""
        old_family, old_oracle, testref = existing.get(name, ("", "", ""))
        if name in existing:
            if old_family and old_family != family:
                print(
                    f"warning: {name}: table family {old_family!r} != "
                    f"registry {family!r} (recomputed value wins)",
                    file=sys.stderr,
                )
            if old_oracle and old_oracle != oracle:
                print(
                    f"warning: {name}: table oracle {old_oracle!r} != "
                    f"registry {oracle!r} (recomputed value wins)",
                    file=sys.stderr,
                )
        driver = _driver_cell(name, spans)
        rows.append(f"| {name} | {family} | {oracle} | {driver} | {headline} | {testref} |")

    header = (
        "## 12. Consolidated query status (generated) — single audit "
        "table\n\n"
        "One row per registered query — REGENERATED by "
        "`python tools/survey_status.py` (do not hand-edit; the r6/r7/r8 "
        "staleness findings are why).  family = registering module under "
        "`operators/`; oracle = `sql` (full DuckDB value-hash parity) or "
        "`rows-only` (non-SQL-expressible, driver records the weaker "
        "check); driver = earliest → latest round with a PASSING driver "
        "CORRECTNESS row; test ref = first "
        "query-specific test beyond the registry-wide parity/plan/"
        "no-row-Python sweeps that every entry gets "
        "(`tests/test_oracle_parity.py` all entries at sf0.01 "
        "comparator-strict, `tests/test_plans.py` no-row-Python over the "
        "whole registry, `tests/test_harness_integrity.py` "
        "non-empty-oracle guard).  `streaming_stateful_highwater` is "
        "capability-probed (needs protobuf).\n\n"
        "| query | family | oracle | driver | headline | test ref |\n"
        "|---|---|---|---|---|---|\n"
    )
    return header + "\n".join(rows) + "\n\n"


def main() -> int:
    survey_path = ROOT / "SURVEY.md"
    survey = survey_path.read_text()
    block = build_table()
    pattern = re.compile(r"^## 12\..*?(?=^## |\Z)", re.S | re.M)
    if not pattern.search(survey):
        print("SURVEY.md §12 block not found", file=sys.stderr)
        return 2
    survey_path.write_text(pattern.sub(lambda _: block, survey, count=1))
    print("SURVEY.md §12 regenerated")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Guards on tools/survey_status.py — the SURVEY §12 generator.

The table's *content* intentionally changes whenever a new CORRECTNESS
file lands, so there is NO staleness assertion here (that would be the
red-by-calendar failure class the r9 invariant rework eliminated).
What must always hold: the generator emits one row per registry entry
and renders each driver cell from the passing CORRECTNESS rounds only.
(The test names predate the removal of the driver-window column.)"""

from __future__ import annotations


def test_generated_table_covers_registry_and_window():
    from tools.survey_status import build_table

    from kinesis_to_opensearch_lambda_spark.queries import REGISTRY

    block = build_table()
    rows = [
        line for line in block.splitlines()
        if line.startswith("| ") and not line.startswith("| query ")
    ]
    names = {line.split("|")[1].strip() for line in rows}
    assert names == set(REGISTRY)
    assert len(rows) == len(REGISTRY)


def test_driver_cell_spans_and_window_suffix():
    from tools.survey_status import _driver_cell

    spans = {"q1": (2, 2), "q2": (2, 7)}
    assert _driver_cell("q1", spans) == "r2"
    assert _driver_cell("q2", spans) == "r2 → r7"
    assert _driver_cell("gone", spans) == "—"

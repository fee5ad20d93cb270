"""Local replica of the driver's DuckDB-oracle correctness gate.

Builds a registered Spark query once, checks the no-row-Python ban on
the plan it is about to execute, then runs it and its oracle SQL side
by side and compares row count, column names, and canonicalized values
— strict (exact string equality after canonicalization), because the
driver compares by value hash.  A passed ban check is remembered per
builder, so ``assert_python_ban`` re-checks a query parity already ran
without building it a second time.
"""

from __future__ import annotations

import math
from datetime import date, datetime

import duckdb
import pandas as pd

from kinesis_to_opensearch_lambda_spark.plans import python_eval_nodes
from kinesis_to_opensearch_lambda_spark.sources.batch import TABLES


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, float):
        # Dtype-faithful: the driver hashes values as materialized, so an
        # int64 3 and a float64 3.0 MUST differ here (round-1 lesson: DuckDB
        # sum(CASE…) returns HUGEINT → pandas float64 while Spark returns
        # int64; the old `3.0`→`3` collapse hid that drift).
        if math.isnan(v):
            return "<null>"  # pandas NULL-float
        return repr(float(v))
    if isinstance(v, (datetime, date, pd.Timestamp)):
        return str(v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if pd.isna(v):
        return "<null>"
    return str(v)


def _rows(df: pd.DataFrame) -> list[tuple[str, ...]]:
    df = df.reindex(sorted(df.columns), axis=1)
    return sorted(tuple(_canon(v) for v in row) for row in df.itertuples(index=False))


# The only queries allowed to run (Arrow-batched) Python: multimodal
# decode plumbing and the grouped-map model-fitting operator.
ARROW_ALLOWLIST = {
    "mm_frame_extract",
    "mm_audio_windows",
    "mm_phash_neardup",
    "mm_av_sync_join",  # composes the two Arrow fan-outs above
    "grouped_map_regression",
    "emb_gram_matrix",
}


# (builder, sf_dir) pairs whose built plan passed the ban this session.
# Keyed by the builder, not the name, so a test that swaps a builder in
# never stands for the registered one.
_BAN_PASSED: set[tuple[object, str]] = set()


def _check_python_ban(name: str, build, sf_dir: str, df) -> None:
    # Row-at-a-time Python UDFs are banned engine-wide; only Arrow-batched
    # nodes may appear, and only in the allowlisted ops.
    nodes = python_eval_nodes(df)
    assert "BatchEvalPython" not in nodes, f"{name}: {nodes}"
    if name not in ARROW_ALLOWLIST:
        assert nodes == [], f"{name} unexpectedly runs Python: {nodes}"
    _BAN_PASSED.add((build, sf_dir))


def assert_python_ban(spark, name: str, sf_dir: str) -> None:
    """Check the no-row-Python ban on ``name`` at ``sf_dir``.  A query
    whose plan ``timed_parity`` already checked this session is not
    built again; any other is built here and its plan checked."""
    from kinesis_to_opensearch_lambda_spark.queries import REGISTRY

    build = REGISTRY[name].spark
    if (build, sf_dir) not in _BAN_PASSED:
        _check_python_ban(name, build, sf_dir, build(spark, sf_dir))


def timed_parity(spark, name: str, sf_dir: str) -> dict[str, float]:
    """Build ``name`` once, check the no-row-Python ban on its plan
    before anything executes (``toPandas`` then runs that same
    ``QueryExecution``, so the plan is not built twice), and compare
    its rows with the oracle's.  Returns a cost attribution:
    ``{"spark_sec": ..., "oracle_sec": ..., "compare_sec": ...}``
    (oracle/compare 0.0 for rows-only entries).  Sweep artifacts
    record the split so harness cost is never mistaken for engine
    cost — the r6 triangle lesson (a 950s combined figure that was
    mostly oracle) made structural per the r9 verdict.  compare_sec
    (the pure-Python row canonicalization both result sets pass
    through) was added after the r10 relational sweep showed it
    DOMINATING wide results: window_range_frame at sf10 was 165.7s
    total but only 4.1s Spark + 8.7s DuckDB — the other ~150s was the
    comparator, and without the third bucket that read as engine
    cost."""
    import time

    from kinesis_to_opensearch_lambda_spark.queries import REGISTRY

    q = REGISTRY[name]
    t0 = time.perf_counter()
    df = q.spark(spark, sf_dir)
    _check_python_ban(name, q.spark, sf_dir, df)
    actual = df.toPandas()
    spark_sec = round(time.perf_counter() - t0, 2)
    if q.oracle is None:
        assert len(actual) >= 0  # rows-only smoke
        return {"spark_sec": spark_sec, "oracle_sec": 0.0, "compare_sec": 0.0}
    t0 = time.perf_counter()
    con = duck_con(sf_dir)
    expected = con.execute(q.oracle).fetchdf()
    oracle_sec = round(time.perf_counter() - t0, 2)
    t_cmp = time.perf_counter()

    assert sorted(actual.columns) == sorted(expected.columns), (
        f"{name}: column mismatch\n spark={sorted(actual.columns)}\n "
        f"duckdb={sorted(expected.columns)}"
    )
    assert len(actual) == len(expected), (
        f"{name}: row count {len(actual)} (spark) != {len(expected)} (duckdb)"
    )
    a_rows, e_rows = _rows(actual), _rows(expected)
    if a_rows != e_rows:
        diffs = [
            f"  spark  row {i}: {a}\n  duckdb row {i}: {e}"
            for i, (a, e) in enumerate(zip(a_rows, e_rows))
            if a != e
        ][:5]
        raise AssertionError(
            f"{name}: value mismatch ({len(diffs)}+ differing rows shown)\n"
            + "\n".join(diffs)
        )
    return {
        "spark_sec": spark_sec,
        "oracle_sec": oracle_sec,
        "compare_sec": round(time.perf_counter() - t_cmp, 2),
    }

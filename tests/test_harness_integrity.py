"""Guards on the verification harness itself: no trivially-empty
oracle matches, the comparator genuinely detects mismatches, and the
parity check enforces the no-row-Python ban before it runs a query.

The non-empty guard runs on the DuckDB side only, so each query is
built and executed in Spark once per suite, by ``test_oracle_parity``;
``timed_parity`` checks the ban on that one build's plan."""

from __future__ import annotations

import dataclasses

import pandas as pd
import pytest

from kinesis_to_opensearch_lambda_spark.queries import REGISTRY

from .conftest import SF_DIR
from .oracle_compare import _rows, assert_python_ban, duck_con, timed_parity


@pytest.fixture(scope="module")
def duck():
    con = duck_con(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize(
    "name", sorted(n for n, q in REGISTRY.items() if q.oracle is not None)
)
def test_oracle_checked_queries_non_empty(duck, name):
    """An empty result matches an empty oracle trivially (the q7 nation
    mismatch hid exactly this way) — every oracle-checked query must
    produce rows at the driver's gate scale.

    Asserted on the oracle: ``test_oracle_parity`` already requires the
    Spark result to have the oracle's row count, so a non-empty oracle
    plus parity proves the Spark result is non-empty too, without
    running the query in Spark a second time."""
    (n,) = duck.execute(
        f"SELECT count(*) FROM ({REGISTRY[name].oracle}) AS q"
    ).fetchone()
    assert n > 0, f"{name} oracle returns no rows at {SF_DIR} — trivial match"


def test_comparator_detects_value_mismatch():
    a = pd.DataFrame({"k": [1, 2], "v": [1.5, 2.5]})
    b = pd.DataFrame({"k": [1, 2], "v": [1.5, 2.6]})
    assert _rows(a) != _rows(b)


def test_comparator_detects_row_swap_insensitively():
    a = pd.DataFrame({"k": [1, 2], "v": ["x", "y"]})
    b = pd.DataFrame({"k": [2, 1], "v": ["y", "x"]})
    assert _rows(a) == _rows(b)  # order-insensitive by design


def test_comparator_is_dtype_faithful():
    """The driver hashes values as materialized: an int64 3 and a float64
    3.0 hash differently (the round-1 HUGEINT drift). The local gate must
    be at least as strict — `3.0` vs `3` MUST fail."""
    a = pd.DataFrame({"v": [3.0]})
    b = pd.DataFrame({"v": [3]})
    assert _rows(a) != _rows(b)


def test_comparator_still_normalizes_nulls():
    a = pd.DataFrame({"v": [None]}, dtype="float64")
    b = pd.DataFrame({"v": [float("nan")]})
    assert _rows(a) == _rows(b)


def test_comparator_detects_negative_zero():
    a = pd.DataFrame({"v": [0.0]})
    b = pd.DataFrame({"v": [-0.0]})
    assert _rows(a) != _rows(b)


def test_parity_checks_python_ban_before_running(spark, monkeypatch):
    """``timed_parity`` builds a query once and rejects a row-at-a-time
    Python UDF in its plan before any Spark job runs it."""
    from pyspark.sql import functions as F

    name = "tpch_q1_pricing_summary"
    builds = []

    def row_udf_build(spark, sf_dir):
        builds.append(sf_dir)
        return spark.range(3).select(F.udf(lambda x: x, "long")("id").alias("id"))

    monkeypatch.setitem(REGISTRY, name, dataclasses.replace(REGISTRY[name], spark=row_udf_build))
    sc = spark.sparkContext
    sc.setJobGroup("python-ban-spy", "timed_parity over a row-UDF frame")
    try:
        with pytest.raises(AssertionError, match="BatchEvalPython"):
            timed_parity(spark, name, SF_DIR)
        assert sc.statusTracker().getJobIdsForGroup("python-ban-spy") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    assert builds == [SF_DIR]


def test_python_ban_builds_a_checked_builder_once(spark, monkeypatch):
    """``assert_python_ban`` skips the build of a builder whose plan
    already passed the ban at that scale, and keeps rejecting one that
    failed it."""
    from pyspark.sql import functions as F

    name = "tpch_q1_pricing_summary"
    builds = []

    def clean_build(spark, sf_dir):
        builds.append(sf_dir)
        return spark.range(3)

    def row_udf_build(spark, sf_dir):
        builds.append(sf_dir)
        return spark.range(3).select(F.udf(lambda x: x, "long")("id").alias("id"))

    monkeypatch.setitem(REGISTRY, name, dataclasses.replace(REGISTRY[name], spark=clean_build))
    assert_python_ban(spark, name, SF_DIR)
    assert_python_ban(spark, name, SF_DIR)
    assert builds == [SF_DIR]

    builds.clear()
    monkeypatch.setitem(REGISTRY, name, dataclasses.replace(REGISTRY[name], spark=row_udf_build))
    for _ in range(2):
        with pytest.raises(AssertionError, match="BatchEvalPython"):
            assert_python_ban(spark, name, SF_DIR)
    assert builds == [SF_DIR, SF_DIR]

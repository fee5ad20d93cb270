"""Guards on the verification harness itself: no trivially-empty
oracle matches, and the comparator genuinely detects mismatches.

The non-empty guard runs on the DuckDB side only, so each query is
executed in Spark once per suite (by ``test_oracle_parity``)."""

from __future__ import annotations

import pandas as pd
import pytest

from kinesis_to_opensearch_lambda_spark.queries import REGISTRY

from .conftest import SF_DIR
from .oracle_compare import _rows, duck_con


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

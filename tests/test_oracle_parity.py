"""Every registered query hash-matches its DuckDB oracle at sf0.01 —
the local replica of the driver's CORRECTNESS gate — and obeys the
no-row-Python ban on the plan that parity executes.  This is the one
test that builds every registered query, once each."""

from __future__ import annotations

import pytest

from kinesis_to_opensearch_lambda_spark.queries import REGISTRY

from .conftest import SF_DIR
from .oracle_compare import timed_parity


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_parity(spark, name):
    timed_parity(spark, name, SF_DIR)

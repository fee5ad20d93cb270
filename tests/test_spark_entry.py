"""The driver contract in ``__spark_entry__.py``: ``queries()`` and
``oracle_sql()`` expose exactly the registry, whatever its order."""

from __future__ import annotations

import __spark_entry__ as spark_entry

from kinesis_to_opensearch_lambda_spark.queries import REGISTRY


def test_queries_and_oracles_cover_the_registry():
    queries, oracles = spark_entry.queries(), spark_entry.oracle_sql()
    assert set(queries) == set(oracles) == set(REGISTRY)
    assert len(REGISTRY) == 247


def test_contract_values_are_builders_and_sql():
    assert all(callable(fn) for fn in spark_entry.queries().values())
    assert all(
        isinstance(sql, str) and sql.strip() for sql in spark_entry.oracle_sql().values()
    )

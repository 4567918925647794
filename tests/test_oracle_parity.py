"""Replicates the correctness driver's check for every catalog entry
that declares an oracle: row count, column set, and order-insensitive
*exact* value equality between the Spark plan and the DuckDB SQL at
sf0.001. Exactness (not tolerance) is the bar because the driver
hash-compares values — functions.exact documents how the plans earn
bit-identical floats.
"""

from __future__ import annotations

import pytest

from pyspark_airflow_weather_etl_spark.plans import REGISTRY
from pyspark_airflow_weather_etl_spark.plans.registry import oracle_mismatches

from conftest import SF_DIR

WITH_ORACLE = sorted(name for name, q in REGISTRY.items() if q.oracle)
ROWS_ONLY = sorted(name for name, q in REGISTRY.items() if not q.oracle)


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_parity(spark, duck, name):
    q = REGISTRY[name]
    bad = oracle_mismatches(
        q.fn(spark, SF_DIR).toPandas(), duck.execute(q.oracle).fetchdf()
    )
    assert not bad, f"{name}: {len(bad)} mismatches, first {bad[:5]}"


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    """Oracle-less entries must execute, return a stable schema and at
    least one row (the driver's rows-only check)."""
    df = REGISTRY[name].fn(spark, SF_DIR)
    assert df.columns
    assert df.count() >= 1

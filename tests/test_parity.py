"""Spark-vs-DuckDB parity for every registered query with an oracle —
a local mirror of the driver's t2 correctness gate (sf0.001 for speed;
the driver runs sf0.01)."""

from __future__ import annotations

import pytest
from pyspark.sql.types import DecimalType

from ntripmonitor_spark.plans import REGISTRY
from tests.oracle import compare_query

ORACLE_QUERIES = sorted(n for n, q in REGISTRY.items() if q.oracle)


def decimal_outputs(df):
    """No registered query emits a DECIMAL(p,s) output column
    (DECIMAL as an internal exact-sum carrier is fine)."""
    return [f.name for f in df.schema.fields if isinstance(f.dataType, DecimalType)]


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_parity(spark, sf_dir, name):
    q = REGISTRY[name]
    built = []

    def fn(spark, sf_dir):
        built.append(q.fn(spark, sf_dir))
        return built[-1]

    ok, msg = compare_query(spark, sf_dir, name, fn, q.oracle)
    assert ok, msg
    assert not decimal_outputs(built[0]), f"{name}: DECIMAL output columns"


def test_rows_only_queries_run(spark, sf_dir):
    """Queries without an oracle must still run and return a schema."""
    for name, q in REGISTRY.items():
        if q.oracle is None:
            df = q.fn(spark, sf_dir)
            assert df.columns, f"{name}: empty schema"
            assert not decimal_outputs(df), f"{name}: DECIMAL output columns"
            df.limit(5).collect()

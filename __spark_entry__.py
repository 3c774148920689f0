"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (the reference's "Data flow
$__interval-average [kB/s]" panel shape, RTCM monitor.json:645) at
sf0.001. ``queries()`` exposes every registered query under its
registry name: the implemented operators from SURVEY.md §2 plus the
training-data pipeline extensions;
``oracle_sql()`` gives the DuckDB-equivalent SQL for each (queries
without an entry are checked rows-only by the driver).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _pin_utc(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    """Pin the session time zone to UTC before planning.

    The engine's own session builder (ntripmonitor_spark/session.py) pins
    UTC, but the driver supplies its own SparkSession here. Epoch
    arithmetic on TIMESTAMP_NTZ columns (functions/timeutil.epoch_us) and
    timestamp collection both reinterpret through the session zone, and
    the DuckDB oracle treats naive timestamps as UTC wall time — so the
    contract only holds under UTC. Idempotent; a no-op when already UTC.
    """

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return fn(spark, sf_dir)

    return wrapped


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from ntripmonitor_spark.plans import REGISTRY

    return _pin_utc(REGISTRY["q05_rate_normalization"].fn)(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per registered query, under its registry name."""
    from ntripmonitor_spark.plans import REGISTRY

    return {name: _pin_utc(q.fn) for name, q in sorted(REGISTRY.items())}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per query (omitted → rows-only check)."""
    from ntripmonitor_spark.plans import REGISTRY

    return {name: q.oracle for name, q in sorted(REGISTRY.items()) if q.oracle}

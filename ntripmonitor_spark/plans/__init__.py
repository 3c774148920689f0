"""Declared query plans: each operator from SURVEY.md §2 (and the
training-data-pipeline extensions) as a named query with

  * a Spark callable ``(spark, sf_dir) -> DataFrame``
  * an equivalent DuckDB-runnable oracle SQL string (or None for
    non-SQL-expressible ops, which the driver checks rows-only)

Import side effects register everything into ``registry.REGISTRY``.
"""

from ntripmonitor_spark.plans import relational, pipeline, rtcm, sessions_plans, sourcetable_plans, joins_plans, retrieval_plans, timeseries_plans, skew_plans, media_plans  # noqa: F401
from ntripmonitor_spark.plans.registry import REGISTRY, Query  # noqa: F401

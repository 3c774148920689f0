"""Skew-mitigation plans (sj*): the salted shapes a 100 TB corpus needs
when one GROUP BY / join key holds a double-digit share of the rows.

The events table's ``event_type`` has single-digit cardinality — every
per-type operation is maximally skewed by construction, which is what
makes it the right demo column: an unsalted exact distinct or
non-broadcast join on it funnels ~1/5 of the corpus through one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ntripmonitor_spark.operators import skew
from ntripmonitor_spark.plans.registry import register
from ntripmonitor_spark.tables import table


@register(
    "sj01_salted_distinct",
    tags=("skew",),
    doc="Skew-safe exact distinct users per event type (salted two-phase).",
    oracle="""
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct
FROM events GROUP BY event_type
""",
)
def sj01_salted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-event-type distinct-user count through the salted
    two-phase shape (operators/skew.py): phase 1 groups by
    (event_type, hash(user_id) % 32) so no task ever holds a hot
    type's full distinct-user state; phase 2 sums 32 disjoint partial
    counts per type. Same answer as the naive plan, minus the one-hot-
    reducer melt-down at scale."""
    return skew.salted_distinct_count(
        table(spark, sf_dir, "events"), "event_type", "user_id"
    )


@register(
    "sj02_salted_join",
    tags=("skew",),
    doc="Skewed fact-to-stats join via deterministic salting.",
    oracle="""
WITH m AS (
    SELECT event_type, round(avg(value), 6) AS mean_v FROM events GROUP BY 1
)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN e.value > m.mean_v THEN 1 ELSE 0 END) AS BIGINT) AS n_above
FROM events e JOIN m USING (event_type)
GROUP BY e.event_type
""",
)
def sj02_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type mean join-back (the normalization join every feature
    pipeline runs) through the salted replicate join: the fact side
    salts on hash(event_id) % 32, the 5-row stats side explodes ×32,
    and the join key widens to (event_type, _salt) — a hot type
    spreads over 32 reducers instead of one. The mean is rounded to 6
    decimals BEFORE the compare on both engines so the value-hash is
    independent of float summation order."""
    ev = table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(F.round(F.avg("value"), 6).alias("mean_v"))
    joined = skew.salted_join(ev, stats, "event_type", "event_id")
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("value") > F.col("mean_v"), 1).otherwise(0)).alias("n_above"),
    )

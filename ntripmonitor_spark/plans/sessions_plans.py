"""Sessionization queries (sn*) over the events stream table — the
declarative mirror of the reference's connection-logger surface (K5,
§2.6 sessionization; dashboard outage panel RTCM monitor.json:765)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ntripmonitor_spark.plans.registry import register
from ntripmonitor_spark.streaming import sessions
from ntripmonitor_spark.tables import table


@register(
    "sn01_user_sessions",
    tags=("sessions",),
    oracle="""
WITH e AS (
    SELECT user_id, ts, epoch_us(ts) AS ts_us,
           lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_us
    FROM events
),
s AS (
    SELECT user_id, ts, ts_us,
           sum(CASE WHEN prev_us IS NULL OR ts_us - prev_us <= 1800000000
                    THEN 0 ELSE 1 END)
             OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS sess
    FROM e
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) AS session_end,
       CAST(count(*) AS INT) AS n_events,
       (max(ts_us) - min(ts_us)) // 1000000 AS duration_s
FROM s
GROUP BY user_id, sess
""",
)
def sn01_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based (30 min) sessionization: lag → cumsum → aggregate,
    one shuffle on the session key."""
    return sessions.sessionize_batch(table(spark, sf_dir, "events"))


@register(
    "sn02_reconnect_pairs",
    tags=("sessions",),
    oracle="""
WITH e AS (
    SELECT user_id, event_id, event_type, ts,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
    FROM events
)
SELECT user_id,
       ts AS disconnect_time,
       next_ts AS reconnect_time,
       (epoch_us(next_ts) - epoch_us(ts)) // 1000000 AS outage_s
FROM e WHERE event_type = 'error'
""",
)
def sn02_reconnect_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disconnect→reconnect pairing (K5): reconnect = next event of
    the same key; open outages have NULL reconnect."""
    return sessions.reconnect_pairs(table(spark, sf_dir, "events"))


@register(
    "sn03_native_sessions",
    tags=("sessions",),
    doc="Gap sessions via Spark's native session_window aggregate.",
    oracle="""
WITH flagged AS (
    SELECT user_id, ts,
           CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                     OVER (PARTITION BY user_id ORDER BY ts) >= 1800000000
                THEN 1 ELSE 0 END AS new_s
    FROM events
),
sess AS (
    SELECT user_id, ts,
           sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
    FROM flagged
)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       CAST(count(*) AS INT) AS n_events,
       CAST(floor((epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000) AS BIGINT) AS duration_s
FROM sess GROUP BY user_id, sid
""",
)
def sn03_native_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sn01's sessions through the engine-native session_window
    aggregate (one keyed exchange, merge-on-aggregate): the exact
    operator a streaming sessionization reuses with a watermark. The
    oracle pins the native gap rule (close at gap >= 30 min, where
    sn01's flag formulation closes only at gap > 30 min)."""
    from ntripmonitor_spark.streaming import sessions

    return sessions.sessionize_native(table(spark, sf_dir, "events"))

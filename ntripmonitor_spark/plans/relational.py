"""Relational/analytic operator set from SURVEY.md §2.5 (Q1-Q22), mapped
onto the synthetic tables per FIXTURES.md §B.

Each query is idiomatic DataFrame API (Catalyst plans it: pushdown,
pruning, broadcast selection); the oracle is the equivalent SQL DuckDB
runs on the same parquet. Every computed column is aliased identically
on both sides (the driver's value-hash sorts columns by name).

Reference citations point at the operator being reproduced, e.g. the
tumbling-window aggregation shape of the Grafana panels
(`initgrafana/dashboards/RTCM monitor.json:126,645`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ntripmonitor_spark.tables import table
from ntripmonitor_spark.plans.registry import register

# Deterministic "now" for COALESCE(reconnect, now()) shapes (Q15):
# the events table spans 2024-01; a fixed post-range instant keeps the
# query a pure function of its inputs (SURVEY §7.3 determinism stance).
NOW_TS = "2024-02-15 00:00:00"


def _dsum(col, scale: int = 2):
    """Order-independent SUM of a money-like double: aggregate exactly in
    DECIMAL, cast back to DOUBLE. Double summation order differs between
    Spark partial aggregates and the DuckDB oracle (and between runs at
    different parallelism); exact decimal aggregation makes the result
    bit-identical everywhere — the same trick a 1000-executor cluster
    needs for reproducible money sums."""
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double")


# ---------------------------------------------------------------------------
# Q2/Q17 — hash aggregate AVG/SUM/COUNT/MIN/MAX (TPC-H Q1 shape)
# ref: every Grafana panel, e.g. RTCM monitor.json:126 (AVG,SUM), :949 (COUNT)
# ---------------------------------------------------------------------------
@register(
    "q01_pricing_summary",
    tags=("Q2", "Q17"),
    oracle="""
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(6,4))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(6,4)) * CAST(1 + l_tax AS DECIMAL(6,4))) AS DOUBLE) AS sum_charge,
       avg(l_quantity) AS avg_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
       CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-aggregate hash agg over two group keys (SURVEY Q2)."""
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    price_d = F.col("l_extendedprice").cast("decimal(18,2)")
    disc_d = (1 - F.col("l_discount")).cast("decimal(6,4)")
    tax_d = (1 + F.col("l_tax")).cast("decimal(6,4)")
    n = F.count(F.lit(1))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
        F.sum(price_d * disc_d).cast("double").alias("sum_disc_price"),
        F.sum(price_d * disc_d * tax_d).cast("double").alias("sum_charge"),
        F.avg("l_quantity").alias("avg_qty"),
        (_dsum(F.col("l_extendedprice")) / n).alias("avg_price"),
        (_dsum(F.col("l_discount")) / n).alias("avg_disc"),
        n.alias("count_order"),
    )


# ---------------------------------------------------------------------------
# Q1 — tumbling time-window aggregation ($__timeGroup)
# ref: RTCM monitor.json:126,248,645,949,1072 — $__timeGroup(receive_time, $__interval)
# ---------------------------------------------------------------------------
@register(
    "q02_tumbling_window",
    tags=("Q1", "Q2"),
    oracle="""
SELECT time_bucket(INTERVAL '5 minutes', ts) AS bucket,
       event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def q02_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute tumbling window count/sum per event_type (SURVEY Q1).

    Uses ``window()`` (streaming-capable) rather than date_trunc so the
    identical plan runs under Structured Streaming with a watermark.
    """
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), _dsum(F.col("value")).alias("sum_value"))
        .select(F.col("w.start").alias("bucket"), "event_type", "n_events", "sum_value")
    )


# ---------------------------------------------------------------------------
# Q3 — conditional (filtered) aggregation / manual pivot
# ref: RTCM monitor.json:126 SUM(CASE WHEN rtcm_msg_type BETWEEN …);
#      Disturbances.json:122 AVG(CASE WHEN sat_signal='L1C' THEN obs_snr END)
# ---------------------------------------------------------------------------
@register(
    "q03_conditional_agg",
    tags=("Q3",),
    oracle="""
SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_purchase,
       CAST(sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
           / count(CASE WHEN event_type = 'click' THEN 1 END) AS avg_click,
       CAST(sum(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
           / count(CASE WHEN event_type = 'view' THEN 1 END) AS avg_view,
       count(CASE WHEN event_type = 'error'  THEN 1 END)     AS n_error,
       count(CASE WHEN event_type = 'signup' THEN 1 END)     AS n_signup
FROM events
GROUP BY 1
""",
)
def q03_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manual pivot via sum/avg(CASE WHEN …) per hourly bucket (SURVEY Q3)."""
    ev = table(spark, sf_dir, "events")
    t = F.col("event_type")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            _dsum(F.when(t == "purchase", F.col("value"))).alias("sum_purchase"),
            (_dsum(F.when(t == "click", F.col("value"))) / F.count(F.when(t == "click", F.lit(1)))).alias("avg_click"),
            (_dsum(F.when(t == "view", F.col("value"))) / F.count(F.when(t == "view", F.lit(1)))).alias("avg_view"),
            F.count(F.when(t == "error", F.lit(1))).alias("n_error"),
            F.count(F.when(t == "signup", F.lit(1))).alias("n_signup"),
        )
        .select(F.col("w.start").alias("bucket"), "sum_purchase", "avg_click", "avg_view", "n_error", "n_signup")
    )


# ---------------------------------------------------------------------------
# Q3 (pivot form) — groupBy().pivot() with a closed column set
# ---------------------------------------------------------------------------
@register(
    "q04_pivot_linestatus",
    tags=("Q3",),
    oracle="""
SELECT l_returnflag,
       sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS qty_o,
       sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS qty_f
FROM lineitem
GROUP BY l_returnflag
""",
)
def q04_pivot_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pivot() — the engine-native spelling of the dashboards' manual
    CASE pivots (SURVEY Q3)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .sum("l_quantity")
        .withColumnRenamed("O", "qty_o")
        .withColumnRenamed("F", "qty_f")
    )


# ---------------------------------------------------------------------------
# Q5 — rate normalization: SUM(x)/interval_seconds (+ /8/1024 kB/s)
# ref: RTCM monitor.json:645 "Data flow $__interval-average [kB/s]"
# ---------------------------------------------------------------------------
@register(
    "q05_rate_normalization",
    tags=("Q1", "Q5"),
    oracle="""
SELECT time_bucket(INTERVAL '10 minutes', ts) AS bucket,
       event_type,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / 600.0            AS rate_per_s,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / 600.0 / 8 / 1024 AS kb_per_s
FROM events
GROUP BY 1, 2
""",
)
def q05_rate_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship 'data flow kB/s' panel shape (SURVEY Q5):
    windowed SUM divided by the bucket width in seconds."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(_dsum(F.col("value")).alias("_sv"))
        .select(
            F.col("w.start").alias("bucket"),
            "event_type",
            (F.col("_sv") / F.lit(600.0)).alias("rate_per_s"),
            (F.col("_sv") / F.lit(600.0) / 8 / 1024).alias("kb_per_s"),
        )
    )


# ---------------------------------------------------------------------------
# Q4 — two-level aggregation (agg of agg)
# ref: RTCM monitor.json:126,529 — subquery per (mountpoint,bucket), AVG over buckets
# ---------------------------------------------------------------------------
@register(
    "q06_agg_of_agg",
    tags=("Q4",),
    oracle="""
SELECT o_custkey,
       CAST(sum(month_spend_d) AS DOUBLE) / count(*) AS avg_monthly_spend,
       count(*) AS n_months
FROM (
    SELECT o_custkey, date_trunc('month', o_orderdate) AS month,
           sum(CAST(o_totalprice AS DECIMAL(18,2))) AS month_spend_d
    FROM orders
    GROUP BY 1, 2
)
GROUP BY o_custkey
""",
)
def q06_agg_of_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained groupBy: per (custkey, month) SUM, then AVG across months
    (SURVEY Q4)."""
    orders = table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        "o_custkey", F.date_trunc("month", F.col("o_orderdate")).alias("month")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("month_spend_d"))
    return monthly.groupBy("o_custkey").agg(
        (F.sum("month_spend_d").cast("double") / F.count(F.lit(1))).alias("avg_monthly_spend"),
        F.count(F.lit(1)).alias("n_months"),
    )


# ---------------------------------------------------------------------------
# Q6 — fact ↔ dim equi-join (broadcast)
# ref: RTCM monitor.json:126,529,850 INNER JOIN sourcetable_constants ON mountpoint
# ---------------------------------------------------------------------------
@register(
    "q07_dim_join",
    tags=("Q6", "Q2"),
    oracle="""
SELECT c.c_mktsegment,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
       CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_acctbal
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1
""",
)
def q07_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-dim equi-join with an explicitly broadcast dimension
    (SURVEY Q6) — the sourcetable_constants join of the dashboards."""
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum(F.col("o_totalprice")).alias("sum_total"),
            (_dsum(F.col("c_acctbal")) / F.count(F.lit(1))).alias("avg_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Q7 — semi-join on derived DISTINCT subquery
# ref: RTCM monitor.json:422 JOIN (SELECT DISTINCT mountpoint …) USING mountpoint
# ---------------------------------------------------------------------------
@register(
    "q08_semi_join",
    tags=("Q7", "Q11"),
    oracle="""
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE c_custkey IN (
    SELECT DISTINCT o_custkey FROM orders
    WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00' AND TIMESTAMP '1995-12-31 23:59:59'
)
""",
)
def q08_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join against a time-filtered DISTINCT key set (SURVEY Q7)."""
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    active = (
        orders.filter(
            F.col("o_orderdate").between(
                F.lit("1995-01-01 00:00:00").cast("timestamp"),
                F.lit("1995-12-31 23:59:59").cast("timestamp"),
            )
        )
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    return customer.join(active, "c_custkey", "left_semi").select("c_custkey", "c_name", "c_mktsegment")


# ---------------------------------------------------------------------------
# Q8 — multi-way join (3 tables)
# ref: RTCM monitor.json:850 coordinates ⋈ rtcm_packages ⋈ sourcetable_constants
# ---------------------------------------------------------------------------
@register(
    "q09_three_way_join",
    tags=("Q8", "Q9"),
    oracle="""
SELECT c.c_mktsegment,
       n.n_name,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l.l_discount AS DECIMAL(6,4))) AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey  = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
GROUP BY 1, 2
""",
)
def q09_three_way_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ orders ⋈ customer ⋈ nation with pushed time filter
    (SURVEY Q8); AQE/broadcast pick the physical join order."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1994-01-01 00:00:00").cast("timestamp")
    )
    customer = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_mktsegment", "n_name")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (1 - F.col("l_discount")).cast("decimal(6,4)")
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Q9/Q10/Q11/Q22 — predicate battery (IN-list, BETWEEN, !=, IS NOT NULL),
# expressed as parameterized SQL (Q22: Grafana $variables).
# ref: RTCM monitor.json:248,949,765
# ---------------------------------------------------------------------------
@register(
    "q10_predicates",
    tags=("Q9", "Q10", "Q11", "Q22"),
    oracle="""
SELECT l_returnflag,
       count(*)        AS n_rows,
       sum(l_quantity) AS sum_qty
FROM lineitem
WHERE l_returnflag IN ('A', 'R')
  AND l_shipdate BETWEEN TIMESTAMP '1994-01-01 00:00:00' AND TIMESTAMP '1996-12-31 23:59:59'
  AND l_quantity <> 0
  AND l_discount IS NOT NULL
GROUP BY l_returnflag
""",
)
def q10_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN / BETWEEN / != / IS NOT NULL predicates, run through
    parameterized ``spark.sql`` to mirror Grafana variable interpolation
    (SURVEY Q9-Q11, Q22). Filters push to the parquet scan."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag,
               count(*)        AS n_rows,
               sum(l_quantity) AS sum_qty
        FROM lineitem
        WHERE l_returnflag IN (:f1, :f2)
          AND l_shipdate BETWEEN CAST(:lo AS TIMESTAMP) AND CAST(:hi AS TIMESTAMP)
          AND l_quantity <> 0
          AND l_discount IS NOT NULL
        GROUP BY l_returnflag
        """,
        args={"f1": "A", "f2": "R", "lo": "1994-01-01 00:00:00", "hi": "1996-12-31 23:59:59"},
    )


# ---------------------------------------------------------------------------
# Q12 — DISTINCT projection (template-variable queries)
# ---------------------------------------------------------------------------
@register(
    "q11_distinct",
    tags=("Q12",),
    oracle="SELECT DISTINCT event_type FROM events",
)
def q11_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT — the dashboards' template-variable queries
    (SURVEY Q12)."""
    return table(spark, sf_dir, "events").select("event_type").distinct()


# ---------------------------------------------------------------------------
# Q13 — multi-column ORDER BY (asc/desc mix)
# ---------------------------------------------------------------------------
@register(
    "q12_orderby_multi",
    tags=("Q13",),
    oracle="""
SELECT o_orderpriority, o_orderstatus, count(*) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
GROUP BY 1, 2
ORDER BY o_orderpriority ASC, total DESC
""",
)
def q12_orderby_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column ORDER BY asc/desc (SURVEY Q13); the driver's hash is
    order-insensitive but the sort exercises the exchange+sort plan."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), _dsum(F.col("o_totalprice")).alias("total"))
        .orderBy(F.col("o_orderpriority").asc(), F.col("total").desc())
    )


# ---------------------------------------------------------------------------
# Q14 — modular datetime arithmetic with per-class leap-second CASE
# ref: RTCM monitor.json:1072,1156,1240 MOD(EXTRACT(epoch …)+leap, 86400) - MOD(…)
# ---------------------------------------------------------------------------
@register(
    "q13_mod_latency",
    tags=("Q14", "Q17"),
    oracle="""
SELECT event_type,
       avg(latency_s) AS avg_latency,
       min(latency_s) AS min_latency,
       max(latency_s) AS max_latency
FROM (
    SELECT event_type,
           (CAST(floor(epoch(ts)) AS BIGINT)
              + CASE event_type WHEN 'click' THEN 18 WHEN 'view' THEN 0 WHEN 'purchase' THEN 4 ELSE 18 END) % 86400
           - (CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(value) AS BIGINT)) % 86400 AS latency_s
    FROM events
)
GROUP BY event_type
""",
)
def q13_mod_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Receive-vs-observation modular latency with a per-constellation
    leap-second CASE (SURVEY Q14): the 'Latency' panels. event_type
    stands in for constellation; ts-value seconds synthesizes the second
    timestamp. Both operands are non-negative so %% == pmod here."""
    ev = table(spark, sf_dir, "events")
    leap = (
        F.when(F.col("event_type") == "click", 18)
        .when(F.col("event_type") == "view", 0)
        .when(F.col("event_type") == "purchase", 4)
        .otherwise(18)
    )
    recv_s = F.floor(F.unix_timestamp(F.col("ts"))).cast("long")
    obs_s = recv_s - F.floor(F.col("value")).cast("long")
    latency = ((recv_s + leap) % 86400) - (obs_s % 86400)
    return (
        ev.select("event_type", latency.alias("latency_s"))
        .groupBy("event_type")
        .agg(
            F.avg("latency_s").alias("avg_latency"),
            F.min("latency_s").alias("min_latency"),
            F.max("latency_s").alias("max_latency"),
        )
    )


# ---------------------------------------------------------------------------
# Q15 — COALESCE(reconnect, now()) + duration formatting
# ref: RTCM monitor.json:765 to_char(coalesce(reconnect_time, CURRENT_TIMESTAMP)-disconnect_time,'HH24:MI:SS')
# ---------------------------------------------------------------------------
@register(
    "q14_coalesce_duration",
    tags=("Q15", "Q10"),
    oracle=f"""
SELECT user_id, dur_s,
       lpad(CAST(CAST(floor((dur_s % 86400) / 3600) AS BIGINT) AS VARCHAR), 2, '0') || ':' ||
       lpad(CAST(CAST(floor((dur_s % 3600) / 60)    AS BIGINT) AS VARCHAR), 2, '0') || ':' ||
       lpad(CAST(dur_s % 60 AS VARCHAR), 2, '0')  AS dur_hms
FROM (
    SELECT user_id,
           CAST(floor(epoch(coalesce(
                   max(CASE WHEN event_type = 'error' THEN ts END),
                   TIMESTAMP '{NOW_TS}'))) AS BIGINT)
           - CAST(floor(epoch(min(ts))) AS BIGINT) AS dur_s
    FROM events
    GROUP BY user_id
)
""",
)
def q14_coalesce_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-session duration: COALESCE(last_error_ts, fixed-now) - first_seen,
    formatted HH:MM:SS (SURVEY Q15; the 'ongoing disconnect' panel)."""
    ev = table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        (
            F.floor(
                F.unix_timestamp(
                    F.coalesce(
                        F.max(F.when(F.col("event_type") == "error", F.col("ts"))),
                        F.lit(NOW_TS).cast("timestamp"),
                    )
                )
            ).cast("long")
            - F.floor(F.unix_timestamp(F.min("ts"))).cast("long")
        ).alias("dur_s")
    )
    d = F.col("dur_s")
    hms = F.concat_ws(
        ":",
        F.lpad(F.floor((d % 86400) / 3600).cast("long").cast("string"), 2, "0"),
        F.lpad(F.floor((d % 3600) / 60).cast("long").cast("string"), 2, "0"),
        F.lpad((d % 60).cast("string"), 2, "0"),
    )
    return per_user.select("user_id", "dur_s", hms.alias("dur_hms"))


# ---------------------------------------------------------------------------
# Q16 — gap detection: anti-join against a generated bucket spine
# ref: RTCM monitor.json:949 (MSM-epoch heatmap; empty bucket = data gap)
# ---------------------------------------------------------------------------
@register(
    "q15_gap_spine",
    tags=("Q16",),
    oracle="""
WITH bounds AS (
    SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi FROM events
),
hours AS (
    SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket FROM bounds
),
spine AS (
    SELECT h.bucket, t.event_type
    FROM hours h
    CROSS JOIN (SELECT DISTINCT event_type FROM events) t
),
present AS (
    SELECT DISTINCT date_trunc('hour', ts) AS bucket, event_type FROM events
)
SELECT s.bucket, s.event_type
FROM spine s
ANTI JOIN present p ON s.bucket = p.bucket AND s.event_type = p.event_type
""",
)
def q15_gap_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-gap detection (SURVEY Q16): generate the full (hour, type)
    spine with sequence()+explode, left-anti join the observed buckets —
    survivors are the gaps."""
    ev = table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("bucket")
    ).crossJoin(ev.select("event_type").distinct())
    present = ev.select(F.date_trunc("hour", "ts").alias("bucket"), "event_type").distinct()
    return spine.join(present, ["bucket", "event_type"], "left_anti")


# ---------------------------------------------------------------------------
# Q18 — JSON shredding (the stored procedures' json_array_elements)
# ref: initdb/99-stored_procedures.sql:8-18
# ---------------------------------------------------------------------------
@register(
    "q16_json_shred",
    tags=("Q18", "Q17"),
    oracle="""
SELECT CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT) % 10 AS k_mod,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_value
FROM events
GROUP BY 1
""",
)
def q16_json_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-typed extraction from a string column (SURVEY Q18): Spark
    side uses real from_json; the oracle extracts the same scalar."""
    ev = table(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k INT").getField("k")
    return (
        ev.select((k % 10).alias("k_mod"), "value")
        .groupBy("k_mod")
        .agg(F.count(F.lit(1)).alias("n"), (_dsum(F.col("value")) / F.count(F.lit(1))).alias("avg_value"))
    )


# ---------------------------------------------------------------------------
# Q19/Q20 — upsert / point-update semantics as latest-row-per-key
# ref: initdb/99-stored_procedures.sql:170-176,195-206 (ON CONFLICT DO UPDATE)
# ---------------------------------------------------------------------------
@register(
    "q17_latest_per_key",
    tags=("Q19", "Q20"),
    oracle="""
SELECT user_id, event_id, ts, event_type, value
FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
)
WHERE rn = 1
""",
)
def q17_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-writer-wins per key (SURVEY Q19/Q20): the batch-dedupe that
    implements the coordinates upsert inside foreachBatch."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type", "value")
    )


# ---------------------------------------------------------------------------
# Q21 — array aggregation (array_agg of inserted ids), canonicalized
# ref: initdb/99-stored_procedures.sql:18
# ---------------------------------------------------------------------------
@register(
    "q18_array_agg",
    tags=("Q21",),
    oracle="""
SELECT user_id, string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types_csv
FROM events
GROUP BY user_id
""",
)
def q18_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list/array_agg canonicalized to a sorted CSV for
    hash-stable comparison (SURVEY Q21)."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias("types_csv")
    )


# ---------------------------------------------------------------------------
# P21 — MJD conversion helper as a column expression
# ref: src/rtcm3.py:43-45
# ---------------------------------------------------------------------------
@register(
    "q19_mjd_bucket",
    tags=("P21",),
    oracle="""
SELECT CAST(floor(floor(epoch(ts)) / 86400.0 + 40587) AS BIGINT) AS mjd,
       count(*) AS n
FROM events
GROUP BY 1
""",
)
def q19_mjd_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modified-Julian-Day bucketing (reference helper src/rtcm3.py:43-45)
    as a pure column expression."""
    ev = table(spark, sf_dir, "events")
    mjd = F.floor(F.floor(F.unix_timestamp("ts")) / 86400.0 + 40587).cast("long")
    return ev.groupBy(mjd.alias("mjd")).agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# Extension: top-k per group (window ranking) — beyond the reference's
# surface (SURVEY §2.5 notes OVER-functions absent); standard OLAP need.
# ---------------------------------------------------------------------------
@register(
    "q20_topk_per_group",
    tags=("extension",),
    oracle="""
SELECT event_type, event_id, value, rk
FROM (
    SELECT event_type, event_id, value,
           row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id ASC) AS rk
    FROM events
)
WHERE rk <= 3
""",
)
def q20_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 rows per group via window ranking with deterministic
    tie-break (extension beyond the reference surface)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.col("value").desc(), F.col("event_id").asc())
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("event_type", "event_id", "value", "rk")
    )


# ---------------------------------------------------------------------------
# Extension: hierarchical rollup (GROUPING SETS) — the batch form of a
# TimescaleDB continuous-aggregate hierarchy (hour -> day -> total per
# event type), computed with ONE pass + partial re-aggregation instead
# of three scans.
# ---------------------------------------------------------------------------
@register(
    "q21_rollup_hierarchy",
    tags=("extension",),
    oracle="""
SELECT event_type,
       CAST(date_trunc('day', ts) AS DATE) AS day,
       date_trunc('hour', ts) AS hour,
       CAST(GROUPING(date_trunc('day', ts)) AS INT) AS g_day,
       CAST(GROUPING(date_trunc('hour', ts)) AS INT) AS g_hour,
       count(*) AS n_events,
       round(sum(value), 4) + 0.0 AS sum_value
FROM events
GROUP BY GROUPING SETS (
    (event_type, date_trunc('day', ts), date_trunc('hour', ts)),
    (event_type, date_trunc('day', ts)),
    (event_type)
)
""",
)
def q21_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hour → day → per-type rollup via GROUPING SETS: Spark computes
    the hierarchy with partial re-aggregation (one logical pass), the
    batch analog of the reference's TimescaleDB continuous-aggregate
    ladder. GROUPING() flags disambiguate the NULLed-out levels."""
    table(spark, sf_dir, "events").createOrReplaceTempView("events_q21")
    return spark.sql("""
        SELECT event_type,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               date_trunc('hour', ts) AS hour,
               CAST(GROUPING(date_trunc('day', ts)) AS INT) AS g_day,
               CAST(GROUPING(date_trunc('hour', ts)) AS INT) AS g_hour,
               count(*) AS n_events,
               round(sum(value), 4) + 0.0 AS sum_value
        FROM events_q21
        GROUP BY event_type, date_trunc('day', ts), date_trunc('hour', ts)
        GROUPING SETS (
            (event_type, date_trunc('day', ts), date_trunc('hour', ts)),
            (event_type, date_trunc('day', ts)),
            (event_type)
        )
    """)


# ---------------------------------------------------------------------------
# Q22 — anti join + scalar threshold subquery (TPC-H Q22 shape)
# ref: "customers who never connected" dashboard family —
# initgrafana/dashboards/RTCM monitor.json panels join gnss.packages
# against configured mountpoints to find silent ones
# ---------------------------------------------------------------------------
@register(
    "q22_no_order_customers",
    tags=("relational",),
    oracle="""
WITH pos AS (
    SELECT sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS s, count(*) AS n
    FROM customer WHERE c_acctbal > 0
),
rich AS (
    SELECT c.* FROM customer c, pos
    WHERE CAST(round(c_acctbal * 100) AS BIGINT) * pos.n > pos.s
)
SELECT c_nationkey,
       CAST(count(*) AS BIGINT) AS n_cust,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
FROM rich r
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = r.c_custkey)
GROUP BY c_nationkey
""",
)
def q22_no_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Above-average-balance customers with no orders, per nation
    (TPC-H Q22 shape: scalar threshold subquery + anti join + agg).
    The threshold compare is integer cross-multiplied cents
    (cents·n > sum_cents) — exact at any parallelism, no
    float-average boundary ambiguity. The 1-row threshold relation
    broadcasts onto the scan; the anti join keys both sides on
    custkey (orders pre-shrunk to distinct keys map-side)."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    pos = cust.filter(F.col("c_acctbal") > 0).agg(
        F.sum(cents).alias("s"), F.count(F.lit(1)).alias("n")
    )
    rich = cust.crossJoin(F.broadcast(pos)).filter(cents * F.col("n") > F.col("s"))
    custkeys = orders.select(F.col("o_custkey").alias("c_custkey")).distinct()
    return (
        rich.join(custkeys, "c_custkey", "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            _dsum(F.col("c_acctbal")).alias("total_bal"),
        )
    )


@register(
    "q23_value_deciles",
    tags=("relational",),
    doc="Per-type decile buckets of event value (ntile window + rollup).",
    oracle="""
WITH d AS (
    SELECT event_type, value,
           ntile(10) OVER (PARTITION BY event_type ORDER BY value ASC, event_id ASC) AS decile
    FROM events
)
SELECT event_type, CAST(decile AS INT) AS decile,
       CAST(count(*) AS BIGINT) AS n,
       round(min(value), 6) AS lo,
       round(max(value), 6) AS hi
FROM d GROUP BY 1, 2
""",
)
def q23_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-rank surface (ntile): per event type, the 10-way
    equal-count value bucketing with each decile's row count and value
    bounds — the exact-rank cousin of qa01's percentile thresholds.
    One keyed window sort feeding a bounded aggregate on the SAME
    partitioning (single exchange); at corpus scale the approx
    twin is qa01 (no per-key sort)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.col("value").asc(), F.col("event_id").asc())
    return (
        ev.select("event_type", "value", F.ntile(10).over(w).alias("decile"))
        .groupBy("event_type", "decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 6).alias("lo"),
            F.round(F.max("value"), 6).alias("hi"),
        )
    )


@register(
    "q24_intersect_users",
    tags=("relational",),
    doc="Set-op surface: users appearing in BOTH error and purchase events.",
    oracle="""
SELECT user_id FROM events WHERE event_type = 'error'
INTERSECT
SELECT user_id FROM events WHERE event_type = 'purchase'
""",
)
def q24_intersect_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct set semantics) — completing the set-op
    surface next to q22's anti-join/EXCEPT: users present in both the
    error and the purchase slices. Planned as a distinct + left-semi
    hash join on the two pushed-down slices of ONE scan relation —
    both predicates reach the parquet scan, and the join sides are
    the deduplicated user sets, not raw events."""
    ev = table(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select("user_id")
    pur = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return err.intersect(pur)


@register(
    "q25_except_users",
    tags=("relational",),
    doc="Set-op surface: users with views but no purchases (EXCEPT).",
    oracle="""
SELECT user_id FROM events WHERE event_type = 'view'
EXCEPT
SELECT user_id FROM events WHERE event_type = 'purchase'
""",
)
def q25_except_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct set semantics) — the last set operator next to
    q24's INTERSECT: users who viewed but never purchased. Planned as
    a distinct + left-anti hash join over two pushed-down slices of
    ONE scan relation; the join sides are the deduplicated user sets,
    not raw events."""
    ev = table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select("user_id")
    pur = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return views.subtract(pur)


# ---------------------------------------------------------------------------
# Q26 — CUBE over (status, priority): the full 2-D aggregation lattice
# ---------------------------------------------------------------------------
@register(
    "q26_cube_report",
    tags=("extension",),
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def q26_cube_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order counts and decimal-exact revenue across the FULL
    (status × priority) aggregation lattice via CUBE — all four
    grouping sets in one logical pass (Spark's Expand + partial
    re-aggregation, the q21 GROUPING SETS machinery at its 2^n
    extreme). GROUPING() flags disambiguate NULLed-out levels from
    genuine NULL keys."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_q26")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM orders_q26
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """)


# ---------------------------------------------------------------------------
# Q27 — PIVOT: daily wide-format event matrix
# ---------------------------------------------------------------------------
_Q27_TYPES = ("view", "click", "purchase", "signup", "error")


@register(
    "q27_pivot_daily",
    tags=("extension",),
    oracle=f"""
SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       {", ".join(f"count(CASE WHEN event_type = '{t}' THEN 1 END) AS n_{t}" for t in _Q27_TYPES)},
       CAST(sum(CASE WHEN event_type = 'purchase'
                THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase_value
FROM events GROUP BY 1
""",
)
def q27_pivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-format daily dashboard matrix via the DataFrame PIVOT
    relational operator: one column per event type plus decimal-exact
    purchase revenue. The pivot VALUES are passed explicitly — with an
    inferred pivot Spark must run an extra distinct-scan job to
    discover the columns AND the output schema becomes data-dependent,
    both unacceptable at 100 TB. Conditional counts coalesce to 0 so
    absent (day, type) cells match the oracle's count semantics."""
    ev = table(spark, sf_dir, "events")
    piv = (
        ev.select(
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
            "event_type",
            F.col("value").cast("decimal(18,2)").alias("v"),
        )
        .groupBy("day")
        .pivot("event_type", list(_Q27_TYPES))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("val"))
    )
    return piv.select(
        "day",
        *[F.coalesce(F.col(f"{t}_n"), F.lit(0)).alias(f"n_{t}") for t in _Q27_TYPES],
        F.col("purchase_val").cast("double").alias("purchase_value"),
    )


# ---------------------------------------------------------------------------
# Q28 — semi-structured: schema-on-read over the JSON props column
# ---------------------------------------------------------------------------
@register(
    "q28_json_props",
    tags=("extension",),
    oracle="""
SELECT event_type,
       count(*) AS n_events,
       count(k) AS n_parsed,
       min(k) AS min_k, max(k) AS max_k,
       round(CAST(sum(k) AS DOUBLE) / count(k), 6) AS avg_k
FROM (
    SELECT event_type, CAST(json_extract_string(props, '$.k') AS INT) AS k
    FROM events
)
GROUP BY 1
""",
)
def q28_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read over the semi-structured ``props`` JSON column:
    ``from_json`` with an explicit one-field schema (typed extraction
    inside codegen — no regex, no UDF; malformed rows become NULL and
    are visible as n_events - n_parsed). At 100 TB the explicit schema
    matters twice: no sampling pass to infer it, and Parquet still
    prunes every other column while the JSON parse runs per-row in the
    scan stage. The k sum stays integer until one final division."""
    ev = table(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k INT").getField("k")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("k").alias("n_parsed"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.round(F.sum("k").cast("double") / F.count("k"), 6).alias("avg_k"),
        )
    )


# ---------------------------------------------------------------------------
# Q29 — explicit GROUPING SETS via the DataFrame-native API (vs q21's
# SQL-text route and q26's CUBE): two disjoint single-dim sets + grand
# total in ONE pass with partial re-aggregation.
# ref: the Grafana template-variable queries aggregate the same joined
# relation once per dimension (RTCM monitor.json:1100 region/station
# lists) — grouping sets collapse those N scans into one.
# ---------------------------------------------------------------------------
@register(
    "q29_grouping_sets",
    tags=("extension",),
    oracle="""
SELECT n.n_name AS nation, o.o_orderpriority AS priority,
       CAST(GROUPING(n.n_name) * 2 + GROUPING(o.o_orderpriority) AS INT) AS gid,
       count(*) AS n_orders,
       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
GROUP BY GROUPING SETS ((n.n_name), (o.o_orderpriority), ())
""",
)
def q29_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order count + revenue by nation, by priority, and in total —
    three aggregation levels in one logical pass via the DataFrame-
    native ``groupingSets`` API (Spark 4). The grouping-flag bitmask
    is spelled out as grouping(a)*2 + grouping(b) so both engines
    agree on the id regardless of their internal bit order. The
    nation dim rides in as an explicit broadcast; revenue sums ride
    DECIMAL (`_dsum`)."""
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    j = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select(F.col("n_name").alias("nation"),
                F.col("o_orderpriority").alias("priority"),
                "o_totalprice")
    )
    return (
        j.groupingSets([["nation"], ["priority"], []], "nation", "priority")
        .agg(
            (F.grouping("nation") * 2 + F.grouping("priority"))
            .cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            _dsum(F.col("o_totalprice")).alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# Q30 — event-time RANGE window frame (interval-bounded, not row-bounded)
# ref: the Grafana rate panels average over trailing wall-clock spans
# (RTCM monitor.json:126 $__rate_interval), which a ROWS frame cannot
# express under irregular sampling — this is the RANGE-frame analog.
# ---------------------------------------------------------------------------
@register(
    "q30_range_frame",
    tags=("extension",),
    oracle="""
SELECT event_id, user_id,
       CAST(count(*) OVER w AS BIGINT) AS n_1h,
       round(CAST(sum(CAST(round(value, 6) AS DECIMAL(38,6))) OVER w AS DOUBLE)
             / count(*) OVER w, 6) AS avg_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
""",
)
def q30_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing ONE-HOUR (wall-clock, not row-count) per-user moving
    average: a RANGE frame over epoch microseconds — the frame type
    irregular sampling needs, where ROWS BETWEEN N PRECEDING silently
    averages a variable time span. One keyed window exchange; values
    ride DECIMAL through the frame sum so equal-timestamp peer groups
    (which RANGE includes wholesale, per the SQL standard on both
    engines) cannot introduce order-dependence."""
    from ntripmonitor_spark.functions.timeutil import epoch_us

    staged = table(spark, sf_dir, "events").select(
        "event_id", "user_id", epoch_us("ts").alias("us"),
        F.round(F.col("value"), 6).cast("decimal(38,6)").alias("dv"),
    )
    w = (
        Window.partitionBy("user_id").orderBy("us")
        .rangeBetween(-3_600_000_000, 0)
    )
    return staged.select(
        "event_id", "user_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.round(
            F.sum("dv").over(w).cast("double") / F.count(F.lit(1)).over(w), 6,
        ).alias("avg_1h"),
    )

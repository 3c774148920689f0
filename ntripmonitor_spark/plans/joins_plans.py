"""Temporal-join queries (aj*/rj*): as-of and range joins over the
events table — operators Spark lacks as primitives, re-expressed in
shapes that hash-join/window instead of degenerating to a
BroadcastNestedLoopJoin (plan-pinned in tests/test_plans.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ntripmonitor_spark.operators import joins
from ntripmonitor_spark.plans.registry import register
from ntripmonitor_spark.tables import table


@register(
    "aj01_asof_join",
    tags=("joins",),
    oracle="""
WITH r AS (SELECT event_id, user_id, ts FROM events WHERE event_type <> 'error'),
m AS (SELECT user_id, ts FROM events WHERE event_type = 'error')
SELECT r.event_id, r.user_id, r.ts, m.ts AS asof_ts,
       epoch_us(r.ts) - epoch_us(m.ts) AS gap_us
FROM r ASOF LEFT JOIN m ON r.user_id = m.user_id AND r.ts >= m.ts
""",
)
def aj01_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every non-error event, the user's latest error at-or-before
    it (as-of join): single merge-sorted window pass per user — one
    shuffle, no inequality join. Oracle is DuckDB's native ASOF JOIN."""
    ev = table(spark, sf_dir, "events")
    return joins.asof_join_latest(ev, F.col("event_type") == "error")


@register(
    "rj01_range_join",
    tags=("joins",),
    oracle="""
WITH r AS (SELECT event_id, user_id, ts FROM events WHERE event_type <> 'error'),
e AS (SELECT event_id AS interval_id, user_id, ts AS interval_start
      FROM events WHERE event_type = 'error')
SELECT r.event_id, e.interval_id, r.user_id, r.ts, e.interval_start
FROM r JOIN e
  ON r.user_id = e.user_id
 AND epoch_us(r.ts) >= epoch_us(e.interval_start)
 AND epoch_us(r.ts) < epoch_us(e.interval_start) + 300000000
""",
)
def rj01_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events inside each user's 5-minute post-error window (range
    join): bounded intervals explode to ≤ 2 fixed-grain buckets, the
    join is an equi-join on (user, bucket) + exact containment filter
    — the shape that hash-joins at 100 TB instead of a
    nested-loop/cartesian plan."""
    ev = table(spark, sf_dir, "events")
    return joins.range_join_intervals(ev, F.col("event_type") == "error", length_s=300)


@register(
    "aj02_asof_tolerance",
    tags=("joins",),
    oracle="""
WITH r AS (SELECT event_id, user_id, ts FROM events WHERE event_type <> 'error'),
m AS (SELECT user_id, ts FROM events WHERE event_type = 'error')
SELECT r.event_id, r.user_id, r.ts,
       CASE WHEN epoch_us(r.ts) - epoch_us(m.ts) <= 600000000
            THEN m.ts END AS asof_ts,
       CASE WHEN epoch_us(r.ts) - epoch_us(m.ts) <= 600000000
            THEN epoch_us(r.ts) - epoch_us(m.ts) END AS gap_us
FROM r ASOF LEFT JOIN m ON r.user_id = m.user_id AND r.ts >= m.ts
""",
)
def aj02_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a 10-minute lookback tolerance (pandas
    merge_asof tolerance semantics): matches further back report as no
    match. Same single-shuffle window plan as aj01 — the tolerance is
    a post-pass column condition, not a join-shape change."""
    ev = table(spark, sf_dir, "events")
    return joins.asof_join_latest(
        ev, F.col("event_type") == "error", tolerance_s=600
    )


@register(
    "fn01_conversion_funnel",
    tags=("joins", "analytics"),
    oracle="""
WITH s1 AS (
    SELECT user_id, ts, event_type,
           min(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS view_ts
    FROM events
),
s2 AS (
    SELECT *, min(CASE WHEN event_type = 'click' AND ts > view_ts THEN ts END)
                  OVER (PARTITION BY user_id) AS click_ts
    FROM s1
),
s3 AS (
    SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > click_ts THEN ts END)
                  OVER (PARTITION BY user_id) AS purchase_ts
    FROM s2
)
SELECT user_id, min(view_ts) AS view_ts, min(click_ts) AS click_ts,
       min(purchase_ts) AS purchase_ts
FROM s3 GROUP BY user_id
""",
)
def fn01_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → purchase ordered funnel per user: chained
    conditional window minimums on one key partitioning — a single
    exchange for the whole funnel, no joins, no per-stage scans."""
    ev = table(spark, sf_dir, "events")
    return joins.event_funnel(
        ev, [("view", "view_ts"), ("click", "click_ts"), ("purchase", "purchase_ts")]
    )


@register(
    "fn02_cohort_retention",
    tags=("joins", "analytics"),
    oracle="""
WITH t AS (
    SELECT user_id, ts, min(ts) OVER (PARTITION BY user_id) AS t0 FROM events
)
SELECT CAST(date_trunc('day', t0) AS DATE) AS cohort_day,
       date_diff('day', CAST(date_trunc('day', t0) AS DATE),
                        CAST(date_trunc('day', ts) AS DATE)) AS days_since,
       count(DISTINCT user_id) AS n_users
FROM t GROUP BY 1, 2
""",
)
def fn02_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix (first-activity-day cohorts × active
    days since): window-min cohort assignment on one key partitioning
    + one count-distinct aggregate — the event log is never joined
    against itself."""
    return joins.cohort_retention(table(spark, sf_dir, "events"))


@register(
    "scd01_history",
    tags=("joins", "warehouse"),
    oracle="""
WITH runs AS (
    SELECT event_id, user_id, ts, event_type,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
    FROM events
),
changes AS (
    SELECT * FROM runs WHERE prev IS NULL OR event_type <> prev
)
SELECT user_id, event_type AS attr_value, ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
FROM changes
""",
)
def scd01_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension history from the raw event log: one
    validity-interval row per (user, event_type run) with
    [valid_from, valid_to) bounds and an is_current flag — the
    warehouse upsert-with-history shape. Run detection and interval
    close are two window passes sharing one keyed exchange; the log
    never self-joins."""
    return joins.scd2_history(table(spark, sf_dir, "events"))


@register(
    "aj03_asof_nearest",
    tags=("joins",),
    oracle="""
WITH r AS (SELECT event_id, user_id, ts FROM events WHERE event_type <> 'error'),
m AS (SELECT user_id, ts FROM events WHERE event_type = 'error'),
bk AS (
    SELECT r.event_id, r.user_id, r.ts, m.ts AS b_ts
    FROM r ASOF LEFT JOIN m ON r.user_id = m.user_id AND r.ts >= m.ts
),
fw AS (
    SELECT r.event_id, m.ts AS f_ts
    FROM r ASOF LEFT JOIN m ON r.user_id = m.user_id AND r.ts < m.ts
)
SELECT bk.event_id, bk.user_id, bk.ts,
       CASE WHEN b_ts IS NOT NULL AND (f_ts IS NULL
                 OR epoch_us(bk.ts) - epoch_us(b_ts)
                    <= epoch_us(f_ts) - epoch_us(bk.ts))
            THEN b_ts ELSE f_ts END AS asof_ts,
       CASE WHEN b_ts IS NOT NULL AND (f_ts IS NULL
                 OR epoch_us(bk.ts) - epoch_us(b_ts)
                    <= epoch_us(f_ts) - epoch_us(bk.ts))
            THEN epoch_us(bk.ts) - epoch_us(b_ts)
            ELSE epoch_us(f_ts) - epoch_us(bk.ts) END AS gap_us
FROM bk JOIN fw USING (event_id)
""",
)
def aj03_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, nearest direction (pandas merge_asof family; aj01
    is backward): smallest absolute gap before OR after, ties to the
    backward match. Backward and forward candidates are two window
    frames sharing ONE keyed sort — still a single exchange. Oracle is
    two DuckDB ASOF joins (>= and <) merged by the same tie rule."""
    ev = table(spark, sf_dir, "events")
    return joins.asof_join_nearest(ev, F.col("event_type") == "error")


@register(
    "rj02_interval_overlap",
    tags=("joins",),
    oracle="""
WITH a AS (
    SELECT event_id AS a_id, user_id, ts AS a_start,
           epoch_us(ts) AS a0, epoch_us(ts) + 300000000 AS a1
    FROM events WHERE event_type = 'error'
),
b AS (
    SELECT event_id AS b_id, user_id, ts AS b_start,
           epoch_us(ts) AS b0, epoch_us(ts) + 600000000 AS b1
    FROM events WHERE event_type = 'purchase'
)
SELECT a.a_id, b.b_id, a.user_id, a.a_start, b.b_start,
       (least(a.a1, b.b1) - greatest(a.a0, b.b0)) // 1000000 AS overlap_s
FROM a JOIN b ON a.user_id = b.user_id AND a.a0 < b.b1 AND b.b0 < a.a1
""",
)
def rj02_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: 5-minute error windows × 10-minute
    purchase windows per user — both sides explode to fixed-grain
    buckets, equi-join on (user, bucket), exact overlap filter, and
    exactly-once crediting in the bucket holding the later start. The
    oracle is the plain inequality join the bucketed plan replaces."""
    ev = table(spark, sf_dir, "events")
    return joins.interval_overlap_join(
        ev, F.col("event_type") == "error", F.col("event_type") == "purchase"
    )


@register(
    "fn03_user_growth",
    tags=("funnel",),
    doc="Daily active / new / cumulative users in two bounded aggregates.",
    oracle="""
WITH firsts AS (
    SELECT user_id, min(CAST(ts AS DATE)) AS first_day FROM events GROUP BY user_id
),
dau AS (
    SELECT CAST(ts AS DATE) AS day, count(DISTINCT user_id) AS n_active
    FROM events GROUP BY 1
),
news AS (
    SELECT first_day AS day, count(*) AS n_new FROM firsts GROUP BY 1
)
SELECT dau.day, CAST(dau.n_active AS BIGINT) AS n_active,
       CAST(coalesce(news.n_new, 0) AS BIGINT) AS n_new,
       CAST(sum(coalesce(news.n_new, 0)) OVER (ORDER BY dau.day
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_cumulative
FROM dau LEFT JOIN news ON news.day = dau.day
""",
)
def fn03_user_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The growth dashboard every telemetry deployment ships: per day,
    active users (exact distinct), first-seen ("new") users, and the
    cumulative user count. Two corpus aggregates — per-user first-day
    and per-day distinct — both map-side combined; the join + running
    sum operate on the |days|-row relation (the global running-sum
    window is over that bounded relation only, same rationale as
    tx09's top-V rank)."""
    ev = table(spark, sf_dir, "events")
    day = F.col("ts").cast("timestamp_ltz").cast("date")
    firsts = ev.groupBy("user_id").agg(F.min(day).alias("first_day"))
    dau = ev.groupBy(day.alias("day")).agg(F.count_distinct("user_id").alias("n_active"))
    news = firsts.groupBy(F.col("first_day").alias("day")).agg(F.count(F.lit(1)).alias("n_new"))
    j = dau.join(news, "day", "left").select(
        "day", "n_active", F.coalesce("n_new", F.lit(0)).alias("n_new")
    )
    # GLOBAL-WINDOW-OK: input is the per-day aggregate — bounded by
    # the calendar span of the data, never input-scaled.
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return j.select("day", "n_active", "n_new", F.sum("n_new").over(w).alias("n_cumulative"))


@register(
    "fn05_window_funnel",
    tags=("joins", "analytics"),
    oracle="""
WITH e AS (
    SELECT event_id, user_id, epoch_us(ts) AS us, event_type,
           CASE event_type WHEN 'purchase' THEN 0 WHEN 'click' THEN 1 ELSE 2 END AS tag
    FROM events WHERE event_type IN ('view', 'click', 'purchase')
),
p AS (
    SELECT *, first_value(CASE WHEN event_type = 'purchase' THEN us END IGNORE NULLS)
              OVER fwd AS p_after
    FROM e
    WINDOW fwd AS (PARTITION BY user_id ORDER BY us, tag, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
),
c AS (
    SELECT *,
           first_value(CASE WHEN event_type = 'click' THEN us END IGNORE NULLS)
               OVER fwd AS c_us,
           first_value(CASE WHEN event_type = 'click'
                            THEN coalesce(p_after, 4611686018427387904) END IGNORE NULLS)
               OVER fwd AS c_p
    FROM p
    WINDOW fwd AS (PARTITION BY user_id ORDER BY us, tag, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
)
SELECT max_step, count(*) AS n_starts, count(DISTINCT user_id) AS n_users
FROM (
    SELECT user_id,
           CASE WHEN c_us IS NOT NULL AND c_us <= us + 86400000000
                THEN CASE WHEN c_p <= us + 86400000000 THEN 3 ELSE 2 END
                ELSE 1 END AS max_step
    FROM c WHERE event_type = 'view'
) GROUP BY max_step
""",
)
def fn05_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse-windowFunnel semantics: for EVERY view event, the
    deepest view→click→purchase chain completed within 24 hours of
    that view (fn01 answers this once per user; fn05 per funnel
    instance). One keyed exchange: stage-(i+1) matches are stacked
    forward-frame ``first(ignorenulls)`` passes on a single
    (epoch, stage-tag, id) sort whose tag order encodes
    "strictly after" — no self-join, no inequality join."""
    ev = table(spark, sf_dir, "events")
    return joins.window_funnel(ev, window_s=86400)


@register(
    "fn06_linear_attribution",
    tags=("joins", "analytics"),
    oracle="""
WITH e AS (
    SELECT user_id, event_type, epoch_us(ts) AS us
    FROM events WHERE event_type IN ('purchase', 'view', 'click')
),
w AS (
    SELECT *,
           count(CASE WHEN event_type = 'view' THEN 1 END) OVER lb AS n_0,
           count(CASE WHEN event_type = 'click' THEN 1 END) OVER lb AS n_1
    FROM e
    WINDOW lb AS (PARTITION BY user_id ORDER BY us
                  RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING)
),
conv AS (
    SELECT *, n_0 + n_1 AS n_touch FROM w
    WHERE event_type = 'purchase' AND n_0 + n_1 > 0
),
st AS (
    SELECT 'view' AS channel,
           CAST(round(n_0 / n_touch, 6) AS DECIMAL(18,6)) AS share FROM conv
    UNION ALL
    SELECT 'click' AS channel,
           CAST(round(n_1 / n_touch, 6) AS DECIMAL(18,6)) AS share FROM conv
)
SELECT channel, CAST(sum(share) AS DOUBLE) AS credit,
       count(CASE WHEN share > 0 THEN 1 END) AS n_conversions
FROM st GROUP BY channel
""",
)
def fn06_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase splits one unit of
    credit equally over the user's view/click touches in the 7-day
    lookback ending strictly before it. Channel touch counts are
    conditional COUNTs sharing ONE value-RANGE window frame (no
    conversions×touches inequality join); credit sums ride as
    DECIMAL(18,6) so totals are summation-order-independent at any
    partition count."""
    ev = table(spark, sf_dir, "events")
    return joins.linear_attribution(ev)


@register(
    "fn07_rfm_segments",
    tags=("joins", "analytics"),
    oracle="""
WITH p AS (
    SELECT user_id, epoch_us(ts) AS us, CAST(value AS DECIMAL(18,2)) AS v
    FROM events WHERE event_type = 'purchase'
),
mx AS (SELECT max(us) AS mx FROM p),
per_user AS (
    SELECT user_id,
           (max(mx.mx) - max(us)) // 86400000000 AS recency_d,
           count(*) AS freq,
           sum(v) AS monetary
    FROM p CROSS JOIN mx GROUP BY user_id
),
scored AS (
    SELECT CASE WHEN recency_d <= 2 THEN 3 WHEN recency_d <= 7 THEN 2 ELSE 1 END AS r_score,
           CASE WHEN freq >= 20 THEN 3 WHEN freq >= 10 THEN 2 ELSE 1 END AS f_score,
           CASE WHEN monetary >= 800 THEN 3 WHEN monetary >= 300 THEN 2 ELSE 1 END AS m_score,
           monetary
    FROM per_user
)
SELECT r_score, f_score, m_score,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(monetary) AS DOUBLE) AS total_monetary
FROM scored GROUP BY 1, 2, 3
""",
)
def fn07_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) segmentation of purchasers:
    per-user recency in whole days vs the corpus's latest purchase,
    purchase count, and decimal-exact spend, bucketed into 3x3x3
    fixed-threshold scores and rolled up to segment population + spend.

    Fixed thresholds instead of ntile(): quantile cuts make a user's
    segment depend on every OTHER user's ties (non-deterministic under
    re-partitioning and engine sort differences); threshold scoring is
    per-row arithmetic, embarrassingly parallel, and stable as the
    corpus grows. Shape: one user-keyed aggregate (the corpus max
    timestamp rides as a one-row broadcast folded in pre-aggregate) +
    one bounded 27-row rollup; recency division is integral (``div`` ==
    ``//``), spend aggregates in DECIMAL(18,2) — no float path at all
    until the final display cast."""
    from ntripmonitor_spark.functions.timeutil import epoch_us

    p = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id", epoch_us("ts").alias("us"),
            F.col("value").cast("decimal(18,2)").alias("v"),
        )
    )
    mx = p.agg(F.max("us").alias("mx"))
    per_user = p.crossJoin(F.broadcast(mx)).groupBy("user_id").agg(
        F.expr("(max(mx) - max(us)) div 86400000000").alias("recency_d"),
        F.count(F.lit(1)).alias("freq"),
        F.sum("v").alias("monetary"),
    )
    scored = per_user.select(
        F.when(F.col("recency_d") <= 2, 3).when(F.col("recency_d") <= 7, 2)
         .otherwise(1).alias("r_score"),
        F.when(F.col("freq") >= 20, 3).when(F.col("freq") >= 10, 2)
         .otherwise(1).alias("f_score"),
        F.when(F.col("monetary") >= 800, 3).when(F.col("monetary") >= 300, 2)
         .otherwise(1).alias("m_score"),
        F.col("monetary"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("monetary").cast("double").alias("total_monetary"),
    )


@register(
    "scd02_asof_snapshot",
    tags=("joins", "warehouse"),
    oracle="""
WITH runs AS (
    SELECT event_id, user_id, ts, event_type,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
    FROM events
),
changes AS (
    SELECT * FROM runs WHERE prev IS NULL OR event_type <> prev
),
hist AS (
    SELECT user_id, event_type AS attr_value, epoch_us(ts) AS vf_us,
           epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS vt_us
    FROM changes
),
t AS (SELECT min(epoch_us(ts)) + 15 * 86400000000 AS t_us FROM events),
snap AS (
    SELECT h.user_id, h.attr_value, h.vf_us
    FROM hist h CROSS JOIN t
    WHERE h.vf_us <= t.t_us AND (h.vt_us IS NULL OR h.vt_us > t.t_us)
)
SELECT attr_value,
       CAST(count(*) AS BIGINT) AS n_users,
       round(CAST(sum(t.t_us - vf_us) AS DOUBLE) / count(*) / 3600000000.0, 4)
           AS avg_state_age_h
FROM snap CROSS JOIN t
GROUP BY attr_value
""",
)
def scd02_asof_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (AS OF) reconstruction from scd01's SCD2 history:
    the dimension state 15 days after the corpus's first event — one
    row per attribute value with its population and mean state age at
    T. The AS OF filter is a pure predicate over the validity
    intervals (at scale: partition-pruned by valid_from date), so a
    snapshot costs a scan of the history table, never a replay of the
    event log. Age sums stay integer microseconds until one final
    division."""
    from ntripmonitor_spark.functions.timeutil import epoch_us

    ev = table(spark, sf_dir, "events")
    hist = joins.scd2_history(ev).select(
        "user_id", "attr_value",
        epoch_us("valid_from").alias("vf_us"),
        epoch_us("valid_to").alias("vt_us"),
    )
    t = ev.agg((F.min(epoch_us("ts")) + 15 * 86400000000).alias("t_us"))
    snap = hist.crossJoin(F.broadcast(t)).filter(
        (F.col("vf_us") <= F.col("t_us"))
        & (F.col("vt_us").isNull() | (F.col("vt_us") > F.col("t_us")))
    )
    return snap.groupBy("attr_value").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(
            F.sum(F.col("t_us") - F.col("vf_us")).cast("double")
            / F.count(F.lit(1)) / 3600000000.0, 4,
        ).alias("avg_state_age_h"),
    )


# ---------------------------------------------------------------------------
# scd03 — SCD2 history integrity audit (round 8).
# ---------------------------------------------------------------------------


@register(
    "scd03_history_audit",
    tags=("joins", "warehouse", "quality"),
    oracle="""
WITH runs AS (
    SELECT event_id, user_id, ts, event_type,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
    FROM events
),
changes AS (
    SELECT * FROM runs WHERE prev IS NULL OR event_type <> prev
),
hist AS (
    SELECT user_id, event_type AS attr_value, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
    FROM changes
),
kept AS (
    SELECT * FROM hist
    WHERE (user_id * 2654435761 + epoch_us(valid_from)) % 7 <> 0
),
flagged AS (
    SELECT user_id, valid_from, valid_to,
           lag(valid_to) OVER (PARTITION BY user_id
                               ORDER BY valid_from ASC, attr_value ASC) AS prev_to,
           lead(1) OVER (PARTITION BY user_id
                         ORDER BY valid_from ASC, attr_value ASC) IS NULL AS is_last
    FROM kept
),
per_key AS (
    SELECT user_id, count(*) AS n_rows,
           sum(CASE WHEN prev_to IS NOT NULL AND valid_from < prev_to
                    THEN 1 ELSE 0 END) AS n_overlaps,
           sum(CASE WHEN prev_to IS NOT NULL AND valid_from > prev_to
                    THEN 1 ELSE 0 END) AS n_gaps,
           sum(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS n_open,
           sum(CASE WHEN valid_to IS NULL AND NOT is_last
                    THEN 1 ELSE 0 END) AS n_open_not_last
    FROM flagged GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(n_rows) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN n_overlaps > 0 THEN 1 ELSE 0 END) AS BIGINT) AS keys_with_overlap,
       CAST(sum(CASE WHEN n_gaps > 0 THEN 1 ELSE 0 END) AS BIGINT) AS keys_with_gap,
       CAST(sum(n_gaps) AS BIGINT) AS total_gaps,
       CAST(sum(CASE WHEN n_open = 0 THEN 1 ELSE 0 END) AS BIGINT) AS keys_no_open_row,
       CAST(sum(CASE WHEN n_open > 1 THEN 1 ELSE 0 END) AS BIGINT) AS keys_multi_open,
       CAST(sum(n_open_not_last) AS BIGINT) AS open_rows_not_last
FROM per_key
""",
)
def scd03_history_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 validity-chain integrity audit over a DELIBERATELY
    corrupted history (a deterministic hash drops ~1/7 of the interval
    rows, planting gaps and missing-open-row keys so the audit is
    non-degenerate): per violation class — overlaps, gaps, keys with
    zero/multiple open rows, open rows not last — one corpus-rollup
    row. This is the post-merge dimension check a warehouse runs after
    every SCD2 maintenance batch (the lakehouse mirror of trusting
    Postgres constraints in the reference's schema,
    initdb/30-connection_logger.sql's open/closed session rows). One
    window pass on the same (key, valid_from) ordering the history
    build used + a per-key flag aggregate + an O(1) rollup."""
    from ntripmonitor_spark.functions.timeutil import epoch_us
    from ntripmonitor_spark.operators.sampling import KNUTH

    hist = joins.scd2_history(table(spark, sf_dir, "events"))
    kept = hist.filter(
        F.pmod(
            F.col("user_id") * F.lit(KNUTH) + epoch_us("valid_from"), F.lit(7)
        ) != 0
    )
    return joins.scd2_audit(kept)

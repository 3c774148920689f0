"""Per-key time-series queries (an*/ts*): rolling-statistic anomaly
detection and gap filling over the events table — the fill side of the
reference's gap analytics (the Grafana heatmap reads empty buckets as
gaps, RTCM monitor.json:949 / SURVEY.md Q16; TimescaleDB users get
locf()/interpolate() from time_bucket_gapfill)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ntripmonitor_spark.operators import timeseries
from ntripmonitor_spark.plans.registry import register
from ntripmonitor_spark.tables import table


@register(
    "an01_rolling_zscore",
    tags=("timeseries",),
    oracle="""
WITH r AS (
    SELECT event_id, user_id, ts, value,
           avg(value) OVER w AS roll_mean,
           stddev_samp(value) OVER w AS roll_std,
           count(value) OVER w AS roll_n
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id, ts, value, (value - roll_mean) / roll_std AS zscore
FROM r
WHERE roll_n >= 8 AND roll_std > 0 AND abs((value - roll_mean) / roll_std) > 3
""",
)
def an01_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events more than 3 rolling standard deviations from their key's
    trailing-20 mean (current row excluded; warm-up rows unjudged):
    one key-partitioned window pass, O(n) state per row, one exchange
    at any scale."""
    return timeseries.zscore_anomalies(table(spark, sf_dir, "events"), n=20, z=3.0, min_n=8)


@register(
    "ts01_gap_fill",
    tags=("timeseries",),
    oracle="""
WITH b AS (
    SELECT user_id, CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS bkt,
           avg(value) AS v_obs
    FROM events GROUP BY 1, 2
),
r AS (SELECT user_id, min(bkt) AS mn, max(bkt) AS mx FROM b GROUP BY 1),
s AS (SELECT r.user_id, u.bkt FROM r, unnest(generate_series(r.mn, r.mx)) AS u(bkt)),
d AS (
    SELECT s.user_id, s.bkt, b.v_obs
    FROM s LEFT JOIN b ON b.user_id = s.user_id AND b.bkt = s.bkt
)
SELECT user_id, bkt, v_obs,
       last_value(v_obs IGNORE NULLS) OVER wb AS v_locf,
       CASE WHEN v_obs IS NOT NULL THEN v_obs ELSE
           last_value(v_obs IGNORE NULLS) OVER wb
           + (first_value(v_obs IGNORE NULLS) OVER wf
              - last_value(v_obs IGNORE NULLS) OVER wb)
           * (bkt - last_value(CASE WHEN v_obs IS NOT NULL THEN bkt END IGNORE NULLS) OVER wb)
           / (first_value(CASE WHEN v_obs IS NOT NULL THEN bkt END IGNORE NULLS) OVER wf
              - last_value(CASE WHEN v_obs IS NOT NULL THEN bkt END IGNORE NULLS) OVER wb)
       END AS v_interp
FROM d
WINDOW wb AS (PARTITION BY user_id ORDER BY bkt
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       wf AS (PARTITION BY user_id ORDER BY bkt
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
""",
)
def ts01_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly per-user series: observed bucket averages plus
    LOCF and linear-interpolation fills for the empty buckets. Bucket
    agg + spine explode + one window pass, all keyed by user — two
    exchanges total; spine size is output-proportional."""
    return timeseries.gap_fill(table(spark, sf_dir, "events"), bucket_s=3600)


@register(
    "an02_seasonal_anomalies",
    tags=("timeseries",),
    oracle="""
WITH b AS (
    SELECT event_type, CAST(hour(ts) AS INT) AS hod,
           avg(value) AS mu, stddev_samp(value) AS sd,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
)
SELECT e.event_id, e.event_type, e.ts, e.value,
       round((e.value - b.mu) / b.sd, 6) AS zscore
FROM events e
JOIN b ON b.event_type = e.event_type AND b.hod = CAST(hour(e.ts) AS INT)
WHERE b.n >= 12 AND b.sd > 0 AND abs((e.value - b.mu) / b.sd) > 3
""",
)
def an02_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomalies: events more than 3σ from their
    (event_type, hour-of-day) baseline — the daily-cycle complement of
    an01's trailing window. The baseline aggregates to |types|×24 rows
    and broadcasts back; the event stream never shuffles."""
    return timeseries.seasonal_anomalies(table(spark, sf_dir, "events"), z=3.0, min_n=12)


@register(
    "mk01_event_transitions",
    tags=("timeseries",),
    oracle="""
WITH s AS (
    SELECT user_id, event_type AS next_type,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
               AS prev_type
    FROM events
),
c AS (
    SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
    FROM s WHERE prev_type IS NOT NULL GROUP BY 1, 2
)
SELECT prev_type, next_type, n,
       round(n / sum(n) OVER (PARTITION BY prev_type), 9) AS p
FROM c
""",
)
def mk01_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event-type
    sequence: (prev → next) step counts and P(next | prev). One lag
    window pass keyed by user (single input-scaled exchange), then a
    hash aggregate; the probability normalization windows over the
    |types|² matrix only. Sequence twin of the reference's per-type
    frequency panel (RTCM monitor.json:118, SURVEY.md Q5)."""
    return timeseries.event_transitions(table(spark, sf_dir, "events"))


@register(
    "an03_mean_shift",
    tags=("timeseries",),
    oracle="""
WITH s AS (
    SELECT event_id, user_id, ts,
           avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING) AS trail_mean,
           avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING) AS lead_mean,
           count(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING) AS n_trail,
           count(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING) AS n_lead
    FROM events
)
SELECT event_id, user_id, ts,
       round(trail_mean, 6) AS trail_mean,
       round(lead_mean, 6) AS lead_mean,
       round(lead_mean - trail_mean, 6) AS shift
FROM s
WHERE n_trail = 10 AND n_lead = 10 AND abs(lead_mean - trail_mean) > 40.0
""",
)
def an03_mean_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changepoint detection by two-sided windowed mean contrast (the
    distributed-friendly CUSUM replacement): trailing vs leading
    10-row mean per user, flag level moves > 40. Both ROWS-bounded
    frames share one key partitioning and sort — a single exchange,
    O(n) per-row state at any scale."""
    from ntripmonitor_spark.operators.timeseries import mean_shift_changepoints

    return mean_shift_changepoints(table(spark, sf_dir, "events"), n=10, threshold=40.0)


@register(
    "an04_ewma_drift",
    tags=("timeseries",),
    doc="Per-type EWMA control line over daily means (closed-form window).",
    oracle="""
WITH d AS (
    SELECT event_type, date_trunc('day', ts) AS day,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS x
    FROM events GROUP BY 1, 2
),
r AS (
    SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY day) - 1 AS i
    FROM d
),
s AS (
    SELECT *,
           sum(x * (CASE WHEN i = 0 THEN 1.0 ELSE 0.3 END) * pow(1.0 / 0.7, i))
               OVER (PARTITION BY event_type ORDER BY i
                     ROWS UNBOUNDED PRECEDING) AS acc
    FROM r
)
SELECT event_type, day, round(x, 6) AS day_mean, round(pow(0.7, i) * acc, 6) AS ewma
FROM s
""",
)
def an04_ewma_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA (alpha 0.3) of each event type's daily mean — the control
    line a drift monitor alarms against. The recursion unrolls to one
    window prefix sum over the bounded (type, day) aggregate; the raw
    corpus aggregates once (exact decimal) and is never window-sorted."""
    return timeseries.ewma_daily(table(spark, sf_dir, "events"), alpha=0.3)


@register(
    "ts02_ohlc_downsample",
    tags=("timeseries",),
    doc="Per-type hourly OHLC render-side downsampling.",
    oracle="""
WITH r AS (
    SELECT event_type,
           CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS bkt,
           value,
           row_number() OVER (PARTITION BY event_type, floor(epoch_us(ts) / 3600000000)
                              ORDER BY ts ASC, event_id ASC) AS rf,
           row_number() OVER (PARTITION BY event_type, floor(epoch_us(ts) / 3600000000)
                              ORDER BY ts DESC, event_id DESC) AS rl
    FROM events
)
SELECT event_type, bkt, CAST(count(*) AS BIGINT) AS n,
       round(max(CASE WHEN rf = 1 THEN value END), 6) AS open,
       round(max(value), 6) AS high,
       round(min(value), 6) AS low,
       round(max(CASE WHEN rl = 1 THEN value END), 6) AS close
FROM r GROUP BY 1, 2
""",
)
def ts02_ohlc_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dashboard-grade series reduction: per (event type, hour) the
    open/high/low/close values and count — two rank windows on one
    (key, bucket) exchange feeding a conditional aggregate; ties
    broken by event_id so both engines pick identical open/close."""
    return timeseries.ohlc_downsample(table(spark, sf_dir, "events"))


@register(
    "an05_seasonal_decompose",
    tags=("timeseries",),
    doc="Additive trend/weekday-seasonal/residual decomposition per type.",
    oracle="""
WITH d AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS x
    FROM events GROUP BY 1, 2
),
m AS (
    SELECT *,
           avg(x) OVER w AS ma, count(x) OVER w AS mn
    FROM d
    WINDOW w AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
t AS (
    SELECT event_type, day, x,
           CASE WHEN mn = 7 THEN ma END AS trend,
           x - CASE WHEN mn = 7 THEN ma END AS detr
    FROM m
),
s AS (
    SELECT event_type, isodow(day) - 1 AS wd, avg(detr) AS seasonal
    FROM t GROUP BY 1, 2
)
SELECT t.event_type, t.day,
       round(t.x, 6) AS day_mean,
       round(t.trend, 6) AS trend,
       round(s.seasonal, 6) AS seasonal,
       round(t.detr - s.seasonal, 6) AS residual
FROM t JOIN s ON s.event_type = t.event_type AND s.wd = isodow(t.day) - 1
""",
)
def an05_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition per event type: centered 7-day
    MA trend, weekday seasonal index, residual — the day-grain
    trend-aware sibling of an02's hour-of-day baseline. Daily means in
    exact decimal; all post-aggregate windows run on the bounded
    (type, day) relation."""
    return timeseries.seasonal_decompose(table(spark, sf_dir, "events"))


@register(
    "ts03_twap_locf",
    tags=("timeseries",),
    oracle="""
WITH e AS (
    SELECT user_id, event_id, value AS v, epoch_us(ts) AS us FROM events
),
iv AS (
    SELECT user_id, us,
           lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS nxt_us, v
    FROM e
),
wt AS (
    SELECT user_id, nxt_us - us AS dt_us,
           v * CAST(nxt_us - us AS DOUBLE) AS vdt
    FROM iv WHERE nxt_us IS NOT NULL
),
agg AS (
    SELECT user_id, count(*) + 1 AS n_points, sum(dt_us) AS span_us,
           CAST(sum(CAST(vdt AS DECIMAL(38,6))) AS DOUBLE) AS sum_vdt
    FROM wt GROUP BY user_id
)
SELECT user_id, n_points,
       CAST(floor(span_us / 1000000) AS BIGINT) AS span_s,
       round(sum_vdt / CAST(span_us AS DOUBLE), 6) AS twap
FROM agg WHERE span_us > 0
""",
)
def ts03_twap_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average value under LOCF interpolation —
    TimescaleDB toolkit's ``time_weight('LOCF')`` re-expressed as one
    keyed ``lead`` window plus one aggregate on the same exchange; the
    value*dt products ride as DECIMAL(38,6) so the result is
    summation-order-free at any partition count."""
    return timeseries.twap_locf(table(spark, sf_dir, "events"))


@register(
    "an06_cusum_shift",
    tags=("timeseries",),
    oracle="""
WITH series AS (
    SELECT event_type, CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS bkt,
           round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / count(*), 6) AS x
    FROM events GROUP BY 1, 2
),
st AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS mu,
           CAST(sum(CAST(CAST(x AS DECIMAL(18,6)) * CAST(x AS DECIMAL(18,6))
                         AS DECIMAL(38,12))) AS DOUBLE) AS sx2
    FROM series GROUP BY 1
),
st2 AS (
    SELECT *, sqrt((sx2 - n_buckets * mu * mu) / (n_buckets - 1.0)) AS sigma
    FROM st WHERE n_buckets >= 2
),
y AS (
    SELECT s.event_type, s.bkt, s.x, st2.n_buckets,
           s.x - st2.mu - 0.25 * st2.sigma AS y
    FROM series s JOIN st2 USING (event_type)
),
c AS (
    SELECT *, sum(y) OVER w AS c FROM y
    WINDOW w AS (PARTITION BY event_type ORDER BY bkt
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
s2 AS (
    SELECT *, c - least(0.0, min(c) OVER w) AS s FROM c
    WINDOW w AS (PARTITION BY event_type ORDER BY bkt
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
peak AS (
    SELECT event_type, n_buckets, bkt AS peak_bkt, s AS s_max FROM (
        SELECT *, row_number() OVER (
            PARTITION BY event_type ORDER BY round(s, 9) DESC, bkt ASC
        ) AS rn FROM s2
    ) WHERE rn = 1
),
cp AS (
    SELECT event_type, n_buckets, bkt AS cp_bkt, s_max FROM (
        SELECT s2.event_type, s2.bkt, peak.n_buckets, peak.s_max,
               row_number() OVER (
                   PARTITION BY s2.event_type
                   ORDER BY round(s2.c, 9) ASC, s2.bkt DESC
               ) AS rn
        FROM s2 JOIN peak USING (event_type)
        WHERE s2.bkt <= peak.peak_bkt
    ) WHERE rn = 1
),
ar AS (
    SELECT s.event_type,
           round(CAST(sum(CASE WHEN s.bkt <= cp.cp_bkt
                               THEN CAST(s.x AS DECIMAL(18,6)) END) AS DOUBLE)
                 / sum(CASE WHEN s.bkt <= cp.cp_bkt THEN 1 END), 6) AS mean_before,
           round(CAST(sum(CASE WHEN s.bkt > cp.cp_bkt
                               THEN CAST(s.x AS DECIMAL(18,6)) END) AS DOUBLE)
                 / sum(CASE WHEN s.bkt > cp.cp_bkt THEN 1 END), 6) AS mean_after
    FROM series s JOIN cp USING (event_type) GROUP BY 1
)
SELECT cp.event_type, cp.n_buckets, cp.cp_bkt, round(cp.s_max, 6) AS s_max,
       ar.mean_before, ar.mean_after
FROM cp JOIN ar USING (event_type)
""",
)
def an06_cusum_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact CUSUM change-point per event type over the hourly mean
    series — the sequential S_i = max(0, S_{i-1} + y_i) recursion in
    its window closed form S = C − min(0, running_min(C)), which makes
    the statistic distributable (two ordered window passes on one
    keyed exchange; `mean_shift_changepoints`' sliding contrast is the
    approximation this replaces). Bucket means are 6-dp rounded and
    all cross-row sums ride DECIMAL, so both engines walk identical
    doubles through the cumsum."""
    return timeseries.cusum_changepoint(table(spark, sf_dir, "events"),
                                        bucket_s=3600, slack_k=0.25)


@register(
    "an09_theil_sen",
    tags=("timeseries", "stats"),
    oracle="""
WITH series AS (
    SELECT event_type, CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS bkt,
           round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / count(*), 6) AS x
    FROM events GROUP BY 1, 2
),
p AS (
    SELECT a.event_type,
           round((b.x - a.x) / CAST(b.bkt - a.bkt AS DOUBLE), 9) AS slope
    FROM series a
    JOIN series b ON b.event_type = a.event_type AND a.bkt < b.bkt
),
ts AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
           round(quantile_cont(slope, 0.5), 6) AS slope_theil
    FROM p GROUP BY 1
),
ols AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_buckets,
           sum(bkt) AS sb, sum(bkt * bkt) AS sbb,
           CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
           CAST(sum(CAST(CAST(bkt AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,6))
                         AS DECIMAL(38,6))) AS DOUBLE) AS sbx
    FROM series GROUP BY 1
)
SELECT ols.event_type, ols.n_buckets, ts.n_pairs, ts.slope_theil,
       round((ols.n_buckets * ols.sbx - ols.sb * ols.sx)
             / CAST(ols.n_buckets * ols.sbb - ols.sb * ols.sb AS DOUBLE), 6) AS slope_ols
FROM ols JOIN ts USING (event_type)
""",
)
def an09_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend slope per event type (median of all
    pairwise bucket-mean slopes) next to the OLS slope — one outlier
    bucket drags OLS, moves the median almost nothing. The pairwise
    self-join is keyed on the type and bounded by SERIES-length²
    (the bucket aggregate collapses the corpus first), never corpus²;
    slopes round to 9 dp before the exact median so both engines
    interpolate identical inputs; OLS derives from DECIMAL sufficient
    statistics with exact integer bucket sums."""
    return timeseries.theil_sen_trend(table(spark, sf_dir, "events"),
                                      bucket_s=3600)


@register(
    "an10_runs_test",
    tags=("timeseries", "stats"),
    oracle="""
WITH series AS (
    SELECT event_type, CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS bkt,
           round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / count(*), 6) AS x
    FROM events GROUP BY 1, 2
),
med AS (SELECT event_type, round(quantile_cont(x, 0.5), 6) AS med FROM series GROUP BY 1),
signed AS (
    SELECT s.event_type, s.bkt, CAST(s.x > m.med AS INT) AS s
    FROM series s JOIN med m USING (event_type)
    WHERE s.x <> m.med
),
runs AS (
    SELECT event_type, s,
           CASE WHEN lag(s) OVER w IS NULL OR lag(s) OVER w <> s THEN 1 ELSE 0 END AS new_run
    FROM signed
    WINDOW w AS (PARTITION BY event_type ORDER BY bkt)
),
agg AS (
    SELECT event_type,
           CAST(sum(new_run) AS BIGINT) AS n_runs,
           CAST(sum(s) AS BIGINT) AS n_pos,
           CAST(sum(1 - s) AS BIGINT) AS n_neg
    FROM runs GROUP BY 1
)
SELECT event_type, n_runs, n_pos, n_neg,
       round(CASE WHEN n_pos + n_neg > 0
             THEN 2.0 * n_pos * n_neg / (n_pos + n_neg) + 1.0 END, 6) AS expected_runs,
       round(CASE WHEN n_pos > 0 AND n_neg > 0
                       AND 2 * n_pos * n_neg - n_pos - n_neg > 0
             THEN (n_runs - (2.0 * n_pos * n_neg / (n_pos + n_neg) + 1.0))
                  / sqrt(2.0 * n_pos * n_neg * (2.0 * n_pos * n_neg - n_pos - n_neg)
                         / ((n_pos + n_neg) * (n_pos + n_neg) * (n_pos + n_neg - 1.0)))
             END, 6) AS z
FROM agg
""",
)
def an10_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test on each event type's hourly series vs
    its median — the assumption-free randomness check next to an08's
    ACF (too few runs = trending/clustered, too many = oscillating).
    Integer run/sign counts feed closed-form E[R], Var[R]; exact-median
    ties drop on 6-dp-rounded comparisons so both engines agree on the
    sign sequence; an all-one-sign key reports NULL z, never /0."""
    return timeseries.runs_test(table(spark, sf_dir, "events"), bucket_s=3600)


@register(
    "ts05_downsample_extremes",
    tags=("timeseries",),
    oracle="""
WITH staged AS (
    SELECT event_type, event_id,
           CAST(floor(epoch_us(ts) / 21600000000) AS BIGINT) AS bkt, value AS v
    FROM events
),
b AS (
    SELECT event_type, bkt, CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(sum(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / count(*), 6) AS mean_v
    FROM staged GROUP BY 1, 2
),
j AS (
    SELECT s.*, b.n_events, b.mean_v,
           row_number() OVER (
               PARTITION BY s.event_type, s.bkt
               ORDER BY round(abs(s.v - b.mean_v), 9) DESC, s.event_id ASC
           ) AS rn
    FROM staged s JOIN b USING (event_type, bkt)
)
SELECT event_type, bkt, n_events, mean_v,
       event_id AS ext_event_id,
       round(v, 6) AS ext_value,
       round(abs(v - mean_v), 6) AS ext_dev
FROM j WHERE rn = 1
""",
)
def ts05_downsample_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spike-preserving 6-hour downsampling: per (type, bucket) the
    mean AND the most deviant point — what a dashboard should serve
    instead of a plain bucket average that smooths away exactly the
    spikes being monitored (the reference's Grafana panels average;
    this keeps extremes visible at any zoom). Bucket-mean anchoring
    makes every bucket's pick independent (LTTB's chained pick is
    sequential), so the plan is two co-keyed passes."""
    return timeseries.downsample_extremes(table(spark, sf_dir, "events"),
                                          bucket_s=21600)


# ---------------------------------------------------------------------------
# an11 — seasonal/trend strength (round 8).
# ---------------------------------------------------------------------------

from ntripmonitor_spark.functions.portable import quantize_sql  # noqa: E402


@register(
    "an11_seasonal_strength",
    tags=("timeseries", "stats"),
    oracle=f"""
WITH d AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS x
    FROM events GROUP BY 1, 2
),
m AS (
    SELECT *,
           avg(x) OVER w AS ma, count(x) OVER w AS mn
    FROM d
    WINDOW w AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
t AS (
    SELECT event_type, day, x,
           CASE WHEN mn = 7 THEN ma END AS trend,
           x - CASE WHEN mn = 7 THEN ma END AS detr
    FROM m
),
s AS (
    SELECT event_type, isodow(day) - 1 AS wd, avg(detr) AS seasonal
    FROM t GROUP BY 1, 2
),
comp AS (
    SELECT t.event_type,
           {quantize_sql('t.detr - s.seasonal', 6)} AS r,
           {quantize_sql('s.seasonal', 6)} AS sp,
           {quantize_sql('t.trend', 6)} AS tp
    FROM t JOIN s ON s.event_type = t.event_type AND s.wd = isodow(t.day) - 1
    WHERE t.trend IS NOT NULL
),
g AS (
    SELECT event_type, count(*) AS n,
           sum(r) AS sr, sum(r * r) AS sr2,
           sum(r + sp) AS sq, sum((r + sp) * (r + sp)) AS sq2,
           sum(r + tp) AS su, sum((r + tp) * (r + tp)) AS su2
    FROM comp GROUP BY 1
),
v AS (
    SELECT event_type, n,
           CAST(n AS DOUBLE) * CAST(sr2 AS DOUBLE)
               - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) AS vr,
           CAST(n AS DOUBLE) * CAST(sq2 AS DOUBLE)
               - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) AS vq,
           CAST(n AS DOUBLE) * CAST(su2 AS DOUBLE)
               - CAST(su AS DOUBLE) * CAST(su AS DOUBLE) AS vu
    FROM g
)
SELECT event_type, CAST(n AS BIGINT) AS n_days,
       CASE WHEN vq > 0 THEN
           {quantize_sql('greatest(0.0, 1.0 - vr / vq)', 6)} END AS f_seasonal_ppm,
       CASE WHEN vu > 0 THEN
           {quantize_sql('greatest(0.0, 1.0 - vr / vu)', 6)} END AS f_trend_ppm
FROM v
""",
)
def an11_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal and trend strength per event type (Hyndman's variance-
    ratio measures over the an05 decomposition) — the one-number
    triage that says whether a series deserves a seasonal model
    (an02's baseline) or a plain rolling window (an01). Variance
    moments are exact integer sums of re-quantized 6-dp components,
    so the ratios are deterministic at any partition count and
    version-portable (functions/portable.py); rides the decomposition's
    bounded (key, day) relation with one extra |keys|-row aggregate."""
    return timeseries.seasonal_strength(table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# ts06 — gap-fill with linear interpolation (round 8).
# ---------------------------------------------------------------------------


@register(
    "ts06_gapfill_interpolate",
    tags=("timeseries",),
    oracle=f"""
WITH obs AS (
    SELECT event_type,
           CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS b,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS x
    FROM events GROUP BY 1, 2
),
span AS (SELECT event_type, min(b) AS b_lo, max(b) AS b_hi FROM obs GROUP BY 1),
spine AS (SELECT event_type, unnest(range(b_lo, b_hi + 1)) AS b FROM span),
j AS (
    SELECT s.event_type, s.b, o.x FROM spine s
    LEFT JOIN obs o ON o.event_type = s.event_type AND o.b = s.b
),
filled AS (
    SELECT event_type, b, x,
           last_value(x IGNORE NULLS) OVER wp AS pv,
           last_value(CASE WHEN x IS NOT NULL THEN b END IGNORE NULLS) OVER wp AS pb,
           first_value(x IGNORE NULLS) OVER wn AS nv,
           first_value(CASE WHEN x IS NOT NULL THEN b END IGNORE NULLS) OVER wn AS nb
    FROM j
    WINDOW wp AS (PARTITION BY event_type ORDER BY b
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           wn AS (PARTITION BY event_type ORDER BY b
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type, b AS bucket_idx,
       CAST(x IS NOT NULL AS INT) AS observed,
       CASE WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
           {quantize_sql(
               'CASE WHEN x IS NOT NULL THEN x ELSE '
               'pv + (nv - pv) * (CAST(b - pb AS DOUBLE) / CAST(nb - pb AS DOUBLE)) '
               'END', 6)}
       END AS value_ppm
FROM filled
""",
)
def ts06_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly spine per event type with LINEAR interpolation
    across missing buckets — the time_bucket_gapfill + interpolate()
    leg of the reference's Grafana gap analytics (ts03's TWAP is the
    locf mode; the dashboard heatmap's empty buckets are the rows this
    fills). Edges stay NULL (no extrapolation). Per-key sequence
    spine over the key's own bucket range, ignore-nulls window walls
    on one keyed exchange, fixed-order IEEE interpolation over integer
    bucket indexes and exact-decimal means, BIGINT value_ppm out."""
    return timeseries.gapfill_interpolate(table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# an12 — weekly-periodicity power (7-point Fourier bin) per series (round 8).
# ---------------------------------------------------------------------------

from ntripmonitor_spark.operators.timeseries import W7_COS, W7_SIN  # noqa: E402


def _an12_oracle() -> str:
    """DuckDB twin of timeseries.period_power — the 7 trig weights are
    the SAME Python-computed literals the Spark plan embeds, so no
    engine libm ever enters the comparison."""
    cos_case = "CASE wd " + " ".join(
        f"WHEN {k} THEN {w!r}" for k, w in enumerate(W7_COS)
    ) + " END"
    sin_case = "CASE wd " + " ".join(
        f"WHEN {k} THEN {w!r}" for k, w in enumerate(W7_SIN)
    ) + " END"
    amp = ("2.0 * sqrt(CAST(c_ppm AS DOUBLE) * CAST(c_ppm AS DOUBLE)"
           " + CAST(s_ppm AS DOUBLE) * CAST(s_ppm AS DOUBLE))"
           " / (CAST(n_days AS DOUBLE) * 1000000.0)")
    mean = "CAST(x_ppm AS DOUBLE) / (CAST(n_days AS DOUBLE) * 1000000.0)"
    return f"""
WITH d AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS x
    FROM events GROUP BY 1, 2
),
w AS (SELECT event_type, isodow(day) - 1 AS wd, x FROM d),
g AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           sum({quantize_sql(f'x * ({cos_case})', 6)}) AS c_ppm,
           sum({quantize_sql(f'x * ({sin_case})', 6)}) AS s_ppm,
           sum({quantize_sql('x', 6)}) AS x_ppm
    FROM w GROUP BY 1
)
SELECT event_type, n_days,
       {quantize_sql(amp, 6)} AS weekly_amplitude_ppm,
       {quantize_sql(mean, 6)} AS daily_mean_ppm,
       CASE WHEN x_ppm <> 0 THEN
           {quantize_sql(f'({amp}) / abs({mean})', 6)}
       END AS relative_amplitude_ppm
FROM g
"""


@register(
    "an12_period_power",
    tags=("timeseries", "stats"),
    oracle=_an12_oracle(),
)
def an12_period_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly-periodicity amplitude per event type: the period-7
    Fourier bin over the daily-mean series (C/S weight sums, amplitude
    2*sqrt(C^2+S^2)/n, plus the mean-relative form) — the direct
    spectral 'does this series have a weekly cycle' probe next to
    an08's lag ACF and an11's decomposition strengths. The 7 trig
    weights are Python-computed literals embedded in BOTH engines (no
    libm cos/sin can diverge); per-day products ride as exact integer
    millionths (functions/portable.py). One corpus daily aggregate +
    a |types|-row reduction."""
    return timeseries.period_power(table(spark, sf_dir, "events"))


from ntripmonitor_spark.functions.portable import idiv_sql  # noqa: E402


@register(
    "ts07_lttb_downsample",
    tags=("timeseries",),
    oracle=f"""
WITH base AS (
    SELECT event_type, event_id, epoch_us(ts) AS us,
           {quantize_sql('value', 3)} AS y_e3
    FROM events WHERE value IS NOT NULL
),
st AS (
    SELECT event_type, event_id, us, y_e3,
           row_number() OVER w AS rn,
           count(*) OVER (PARTITION BY event_type) AS n,
           lag(us) OVER w AS xp,
           lag(y_e3) OVER w AS yp,
           lead(us) OVER w AS xn,
           lead(y_e3) OVER w AS yn
    FROM base
    WINDOW w AS (PARTITION BY event_type ORDER BY us ASC, event_id ASC)
),
i AS (
    SELECT event_type, event_id, us, y_e3,
           CAST(CASE WHEN rn = 1 THEN -1
                     WHEN rn = n THEN 20
                     ELSE {idiv_sql('(rn - 1) * 20', 'n')} END AS INT) AS bucket,
           CASE WHEN rn > 1 AND rn < n
                THEN abs((xp - xn) * (y_e3 - yp) - (xp - us) * (yn - yp)) END AS area
    FROM st
)
SELECT event_type, bucket, event_id, us, y_e3,
       CAST(coalesce(area, -1) AS BIGINT) AS area
FROM (
    SELECT *, row_number() OVER (PARTITION BY event_type, bucket
              ORDER BY area DESC NULLS LAST, event_id ASC) AS rk
    FROM i
) WHERE rk = 1
""",
)
def ts07_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle (one-bucket / LTOB) downsampling of each event
    type's series to ~22 shape-preserving points — what a dashboard
    renders instead of shipping every raw point of a 100 TB series.
    Equal-count buckets by pure integer division, triangle areas in
    pure BIGINT arithmetic (x = epoch microseconds exactly; y quantized
    ONCE to integer milli-units — no floating-point chain anywhere),
    argmax per bucket on the integer area with id tie-break, endpoints
    always kept as sentinel buckets -1/20 (alone in their bucket, NULL
    area — one pass, no union branches re-scanning the series). One
    key-ordered window exchange (rank + lag/lead fuse into one Window
    spec), then a bounded (keys x buckets) argmax."""
    return timeseries.lttb_downsample(table(spark, sf_dir, "events"), k=20)

"""Distributional statistics for corpus curation.

Quantile thresholds are how a training-data pipeline turns a quality
metric into a filter: "drop the bottom decile per source" needs the
per-source decile first. The exact operator below is the oracle-checked
baseline; its 100 TB twin is `approx_quantiles` (t-digest-style
`approx_percentile`, mergeable O(1)-per-row state, one partial+final
aggregate) which trades a bounded rank error for never sorting a group.

Reference scope note: the reference has no percentile surface (SURVEY.md
§2.5 lists no ordered-set aggregates); this is a north-star extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

QUANTILES = (0.5, 0.9, 0.99)


def quantile_thresholds(docs: DataFrame, value_col: str = "n_chars",
                        group_col: str = "source",
                        qs: tuple[float, ...] = QUANTILES) -> DataFrame:
    """Exact per-group quantiles (linear interpolation — the
    percentile_cont/quantile_cont definition both engines share) of a
    numeric quality metric, plus the group size.

    One hash-partial + sort-within-group aggregate (a single exchange
    on ``group_col``). Exactness requires each group's values to meet
    on one task; at 100 TB switch to `approx_quantiles` below — same
    output shape, bounded error, no per-group sort.
    """
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    for q in qs:
        pct = F.expr(f"percentile({value_col}, {q!r})")
        aggs.append(F.round(pct, 4).alias(f"p{int(q * 100)}"))
    return docs.groupBy(group_col).agg(*aggs)


def grouped_regression(df: DataFrame, y_col: str, x_col: str,
                       group_col: str) -> DataFrame:
    """Per-group simple linear regression (slope, intercept, R²) as a
    pure aggregation — the "ML as sufficient statistics" pattern: the
    regr_* aggregates reduce to six mergeable sums (n, Σx, Σy, Σxy,
    Σx², Σy²), so the fit is one hash aggregate with map-side combine
    and O(1) state per group at any scale. No iteration, no driver
    data movement — the exact opposite of collect-and-sklearn.

    Results are rounded to 6 decimals so the value-hash is stable
    across engines' accumulation orders.
    """
    return df.groupBy(group_col).agg(
        F.regr_count(F.col(y_col), F.col(x_col)).alias("n"),
        F.round(F.regr_slope(F.col(y_col), F.col(x_col)), 6).alias("slope"),
        F.round(F.regr_intercept(F.col(y_col), F.col(x_col)), 6).alias("intercept"),
        F.round(F.regr_r2(F.col(y_col), F.col(x_col)), 6).alias("r2"),
    )


def approx_quantiles(docs: DataFrame, value_col: str = "n_chars",
                     group_col: str = "source",
                     qs: tuple[float, ...] = QUANTILES,
                     accuracy: int = 10000) -> DataFrame:
    """The scale path: `approx_percentile` — mergeable sketch state,
    no per-group materialization. Not oracle-checkable (the sketch is
    engine-specific), so it ships as a library operator pinned by a
    pytest tolerance test against the exact operator instead."""
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    for q in qs:
        pct = F.expr(f"approx_percentile({value_col}, {q!r}, {accuracy})")
        aggs.append(F.round(pct, 4).alias(f"p{int(q * 100)}"))
    return docs.groupBy(group_col).agg(*aggs)


def histogram_quantiles(df: DataFrame, value_col: str = "value",
                        group_col: str = "event_type", n_bins: int = 128,
                        qs: tuple[float, ...] = QUANTILES) -> DataFrame:
    """Quantiles from MERGEABLE fixed-grid histogram state, with the
    exact quantiles alongside — the oracle-gradable form of the 100 TB
    percentile path. `approx_quantiles` (approx_percentile) is the
    builtin sketch but its state is engine-internal, so it can only be
    tolerance-tested; this estimator's state is an integer bin-count
    vector on a deterministic global grid — mergeable across
    partitions, shards and days by plain addition (the sk01/cm01
    sketch discipline), reproducible on any engine, and within one bin
    width of the target-rank order statistic (the exact INTERPOLATED
    quantile can sit further out in a sparse tail, where it walks
    toward a next value bins away — property-pinned in tests). The
    exact leg (per-group sort) is what a 100 TB run drops; the report
    quantifies exactly what that costs.

    Shape: one tiny global [min, max] aggregate rides back as a
    broadcast to fix the grid; the bin counts are ONE map-side-combined
    hash aggregate (output bounded by groups x n_bins); the cumulative
    walk, quantile pick and interpolation all run on that bounded
    relation. Nothing past the single input-scaled exchange grows with
    the corpus. Estimates and exact values are floor-quantized to
    integer millionths and emitted as BIGINT *_ppm columns
    (functions/portable.py — integer output only); all interpolation
    arithmetic is a fixed chain of IEEE ops over identical inputs on
    both engines.
    """
    cum = hq_cum(df, value_col, group_col, n_bins)
    out = None
    for q in qs:
        leg = hq_est_leg(cum, q, n_bins)
        out = leg if out is None else out.join(leg.drop("n_total"), "g")
    # Exact leg: explicit rank-based linear interpolation rather than
    # the engines' percentile()/quantile_cont() builtins — their
    # interpolation formulas can differ by 1 ulp across engines, which
    # the r7 portability reds showed is enough to flip a quantized
    # digit. Here BOTH sides compute v[k] + (v[k+1]-v[k])*frac over the
    # same ranked rows, so the double chains are textually identical.
    ranked = hq_ranked(df, value_col, group_col)
    exact = None
    for q in qs:
        leg = hq_exact_leg(ranked, q)
        exact = leg if exact is None else exact.join(leg, "g")
    cols = [F.col("g").alias(group_col), F.col("n_total").alias("n")]
    for q in qs:
        p = int(q * 100)
        cols += [F.col(f"est_p{p}_ppm"), F.col(f"exact_p{p}_ppm")]
    return out.join(exact, "g").select(*cols)


# The qa05 internals are standalone leg builders (the histogram state
# and the two interpolation legs) composed by histogram_quantiles; the
# tests check each leg against the composed query.
#
# The memo keys on the INPUT plan's semanticHash + builder params, so
# repeated qa05/qa08 calls persist the corpus-sized ranked relation and
# the bounded cum relation ONCE per input, not once per call (round-10
# ADVICE: the prior docstring claimed this cache before it existed).
# Entries live for the session — bounded by the handful of sf_dirs a
# run touches.

_HQ_MEMO: dict[tuple, tuple[DataFrame, DataFrame]] = {}


def _hq_memoized(kind: str, df: DataFrame, params: tuple, build) -> DataFrame:
    # id(session) in the key so a recreated SparkSession can never serve
    # another session's (dead) persisted relation for the same plan hash
    key = (kind, id(df.sparkSession), df.semanticHash(), *params)
    hit = _HQ_MEMO.get(key)
    if hit is not None:
        cached_input, cached = hit
        # semanticHash is 32-bit: a collision between two DIFFERENT
        # input plans would silently serve the wrong persisted relation
        # (round-11 ADVICE). sameSemantics on the stored input plan
        # makes the lookup exact; on mismatch fall through to a fresh
        # build (un-memoized — collisions are ~never, so no chain).
        if df.sameSemantics(cached_input):
            # A caller's catalog.clearCache() (the plan tests and the
            # corpus benchmark drain cached state) strips the persist
            # marker; re-arm it so a multi-consumer plan doesn't
            # silently degrade to N scans.
            if cached.storageLevel.useMemory is False and cached.storageLevel.useDisk is False:
                cached.persist()
            return cached
        return build()
    got = build().persist()
    _HQ_MEMO[key] = (df, got)
    return got


def clear_hq_memo() -> None:
    """Unpersist and drop every memoized relation (round-11 ADVICE: the
    memo never evicted, so a sweep over many sf_dirs accumulated
    corpus-sized persisted blocks for the process lifetime). Call
    between sf_dirs in sweeps (tools/scale10x.py does)."""
    for _, cached in _HQ_MEMO.values():
        try:
            cached.unpersist()
        except Exception:
            pass  # session may already be stopped
    _HQ_MEMO.clear()


def hq_cum(df: DataFrame, value_col: str = "value",
           group_col: str = "event_type", n_bins: int = 128) -> DataFrame:
    """The persisted bounded (groups x bins) cumulative histogram
    relation: (g, vmin, vmax, b, n, cum, n_total). One tiny [min,max]
    aggregate broadcast back to fix the grid + ONE map-side-combined
    hash aggregate — the only input-scaled work in the estimator."""
    # NULL metric rows are excluded up front: min/max already ignore
    # them, but floor(NULL/w) -> least(NULL, 127) would otherwise
    # silently count every NULL in the TOP bin, and the two engines
    # rank NULLs at opposite ends of an ORDER BY in the exact leg
    df = df.filter(F.col(value_col).isNotNull())

    def build() -> DataFrame:
        ext = df.agg(
            F.min(F.col(value_col).cast("double")).alias("vmin"),
            F.max(F.col(value_col).cast("double")).alias("vmax"),
        )
        v = df.select(
            F.col(group_col).alias("g"), F.col(value_col).cast("double").alias("v")
        ).crossJoin(F.broadcast(ext))
        w = (F.col("vmax") - F.col("vmin")) / F.lit(float(n_bins))
        bin_idx = F.when(F.col("vmax") == F.col("vmin"), F.lit(0)).otherwise(
            F.least(
                F.floor((F.col("v") - F.col("vmin")) / w).cast("int"),
                F.lit(n_bins - 1),
            )
        )
        hist = (
            v.select("g", "vmin", "vmax", bin_idx.alias("b"))
            .groupBy("g", "vmin", "vmax", "b")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        win = Window.partitionBy("g").orderBy("b")
        # the bounded relation feeds one pick per quantile — persist
        # (via the memo) so the corpus aggregate runs once, not per leg
        return hist.select(
            "g", "vmin", "vmax", "b", "n",
            F.sum("n").over(win).alias("cum"),
            F.sum("n").over(Window.partitionBy("g")).alias("n_total"),
        )

    return _hq_memoized("cum", df, (value_col, group_col, n_bins), build)


def hq_est_leg(cum: DataFrame, q: float, n_bins: int = 128) -> DataFrame:
    """One histogram-interpolated quantile from the cum relation:
    (g, n_total, est_pXX_ppm)."""
    from ntripmonitor_spark.functions.portable import quantize

    wd = (F.col("vmax") - F.col("vmin")) / F.lit(float(n_bins))
    target = F.lit(q) * F.col("n_total").cast("double")
    # first bin whose cumulative count reaches the target
    pick = (
        cum.filter(F.col("cum").cast("double") >= target)
        .withColumn(
            "_rk",
            F.row_number().over(Window.partitionBy("g").orderBy("b")),
        )
        .filter(F.col("_rk") == 1)
    )
    est = F.when(F.col("vmax") == F.col("vmin"), F.col("vmin")).otherwise(
        F.col("vmin") + F.col("b").cast("double") * wd
        + wd * (target - (F.col("cum") - F.col("n")).cast("double"))
        / F.col("n").cast("double")
    )
    return pick.select(
        "g", "n_total", quantize(est, 6).alias(f"est_p{int(q * 100)}_ppm")
    )


def hq_ranked(df: DataFrame, value_col: str = "value",
              group_col: str = "event_type") -> DataFrame:
    """The persisted per-group ranked relation the exact leg probes:
    corpus-sized sorted relation probed by rank filters — persisted via
    the memo so the per-group sort runs once per input, not per caller;
    this is the cost the histogram leg exists to avoid at scale."""
    df = df.filter(F.col(value_col).isNotNull())

    def build() -> DataFrame:
        return df.select(
            F.col(group_col).alias("g"),
            F.col(value_col).cast("double").alias("v"),
        ).select(
            "g", "v",
            F.row_number().over(Window.partitionBy("g").orderBy("v")).alias("rk"),
            F.count(F.lit(1)).over(Window.partitionBy("g")).alias("n_g"),
        )

    return _hq_memoized("ranked", df, (value_col, group_col), build)


def hq_exact_leg(ranked: DataFrame, q: float) -> DataFrame:
    """One exact rank-interpolated quantile: (g, exact_pXX_ppm)."""
    from ntripmonitor_spark.functions.portable import quantize

    idx = F.lit(q) * (F.col("n_g") - 1).cast("double")
    k = F.floor(idx).cast("long")
    lo = ranked.filter(F.col("rk") == k + 1).select(
        "g", F.col("v").alias("v_lo"), (idx - k.cast("double")).alias("frac")
    )
    hi = ranked.filter(F.col("rk") == k + 2).select(
        "g", F.col("v").alias("v_hi")
    )
    ex = F.col("v_lo") + (
        F.coalesce(F.col("v_hi"), F.col("v_lo")) - F.col("v_lo")
    ) * F.col("frac")
    return lo.join(hi, "g", "left").select(
        "g", quantize(ex, 6).alias(f"exact_p{int(q * 100)}_ppm")
    )


def length_histogram(docs: DataFrame, value_col: str = "n_chars",
                     group_col: str = "lang", bin_width: int = 250) -> DataFrame:
    """Per-group equal-width histogram of a numeric metric: observed
    bins only, with in-group fraction. One hash aggregate (map-side
    combine caps task output at groups×bins rows); the fraction
    normalizes with a window over the aggregated histogram, so nothing
    past the single exchange scales with input volume — same shape as
    the transition-matrix normalization in mk01."""
    b = F.floor(F.col(value_col) / bin_width).cast("long")
    hist = (
        docs.select(group_col, b.alias("bin"))
        .groupBy(group_col, "bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy(group_col)
    return hist.select(
        group_col,
        (F.col("bin") * bin_width).alias("bin_lo"),
        "n",
        F.round(F.col("n") / F.sum("n").over(w), 9).alias("frac"),
    )


def logistic_fit(df: DataFrame, label_col: str, feature_cols: list[str],
                 iters: int = 20, lr: float = 1.0) -> tuple[list[float], int]:
    """Full-batch gradient-descent logistic regression, distributed
    the way iterative ML actually runs on Spark: the model (K+1
    weights) lives on the driver as literals folded into the scoring
    expression; each iteration is ONE aggregate over the feature
    relation (K+2 mergeable sums — gradient components and the row
    count), a 1-row collect, and a driver-side weight update. No
    per-row Python, no shuffle beyond the aggregate's partial/final
    pair — the ss04/ss07 Lloyd-loop discipline applied to a
    classifier. Persist the feature relation before calling (each
    iteration re-scans it).

    Returns (weights [w0, w_1..w_K], n_rows).
    """
    y = F.col(label_col).cast("double")
    xs = [F.col(c) for c in feature_cols]
    w = [0.0] * (len(feature_cols) + 1)
    n = None
    for _ in range(iters):
        z = F.lit(w[0])
        for wi, x in zip(w[1:], xs):
            z = z + F.lit(wi) * x
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        err = p - y
        aggs = [F.sum(err).alias("g0")] + [
            F.sum(err * x).alias(f"g{i+1}") for i, x in enumerate(xs)
        ] + [F.count(F.lit(1)).alias("n")]
        row = df.agg(*aggs).collect()[0]
        n = row["n"]
        w = [wi - lr * row[f"g{i}"] / n for i, wi in enumerate(w)]
    return w, int(n or 0)


def logreg_quality(docs: DataFrame, label_col: str = "is_en",
                   feature_cols: list[str] | None = None,
                   iters: int = 20, lr: float = 1.0) -> DataFrame:
    """Train-and-evaluate wrapper: fits the classifier and returns a
    single-row DataFrame of weights + training accuracy. The features
    relation is persisted once; training is ``iters`` aggregate scans,
    evaluation one more."""
    feature_cols = feature_cols or [c for c in docs.columns if c not in (label_col,)]
    feats = docs.persist()
    try:
        w, n = logistic_fit(feats, label_col, feature_cols, iters=iters, lr=lr)
        z = F.lit(w[0])
        for wi, c in zip(w[1:], feature_cols):
            z = z + F.lit(wi) * F.col(c)
        pred = (z > 0).cast("int")
        acc_row = feats.agg(
            F.avg((pred == F.col(label_col).cast("int")).cast("double")).alias("acc")
        ).collect()[0]
    finally:
        feats.unpersist()
    spark = docs.sparkSession
    data = [tuple([float(round(x, 6)) for x in w] + [float(round(acc_row["acc"], 6)), n])]
    cols = ["w0"] + [f"w_{c}" for c in feature_cols] + ["train_acc", "n"]
    schema = ", ".join(
        f"{c} double" if c != "n" else "n bigint" for c in cols
    )
    return spark.createDataFrame(data, schema)


def ks_drift(df: DataFrame, value_col: str = "n_chars",
             group_col: str = "source") -> DataFrame:
    """Per-group two-sample Kolmogorov-Smirnov drift: for every group,
    the KS statistic between the group's distribution of ``value_col``
    and the rest of the corpus — the distribution-shift monitor a
    curation pipeline runs when a new crawl/source lands (large KS =
    this source's length/quality profile diverges from the corpus).

    Scale shape: the raw relation collapses FIRST to per-(group, value)
    counts via one map-side-combined aggregate — the only input-scaled
    exchange. Everything after runs on the bounded (groups × distinct
    values) grid: global per-value counts derive from the same
    aggregate, the grid is grouped-cumsum'd per group (window keyed by
    group over |distinct values| rows), and KS is the max abs ECDF gap.
    Exact when ``value_col`` has bounded cardinality (lengths, scores
    rounded to fixed precision); for unbounded continuous values,
    pre-bucketize (hs01's binning) and the same plan yields the
    histogram-KS approximation with error ≤ 1/bins.
    """
    counts = (
        df.groupBy(group_col, value_col)
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return ks_from_counts(counts, value_col=value_col, group_col=group_col)


def ks_from_counts(counts: DataFrame, value_col: str = "n_chars",
                   group_col: str = "source") -> DataFrame:
    """KS drift from a pre-aggregated (group, value, c) count relation
    — the mergeable-state half of :func:`ks_drift`: per-(group, value)
    counts sum across batches/shards, so a streaming monitor appends
    per-batch partials and computes KS merge-on-read with the exact
    batch result (the cm01/sk01 partials discipline)."""
    counts = counts.groupBy(group_col, value_col).agg(F.sum("c").alias("c")).persist()
    # bounded: |distinct values| rows; every group must see every global
    # value point (the ECDF gap can peak at a value the group lacks)
    values = counts.groupBy(value_col).agg(F.sum("c").alias("c_all"))
    groups = counts.groupBy(group_col).agg(F.sum("c").alias("n_g"))
    total = groups.agg(F.sum("n_g").alias("n_total"))  # 1 row, broadcast
    grid = (
        groups.crossJoin(F.broadcast(total))
        .crossJoin(values)  # groups × values: both sides bounded
        .join(counts, [group_col, value_col], "left")
        .fillna(0, subset=["c"])
    )
    n_total = F.col("n_total")
    w = (
        Window.partitionBy(group_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_g = F.sum("c").over(w)
    cum_all = F.sum("c_all").over(w)
    cdf_g = cum_g.cast("double") / F.col("n_g")
    # A lone group has no comparison sample: n_total == n_g would divide
    # by zero (an ANSI-mode job killer); its KS is NULL — undefined, not 0.
    cdf_rest = F.when(
        n_total != F.col("n_g"),
        (cum_all - cum_g).cast("double") / (n_total - F.col("n_g")),
    )
    gap = F.abs(cdf_g - cdf_rest)
    out = (
        grid.select(group_col, F.col("n_g"), gap.alias("gap"))
        .groupBy(group_col, "n_g")
        .agg(F.round(F.max("gap"), 6).alias("ks_stat"))
        .select(group_col, F.col("n_g").alias("n_rows"), "ks_stat")
    )
    return out


def percentile_normalize(docs: DataFrame, value_col: str = "n_chars",
                         group_col: str = "source",
                         id_col: str = "doc_id") -> DataFrame:
    """Per-group percentile (quantile-matching) normalization of a
    quality metric: each document's score becomes its percent rank
    WITHIN its source — the calibration step before cross-source
    quality gating, because raw classifier/heuristic scores are not
    comparable across domains (a 0.7 on arXiv ≠ a 0.7 on webcrawl;
    their per-domain ranks are). Downstream, "keep the top 30%
    per source" is then a single global ``pct >= 0.7`` predicate.

    One keyed exchange (the per-group sort); ties share a rank (SQL
    percent_rank), so the result is deterministic without an id
    tiebreaker and identical across engines.
    """
    w = Window.partitionBy(group_col).orderBy(value_col)
    return docs.select(
        id_col, group_col, value_col,
        F.round(F.percent_rank().over(w), 6).alias("pct_in_group"),
    )


def welch_t_drift(df: DataFrame, value_col: str = "n_chars",
                  group_col: str = "source") -> DataFrame:
    """Per-group Welch's t statistic for the mean of ``value_col``
    against the rest of the corpus — the parametric complement of the
    KS monitor (`ks_drift`): KS sees any distributional change, the t
    statistic quantifies specifically a MEAN shift with its direction
    (positive = this group runs longer/higher than the corpus).

    Pure sufficient statistics: one map-side-combined aggregate
    produces per-group (n, Σx, Σx²); the complement's moments derive
    by subtracting from the broadcast 1-row corpus totals — the
    corpus is scanned once and never joined against itself. Sample
    variance uses the n−1 denominator; groups (or complements) with
    fewer than two rows report NULL, not a division error.
    """
    per = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum(F.col(value_col).cast("double")).alias("s1"),
        F.sum(F.pow(F.col(value_col).cast("double"), 2)).alias("s2"),
    )
    tot = per.agg(
        F.sum("n_g").alias("n_t"), F.sum("s1").alias("t1"), F.sum("s2").alias("t2")
    )
    g = per.crossJoin(F.broadcast(tot))
    n1 = F.col("n_g").cast("double")
    n2 = (F.col("n_t") - F.col("n_g")).cast("double")
    m1 = F.col("s1") / n1
    m2 = (F.col("t1") - F.col("s1")) / F.when(n2 > 0, n2)
    var1 = (F.col("s2") - n1 * m1 * m1) / F.when(n1 > 1, n1 - 1)
    var2 = ((F.col("t2") - F.col("s2")) - n2 * m2 * m2) / F.when(n2 > 1, n2 - 1)
    se = F.sqrt(var1 / n1 + var2 / n2)
    t = F.when(se > 0, (m1 - m2) / se)
    return g.select(
        group_col,
        F.col("n_g").cast("long").alias("n_rows"),
        F.round(m1, 6).alias("mean_group"),
        F.round(m2, 6).alias("mean_rest"),
        F.round(t, 6).alias("t_stat"),
    )


def robust_outlier_screen(docs: DataFrame, value_col: str = "n_chars",
                          group_col: str = "source",
                          z_cut: float = 3.5) -> DataFrame:
    """Median/MAD outlier screen (the robust alternative to mean/std,
    which an outlier can drag far enough to hide itself): per group,
    the median, the median absolute deviation, and how many rows the
    modified z-score 0.6745*(x - med)/MAD flags beyond ``z_cut``
    (Iglewicz-Hoaglin's standard cutoff).

    Two-pass by necessity (MAD is a median OF deviations from the
    median): each pass is one exact per-group percentile aggregate —
    a single keyed exchange — with the |groups|-row median relation
    broadcast back between passes. At 100 TB swap both passes to
    approx_percentile (same shape as qa01's scale twin).
    """
    med = docs.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("med"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    with_dev = docs.join(F.broadcast(med), group_col).withColumn(
        "_dev", F.abs(F.col(value_col) - F.col("med"))
    )
    mad = with_dev.groupBy(group_col).agg(F.expr("percentile(_dev, 0.5)").alias("mad"))
    scored = with_dev.join(F.broadcast(mad), group_col)
    rz = F.lit(0.6745) * (F.col(value_col) - F.col("med")) / F.col("mad")
    return (
        scored.groupBy(group_col)
        .agg(
            F.max("n_rows").alias("n_rows"),
            F.round(F.max("med"), 6).alias("median"),
            F.round(F.max("mad"), 6).alias("mad"),
            F.coalesce(
                F.sum(
                    F.when(F.col("mad") > 0, F.when(F.abs(rz) > z_cut, 1).otherwise(0))
                ),
                F.lit(0),
            ).alias("n_outliers"),
        )
    )


def winsorized_mean(events: DataFrame, lo_q: float = 0.05, hi_q: float = 0.95,
                    group_col: str = "event_type",
                    value_col: str = "value") -> DataFrame:
    """Winsorized mean per group: clip the tails at the exact
    (``lo_q``, ``hi_q``) percentiles, then compare the raw mean to the
    clipped mean — the robust location estimate a metrics pipeline
    publishes when a handful of fat-tail rows would otherwise move the
    dashboard (complement of `robust_outlier_screen`, which flags the
    tail rows; this one neutralizes them).

    One exact per-group percentile aggregate (single keyed exchange),
    broadcast back, then one more keyed aggregate over the clipped
    column. Clipped values round to 6 decimals and sum in DECIMAL, so
    the means are float-order-free; both engines interpolate the
    percentile linearly so the clip bounds agree. 100 TB dial:
    approx_percentile in pass one, same shape.
    """
    pct = events.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, {lo_q})").alias("p_lo"),
        F.expr(f"percentile({value_col}, {hi_q})").alias("p_hi"),
    )
    j = events.join(F.broadcast(pct), group_col)
    v = F.col(value_col).cast("double")
    clip = F.least(F.greatest(v, F.col("p_lo")), F.col("p_hi"))
    return (
        j.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.max("p_lo"), 6).alias("p_lo"),
            F.round(F.max("p_hi"), 6).alias("p_hi"),
            F.round(
                F.sum(F.round(v, 6).cast("decimal(38,6)")).cast("double")
                / F.count(F.lit(1)), 6,
            ).alias("mean_raw"),
            F.round(
                F.sum(F.round(clip, 6).cast("decimal(38,6)")).cast("double")
                / F.count(F.lit(1)), 6,
            ).alias("mean_winsor"),
            F.sum(F.when(v < F.col("p_lo"), 1).otherwise(0)).alias("n_clip_lo"),
            F.sum(F.when(v > F.col("p_hi"), 1).otherwise(0)).alias("n_clip_hi"),
        )
    )


def benford_deviation(events: DataFrame, group_col: str = "event_type",
                      value_col: str = "value") -> DataFrame:
    """First-significant-digit (Benford) screen per group: the digit
    histogram of positive values vs the Benford expectation
    log10(1 + 1/d), summarized as a chi-square statistic — the classic
    fabricated/corrupted-feed detector for financial-style columns.

    The digit is floor(v / 10^floor(log10(v))) — pure column math, so
    the whole operator is one map-side-combined aggregate on
    (group, digit) followed by a |groups|×9 reduction. Each group is
    joined against a literal 1..9 digit spine (missing counts coalesce
    to 0), so the chi-square is the STANDARD 9-term statistic — an
    unobserved digit contributes its full expected count, which is
    exactly the signal for sparse/fabricated feeds. ``n_digits`` still
    reports how many digits were actually observed.

    Engine portability (functions/portable.py): the digit comes from a
    pure comparison spine against exact decimal literals d*10^e and the
    nine Benford expectations ride as shortest-roundtrip double
    literals — NO log10/pow anywhere, so libm (not correctly rounded
    on every platform) never enters the comparison. Counts are exact
    integers; each chi-square term is floor-quantized to integer
    billionths and BIGINT-summed, and the statistic is emitted AS that
    BIGINT (``chi2_e9``) alongside ``p_digit1_ppm`` — integer output
    columns only, the one emission class never driver-red.
    """
    from ntripmonitor_spark.functions.portable import (
        BENFORD_L10,
        first_digit,
        quantize,
    )

    v = F.col(value_col).cast("double")
    by_digit = (
        events.filter(v > 0)
        .select(group_col, first_digit(v).alias("digit"))
        .groupBy(group_col, "digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = by_digit.groupBy(group_col).agg(F.sum("n").alias("n_tot"))
    spine = tot.select(
        group_col, "n_tot",
        F.explode(F.array(*[
            F.struct(
                F.lit(d).cast("int").alias("digit"),
                F.lit(float(BENFORD_L10[d])).alias("l10"),
            )
            for d in range(1, 10)
        ])).alias("dl"),
    ).select(group_col, "n_tot", F.col("dl.digit").alias("digit"), F.col("dl.l10").alias("l10"))
    j = spine.join(by_digit, [group_col, "digit"], "left").withColumn(
        "n", F.coalesce("n", F.lit(0))
    )
    exp_n = F.col("n_tot").cast("double") * F.col("l10")
    term = quantize(
        (F.col("n").cast("double") - exp_n) * (F.col("n").cast("double") - exp_n) / exp_n, 9
    )
    return (
        j.groupBy(group_col)
        .agg(
            F.max("n_tot").alias("n_rows"),
            F.sum(F.when(F.col("n") > 0, 1).otherwise(0)).alias("n_digits"),
            F.sum(term).alias("chi2_e9"),
            F.max(F.when(F.col("digit") == 1,
                         quantize(F.col("n").cast("double") / F.col("n_tot").cast("double"), 6))).alias("p_digit1_ppm"),
        )
    )


def mean_excess(events: DataFrame, q: float = 0.95,
                group_col: str = "event_type",
                value_col: str = "value") -> DataFrame:
    """Peaks-over-threshold tail diagnostics per group: exceedance
    count, mean excess over the exact ``q``-quantile threshold, and
    the maximum — the extreme-value-theory summary (a roughly linear
    mean-excess-vs-threshold trend indicates a generalized-Pareto
    tail) that complements qa04's tail-CLIPPING with tail-MEASURING.

    One exact-percentile aggregate broadcast back, then one keyed
    aggregate over the exceedances only (the filter drops the body of
    the distribution before the shuffle). Excesses are 6-dp rounded
    and DECIMAL-summed — order-free means. 100 TB dial: approx
    percentile in pass one.
    """
    thr = events.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, {q})").alias("u"),
    )
    v = F.col(value_col).cast("double")
    exceed = events.join(F.broadcast(thr), group_col).filter(v > F.col("u"))
    return (
        exceed.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_exceed"),
            F.round(F.max("u"), 6).alias("threshold"),
            F.round(
                F.sum(F.round(v - F.col("u"), 6).cast("decimal(38,6)")).cast("double")
                / F.count(F.lit(1)), 6,
            ).alias("mean_excess"),
            F.round(F.max(v), 6).alias("max_value"),
        )
    )

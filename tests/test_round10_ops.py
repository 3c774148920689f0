"""Round-10 additions: the exact integer-rational emission, the
stages it runs through (dq03, qa05, sp10, tx19), and the two new
operators (sp13 weighted reservoir, mx03 epoch schedule). Every
registered query is also oracle-parity-checked by tests/test_parity.py."""

from __future__ import annotations

from fractions import Fraction
import math

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# mx03 — largest-remainder apportionment invariants
# ---------------------------------------------------------------------------


def test_mx03_batches_sum_exactly(spark):
    """Hamilton apportionment: Sum(batches) == 1000 exactly, base <=
    batches <= base + 1, and exactly `leftover` sources get the +1."""
    from ntripmonitor_spark.plans import REGISTRY

    rows = REGISTRY["mx03_epoch_schedule"].fn(spark, SF).collect()
    assert sum(r["batches"] for r in rows) == 1000
    for r in rows:
        assert r["batches"] in (r["base_batches"], r["base_batches"] + 1)
        assert r["extra"] in (0, 1)
    total = sum(r["n_chars_total"] for r in rows)
    base_sum = sum(r["n_chars_total"] * 1000 // total for r in rows)
    assert sum(r["extra"] for r in rows) == 1000 - base_sum


def test_mx03_proportionality(spark):
    """Each source's batch count is within 1 of its exact entitlement
    (the Hamilton quota property)."""
    from ntripmonitor_spark.plans import REGISTRY

    rows = REGISTRY["mx03_epoch_schedule"].fn(spark, SF).collect()
    total = sum(r["n_chars_total"] for r in rows)
    for r in rows:
        quota = Fraction(r["n_chars_total"] * 1000, total)
        assert math.floor(quota) <= r["batches"] <= math.floor(quota) + 1


# ---------------------------------------------------------------------------
# sp13 — weighted reservoir invariants
# ---------------------------------------------------------------------------


def test_sp13_exact_k_and_weight_skew(spark):
    """Per source: n_kept == min(10, n_frame), and the length-weighted
    draw skews long (kept mean > frame mean) in the aggregate."""
    from ntripmonitor_spark.plans import REGISTRY

    rows = REGISTRY["sp13_weighted_reservoir"].fn(spark, SF).collect()
    assert rows
    for r in rows:
        assert r["n_kept"] == min(10, r["n_frame"])
    skewed = sum(
        r["mean_chars_kept_e3"] > r["mean_chars_frame_e3"] for r in rows
    )
    # weighted selection must skew long in the vast majority of groups
    assert skewed >= len(rows) * 0.8


def test_sp13_partitioning_invariance(spark):
    """The draw is a pure function of ids/weights — repartitioning the
    input cannot change a single output cell."""
    from ntripmonitor_spark.operators.sampling import weighted_reservoir
    from ntripmonitor_spark.tables import table

    docs = table(spark, SF, "documents")
    a = sorted(map(tuple, weighted_reservoir(docs).collect()))
    b = sorted(map(tuple, weighted_reservoir(docs.repartition(7)).collect()))
    assert a == b


# ---------------------------------------------------------------------------
# cu09 — selection-bias audit invariants
# ---------------------------------------------------------------------------


def test_cu09_partitions_the_corpus(spark):
    """kept + dropped == total docs per source (NULL gate verdicts
    count as dropped), and chars partition likewise."""
    from ntripmonitor_spark.plans import REGISTRY
    from ntripmonitor_spark.tables import table

    docs = table(spark, SF, "documents")
    totals = {r["source"]: (r["n"], r["c"]) for r in
              docs.groupBy("source").agg(
                  F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("c")
              ).collect()}
    rows = REGISTRY["cu09_selection_bias"].fn(spark, SF).collect()
    assert {r["source"] for r in rows} == set(totals)
    for r in rows:
        n, c = totals[r["source"]]
        assert r["n_kept"] + r["n_dropped"] == n
        assert r["chars_kept"] + r["chars_dropped"] == c


def test_cu09_bias_is_cross_multiplied_mean_ratio(spark):
    """len_bias_ppm equals round-half-up of the exact rational
    (chars_kept/n_kept) / (chars_dropped/n_dropped) in millionths."""
    from ntripmonitor_spark.plans import REGISTRY

    for r in REGISTRY["cu09_selection_bias"].fn(spark, SF).collect():
        if r["n_kept"] > 0 and r["chars_dropped"] > 0:
            want = math.floor(
                Fraction(r["chars_kept"] * r["n_dropped"] * 10 ** 6,
                         r["chars_dropped"] * r["n_kept"]) + Fraction(1, 2)
            )
            assert r["len_bias_ppm"] == want
        else:
            assert r["len_bias_ppm"] is None


def test_cu09_planted_length_bias(spark):
    """A source whose gate-passing docs are systematically longer must
    show bias > 1e6; the gate verdicts come from the real gopher gate
    (long gibberish docs fail the stopword rule, keepers pass)."""
    from ntripmonitor_spark.operators.text import selection_bias

    def keeper(i, n_words):
        # gate-passing: 20-80 words, mean word len in [3.9, 5] (57x
        # 4-char fillers + the/of/and = 3.93), stopword hits >= 2
        words = ["the", "of", "and"] + ["abcd"] * (n_words - 3)
        return (i, " ".join(words), "s", len(" ".join(words)))

    def reject(i, n_words):
        # no stopwords -> stop_ok fails regardless of length
        words = [f"zzzz{j}" for j in range(n_words)]
        return (i, " ".join(words), "s", len(" ".join(words)))

    rows = [keeper(i, 60) for i in range(5)] + [reject(100 + i, 10) for i in range(5)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long"
    )
    out = selection_bias(docs).collect()[0]
    assert out["n_kept"] == 5 and out["n_dropped"] == 5
    assert out["len_bias_ppm"] > 10 ** 6  # keepers are longer


# ---------------------------------------------------------------------------
# in09 — MaxScore/WAND bound invariants
# ---------------------------------------------------------------------------


def test_in09_bound_dominates_scores(spark):
    """theta >= top1 (the ceiling property), and the top-1 doc itself
    is never prunable, so n_prunable < n_candidates."""
    from ntripmonitor_spark.plans import REGISTRY

    rows = REGISTRY["in09_maxscore_bound"].fn(spark, SF).collect()
    assert rows
    for r in rows:
        assert r["theta_ppm"] >= r["top1_ppm"]
        assert 0 <= r["n_prunable"] < r["n_candidates"]


def test_in09_prunable_matches_exhaustive(spark):
    """The prunable count equals the brute-force recount: docs whose
    matched-term upper-bound sum is strictly below the true top-1."""
    from ntripmonitor_spark.operators.retrieval import doc_terms, maxscore_bound
    from ntripmonitor_spark.plans.retrieval_plans import BM25_QUERIES
    from ntripmonitor_spark.tables import table

    docs = table(spark, SF, "documents")
    got = {r["query_id"]: r for r in maxscore_bound(docs, BM25_QUERIES).collect()}

    # brute-force in python over the same quantized contributions
    terms = doc_terms(docs).collect()
    n_docs = docs.count()
    df: dict[str, int] = {}
    for t in terms:
        df[t["term"]] = df.get(t["term"], 0) + 1
    allq = {t for _, ts in BM25_QUERIES for t in ts}
    c = {}
    for t in terms:
        if t["term"] in allq:
            idf = math.log(1.0 + n_docs / df[t["term"]])
            w = (1.0 + math.log(t["tf"])) * idf
            c[(t["doc_id"], t["term"])] = math.floor(w * idf * 1e6 + 0.5)
    ub: dict[str, int] = {}
    for (_, term), v in c.items():
        ub[term] = max(ub.get(term, -1), v)
    for qid, qts in BM25_QUERIES:
        present = [t for t in qts if t in ub]
        scores: dict[int, int] = {}
        bounds: dict[int, int] = {}
        for (doc, term), v in c.items():
            if term in present:
                scores[doc] = scores.get(doc, 0) + v
                bounds[doc] = bounds.get(doc, 0) + ub[term]
        top1 = max(scores.values())
        r = got[qid]
        assert r["n_terms"] == len(present)
        assert r["theta_ppm"] == sum(ub[t] for t in present)
        assert r["top1_ppm"] == top1
        assert r["n_candidates"] == len(scores)
        assert r["n_prunable"] == sum(1 for d, b in bounds.items() if b < top1)


# ---------------------------------------------------------------------------
# ts07 — LTOB downsample invariants
# ---------------------------------------------------------------------------


def test_ts07_output_shape_and_endpoints(spark):
    """Per key: at most k+2 points, endpoints present with the -1
    sentinel area (round 11: NULL would make the BIGINT column widen
    to float64 in a pandas fetch, truncating 17-digit areas past 2^53
    — the fetchdf-leg corollary of the HUGEINT class), one pick per
    populated interior bucket."""
    from ntripmonitor_spark.plans import REGISTRY

    rows = REGISTRY["ts07_lttb_downsample"].fn(spark, SF).collect()
    by_key: dict[str, list] = {}
    for r in rows:
        by_key.setdefault(r["event_type"], []).append(r)
    assert by_key
    for key, rs in by_key.items():
        buckets = [r["bucket"] for r in rs]
        assert len(buckets) == len(set(buckets)), f"{key}: duplicate bucket pick"
        assert -1 in buckets and 20 in buckets, f"{key}: endpoints missing"
        assert len(rs) <= 22
        for r in rs:
            if r["bucket"] in (-1, 20):
                assert r["area"] == -1
            else:
                assert r["area"] is not None and r["area"] >= 0


def test_ts07_picks_max_area_point(spark):
    """Hand-built series: a spike mid-bucket must be the selected
    point of its bucket (largest triangle), endpoints always kept."""
    import datetime as dt

    from ntripmonitor_spark.operators.timeseries import lttb_downsample

    t0 = dt.datetime(2025, 1, 1)
    rows = []
    for i in range(40):
        v = 100.0 if i == 17 else 1.0 + (i % 3) * 0.1
        rows.append((i, t0 + dt.timedelta(seconds=i), "k", v))
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    out = lttb_downsample(events, k=4)
    picked = {r["bucket"]: r["event_id"] for r in out.collect()}
    # i=17 -> rn=18 -> bucket (18-1)*4 div 40 = 1
    assert picked[1] == 17
    assert picked[-1] == 0 and picked[4] == 39


def test_ts07_partitioning_invariance(spark):
    from ntripmonitor_spark.operators.timeseries import lttb_downsample
    from ntripmonitor_spark.tables import table

    ev = table(spark, SF, "events")
    a = sorted(map(tuple, lttb_downsample(ev).collect()))
    b = sorted(map(tuple, lttb_downsample(ev.repartition(13)).collect()))
    assert a == b


# ---------------------------------------------------------------------------
# canonical stages — each per-row or per-leg stage agrees with its rollup
# ---------------------------------------------------------------------------


def test_dq03_and_qa05_match_their_stages(spark):
    """dq03's count columns are the Knuth-hash partition rollup of the
    per-user event counts, and row_share_ppm is the exact round-half-up
    of n_rows * 10^6 / total over those counts. qa05's est_* and
    exact_* columns are exactly the standalone histogram-interpolation
    and rank-interpolation legs it composes."""
    from ntripmonitor_spark.operators.stats import (
        hq_cum, hq_est_leg, hq_exact_leg, hq_ranked,
    )
    from ntripmonitor_spark.plans import REGISTRY
    from ntripmonitor_spark.tables import table

    ev = table(spark, SF, "events")
    per_key: dict[int, int] = {}
    for r in ev.select("user_id").collect():
        per_key[r["user_id"]] = per_key.get(r["user_id"], 0) + 1
    want: dict[int, list[int]] = {}
    for uid, n in per_key.items():
        a = want.setdefault((uid * 2654435761) % 4294967296 % 32, [0, 0, 0])
        a[0] += 1
        a[1] += n
        a[2] = max(a[2], n)
    total = sum(a[1] for a in want.values())

    dq03 = {r["partition_id"]: r for r in
            REGISTRY["dq03_key_skew_profile"].fn(spark, SF).collect()}
    assert set(dq03) == set(want)
    for pid, (n_keys, n_rows, max_key_rows) in want.items():
        r = dq03[pid]
        assert (r["n_keys"], r["n_rows"], r["max_key_rows"]) == (
            n_keys, n_rows, max_key_rows)
        assert r["row_share_ppm"] == math.floor(
            Fraction(n_rows * 1000000, total) + Fraction(1, 2))

    qa05 = {r["event_type"]: r for r in
            REGISTRY["qa05_histogram_quantiles"].fn(spark, SF).collect()}
    for q in (0.5, 0.9, 0.99):
        p = int(q * 100)
        est = {r["g"]: r[f"est_p{p}_ppm"]
               for r in hq_est_leg(hq_cum(ev), q).collect()}
        exact = {r["g"]: r[f"exact_p{p}_ppm"]
                 for r in hq_exact_leg(hq_ranked(ev), q).collect()}
        assert set(qa05) == set(est) == set(exact)
        for g, r in qa05.items():
            assert est[g] == r[f"est_p{p}_ppm"]
            assert exact[g] == r[f"exact_p{p}_ppm"]


def test_pps_stage_kept_set_matches_sp10_counts(spark):
    """The per-doc keep flags of sampling.pps_stage aggregate to sp10's
    per-source kept counts — the stage and the rollup can't drift."""
    from ntripmonitor_spark.operators.sampling import pps_stage
    from ntripmonitor_spark.plans import REGISTRY
    from ntripmonitor_spark.tables import table

    kept: dict[str, int] = {}
    for r in pps_stage(table(spark, SF, "documents")).collect():
        kept[r["source"]] = kept.get(r["source"], 0) + int(r["bucket"] < r["cutoff"])
    sp10 = {r["source"]: r["n_kept"] for r in
            REGISTRY["sp10_pps_resample"].fn(spark, SF).collect()}
    assert kept == sp10


def test_doc_readability_f_milli_matches_tx19_rollup(spark):
    """Per-doc f_milli sums/counts of text.doc_readability reproduce
    tx19's per-source rollup."""
    from ntripmonitor_spark.operators.text import doc_readability
    from ntripmonitor_spark.plans import REGISTRY
    from ntripmonitor_spark.tables import table

    per_doc = doc_readability(
        table(spark, SF, "documents"), keep_cols=("doc_id",)
    ).collect()
    agg: dict[str, list[int]] = {}
    for r in per_doc:
        a = agg.setdefault(r["source"], [0, 0, 0, 0])  # docs, scored, fsum, easy
        a[0] += 1
        scored = 1 if r["n_words"] > 0 else 0
        a[1] += scored
        a[2] += r["f_milli"]
        a[3] += 1 if (r["f_milli"] >= 60000 and scored) else 0
    tx19 = {r["source"]: r for r in
            REGISTRY["tx19_readability"].fn(spark, SF).collect()}
    assert set(agg) == set(tx19)
    for s, (n_docs, n_scored, f_sum, n_easy) in agg.items():
        r = tx19[s]
        assert (n_docs, n_scored, n_easy) == (r["n_docs"], r["n_scored"], r["n_easy"])
        want_mean = math.floor(Fraction(f_sum, n_scored) + Fraction(1, 2))
        assert r["mean_flesch_e3"] == want_mean


def test_qa05_histogram_state_is_mergeable(spark):
    """The headline claim of the qa05 estimator: its integer bin-count
    state merges across shards by ADDITION. Split events into three
    disjoint batches, bin each on the (fixed) global grid, add the
    count vectors — the sum must equal the full-corpus state of
    stats.hq_cum exactly."""
    from ntripmonitor_spark.operators.stats import hq_cum
    from ntripmonitor_spark.tables import table

    full = {(r["g"], r["b"]): r["n"]
            for r in hq_cum(table(spark, SF, "events")).collect()}

    ev = table(spark, SF, "events").filter(F.col("value").isNotNull())
    ext = ev.agg(
        F.min(F.col("value").cast("double")).alias("vmin"),
        F.max(F.col("value").cast("double")).alias("vmax"),
    ).collect()[0]
    vmin, vmax = ext["vmin"], ext["vmax"]
    w = (vmax - vmin) / 128.0
    merged: dict[tuple, int] = {}
    for i in range(3):
        batch = ev.filter(F.col("event_id") % 3 == i)
        b = F.least(
            F.floor((F.col("value").cast("double") - F.lit(vmin)) / F.lit(w)).cast("int"),
            F.lit(127),
        )
        for r in batch.groupBy("event_type", b.alias("b")).count().collect():
            k = (r["event_type"], r["b"])
            merged[k] = merged.get(k, 0) + r["count"]
    assert merged == full


# ---------------------------------------------------------------------------
# exact-rational emission — the tie class that broke tx19/sp10
# ---------------------------------------------------------------------------


def test_readability_exact_ties_are_deterministic(spark):
    """A document engineered so flesch*1000 + 0.5 is an EXACT integer
    in rational arithmetic (the VERDICT r9 failure class): 1 sentence,
    16 words, syllables chosen so the rational has an exact .5 — the
    integer-rational emission must round half UP, invariantly."""
    from ntripmonitor_spark.operators.text import doc_readability

    # f_milli_true = (206835*s*w - 1015*w^2 - 84600*syll*s) / (s*w)
    # with s=1, w=16: (206835*16 - 1015*256 - 84600*syll) / 16
    # numerator mod 16 == 8 gives an exact half: 206835*16 ≡ 0,
    # 1015*256 ≡ 0 (mod 16), so need 84600*syll ≡ 8 (mod 16);
    # 84600 ≡ 8 (mod 16) -> syll odd.
    words = ["ba"] * 15 + ["xz."]  # 16 whitespace tokens, one '.' run
    text = " ".join(words)  # syllables = count of [aeiouy]+ runs = 15 (odd)
    docs = spark.createDataFrame([(1, text, "s")], "doc_id long, text string, source string")
    row = doc_readability(docs).collect()[0]
    s, w, syll = row["n_sents"], row["n_words"], row["n_syll"]
    assert (s, w) == (1, 16) and syll % 2 == 1
    num = 206835 * s * w - 1015 * w * w - 84600 * syll * s
    want = math.floor(Fraction(num, s * w) + Fraction(1, 2))
    frac = Fraction(num, s * w)
    assert frac + Fraction(1, 2) == math.floor(frac) + 1  # genuinely a tie
    assert row["f_milli"] == want


def test_pps_cutoff_exact_at_max_doc(spark):
    """The max-length doc's cutoff is EXACTLY buckets (the r9 boundary
    case) via pure integer division — no double floor in the path."""
    from ntripmonitor_spark.operators.sampling import pps_stage

    docs = spark.createDataFrame(
        [(i, "s", 100 + i) for i in range(1, 8)],
        "doc_id long, source string, n_chars long",
    )
    rows = {r["doc_id"]: r for r in pps_stage(docs).collect()}
    assert rows[7]["cutoff"] == 1000  # (107*1000) div 107 exactly
    for i in range(1, 7):
        assert rows[i]["cutoff"] == (100 + i) * 1000 // 107

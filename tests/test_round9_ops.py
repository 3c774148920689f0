"""Round-9 wave operators (qa06 gate agreement, tx21 burstiness,
cu08 quality x dup matrix): hand-computed planted cases + invariants.
Every operator is also oracle-parity-checked by tests/test_parity.py
like every registered query."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _doc(n_words: int, stops: int, tag: str) -> str:
    """A text with exactly ``n_words`` words, ``stops`` of them the
    stopword 'the', the rest unique non-stopword fillers."""
    words = ["the"] * stops + [f"{tag}{i}" for i in range(n_words - stops)]
    return " ".join(words)


# ---------------------------------------------------------------------------
# qa06 — Cohen's kappa between the two exact-integer gates
# ---------------------------------------------------------------------------


def test_qa06_independent_gates_score_zero(spark):
    """One doc in each 2x2 cell -> po == pe == 0.5 -> kappa exactly 0."""
    from ntripmonitor_spark.operators.text import gate_agreement

    docs = spark.createDataFrame(
        [
            (1, _doc(25, 2, "a"), "s"),   # ga=1 (25 words), gb=1 (2 stops)
            (2, _doc(25, 0, "b"), "s"),   # ga=1, gb=0
            (3, _doc(10, 2, "c"), "s"),   # ga=0, gb=1
            (4, _doc(5, 0, "d"), "s"),    # ga=0, gb=0
        ],
        "doc_id long, text string, source string",
    )
    r = gate_agreement(docs).collect()[0]
    assert (r["n"], r["n11"], r["n10"], r["n01"], r["n00"]) == (4, 1, 1, 1, 1)
    assert r["po_ppm"] == 500000
    assert r["kappa_ppm"] == 0


def test_qa06_perfect_agreement_scores_one(spark):
    """Gates always co-fire (both margins vary) -> kappa exactly 1."""
    from ntripmonitor_spark.operators.text import gate_agreement

    docs = spark.createDataFrame(
        [
            (1, _doc(25, 2, "a"), "s"), (2, _doc(30, 3, "b"), "s"),  # both pass
            (3, _doc(5, 0, "c"), "s"), (4, _doc(8, 1, "d"), "s"),    # both fail
        ],
        "doc_id long, text string, source string",
    )
    r = gate_agreement(docs).collect()[0]
    assert (r["n11"], r["n00"], r["n10"], r["n01"]) == (2, 2, 0, 0)
    assert r["po_ppm"] == 1000000
    assert r["kappa_ppm"] == 1000000


def test_qa06_degenerate_margin_is_null(spark):
    """All docs pass both gates: pe == 1, denominator 0 -> NULL kappa
    (agreement is undefined when a gate never varies)."""
    from ntripmonitor_spark.operators.text import gate_agreement

    docs = spark.createDataFrame(
        [(i, _doc(25, 2, f"t{i}x"), "s") for i in range(4)],
        "doc_id long, text string, source string",
    )
    r = gate_agreement(docs).collect()[0]
    assert r["n11"] == 4 and r["po_ppm"] == 1000000
    assert r["kappa_ppm"] is None


# ---------------------------------------------------------------------------
# tx21 — term burstiness (variance-to-mean over per-doc counts)
# ---------------------------------------------------------------------------


def test_tx21_clumped_vs_scattered(spark):
    """'aaa' 4x in one of 4 docs: D = (4*16-16)/(4*4) = 3.0; 'bbb'
    once per doc: D = 0 (deterministic term). Zero-count docs enter
    through the moment identity, no dense fill."""
    from ntripmonitor_spark.operators.text import term_burstiness

    docs = spark.createDataFrame(
        [
            (1, "aaa aaa aaa aaa bbb", "s"),
            (2, "bbb x1", "s"),
            (3, "bbb x2", "s"),
            (4, "bbb x3", "s"),
        ],
        "doc_id long, text string, source string",
    )
    out = {r["tok"]: r for r in term_burstiness(docs, top_k=20).collect()}
    assert out["aaa"]["burstiness_e3"] == 3000
    assert out["aaa"]["df"] == 1 and out["aaa"]["total"] == 4
    assert out["bbb"]["burstiness_e3"] == 0
    assert out["bbb"]["df"] == 4 and out["bbb"]["total"] == 4


def test_tx21_topk_rank_contract(spark):
    """Ranks are 1..k, ordered by total desc then token asc; ties
    break deterministically."""
    from ntripmonitor_spark.operators.text import term_burstiness
    from ntripmonitor_spark.tables import table

    rows = term_burstiness(table(spark, SF, "documents"), top_k=10).collect()
    rows.sort(key=lambda r: r["rnk"])
    assert [r["rnk"] for r in rows] == list(range(1, 11))
    totals = [r["total"] for r in rows]
    assert totals == sorted(totals, reverse=True)
    for a, b in zip(rows, rows[1:]):
        if a["total"] == b["total"]:
            assert a["tok"] < b["tok"]


def test_tx21_partitioning_invariance(spark):
    """Exact integer moments: identical output at 1 vs 16 partitions."""
    from ntripmonitor_spark.operators.text import term_burstiness
    from ntripmonitor_spark.tables import table

    docs = table(spark, SF, "documents")
    a = sorted(map(tuple, term_burstiness(docs.coalesce(1)).collect()))
    b = sorted(map(tuple, term_burstiness(docs.repartition(16)).collect()))
    assert a == b


# ---------------------------------------------------------------------------
# cu08 — quality x duplication contingency
# ---------------------------------------------------------------------------


def test_cu08_planted_negative_association(spark):
    """Duplicates are all junk, uniques all pass the gate -> phi = -1
    exactly (the passes remove disjoint mass -> strongest overlap
    signal the statistic can emit is the sign)."""
    from ntripmonitor_spark.operators.dedup import quality_dup_matrix

    junk = _doc(5, 0, "j")  # fails both gates
    docs = spark.createDataFrame(
        [
            (1, junk, "s"), (2, junk, "s"),                # dup + drop
            (3, _doc(25, 2, "a"), "s"), (4, _doc(30, 3, "b"), "s"),  # uniq + keep
        ],
        "doc_id long, text string, source string",
    )
    r = quality_dup_matrix(docs).collect()[0]
    assert (r["n_dup_keep"], r["n_dup_drop"], r["n_uniq_keep"], r["n_uniq_drop"]) == (0, 2, 2, 0)
    assert r["phi_ppm"] == -1000000


def test_cu08_cells_partition_the_corpus(spark):
    """The four cells sum to n_docs per source on the real table, and
    phi is NULL only when a margin is empty."""
    from ntripmonitor_spark.operators.dedup import quality_dup_matrix
    from ntripmonitor_spark.tables import table

    rows = quality_dup_matrix(table(spark, SF, "documents")).collect()
    assert rows
    for r in rows:
        total = r["n_dup_keep"] + r["n_dup_drop"] + r["n_uniq_keep"] + r["n_uniq_drop"]
        assert total == r["n_docs"]
        margins = [
            r["n_dup_keep"] + r["n_dup_drop"], r["n_uniq_keep"] + r["n_uniq_drop"],
            r["n_dup_keep"] + r["n_uniq_keep"], r["n_dup_drop"] + r["n_uniq_drop"],
        ]
        if all(m > 0 for m in margins):
            assert r["phi_ppm"] is not None
            assert -1000000 <= r["phi_ppm"] <= 1000000
        else:
            assert r["phi_ppm"] is None


# ---------------------------------------------------------------------------
# dc04 — fuzzy (MinHash-LSH) decontamination
# ---------------------------------------------------------------------------


def test_dc04_verbatim_copy_flagged_unrelated_clean(spark):
    """A corpus doc that IS a benchmark doc matches all 9 signature
    slots (flagged); a doc sharing no 3-gram produces no candidate."""
    from pyspark.sql import functions as F

    from ntripmonitor_spark.operators.dedup import fuzzy_decontaminate

    bench = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    other = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [(1, bench, "s"), (20, bench, "s"), (21, other, "s")],
        "doc_id long, text string, source string",
    )
    r = fuzzy_decontaminate(docs, F.col("doc_id") < 20).collect()[0]
    assert r["n_docs"] == 2
    assert r["n_candidate_docs"] == 1 and r["n_candidate_pairs"] == 1
    assert r["n_flagged"] == 1
    assert r["max_slot_matches"] == 9


def test_dc04_near_duplicate_partial_slots(spark):
    """A one-word edit mid-document keeps most shingles intact: the
    candidate surfaces with 0 < matches < 9 — the fuzzy class exact
    n-gram membership (dc01) would only see as partial overlap and
    LSH still catches via unchanged bands."""
    from pyspark.sql import functions as F

    from ntripmonitor_spark.operators.dedup import fuzzy_decontaminate

    words = [f"w{i}" for i in range(24)]
    bench = " ".join(words)
    edited = " ".join(words[:12] + ["CHANGED"] + words[13:])
    docs = spark.createDataFrame(
        [(1, bench, "s"), (20, edited, "s")],
        "doc_id long, text string, source string",
    )
    r = fuzzy_decontaminate(docs, F.col("doc_id") < 20).collect()[0]
    assert r["n_candidate_docs"] == 1
    assert 1 <= r["max_slot_matches"] <= 9


def test_dc04_corpus_never_self_matches(spark):
    """Two identical CORPUS docs (both >= 20) must not produce
    candidates — only corpus x benchmark pairs count."""
    from pyspark.sql import functions as F

    from ntripmonitor_spark.operators.dedup import fuzzy_decontaminate

    text = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(1, "completely different benchmark text here now ok", "s"),
         (20, text, "s"), (21, text, "s")],
        "doc_id long, text string, source string",
    )
    r = fuzzy_decontaminate(docs, F.col("doc_id") < 20).collect()[0]
    assert r["n_candidate_docs"] == 0 and r["n_flagged"] == 0


# ---------------------------------------------------------------------------
# tp08 — padding waste per length bucket
# ---------------------------------------------------------------------------


def test_tp08_hand_computed_buckets(spark):
    """5 words pad to 16 (waste 11/16); exactly 16 words waste 0;
    17 words pad to 32 (waste 15/32)."""
    from ntripmonitor_spark.operators.sampling import padding_waste

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"a{i}" for i in range(5)), "s"),
            (2, " ".join(f"b{i}" for i in range(16)), "s"),
            (3, " ".join(f"c{i}" for i in range(17)), "s"),
        ],
        "doc_id long, text string, source string",
    )
    out = {r["padded_len"]: r for r in padding_waste(docs).collect()}
    assert out[16]["n_docs"] == 2 and out[16]["tokens_sum"] == 21
    assert out[16]["pad_sum"] == 11
    # 11 / 32 = 0.34375 -> 343750 ppm
    assert out[16]["waste_ppm"] == 343750
    assert out[32]["pad_sum"] == 15
    assert out[32]["waste_ppm"] == 468750


def test_tp08_zero_token_doc_yields_null_waste(spark):
    """A zero-token doc pads to 0, so the waste share is undefined:
    the guarded emission returns NULL (ADVICE r9 — an unguarded double
    division would give NaN on Spark but NULL/error on the oracle)."""
    from ntripmonitor_spark.operators.sampling import padding_waste

    docs = spark.createDataFrame(
        [(1, "", "s"), (2, "   ", "s"), (3, "one two", "s")],
        "doc_id long, text string, source string",
    )
    out = {r["padded_len"]: r for r in padding_waste(docs).collect()}
    assert out[0]["n_docs"] == 2 and out[0]["waste_ppm"] is None
    assert out[16]["waste_ppm"] == 875000  # 14/16


def test_first_digit_domain_covers_events(spark):
    """first_digit's comparison spine is exact only for v in
    [1e-6, 9.999...e8] (values >= 1e9 would misclassify as 9 — ADVICE
    r9); pin that the events table stays inside that domain."""
    from ntripmonitor_spark.tables import table

    ev = table(spark, SF, "events")
    row = ev.agg(F.max(F.col("value")).alias("mx")).collect()[0]
    assert row["mx"] < 9e8, "events.value outgrew first_digit's spine"
    # dq04 filters value > 0; every surviving value must sit on the spine
    row = ev.filter(F.col("value") > 0).agg(
        F.min(F.col("value")).alias("mn")
    ).collect()[0]
    assert row["mn"] >= 1e-6, "positive events.value fell below the spine"


def test_tp08_conservation(spark):
    """tokens_sum + pad_sum == padded_len * n_docs in every bucket, and
    buckets partition the corpus."""
    from ntripmonitor_spark.operators.sampling import padding_waste
    from ntripmonitor_spark.tables import table

    docs = table(spark, SF, "documents")
    rows = padding_waste(docs).collect()
    assert sum(r["n_docs"] for r in rows) == docs.count()
    for r in rows:
        assert r["tokens_sum"] + r["pad_sum"] == r["padded_len"] * r["n_docs"]
        assert r["padded_len"] % 16 == 0
        assert 0 <= r["waste_ppm"] < 1000000


# ---------------------------------------------------------------------------
# streaming fuzzy decontamination == batch scoring
# ---------------------------------------------------------------------------


def test_streaming_fuzzy_decontam_matches_batch(spark, tmp_path):
    """Multi-trigger replay of the corpus through the streaming
    decontamination scorer produces exactly the batch
    bench_match_scores rows — per-doc scoring against fixed benchmark
    state has no cross-batch interaction, so the equivalence is
    exact."""
    from pyspark.sql import functions as F

    from ntripmonitor_spark.operators.dedup import (
        bench_match_scores,
        minhash_signatures,
    )
    from ntripmonitor_spark.streaming.decontam_stream import (
        start_fuzzy_decontam_stream,
    )
    from ntripmonitor_spark.tables import table

    docs = table(spark, SF, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") < 20)
    corpus = docs.filter(F.col("doc_id") >= 20)

    src = str(tmp_path / "decontam_src")
    for i in range(3):
        corpus.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_fuzzy_decontam_stream(
        stream, bench,
        scores_path=str(tmp_path / "scores"),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    got = {
        r["doc_id"]: (r["n_pairs"], r["max_slot_matches"], r["flagged"])
        for r in spark.read.parquet(str(tmp_path / "scores")).collect()
    }
    want = {
        r["corpus_id"]: (r["n_pairs"], r["max_m"], r["max_m"] >= 5)
        for r in bench_match_scores(
            minhash_signatures(corpus), minhash_signatures(bench)
        ).collect()
    }
    assert got == want
    assert len(got) > 0

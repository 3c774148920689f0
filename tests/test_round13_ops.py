"""Round-13 behavior pins: the string/map fastlit helpers, the
CASE-IN vocab mapper, and the single-job unigram model fit."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_string_lits_bit_identical_to_per_element_lit(spark):
    """string_array_lit / string_map_lit / string_double_map_lit must
    equal the per-element F.lit construction value-for-value, including
    SQL-hostile characters (quotes, backslashes) and doubles needing
    full repr round-trip precision."""
    from ntripmonitor_spark.functions.fastlit import (
        string_array_lit,
        string_double_map_lit,
        string_map_lit,
    )

    words = ["plain", "it's", 'dq"x', "back\\slash", "sp ace", "uni·code"]
    got = spark.range(1).select(string_array_lit(words).alias("a")).first()["a"]
    assert list(got) == words

    pairs = {w: f"v:{w}" for w in words}
    got_m = spark.range(1).select(string_map_lit(pairs).alias("m")).first()["m"]
    assert dict(got_m) == pairs

    import math

    dvals = {"a": 0.1, "b": 1e-300, "c": math.pi, "d": 3.0, "q'x": 2.5000000000000004}
    got_d = spark.range(1).select(string_double_map_lit(dvals).alias("m")).first()["m"]
    ref = spark.range(1).select(
        F.create_map(*[F.lit(x) for kv in dvals.items() for x in kv]).alias("m")
    ).first()["m"]
    assert got_d == ref
    for k, v in dvals.items():
        assert got_d[k] == v and str(got_d[k]) == str(v)


def test_vocab_mapper_matches_isin_form(spark):
    """_vocab_mapper's CASE-IN expression must agree with the former
    when(col.isin(vocab), col).otherwise(unk) on every row, including
    the empty-vocab edge (everything maps to unk)."""
    from ntripmonitor_spark.operators.text import _vocab_mapper

    df = spark.createDataFrame(
        [("alpha",), ("beta",), ("it's",), ("zzz",), ("",)], "tok string"
    )
    vocab = ["alpha", "it's", ""]
    new = df.select(_vocab_mapper(vocab)("tok").alias("v")).collect()
    old = df.select(
        F.when(F.col("tok").isin(vocab), F.col("tok")).otherwise(F.lit("<unk>")).alias("v")
    ).collect()
    assert new == old

    empty = df.select(_vocab_mapper([])("tok").alias("v")).collect()
    assert all(r["v"] == "<unk>" for r in empty)


def test_unigram_model_rollup_matches_two_job_form(spark, sf_dir):
    """The rollup-fused unigram fit must return the identical
    (vocab, total) the former two-job form computed."""
    from ntripmonitor_spark.operators.text import normalized_words, unigram_model
    from ntripmonitor_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    vocab, total = unigram_model(docs, vocab_size=16)

    words = docs.select(F.explode(normalized_words(F.col("text"))).alias("w"))
    ref_total = words.count()
    ref_top = (
        words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("w").asc())
        .limit(16)
        .collect()
    )
    assert total == ref_total
    assert vocab == [(r["w"], r["c"]) for r in ref_top]


def test_unigram_model_empty_input(spark):
    from ntripmonitor_spark.operators.text import unigram_model

    empty = spark.createDataFrame([], "doc_id long, text string")
    vocab, total = unigram_model(empty, vocab_size=4)
    assert vocab == [] and total == 0


def test_signal_name_map_matches_per_element_form(spark):
    """The one-call SQL map literal must equal the former
    create_map(F.lit...) entry-for-entry."""
    from ntripmonitor_spark.operators.rtcm import _signal_name_map
    from ntripmonitor_spark.schema import MSM_SIGNAL_TYPES

    got = spark.range(1).selectExpr(f"{_signal_name_map()} AS m").first()["m"]
    ref = {
        f"{const}|{slot}": name
        for const, names in MSM_SIGNAL_TYPES.items()
        for slot, name in enumerate(names)
    }
    assert dict(got) == ref


def test_sq8_expr_bounds_match_column_form(spark, sf_dir):
    """The expr-string per-dimension bound arrays must equal the former
    F.min/F.max comprehension element-for-element (bit-identical)."""
    from ntripmonitor_spark.operators.simsearch import as_double_vec
    from ntripmonitor_spark.tables import table

    dim = 64
    v = table(spark, sf_dir, "embeddings").select(
        as_double_vec(F.col("embedding")).alias("v")
    )
    new = v.agg(
        F.expr(f"array({','.join(f'min(v[{i}])' for i in range(dim))})").alias("mins"),
        F.expr(f"array({','.join(f'max(v[{i}])' for i in range(dim))})").alias("maxs"),
    ).first()
    old = v.agg(
        F.array(*[F.min(F.col("v")[i]) for i in range(dim)]).alias("mins"),
        F.array(*[F.max(F.col("v")[i]) for i in range(dim)]).alias("maxs"),
    ).first()
    assert list(new["mins"]) == list(old["mins"])
    assert list(new["maxs"]) == list(old["maxs"])


def test_reliable_checkpoint_routes_through_checkpoint_dir(spark, tmp_path, monkeypatch):
    """With SPARK_GRAFT_RELIABLE_CHECKPOINT set, truncate_lineage must
    use reliable checkpoint() (files land under the dir) and return
    the same rows; default behavior (localCheckpoint) is unchanged."""
    import os

    from pyspark.sql import functions as F

    from ntripmonitor_spark.operators.dedup import truncate_lineage

    df = spark.range(0, 100).select(F.col("id").alias("doc_a"))

    default = truncate_lineage(df)
    assert default.count() == 100

    ckdir = str(tmp_path / "reliable_ck")
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", ckdir)
    reliable = truncate_lineage(df)
    assert reliable.count() == 100
    assert sorted(r["doc_a"] for r in reliable.collect()) == list(range(100))
    found = []
    for root, _dirs, files in os.walk(ckdir):
        found.extend(files)
    assert found, "no checkpoint files written under SPARK_GRAFT_RELIABLE_CHECKPOINT"


def test_connected_components_same_labels_under_reliable_checkpoint(spark, tmp_path, monkeypatch):
    from pyspark.sql import functions as F

    from ntripmonitor_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)], "doc_a long, doc_b long"
    )
    nodes = spark.range(0, 30).select(F.col("id").alias("doc_id"))
    base, _ = connected_components(nodes, edges)
    base_rows = sorted(map(tuple, base.collect()))

    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", str(tmp_path / "cc_ck"))
    rel, _ = connected_components(nodes, edges)
    assert sorted(map(tuple, rel.collect())) == base_rows


def test_fused_bloom_build_matches_two_job_form(spark):
    """The one-job bloom build (m derived in-plan from the key count)
    must return the identical (words, m) the former two-job form
    (driver-side count() then collect) computed, including the
    empty-relation edge (m = 64, all-zero words)."""
    from pyspark.sql import functions as F

    from ntripmonitor_spark.operators.dedup import (
        BLOOM_K,
        _bloom_positions,
        bloom_filter_build,
    )

    keys = spark.range(0, 500).select(F.xxhash64("id").alias("h"))

    def two_job_reference(keys_df, bits_per_key=20):
        n_keys = keys_df.count()
        m = max(64, ((bits_per_key * max(n_keys, 1) + 63) // 64) * 64)
        pos = F.explode(F.array(*_bloom_positions(F.col("h"), m, BLOOM_K))).alias("pos")
        rows = (
            keys_df.select(pos)
            .groupBy((F.col("pos") / 64).cast("long").alias("w"))
            .agg(F.bit_or(
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), (F.col("pos") % 64).cast("int")
                )
            ).alias("bits"))
            .collect()
        )
        words = [0] * (m // 64)
        for r in rows:
            words[r["w"]] = r["bits"]
        return words, m

    got_words, got_m = bloom_filter_build(keys, "h")
    ref_words, ref_m = two_job_reference(keys)
    assert got_m == ref_m
    assert got_words == ref_words

    empty = spark.createDataFrame([], "h long")
    w0, m0 = bloom_filter_build(empty, "h")
    assert m0 == 64 and w0 == [0]


def test_replay_clean_stop_restart_adds_nothing(spark, sf_dir, tmp_path):
    """Partition-based replay reader (round-13): after a CLEAN stop at
    end-of-archive, restarting from the same checkpoint must recover
    the replay cursor from the offset log — no re-emitted batches, no
    duplicate rows (the cursor would otherwise restart at row 0)."""
    import glob
    import os

    from ntripmonitor_spark.plans.rtcm import event_blobs
    from ntripmonitor_spark.sources.framing import split_frames
    from ntripmonitor_spark.streaming import pipeline as sp
    from ntripmonitor_spark.streaming.replay import write_frame_archive

    archive = str(tmp_path / "arch")
    write_frame_archive(split_frames(event_blobs(spark, sf_dir)), archive)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    sp.run_archive_to_parquet(spark, archive, out, ckpt, batch_rows=200)
    batches_first = sorted(glob.glob(os.path.join(out, "batch_id=*")))
    rows_first = spark.read.parquet(out).count()
    assert rows_first > 0 and batches_first

    # clean restart: everything is committed; the resumed query must
    # see no new data and write no new batch directories
    sp.run_archive_to_parquet(spark, archive, out, ckpt, batch_rows=200)
    batches_second = sorted(glob.glob(os.path.join(out, "batch_id=*")))
    assert batches_second == batches_first
    assert spark.read.parquet(out).count() == rows_first


def test_vocab_id_mapper_matches_string_mapper(spark):
    """_vocab_id_mapper must be the index-bijection of _vocab_mapper:
    two tokens share an id exactly when the string mapper gives them
    the same symbol, an in-vocab token gets its vocab index, and every
    other token (a literal <unk> in the vocab included) gets
    len(vocab). Covers SQL-hostile tokens and the empty-vocab edge."""
    from ntripmonitor_spark.operators.text import _vocab_id_mapper, _vocab_mapper

    df = spark.createDataFrame(
        [("alpha",), ("beta",), ("it's",), ("zzz",), ("",), ("<unk>",)], "tok string"
    )
    for vocab in (["alpha", "it's", ""], ["alpha", "<unk>", "it's", ""], ["<unk>"], []):
        rows = df.select(
            _vocab_mapper(vocab)("tok").alias("s"), _vocab_id_mapper(vocab)("tok").alias("v")
        ).collect()
        idx = {w: i for i, w in enumerate(vocab) if w != "<unk>"}
        assert [r["v"] for r in rows] == [idx.get(r["s"], len(vocab)) for r in rows], vocab
        pairs = {(r["s"], r["v"]) for r in rows}
        assert len(pairs) == len({s for s, _ in pairs}) == len({v for _, v in pairs}), vocab


def _bigram_nll_string_form(docs, vocab_size):
    """bigram_nll before round 13: string pairs and string tokens."""
    from ntripmonitor_spark.operators.text import _vocab_mapper

    k = 0.5
    toks = F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != "")
    staged = docs.select(F.col("doc_id"), toks.alias("_toks"))
    m = F.greatest(F.size(F.col("_toks")) - 1, F.lit(0))
    pair_col = F.zip_with(
        F.slice(F.col("_toks"), F.lit(1), m),
        F.slice(F.col("_toks"), F.lit(2), m),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    pairs = staged.select("doc_id", F.explode(pair_col).alias("pair")).select(
        "doc_id",
        F.split_part(F.col("pair"), F.lit(" "), F.lit(1)).alias("a"),
        F.split_part(F.col("pair"), F.lit(" "), F.lit(2)).alias("b"),
    )
    vocab_rows = (
        staged.select(F.explode(F.col("_toks")).alias("tok"))
        .groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok").asc())
        .limit(vocab_size).collect()
    )
    vocab = [r["tok"] for r in vocab_rows]
    v_plus = float(len(vocab) + 1)
    to_vocab = _vocab_mapper(vocab)
    mapped = pairs.select(
        "doc_id", to_vocab("a").alias("w1"), to_vocab("b").alias("w2")
    ).persist()
    bc = mapped.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    cx = bc.groupBy("w1").agg(F.sum("c").alias("cw"))
    model = bc.join(cx, "w1").select(
        "w1", "w2",
        F.log((F.col("c") + k) / (F.col("cw") + k * v_plus)).alias("logp"),
    )
    want = (
        mapped.join(F.broadcast(model), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(-F.col("logp")), 6).alias("avg_nll"),
        )
        .orderBy("doc_id")
        .collect()
    )
    mapped.unpersist()
    return want


def test_bigram_nll_id_form_matches_string_form(spark, sf_dir):
    """bigram_nll's round-13 rewrite (struct pairs + int vocab ids)
    must emit row-identical output to the former string-pair +
    string-token form: the ids are a bijection on the string mapper's
    symbols, so every model count, logp and per-doc aggregate is
    unchanged. The second input puts a literal <unk> among the top
    tokens next to out-of-vocab tokens, which the string form (and the
    tx10/cu05 oracles) fold into one symbol."""
    from ntripmonitor_spark.operators.text import bigram_nll
    from ntripmonitor_spark.tables import table

    unk_top = spark.createDataFrame(
        [
            (1, "<unk> a <unk> b <unk> c"),
            (2, "a <unk> d e <unk>"),
            (3, "f g <unk> a h"),
            (4, "<unk> <unk> a b i j"),
        ],
        "doc_id long, text string",
    )
    for docs, vocab_size in ((table(spark, sf_dir, "documents"), 64), (unk_top, 4)):
        got = bigram_nll(docs, vocab_size=vocab_size).orderBy("doc_id").collect()
        assert got == _bigram_nll_string_form(docs, vocab_size), vocab_size


def test_pmi_collocations_matches_persisted_grams_form(spark, sf_dir):
    """tx12's round-13 rewrite (bigram counts persisted, unigram counts
    and totals folded from them) must emit row-identical output to the
    former form, which persisted the corpus-scale pair stream and
    counted unigrams with a unionAll pass over it."""
    from ntripmonitor_spark.operators.dedup import normalized_words, word_shingles
    from ntripmonitor_spark.operators.text import pmi_collocations
    from ntripmonitor_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    for top_n, min_count in ((50, 5), (1000, 1)):
        got = pmi_collocations(docs, top_n=top_n, min_count=min_count).collect()

        # the pre-round-13 reference form, inlined
        words = normalized_words(F.col("text"))
        grams = docs.select(
            F.explode(word_shingles(words, 2)).alias("bigram")
        ).select(
            F.split(F.col("bigram"), " ").getItem(0).alias("w1"),
            F.split(F.col("bigram"), " ").getItem(1).alias("w2"),
        ).persist()
        bc = grams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy"))
        uni = (
            grams.select(F.col("w1").alias("tok"))
            .unionAll(grams.select(F.col("w2").alias("tok")))
            .groupBy("tok").agg(F.count(F.lit(1)).alias("c_tok"))
        )
        totals = grams.agg(F.count(F.lit(1)).alias("t_b")).select(
            "t_b", (F.col("t_b") * 2).alias("t_u")
        )
        want = (
            bc.filter(F.col("c_xy") >= min_count)
            .join(F.broadcast(uni.withColumnRenamed("tok", "w1")
                              .withColumnRenamed("c_tok", "c_x")), "w1")
            .join(F.broadcast(uni.withColumnRenamed("tok", "w2")
                              .withColumnRenamed("c_tok", "c_y")), "w2")
            .crossJoin(F.broadcast(totals))
            .select(
                "w1", "w2", "c_xy",
                F.round(
                    F.log((F.col("c_xy").cast("double") / F.col("t_b"))
                          / ((F.col("c_x").cast("double") / F.col("t_u"))
                             * (F.col("c_y").cast("double") / F.col("t_u")))),
                    6,
                ).alias("pmi"),
            )
            .orderBy(F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc())
            .limit(top_n)
            .collect()
        )
        grams.unpersist()
        assert got, (top_n, min_count)
        assert got == want, (top_n, min_count)

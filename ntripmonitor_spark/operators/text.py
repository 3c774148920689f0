"""Text-analysis operators for corpus curation: language ID (stopword
heuristic), quality scoring, token counting, document fingerprinting.
All pure column expressions (codegen'd, no UDFs) so they run unchanged
in batch and streaming plans and are oracle-reproducible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ntripmonitor_spark.operators.dedup import normalized_words, word_shingles

# Tiny per-language stopword seeds for the n-gram/stopword language-ID
# heuristic. Order = deterministic tie-break priority.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "las", "de", "y", "los"),
    "fr": ("le", "la", "et", "les", "des"),
    "zh": ("的", "是", "了", "在", "我"),
}


def stopword_count(words: Column, stopwords: tuple[str, ...]) -> Column:
    return F.size(F.filter(words, lambda x: x.isin(*stopwords)))


def predict_language(text: Column) -> Column:
    """argmax over per-language stopword counts; ties resolve by the
    fixed LANG_STOPWORDS order (en first)."""
    words = normalized_words(text)
    scores = {lang: stopword_count(words, sw) for lang, sw in LANG_STOPWORDS.items()}
    best = F.greatest(*scores.values())
    pred = F.lit(None).cast("string")
    # build the when-chain in reverse priority so earlier langs win ties
    for lang in reversed(list(LANG_STOPWORDS)):
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    return pred


def language_id(docs: DataFrame) -> DataFrame:
    pred = predict_language(F.col("text"))
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        pred.alias("pred_lang"),
        (pred == F.col("lang")).alias("is_match"),
    )


def quality_score_col(text: Column) -> Column:
    """The weighted quality score alone (rounded to 6) — shared by
    `quality_features` and the curation funnel's gate."""
    words = normalized_words(text)
    n_chars = F.length(text)
    n_tokens = F.size(words)
    alpha_ratio = F.length(F.regexp_replace(text, "[^a-z]", "")).cast("double") / n_chars
    digit_ratio = F.length(F.regexp_replace(text, "[^0-9]", "")).cast("double") / n_chars
    punct_ratio = F.length(F.regexp_replace(text, "[a-z0-9 ]", "")).cast("double") / n_chars
    stop_ratio = stopword_count(words, LANG_STOPWORDS["en"]).cast("double") / n_tokens
    return F.round(
        0.4 * alpha_ratio + 0.3 * (1 - punct_ratio) + 0.2 * stop_ratio + 0.1 * (1 - digit_ratio), 6
    )


def quality_features(docs: DataFrame) -> DataFrame:
    """Length / punctuation / stopword / digit ratios + a weighted
    quality score — the standard cheap pre-filter for training corpora."""
    text = F.col("text")
    words = normalized_words(text)
    n_chars = F.length(text)
    n_tokens = F.size(words)
    sum_tok_len = F.aggregate(words, F.lit(0), lambda acc, x: acc + F.length(x))
    alpha_chars = F.length(F.regexp_replace(text, "[^a-z]", ""))
    digit_chars = F.length(F.regexp_replace(text, "[^0-9]", ""))
    punct_chars = F.length(F.regexp_replace(text, "[a-z0-9 ]", ""))
    stop_all = stopword_count(words, LANG_STOPWORDS["en"])
    alpha_ratio = alpha_chars.cast("double") / n_chars
    digit_ratio = digit_chars.cast("double") / n_chars
    punct_ratio = punct_chars.cast("double") / n_chars
    stop_ratio = stop_all.cast("double") / n_tokens
    mean_tok_len = sum_tok_len.cast("double") / n_tokens
    score = quality_score_col(text)
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars_calc"),
        n_tokens.alias("n_tokens"),
        F.round(mean_tok_len, 6).alias("mean_tok_len"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(digit_ratio, 6).alias("digit_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        score.alias("quality_score"),
    )


# BPE-ish pre-tokenizer: letter runs, digit runs, single non-alnum marks
BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def token_counts(docs: DataFrame) -> DataFrame:
    text = F.col("text")
    return docs.select(
        "doc_id",
        F.size(normalized_words(text)).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.lower(text), F.lit(BPE_PATTERN), F.lit(0))).alias("n_bpe_tokens"),
        F.length(text).alias("n_chars_calc"),
    )


def fingerprints(docs: DataFrame, n: int = 3) -> DataFrame:
    """Document fingerprints: md5 of punctuation/space-normalized text
    plus the min shingle hash (a 1-perm minhash — the rolling-hash
    'winnowing' analog, oracle-reproducible)."""
    norm_text = F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " ")
    )
    # Materialize the words array before the per-gram lambda (see
    # word_shingles docstring for the inlining trap).
    staged = docs.select(
        "doc_id",
        F.md5(norm_text.cast("binary")).alias("norm_fp"),
        normalized_words(F.col("text")).alias("_ws"),
    )
    shingle_hashes = F.transform(
        word_shingles(F.col("_ws"), n), lambda s: F.md5(s.cast("binary"))
    )
    return staged.select(
        "doc_id",
        "norm_fp",
        F.array_min(shingle_hashes).alias("min_shingle_fp"),
    )


def repetition_metrics(docs: DataFrame) -> DataFrame:
    """Gopher-style within-document repetition signals: type-token
    ratio, top-word mass fraction, and duplicate-2-gram fraction —
    the standard filters for boilerplate/looped text.

    2-gram stats are pure array expressions (no explode); word
    frequency needs a (doc, word) aggregate: explode → two-level
    groupBy keyed by doc_id, so the shuffle key is the document —
    at corpus scale this is one combiner-friendly aggregation."""
    base = docs.select("doc_id", normalized_words(F.col("text")).alias("_ws"))
    grams = base.select(
        "doc_id",
        F.size(word_shingles(F.col("_ws"), 2)).alias("n_2grams"),
        F.size(F.array_distinct(word_shingles(F.col("_ws"), 2))).alias("n_distinct_2grams"),
    )
    wordstats = (
        base.select("doc_id", F.explode("_ws").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.count(F.lit(1)).alias("n_distinct_words"),
            F.max("cnt").alias("top_word_cnt"),
        )
    )
    ttr = F.col("n_distinct_words").cast("double") / F.col("n_words")
    top_frac = F.col("top_word_cnt").cast("double") / F.col("n_words")
    dup2 = F.when(
        F.col("n_2grams") > 0,
        1.0 - F.col("n_distinct_2grams").cast("double") / F.col("n_2grams"),
    ).otherwise(F.lit(0.0))
    return (
        wordstats.join(grams, "doc_id")
        .select(
            "doc_id",
            "n_words",
            F.round(ttr, 6).alias("type_token_ratio"),
            F.round(top_frac, 6).alias("top_word_frac"),
            F.round(dup2, 6).alias("dup_2gram_frac"),
        )
    )


# PII scrub patterns — portable between Java regex (Spark) and RE2
# (DuckDB): no backrefs, no lookaround.
EMAIL_RE = "[a-z0-9.]+@[a-z0-9.]+"
PHONE_RE = "[0-9]{3}-[0-9]{4}"


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Regex PII redaction with match accounting: emails/phone-shaped
    tokens → placeholder tags; emits counts + a fingerprint of the
    scrubbed text (pure column expressions, zero shuffles)."""
    t = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), F.lit(0)))
    n_phones = F.size(F.regexp_extract_all(t, F.lit(PHONE_RE), F.lit(0)))
    scrubbed = F.regexp_replace(F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>")
    return docs.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        F.md5(scrubbed.cast("binary")).alias("scrubbed_fp"),
    )


def unigram_model(docs: DataFrame, vocab_size: int = 64) -> tuple[list[tuple[str, int]], int]:
    """Corpus-derived unigram LM: the top `vocab_size` words by
    (count DESC, word ASC — deterministic ties) plus the total token
    count. One word-keyed aggregate (map-side combine does the heavy
    lifting; only |vocab| rows cross the final exchange via the
    sort-limit) — the 100 TB shape for "fit a tiny model, broadcast
    it"."""
    words = docs.select(F.explode(normalized_words(F.col("text"))).alias("w"))
    # ONE corpus-scale job instead of two (round-13, guide §2.4): the
    # former words.count() re-ran the full explode just to count rows
    # the vocab aggregate was already scanning. rollup("w") computes
    # the per-word counts AND the grand total (the null-w grouping-set
    # row) in the same map-side-combined aggregate; the total row's
    # count is ≥ every word count and NULL sorts first ascending, so
    # it always survives the top-(k+1) cut. Values identical: the
    # grand-total count IS the exploded row count.
    rows = (
        words.rollup("w").agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("w").asc_nulls_first())
        .limit(vocab_size + 1)
        .collect()
    )
    total = next((r["c"] for r in rows if r["w"] is None), 0)
    top = [(r["w"], r["c"]) for r in rows if r["w"] is not None][:vocab_size]
    return top, int(total)


def unigram_surprisal(docs: DataFrame, vocab_size: int = 64) -> DataFrame:
    """Mean per-token surprisal (−log2 p) under the corpus unigram LM —
    the cheap proxy for LM-perplexity quality filtering. The fitted
    model (integer counts) is folded into the plan as a map literal, so
    scoring is a pure column fold over each doc's word list: no join,
    no shuffle, order-deterministic summation; OOV words get the
    0.5/total floor. Rounded to 6 decimals to absorb cross-engine
    log-ULP noise."""
    from ntripmonitor_spark.functions.fastlit import string_double_map_lit

    vocab, total = unigram_model(docs, vocab_size)
    # ONE py4j call for the whole model literal (round-13, guide §5):
    # the per-entry F.lit form paid 2·|vocab| driver↔JVM round trips
    # per plan build. Values bit-identical (integer counts as doubles).
    cnt_map = string_double_map_lit(
        {wc[0]: float(wc[1]) for wc in vocab}
    ) if vocab else F.create_map()
    words = normalized_words(F.col("text"))
    logp = lambda w: -F.log2(  # noqa: E731
        F.coalesce(F.element_at(cnt_map, w), F.lit(0.5)) / F.lit(float(total))
    )
    total_surprisal = F.aggregate(
        F.transform(words, logp), F.lit(0.0), lambda acc, v: acc + v
    )
    n = F.size(words)
    return docs.select(
        "doc_id",
        "source",
        n.alias("n_tokens"),
        F.round(F.when(n > 0, total_surprisal / n), 6).alias("mean_surprisal"),
    )


def bpe_pair_counts(docs: DataFrame, top_n: int = 40) -> DataFrame:
    """Adjacent-token pair frequencies — the counting step of one BPE
    merge round (the top pair is the merge a BPE trainer would apply).

    Pairs are built token-array-side with zip_with over two shifted
    slices (O(1) per element; see word_shingles for the element_at
    inlining trap), then one pair-keyed aggregate. Map-side combine
    collapses each partition to |distinct pairs| rows before the
    exchange, and the final sort-limit moves only top_n rows — the same
    "fit a tiny model" shape as unigram_model, iterable for multi-round
    BPE training. Deterministic ties: (count DESC, pair ASC).
    """
    toks = normalized_words(F.col("text"))
    staged = docs.select(F.col("doc_id"), toks.alias("_toks"))
    m = F.greatest(F.size(F.col("_toks")) - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(F.col("_toks"), F.lit(1), m),
        F.slice(F.col("_toks"), F.lit(2), m),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return (
        staged.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(top_n)
    )


def zipf_fit(docs: DataFrame, top_v: int = 1000, text_col: str = "text",
             group_col: str | None = None) -> DataFrame:
    """Zipf's-law fit over the corpus token-frequency distribution:
    OLS slope/intercept of ln(freq) on ln(rank) for the ``top_v`` most
    frequent tokens (natural text sits near slope −1; a corpus whose
    slope drifts far off is a curation red flag — boilerplate floods
    flatten it, aggressive dedup steepens it).

    Scale shape: the token-frequency table is one hash aggregate with
    map-side combine; only the top_v rows — selected by a bounded
    TakeOrdered, never a full sort — reach the rank window, so the
    single-partition ranking step is O(top_v) regardless of corpus
    size, and the regression itself is lr01's one-aggregate
    sufficient-statistics fit over those top_v rows.
    """
    toks = docs.select(
        F.explode(
            F.filter(F.split(F.lower(F.col(text_col)), " "), lambda x: x != "")
        ).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("f"))
    top = freq.orderBy(F.col("f").desc(), F.col("tok").asc()).limit(top_v)
    # GLOBAL-WINDOW-OK: runs over `top`, already LIMITed to top_v rows.
    w = Window.orderBy(F.col("f").desc(), F.col("tok").asc())
    ranked = top.select(
        F.log(F.col("f").cast("double")).alias("ln_f"),
        F.log(F.row_number().over(w).cast("double")).alias("ln_r"),
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_top"),
        F.round(F.regr_slope(F.col("ln_f"), F.col("ln_r")), 6).alias("slope"),
        F.round(F.regr_intercept(F.col("ln_f"), F.col("ln_r")), 6).alias("intercept"),
        F.round(F.regr_r2(F.col("ln_f"), F.col("ln_r")), 6).alias("r2"),
    )


def _merge_fold(syms: Column, left: str, right: str, merged: str) -> Column:
    """Apply one BPE merge to a symbol array as a pure column fold:
    leftmost-first, non-overlapping (the fold consumes its own output,
    so 'a a a' with merge (a,a) yields ['aa','a'] — standard BPE)."""
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train(docs: DataFrame, n_merges: int = 8,
              text_col: str = "text") -> DataFrame:
    """Distributed BPE tokenizer training (Sennrich et al. 2016): the
    full merge loop, not just one pair-count round (tx08).

    The corpus collapses ONCE into a word-frequency table (the only
    input-scaled aggregate — map-side combine; Heaps' law keeps the
    vocab ~O(√N) rows). Every merge round then runs entirely on that
    bounded relation: explode adjacent symbol pairs weighted by word
    count, pick the argmax pair (count desc, pair asc — the standard
    deterministic tie-break), and apply the merge as a pure column
    fold (``aggregate`` over the symbol array, leftmost-first
    non-overlapping — no Python UDF anywhere). One tiny 1-row collect
    per round steers the loop, exactly like the IVF Lloyd iteration
    (ss04/ss07); per-round state is persisted and the previous round
    unpersisted, the dd06 loop discipline.

    Returns the merge table: (rank, left, right, merged, n) — the
    artifact a tokenizer ships.
    """
    words = (
        docs.select(
            F.explode(
                F.filter(F.split(F.lower(F.col(text_col)), " "), lambda x: x != "")
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "cnt",
            F.filter(F.split(F.col("tok"), ""), lambda x: x != "").alias("syms"),
        )
    )
    state = words.persist()
    merges = []
    spark = docs.sparkSession
    for rank in range(n_merges):
        pairs = state.select(
            "cnt",
            F.explode(
                F.zip_with(
                    F.slice(F.col("syms"), 1, F.greatest(F.size("syms") - 1, F.lit(0))),
                    F.slice(F.col("syms"), 2, F.greatest(F.size("syms") - 1, F.lit(0))),
                    lambda a, b: F.concat_ws(" ", a, b),
                )
            ).alias("pair"),
        )
        best = (
            pairs.groupBy("pair")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.col("n").desc(), F.col("pair").asc())
            .limit(1)
            .collect()
        )
        if not best or best[0]["n"] is None:
            break
        pair, n = best[0]["pair"], int(best[0]["n"])
        left, right = pair.split(" ", 1)
        merged = left + right
        merges.append((rank, left, right, merged, n))
        # eager localCheckpoint: materializes the merged state in ONE
        # job (persist + count was two), truncates the per-round
        # lineage growth, and lets the ContextCleaner release the
        # superseded round — the dd06 loop discipline. ~2x faster
        # per round on the bounded vocab relation.
        from ntripmonitor_spark.operators.dedup import truncate_lineage

        nxt = truncate_lineage(state.select(
            "cnt", _merge_fold(F.col("syms"), left, right, merged).alias("syms")
        ), eager=True)
        state.unpersist()
        state = nxt
    state.unpersist()
    return spark.createDataFrame(
        merges, "rank int, left string, right string, merged string, n bigint"
    )


def _vocab_mapper(vocab: list[str], unk: str = "<unk>"):
    """Closed-vocabulary token mapper: token → itself if in ``vocab``
    else the ``unk`` symbol, taking the operand as a SQL fragment.

    Rendered as ONE SQL ``CASE WHEN x IN (…)`` expression per call
    site (round-13, guide §5): the former ``c.isin(vocab)`` paid one
    py4j conversion per vocab word per call site (~40 ms each for a
    64-word vocab; tx14 has nine call sites). The IN list still
    optimizes to the hashed InSet — an ``array_contains`` variant was
    measured 1.4-1.9× SLOWER per row (linear scan of the literal
    array), so the predicate must stay IN. The operand appearing twice
    is the same shape ``F.when(c.isin(..), c)`` had; codegen CSE
    collapses it either way."""
    from ntripmonitor_spark.functions.fastlit import _render_string

    lits = ",".join(_render_string(w) for w in vocab)
    unk_sql = _render_string(unk)

    def to_vocab(operand_sql: str) -> Column:
        if not vocab:
            return F.expr(unk_sql)
        return F.expr(
            f"CASE WHEN {operand_sql} IN ({lits}) THEN {operand_sql} ELSE {unk_sql} END"
        )

    return to_vocab


def _vocab_id_mapper(vocab: list[str], unk: str = "<unk>"):
    """Closed-vocabulary token→INT-id mapper: token → its vocab index
    if in ``vocab`` else ``len(vocab)`` (the unk id), taking the
    operand as a SQL fragment.

    The int-id twin of :func:`_vocab_mapper` for consumers that never
    emit the mapped TOKEN itself, only statistics keyed on it
    (bigram_nll's model counts). A literal ``unk`` token inside
    ``vocab`` also maps to the unk id, because the string mapper emits
    the same symbol for it and for every out-of-vocab token. The ids
    are therefore a bijection on the string mapper's output symbols
    (vocab with ``unk`` removed, plus ``unk``), so every downstream
    count/group/join is identical, while the grouped/cached/joined key
    narrows from a string to a 4-byte int (guide §2.3 — at corpus scale
    the persisted mapped relation and the model join shuffle a fraction
    of the bytes).
    Rendered as ONE literal-map lookup (constant-folded by Catalyst;
    one SQL parse, no per-element py4j — the fastlit discipline)."""
    from ntripmonitor_spark.functions.fastlit import _render_string

    entries = ",".join(
        f"{_render_string(w)},{i}" for i, w in enumerate(vocab) if w != unk
    )
    unk_id = len(vocab)

    def to_vocab_id(operand_sql: str) -> Column:
        if not entries:
            return F.expr(f"CAST({unk_id} AS INT)")
        return F.expr(
            f"coalesce(element_at(map({entries}), {operand_sql}), {unk_id})"
        )

    return to_vocab_id


def bigram_nll(docs: DataFrame, vocab_size: int = 64, k: float = 0.5,
               text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document bigram language-model negative log-likelihood —
    the CCNet-style "perplexity against an in-domain LM" quality
    signal (Wenzek et al. 2020 score against a KenLM model; here the
    LM is fit on the corpus itself, closed vocabulary of the
    ``vocab_size`` most frequent tokens + <unk>, add-k smoothing).
    High avg_nll = text the corpus LM finds surprising: gibberish,
    boilerplate soup, wrong-language fragments.

    Scale shape ("fit tiny, broadcast" — the tx07/ig01 pattern, one
    order up in model size): the vocab is a bounded TakeOrdered
    (≤ vocab_size rows folded back as literals); the bigram model is
    ≤ (V+1)² rows built by one map-side-combined aggregate and
    broadcast for scoring; the corpus itself shuffles only as
    (doc_id, partial-sum) rows in the final per-doc aggregate.
    """
    toks = F.filter(F.split(F.lower(F.col(text_col)), " "), lambda x: x != "")
    staged = docs.select(F.col(id_col), toks.alias("_toks"))
    m = F.greatest(F.size(F.col("_toks")) - 1, F.lit(0))
    # Pairs as (a, b) STRUCTS, not "a b" strings (round-13): the former
    # concat_ws + 2×split_part round-trip built and re-parsed a pair
    # string per bigram — pure per-task waste at corpus scale (guide
    # §1.2 step 2; tokens come from a split on " " so the concat→split
    # was always the identity). A/B at sf0.1: tx10 −13% end-to-end.
    pair_col = F.zip_with(
        F.slice(F.col("_toks"), F.lit(1), m),
        F.slice(F.col("_toks"), F.lit(2), m),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )
    pairs = staged.select(id_col, F.explode(pair_col).alias("p")).select(
        id_col, F.col("p.a").alias("a"), F.col("p.b").alias("b")
    )

    vocab_rows = (
        staged.select(F.explode(F.col("_toks")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok").asc())
        .limit(vocab_size)
        .collect()
    )
    vocab = [r["tok"] for r in vocab_rows]
    v_plus = float(len(vocab) + 1)  # + <unk>
    # INT vocab ids, not the token strings (round-13, guide §2.3): the
    # ids are a bijection on the string mapper's symbols, so the model
    # counts — and therefore every logp and the emitted avg_nll — are
    # identical, while the persisted corpus relation and the model join
    # key narrow from 2 strings to 2 ints. A/B at sf0.1 (interleaved best-of-4):
    # −25% end-to-end on top of the struct-pair change; value-identity
    # pinned by test_bigram_nll_id_form_matches_string_form.
    to_vocab = _vocab_id_mapper(vocab)

    # feeds both the model-count aggregate and the scoring join —
    # persist once (the dd02/dc02 silver-relation discipline) so the
    # pair explode doesn't run twice per action
    mapped = pairs.select(
        id_col, to_vocab("a").alias("w1"), to_vocab("b").alias("w2")
    ).persist()
    bc = mapped.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    cx = bc.groupBy("w1").agg(F.sum("c").alias("cw"))
    model = bc.join(cx, "w1").select(
        "w1", "w2",
        F.log((F.col("c") + k) / (F.col("cw") + k * v_plus)).alias("logp"),
    )
    return (
        mapped.join(F.broadcast(model), ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(-F.col("logp")), 6).alias("avg_nll"),
        )
    )


# Gopher-style rule gate (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", table A1).
# Thresholds re-centred for the synthetic corpus (10-99 words/doc,
# mean word length 3.7-5.3) so every rule actually discriminates;
# the production values (50-100k words, 3-10 chars, 0.1 symbol ratio,
# 80% alpha words, >=2 stopword hits) are the documented defaults.
GOPHER_STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "is", "to", "in")


def gopher_rules(docs: DataFrame,
                 min_words: int = 20, max_words: int = 80,
                 min_mean_len: float = 3.9, max_mean_len: float = 5.0,
                 max_symbol_ratio: float = 0.1,
                 min_alpha_word_ratio: float = 0.8,
                 min_stop_hits: int = 2,
                 keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """Rule-based quality gate: per-document word count, mean word
    length, symbol-to-word ratio, alpha-word fraction and stopword
    presence, each as a boolean flag plus the conjunction (``keep``).
    Pure column expressions over one scan — zero exchanges, and the
    flags are reusable as scan predicates by any downstream funnel
    (same discipline as cu01's gate). ``keep_cols`` threads extra
    input columns through for consumers (cu09's bias audit) — empty by
    default, so tx11's emitted plan is unchanged.
    """
    text = F.lower(F.col("text"))
    words = normalized_words(text)
    n_words = F.size(words)
    mean_len = F.when(
        n_words > 0,
        F.aggregate(words, F.lit(0), lambda a, x: a + F.length(x)).cast("double") / n_words,
    )
    n_symbols = F.length(F.regexp_replace(text, "[a-z0-9 ]", ""))
    symbol_ratio = F.when(n_words > 0, n_symbols.cast("double") / n_words)
    n_alpha_words = F.size(F.filter(words, lambda x: x.rlike("[a-z]")))
    alpha_ratio = F.when(n_words > 0, n_alpha_words.cast("double") / n_words)
    stop_hits = stopword_count(words, GOPHER_STOPWORDS)

    wc_ok = (n_words >= min_words) & (n_words <= max_words)
    ml_ok = (mean_len >= min_mean_len) & (mean_len <= max_mean_len)
    sym_ok = symbol_ratio <= max_symbol_ratio
    alpha_ok = alpha_ratio >= min_alpha_word_ratio
    stop_ok = stop_hits >= min_stop_hits
    return docs.select(
        "doc_id",
        *[F.col(c) for c in keep_cols],
        n_words.alias("n_words"),
        F.round(mean_len, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        F.round(alpha_ratio, 6).alias("alpha_word_ratio"),
        stop_hits.alias("stop_hits"),
        wc_ok.alias("wc_ok"),
        ml_ok.alias("ml_ok"),
        sym_ok.alias("sym_ok"),
        alpha_ok.alias("alpha_ok"),
        stop_ok.alias("stop_ok"),
        (wc_ok & ml_ok & sym_ok & alpha_ok & stop_ok).alias("keep"),
    )


def selection_bias(docs: DataFrame, group_col: str = "source",
                   size_col: str = "n_chars") -> DataFrame:
    """Selection-bias audit of the Gopher quality gate — the report
    that answers "what does my filter throw away?" per source BEFORE a
    100 TB filtering run commits: kept/dropped counts and character
    mass, kept/dropped mean lengths, and the length-bias ratio
    mean_kept/mean_dropped. A bias far from 1 means the gate is a
    covert length filter for that source and the mixture weights
    computed downstream (mx02/mx03) are silently re-weighted.

    A NULL gate verdict (empty doc — the mean-length flag is NULL)
    counts as DROPPED via coalesce, so kept + dropped == total docs.

    All emission is exact BIGINT: counts and sums directly, means as
    integer-rational round-half-up, and the bias ratio cross-multiplied
    into a single rational rh(chars_kept*n_dropped*10^6,
    chars_dropped*n_kept) — no double division anywhere (the gate's
    own double comparisons are tx11's, long driver-green).

    Shape: the gate is pure column expressions fused into the scan;
    one map-side-combined |sources|-row aggregate — one exchange total.
    """
    from ntripmonitor_spark.functions.portable import rational_rh

    flags = gopher_rules(docs, keep_cols=(group_col, size_col))
    kp = F.coalesce(F.col("keep"), F.lit(False))
    agg = flags.groupBy(group_col).agg(
        F.sum(kp.cast("int")).alias("n_kept"),
        F.sum((~kp).cast("int")).alias("n_dropped"),
        F.sum(F.when(kp, F.col(size_col).cast("long")).otherwise(F.lit(0)))
        .alias("chars_kept"),
        F.sum(F.when(kp, F.lit(0)).otherwise(F.col(size_col).cast("long")))
        .alias("chars_dropped"),
    )
    return agg.select(
        group_col, "n_kept", "n_dropped", "chars_kept", "chars_dropped",
        F.when(
            F.col("n_kept") > 0,
            rational_rh(F.col("chars_kept") * F.lit(1000), F.col("n_kept")),
        ).alias("mean_chars_kept_e3"),
        F.when(
            F.col("n_dropped") > 0,
            rational_rh(F.col("chars_dropped") * F.lit(1000), F.col("n_dropped")),
        ).alias("mean_chars_dropped_e3"),
        F.when(
            (F.col("n_kept") > 0) & (F.col("chars_dropped") > 0),
            rational_rh(
                F.col("chars_kept") * F.col("n_dropped") * F.lit(1000000),
                F.col("chars_dropped") * F.col("n_kept"),
            ),
        ).alias("len_bias_ppm"),
    )


def pmi_collocations(docs: DataFrame, top_n: int = 50,
                     min_count: int = 5) -> DataFrame:
    """Top collocations by pointwise mutual information over adjacent
    word pairs: pmi(x,y) = ln( p(x,y) / (p(x)·p(y)) ) with bigram and
    unigram probabilities estimated from corpus counts.

    Shape (round-13): ONE corpus pass total. The exploded pair stream
    feeds only the (w1, w2) bigram-count aggregate (map-side combine;
    the single input-scaled exchange); the unigram counts and the
    grand totals then FOLD OVER that vocabulary²-bounded count table
    (persisted — it is tiny) instead of re-scanning the corpus-scale
    pair stream: c_tok = Σ c_xy over bigram types carrying the token
    in either slot, t_b = Σ c_xy — exactly the former occurrence
    counts (guide §2.3 aggregate-before-shuffle). The earlier form
    persisted the corpus-scale pair stream and scanned the cache three
    more times (unionAll unigram pass + totals) — at 100 TB that cache
    alone is a full corpus copy. Pairs come out of zip_with as
    structs, not "a b" strings re-split per row (the bigram_nll
    identity-round-trip fix). Both re-attachments stay broadcast hash
    joins; the final top-N is a bounded TakeOrdered.
    """
    words = normalized_words(F.col("text"))
    m = F.greatest(F.size(words) - 1, F.lit(0))
    pair_col = F.zip_with(
        F.slice(words, F.lit(1), m),
        F.slice(words, F.lit(2), m),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    grams = docs.select(F.explode(pair_col).alias("p")).select("p.w1", "p.w2")

    bc = grams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy")).persist()
    uni = (
        bc.select(F.col("w1").alias("tok"), F.col("c_xy").alias("c"))
        .unionAll(bc.select(F.col("w2").alias("tok"), F.col("c_xy").alias("c")))
        .groupBy("tok").agg(F.sum("c").alias("c_tok"))
    )
    totals = bc.agg(F.sum("c_xy").alias("t_b")).select(
        "t_b", (F.col("t_b") * 2).alias("t_u")
    )
    scored = (
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
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(top_n)


def bpe_encode(docs: DataFrame, n_merges: int = 8,
               text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Apply a trained BPE tokenizer to the corpus: train the merge
    table (bpe_train — bounded driver loop), fold the ranked merges
    into every word as chained pure column expressions, and emit
    per-document tokenization stats — the encode half a tokenizer
    ships, run at corpus scale.

    The merge table is ≤ n_merges rows and folds in as literals, so
    encoding is ONE scan with zero joins and zero shuffles: each word
    goes chars → n_merges chained folds (leftmost-first
    non-overlapping, identical semantics to the training fold — both
    call _merge_fold). Output: (doc_id, n_chars, n_words, n_tokens,
    tokens_md5) where tokens_md5 hashes the full token stream, so a
    single mis-merged symbol anywhere in the corpus changes the
    output.
    """
    merge_rows = bpe_train(docs, n_merges=n_merges, text_col=text_col).collect()
    merges = [(r["left"], r["right"], r["merged"]) for r in merge_rows]

    words = F.filter(F.split(F.lower(F.col(text_col)), " "), lambda x: x != "")

    def encode_word(w: Column) -> Column:
        syms = F.filter(F.split(w, ""), lambda x: x != "")
        for left, right, merged in merges:
            syms = _merge_fold(syms, left, right, merged)
        return syms

    toks = F.flatten(F.transform(words, encode_word))
    return docs.select(
        F.col(id_col),
        F.length(F.lower(F.col(text_col))).alias("n_chars"),
        F.size(words).alias("n_words"),
        F.size(toks).alias("n_tokens"),
        F.md5(F.to_binary(F.array_join(toks, "|"), F.lit("utf-8"))).alias("tokens_md5"),
    )


def tfidf_keywords(docs: DataFrame, k: int = 3) -> DataFrame:
    """Top-k TF-IDF keywords per document — the classic per-doc
    salient-term extraction (the per-document complement of bm01's
    query-side BM25).

    Shape: one explode feeds the (doc, term) tf aggregate; document
    frequencies reduce to a vocabulary-sized relation that broadcasts
    back (never a corpus sort-merge); the top-k is a window over the
    per-doc term relation keyed by doc_id. ln() on an integer ratio,
    rounded to 6 — identical in every engine.
    """
    n_docs = docs.count()  # one bounded scalar, folded as a literal
    toks = docs.select(
        "doc_id", F.explode(normalized_words(F.col("text"))).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_rel = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(df_rel), "tok").select(
        "doc_id", "tok",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("tok").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("doc_id", F.col("rk").cast("int").alias("rk"), "tok", "tfidf")
    )


def source_divergence(docs: DataFrame, vocab_size: int = 256, k: float = 0.5,
                      text_col: str = "text",
                      group_col: str = "source") -> DataFrame:
    """Per-source unigram KL divergence against the corpus-wide token
    distribution, plus OOV rate — the corpus-shift diagnostic run when
    deciding whether a new source needs its own mixing weight or a
    deeper quality pass (a source whose token distribution diverges
    hard from the corpus is boilerplate, another language, or another
    register; DSIR/ig01 turns the same ratio into per-document
    weights, this reports the per-source aggregate).

    Model: closed vocabulary of the ``vocab_size`` globally most
    frequent tokens + <oov>; corpus and per-source distributions are
    add-k smoothed over V+1 symbols; KL(source ‖ corpus) in bits.

    Scale shape (the tx07/tx10 "fit tiny, broadcast" pattern): the
    corpus collapses to (source, symbol) counts in ONE map-side-
    combined aggregate — the only input-scaled exchange; the vocab is
    a bounded TakeOrdered folded back as literals; the divergence sum
    runs on the (sources × V+1) grid, with the corpus marginal
    (V+1 rows) broadcast.
    """
    toks = F.filter(F.split(F.lower(F.col(text_col)), " "), lambda x: x != "")
    staged = docs.select(F.col(group_col), toks.alias("_toks"))
    exploded = staged.select(group_col, F.explode(F.col("_toks")).alias("tok"))

    # ONE corpus-scale pass (round-13, guide §2.4, the dp03 shape): the
    # (source, token) count relation is the only input-scaled aggregate;
    # both the vocab fit (re-aggregated over tokens) and the symbol
    # counts (mapped + re-aggregated) fold over it — the former private
    # vocab job re-ran the full explode a second time. The persisted
    # relation is vocabulary-sized per source, never corpus-sized.
    st = exploded.groupBy(group_col, "tok").agg(
        F.count(F.lit(1)).alias("c")
    ).persist()
    vocab_rows = (
        st.groupBy("tok").agg(F.sum("c").alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok").asc())
        .limit(vocab_size)
        .collect()
    )
    vocab = [r["tok"] for r in vocab_rows]
    v_plus = float(len(vocab) + 1)  # + <oov>

    sym = _vocab_mapper(vocab, unk="<oov>")("tok")
    # the (source, symbol) counts feed four branches of the one returned
    # (lazy) plan; bounded (sources x V+1) rows, LRU-evictable, released
    # by the caller's clearCache().
    sc = st.select(group_col, sym.alias("sym"), "c").groupBy(group_col, "sym").agg(
        F.sum("c").alias("c")
    ).persist()
    totals = sc.groupBy(group_col).agg(F.sum("c").alias("n_s"))
    corpus = sc.groupBy("sym").agg(F.sum("c").alias("c_all"))
    n_all = sc.agg(F.sum("c").alias("n_all"))  # 1 row

    # (sources × V+1) grid: a symbol absent from a source still carries
    # smoothed mass, so the grid — not the sparse counts — is summed
    grid = (
        totals.crossJoin(F.broadcast(n_all))
        .crossJoin(F.broadcast(corpus))
        .join(sc, [group_col, "sym"], "left")
        .fillna(0, subset=["c"])
    )
    p_s = (F.col("c") + k) / (F.col("n_s") + k * v_plus)
    p_c = (F.col("c_all") + k) / (F.col("n_all") + k * v_plus)
    kl_term = p_s * F.log2(p_s / p_c)
    oov = F.when(F.col("sym") == "<oov>", F.col("c")).otherwise(F.lit(0))
    return (
        grid.groupBy(group_col, "n_s")
        .agg(
            F.round(F.sum(kl_term), 6).alias("kl_bits"),
            F.round(F.sum(oov).cast("double") / F.col("n_s").cast("double"), 6).alias("oov_rate"),
        )
        .select(group_col, F.col("n_s").alias("n_tokens"), "kl_bits", "oov_rate")
    )


def stupid_backoff_nll(docs: DataFrame, vocab_size: int = 64,
                       backoff: float = 0.4, k: float = 0.5,
                       text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document trigram stupid-backoff score (Brants et al. 2007,
    "Large Language Models in Machine Translation") — the web-scale LM
    quality signal one order above tx10's bigram NLL. The model is fit
    on the EVEN-doc_id half of the corpus and scores every document:
    held-out docs genuinely exercise the backoff chain (a model fit on
    the full corpus would always find its own trigrams).

        S(w3|w1,w2) = c3/c2            if the trigram was seen
                    = 0.4 · c2'/c1     else if the (w2,w3) bigram was
                    = 0.4² · unigram   else (add-k smoothed, so unseen
                                        unigrams score finitely)

    Scale shape (the tx10 "fit tiny, broadcast" pattern, one order up):
    every model table is bounded by the closed vocab — ≤ (V+1)³ trigram
    rows (65³ ≈ 275 k, a few MB) — and broadcast; the corpus-scale
    trigram relation left-joins them without shuffling, and the only
    input-scaled exchange is the final per-doc aggregate.
    """
    toks = F.filter(F.split(F.lower(F.col(text_col)), " "), lambda x: x != "")
    staged = docs.select(F.col(id_col), toks.alias("_toks"))

    # Persist the TOKENIZED fit half and its token-count table
    # (round-12): the model side feeds five broadcast builds (c3, c2×2,
    # c1×2) plus the vocab and n_total probes — without materialization
    # each build re-tokenizes and re-explodes the fit corpus (measured
    # ~2.5 s of the 3.4 s action at sf0.1). The cache is fit-half-sized
    # (token arrays); at scale this is the persisted model-fit relation
    # every LM pipeline keeps anyway.
    fit = staged.filter(F.col(id_col) % 2 == 0).persist()
    token_counts = (
        fit.select(F.explode(F.col("_toks")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    vocab_rows = (
        token_counts
        .orderBy(F.col("c").desc(), F.col("tok").asc())
        .limit(vocab_size)
        .collect()
    )
    vocab = [r["tok"] for r in vocab_rows]
    v_plus = float(len(vocab) + 1)
    to_vocab = _vocab_mapper(vocab)

    def ngrams(df: DataFrame, n: int) -> DataFrame:
        grams = F.expr(
            f"CASE WHEN size(_toks) >= {n} THEN "
            f"transform(sequence(0, size(_toks) - {n}), i -> "
            + "concat_ws(' ', " + ", ".join(f"_toks[i+{j}]" for j in range(n)) + ")) "
            "ELSE array() END"
        )
        out = df.select(id_col, F.explode(grams).alias("g"))
        return out.select(
            id_col,
            *[
                to_vocab(f"split_part(g, ' ', {j + 1})").alias(f"w{j+1}")
                for j in range(n)
            ],
        )

    tri_fit = ngrams(fit, 3)
    bi_fit = ngrams(fit, 2)
    c3 = tri_fit.groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("c3"))
    # c2 feeds two broadcast builds; persisting the ≤ (V+1)² table was
    # A/B'd in round 13 (interleaved best-of-4: 1.44 s no-persist vs
    # 1.52 s persisted) — re-aggregating the CACHED fit half is cheaper
    # than the extra cache materialization, so it stays unpersisted.
    c2 = bi_fit.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    # Unigram stats fold over the cached token-count table instead of
    # re-exploding the fit corpus: per-mapped-token occurrence counts
    # are sum(c) over the mapped key, and n_total is sum(c) overall —
    # identical values, |distinct tokens|-sized input (round-12).
    c1 = (
        token_counts.select(to_vocab("tok").alias("w1"), "c")
        .groupBy("w1")
        .agg(F.sum("c").alias("c1"))
    )
    n_total = float(token_counts.agg(F.sum("c")).collect()[0][0] or 0)

    scored = ngrams(staged, 3)
    j = (
        scored.join(F.broadcast(c3), ["w1", "w2", "w3"], "left")
        .join(
            F.broadcast(c2.select(F.col("w1").alias("w1"), F.col("w2").alias("w2"), F.col("c2").alias("c2_den"))),
            ["w1", "w2"], "left",
        )
        .join(
            F.broadcast(c2.select(F.col("w1").alias("w2"), F.col("w2").alias("w3"), F.col("c2").alias("c2_num"))),
            ["w2", "w3"], "left",
        )
        .join(F.broadcast(c1.select(F.col("w1").alias("w2"), F.col("c1").alias("c1_den"))), ["w2"], "left")
        .join(F.broadcast(c1.select(F.col("w1").alias("w3"), F.col("c1").alias("c1_uni"))), ["w3"], "left")
    )
    b = F.lit(backoff)
    uni = (F.coalesce(F.col("c1_uni"), F.lit(0)) + F.lit(k)) / F.lit(n_total + k * v_plus)
    s = (
        F.when(F.col("c3").isNotNull(), F.col("c3") / F.col("c2_den"))
        .when(F.col("c2_num").isNotNull(), b * F.col("c2_num") / F.col("c1_den"))
        .otherwise(b * b * uni)
    )
    return (
        j.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.sum(F.when(F.col("c3").isNotNull(), 0).otherwise(1)).cast("int").alias("n_backoff"),
            F.round(F.avg(-F.log(s)), 6).alias("avg_nll"),
        )
    )


def novelty_score(docs: DataFrame, n: int = 3,
                  text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document novelty: the fraction of a doc's distinct word
    n-grams that appear in NO other document — the memorization/
    boilerplate axis (novelty ~1: unique prose; ~0: the doc is
    assembled from corpus-common fragments). The per-doc complement
    of dd09's corpus-level block dedup, and the metric that tells a
    curation run what dedup will do to a source BEFORE running it.

    Shape: the hashed shingle relation is clustered by the 8-byte
    shingle hash on its single input-scaled exchange
    (doc_shingles_hashed cluster_by_hash=True), so the per-shingle
    document-frequency aggregate AND the join-back both run on the
    co-located persisted layout — one exchange total, text never
    rides it.
    """
    from ntripmonitor_spark.operators.dedup import doc_shingles_hashed

    # Feeds both the DF aggregate and the join-back side of the one
    # returned (lazy) plan — unpersisting here would drop the cache
    # before any action sees it. Blocks are LRU-evictable; a serving
    # session releases it via clearCache(), or persists the shingle
    # relation as a silver table and passes it in.
    sh = (
        doc_shingles_hashed(docs, n, id_col=id_col, text_col=text_col,
                            cluster_by_hash=True)
        .withColumnRenamed("shingle_h", "h")
        .persist()
    )
    df_counts = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        sh.join(df_counts, "h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("n_unique"),
        )
    )
    return per_doc.select(
        id_col, "n_shingles",
        F.round(F.col("n_unique") / F.col("n_shingles"), 6).alias("novelty"),
    )


def vocab_coverage(docs: DataFrame, vocab_size: int = 500,
                   source_col: str = "source") -> DataFrame:
    """Per-source vocabulary coverage against the corpus top-V vocab:
    token OOV rate and distinct OOV types — the "will the tokenizer's
    vocab cover this source?" check run before committing a mixing
    plan (a source with a high OOV rate fragments into bytes and
    inflates its real token cost).

    Scale shape: one explode scan feeds a map-side-combined word count
    (vocabulary-bounded output); the top-V cut sorts that bounded
    relation, never corpus rows, and rides back as a broadcast hash
    join against the token stream — the corpus shuffles only for the
    final per-source aggregate (source-count-sized output).
    """
    from ntripmonitor_spark.operators.dedup import normalized_words
    from ntripmonitor_spark.tables import ensure_parallelism

    toks = (
        ensure_parallelism(docs)
        .select(F.col(source_col).alias("source"),
                F.explode(normalized_words(F.col("text"))).alias("word"))
    )
    vocab = (
        toks.groupBy("word").agg(F.count(F.lit(1)).alias("_c"))
        .orderBy(F.col("_c").desc(), F.col("word").asc())
        .limit(vocab_size)
        .select("word", F.lit(True).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "word", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
            F.count_distinct(F.when(F.col("in_vocab").isNull(), F.col("word"))).alias("n_oov_types"),
        )
        .select(
            "source", "n_tokens", "n_oov", "n_oov_types",
            F.round(F.col("n_oov") / F.col("n_tokens"), 6).alias("oov_rate"),
        )
    )


def lexical_diversity(docs: DataFrame, source_col: str = "source") -> DataFrame:
    """Per-source lexical-diversity profile: mean type-token ratio and
    mean hapax share (fraction of a doc's distinct words that appear
    exactly once in it) — cheap repetitiveness/quality signals that
    drop for template/spam text long before a classifier would.

    Entirely array-side: sort each doc's token array once, then count
    run starts (= distinct types) and width-1 runs (= hapaxes) with an
    index-lambda over the sorted array — no explode, no shuffle until
    the final |sources|-row aggregate. Per-doc ratios round to 9
    decimals and sum in DECIMAL, so the source means are independent
    of float summation order.
    """
    s = F.array_sort(F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != ""))
    staged = docs.select(F.col(source_col).alias("source"), s.alias("s")).filter(
        F.size("s") > 0
    )
    run_start = (
        "i -> i = 1 OR element_at(s, i) <> try_element_at(s, i - 1)"
    )
    hapax = (
        "i -> (i = 1 OR element_at(s, i) <> try_element_at(s, i - 1))"
        " AND (i = size(s) OR element_at(s, i) <> try_element_at(s, i + 1))"
    )
    per_doc = staged.select(
        "source",
        F.size("s").alias("n_tokens"),
        F.size(F.expr(f"filter(sequence(1, size(s)), {run_start})")).alias("n_types"),
        F.size(F.expr(f"filter(sequence(1, size(s)), {hapax})")).alias("n_hapax"),
    )
    ttr = F.round(F.col("n_types").cast("double") / F.col("n_tokens"), 9)
    hr = F.round(F.col("n_hapax").cast("double") / F.col("n_types"), 9)
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.round(
                F.sum(ttr.cast("decimal(38,9)")).cast("double") / F.count(F.lit(1)), 6,
            ).alias("avg_ttr"),
            F.round(
                F.sum(hr.cast("decimal(38,9)")).cast("double") / F.count(F.lit(1)), 6,
            ).alias("avg_hapax_share"),
        )
    )


def tokenizer_fertility(docs: DataFrame, source_col: str = "source",
                        lang_col: str = "lang") -> DataFrame:
    """Tokenizer fertility (BPE-ish tokens per whitespace word) by
    (source, lang) — the cost model a mixing plan prices token budgets
    with: a high-fertility slice consumes more of the training budget
    per word, so mixing weights set on raw word counts under-buy it.

    Pure column arithmetic over one scan (both token counts are
    length/regexp expressions; no explode), then one small keyed
    aggregate. Integer token totals divide once per output row.
    """
    text = F.col("text")
    staged = docs.select(
        F.col(source_col).alias("source"), F.col(lang_col).alias("lang"),
        F.size(normalized_words(text)).alias("n_ws"),
        F.size(F.regexp_extract_all(F.lower(text), F.lit(BPE_PATTERN), F.lit(0))).alias("n_bpe"),
    )
    return (
        staged.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_ws").alias("ws_tokens"),
            F.sum("n_bpe").alias("bpe_tokens"),
        )
        .select(
            "source", "lang", "n_docs", "ws_tokens", "bpe_tokens",
            # /0 guard: ANSI Spark errors on x/0 while the oracle's
            # engine yields NULL — emit NULL explicitly on both paths
            F.when(
                F.col("ws_tokens") > 0,
                F.round(F.col("bpe_tokens") / F.col("ws_tokens").cast("double"), 6),
            ).alias("fertility"),
        )
    )


def doc_readability(docs: DataFrame, source_col: str = "source",
                    text_col: str = "text",
                    keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """Per-doc readability stage of :func:`readability` (tx19):
    (source, n_words, f_milli, scored) plus any ``keep_cols`` (e.g.
    doc_id — Catalyst prunes it when the aggregate doesn't need it).
    f_milli is the exact integer-rational round-half-up of flesch*1000
    = (206835*s*w - 1015*w^2 - 84600*syll*s) / (s*w) in pure BIGINT
    arithmetic (functions/portable.rational_rh)."""
    from ntripmonitor_spark.functions.portable import rational_rh
    from ntripmonitor_spark.operators.dedup import normalized_words

    text = F.col(text_col)
    n_words = F.size(normalized_words(text)).cast("long")
    n_sents = F.greatest(
        F.size(F.regexp_extract_all(text, F.lit("[.!?]+"), F.lit(0))), F.lit(1)
    ).cast("long")
    n_syll = F.size(
        F.regexp_extract_all(F.lower(text), F.lit("[aeiouy]+"), F.lit(0))
    ).cast("long")
    # flesch * 1000 as an exact rational: numerator / (n_sents * n_words)
    f_num = (
        F.lit(206835) * n_sents * n_words
        - F.lit(1015) * n_words * n_words
        - F.lit(84600) * n_syll * n_sents
    )
    return docs.select(
        *[F.col(c) for c in keep_cols],
        F.col(source_col).alias("source"),
        n_words.alias("n_words"),
        n_sents.alias("n_sents"),
        n_syll.alias("n_syll"),
        F.when(n_words > 0, rational_rh(f_num, n_sents * n_words))
        .otherwise(F.lit(0)).alias("f_milli"),
        F.when(n_words > 0, F.lit(1)).otherwise(F.lit(0)).alias("scored"),
    )


def readability(docs: DataFrame, source_col: str = "source",
                text_col: str = "text") -> DataFrame:
    """Flesch-reading-ease-style readability per source — the
    quality-adjacent difficulty score a curriculum or mixing plan
    stratifies on (score high = short words/sentences = easy text).
    Per doc: words (whitespace tokens), sentences (terminator runs
    [.!?]+, floor 1), syllables (vowel-group runs [aeiouy]+ — the
    standard proxy; exact both engines since it is one regexp count),
    then flesch = 206.835 - 1.015*(words/sentences)
    - 84.6*(syllables/words), zero-guarded for empty docs.

    Shape: three regexp/size column expressions fused into the corpus
    scan + one |sources|-row rollup — no explode, no join, no second
    scan. Emission (round 10): flesch*1000 is an exact rational with
    denominator n_sents*n_words —
    (206835*s*w - 1015*w^2 - 84600*syll*s) / (s*w) — so the per-doc
    score and the per-source mean are round-half-up INTEGER-RATIONAL
    divisions in pure BIGINT arithmetic (functions/portable.rational_rh;
    no double is ever constructed). The previous double-based quantize
    had PROVEN 1-ulp floor-boundary ties on the sf0.01 data (VERDICT
    r9: docs 16/108/481 at exactly 58408.0) that made the emitted
    integer build-dependent; the rational form is tie-exact on every
    engine."""
    from ntripmonitor_spark.functions.portable import rational_rh

    staged = doc_readability(docs, source_col=source_col, text_col=text_col)
    agg = staged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("scored").alias("n_scored"),
        F.sum("f_milli").alias("f_sum"),
        F.sum(((F.col("f_milli") >= 60000) & (F.col("scored") == 1)).cast("int"))
        .alias("n_easy"),
    )
    return agg.select(
        "source", "n_docs", "n_scored", "n_easy",
        F.when(
            F.col("n_scored") > 0,
            rational_rh(F.col("f_sum"), F.col("n_scored")),
        ).alias("mean_flesch_e3"),
    )


def pairwise_js(docs: DataFrame, vocab_size: int = 24, k: float = 0.5,
                text_col: str = "text",
                group_col: str = "source") -> DataFrame:
    """Pairwise Jensen-Shannon divergence (bits) between every two
    sources' unigram distributions — the SYMMETRIC source-similarity
    matrix next to kl01's source-vs-corpus divergence: JS is bounded
    [0, 1], symmetric, and defined even with disjoint support, which
    makes it the right distance for clustering sources before
    assigning mixing weights.

    Same model and scale shape as source_divergence: closed top-
    ``vocab_size`` vocabulary + <oov>, add-k smoothing, ONE map-side-
    combined (source, symbol) aggregate as the only input-scaled
    exchange; the |sources|² pair join runs on the (sources × V+1)
    grid (tiny). Per-symbol JS terms are floor-quantized to integer
    nano-bits, summed exactly, and emitted AS that BIGINT nano-bits
    sum (js_bits_e9; functions/portable.py — integer output only), so
    the matrix is summation-order-free and engine-version-portable."""
    from ntripmonitor_spark.functions.portable import quantize

    toks = F.filter(F.split(F.lower(F.col(text_col)), " "), lambda x: x != "")
    exploded = docs.select(F.col(group_col), F.explode(toks).alias("tok"))
    # ONE corpus explode+aggregate; the vocab cut and the symbol
    # re-aggregation both run on the bounded (source, token) relation
    # (vocabulary-sized, never corpus-sized), so the corpus is scanned
    # once — not once for the vocab and again for the counts
    st = exploded.groupBy(group_col, "tok").agg(
        F.count(F.lit(1)).alias("c")
    ).persist()
    vocab_rows = (
        st.groupBy("tok").agg(F.sum("c").alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok").asc())
        .limit(vocab_size)
        .collect()
    )
    vocab = [r["tok"] for r in vocab_rows]
    v_plus = float(len(vocab) + 1)

    sym = _vocab_mapper(vocab, unk="<oov>")("tok")
    sc = st.select(group_col, sym.alias("sym"), "c").groupBy(group_col, "sym").agg(
        F.sum("c").alias("c")
    )
    totals = sc.groupBy(group_col).agg(F.sum("c").alias("n_s"))
    corpus_syms = sc.select("sym").distinct()
    grid = (
        totals.crossJoin(F.broadcast(corpus_syms))
        .join(sc, [group_col, "sym"], "left")
        .fillna(0, subset=["c"])
    )
    p = (F.col("c") + F.lit(k)) / (F.col("n_s") + F.lit(k * v_plus))
    dist = grid.select(F.col(group_col).alias("src"), "sym", p.alias("p"))

    a = dist.select(F.col("src").alias("source_a"), "sym", F.col("p").alias("p"))
    b = dist.select(F.col("src").alias("source_b"), "sym", F.col("p").alias("q"))
    pairs = a.join(b, ["sym"]).filter(F.col("source_a") < F.col("source_b"))
    m = (F.col("p") + F.col("q")) / F.lit(2.0)
    term = (
        F.lit(0.5) * F.col("p") * F.log2(F.col("p") / m)
        + F.lit(0.5) * F.col("q") * F.log2(F.col("q") / m)
    )
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(F.sum(quantize(term, 9)).alias("js_nano"))
        .select(
            "source_a", "source_b",
            F.col("js_nano").alias("js_bits_e9"),
        )
    )


def zipf_slope(docs: DataFrame, top_k: int = 64,
               text_col: str = "text",
               group_col: str = "source") -> DataFrame:
    """Zipf power-law diagnostics per source: the OLS slope of
    log10(freq) on log10(rank) over the source's top-``top_k`` tokens
    — natural text sits near -1; machine-generated/boilerplate
    corpora flatten (slope toward 0) or steepen, making this a cheap
    generation-artifact screen next to tx05's repetition ratios.

    Determinism: ranks are tie-broken (freq desc, token asc); both
    logs are floor-quantized to integer millionths, every regression
    moment (Σx, Σy, Σxy, Σx²) is an exact integer sum over the
    bounded top-k grid, and the closed-form slope is fixed-order IEEE
    over those exact integers, emitted as portable DECIMAL. Shape:
    one (source, token) map-side-combined aggregate (the only
    input-scaled exchange) → per-source top-k window on the bounded
    (source, token) counts → a |sources|-row closed form."""
    from ntripmonitor_spark.functions.portable import quantize
    from ntripmonitor_spark.operators.dedup import normalized_words

    toks = docs.select(
        F.col(group_col).alias("source"),
        F.explode(normalized_words(F.col(text_col))).alias("tok"),
    )
    tc = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("source").orderBy(F.col("c").desc(), F.col("tok").asc())
    top = tc.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= top_k)
    staged = top.select(
        "source",
        quantize(F.log10(F.col("rnk").cast("double")), 6).alias("x"),
        quantize(F.log10(F.col("c").cast("double")), 6).alias("y"),
    )
    g = staged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
    )
    n_d = F.col("n").cast("double")
    num = n_d * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double")
    den = n_d * F.col("sx2").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double")
    return g.select(
        "source", F.col("n").alias("n_top"),
        F.when(den > 0, quantize(num / den, 6)).alias("zipf_slope_ppm"),
    )


def gate_agreement(docs: DataFrame, group_col: str = "source",
                   text_col: str = "text") -> DataFrame:
    """Cohen's kappa between two independent document quality gates
    (the word-count gate and the stopword gate from the Gopher rule
    set, tx11) per source — the inter-rater-agreement diagnostic a
    curation pipeline runs before trusting a cheap gate as a proxy for
    an expensive one: kappa ~ 0 says the gates fire independently
    (keep both), kappa ~ 1 says one is redundant. Reference framing:
    the reference trusts one hand-tuned gate; a 100 TB curation stack
    must QUANTIFY gate overlap before dropping a pass.

    Both gates are exact integer predicates (word count in [20, 80];
    >= 2 stopword hits), so the 2x2 contingency is exact-integer all
    the way; po/pe/kappa are fixed-order IEEE chains over those exact
    integers, emitted as quantized-BIGINT millionths (po_ppm,
    kappa_ppm — integer output only, functions/portable.py). The
    kappa denominator guard is an exact comparison of the SAME double
    both engines computed.

    Shape: one corpus scan with pure column expressions into a
    map-side-combined |sources|-row aggregate — the contingency costs
    one exchange of |sources| rows; nothing else scales. At extreme
    per-source counts (n > 2^26) the double products stay exact far
    past any realistic source count (exact to 2^53), and beyond that
    both engines round identically (IEEE multiply of identical
    inputs)."""
    from ntripmonitor_spark.functions.portable import quantize
    from ntripmonitor_spark.operators.dedup import normalized_words

    words = normalized_words(F.col(text_col))
    n_words = F.size(words)
    stop_hits = stopword_count(words, GOPHER_STOPWORDS)
    ga = ((n_words >= 20) & (n_words <= 80)).cast("int")
    gb = (stop_hits >= 2).cast("int")
    staged = docs.select(
        F.col(group_col).alias("source"), ga.alias("ga"), gb.alias("gb")
    )
    g = staged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("ga") * F.col("gb")).alias("n11"),
        F.sum(F.col("ga") * (1 - F.col("gb"))).alias("n10"),
        F.sum((1 - F.col("ga")) * F.col("gb")).alias("n01"),
    )
    g = g.withColumn(
        "n00", F.col("n") - F.col("n11") - F.col("n10") - F.col("n01")
    )
    n_d = F.col("n").cast("double")
    pe_num = (
        (F.col("n11") + F.col("n10")).cast("double")
        * (F.col("n11") + F.col("n01")).cast("double")
        + (F.col("n01") + F.col("n00")).cast("double")
        * (F.col("n10") + F.col("n00")).cast("double")
    )
    num = n_d * (F.col("n11") + F.col("n00")).cast("double") - pe_num
    den = n_d * n_d - pe_num
    return g.select(
        "source", "n", "n11", "n10", "n01", "n00",
        quantize((F.col("n11") + F.col("n00")).cast("double") / n_d, 6)
        .alias("po_ppm"),
        F.when(den != 0, quantize(num / den, 6)).alias("kappa_ppm"),
    )


def term_burstiness(docs: DataFrame, top_k: int = 20,
                    text_col: str = "text") -> DataFrame:
    """Index of dispersion (variance-to-mean ratio of per-doc counts,
    zeros included) for the corpus's top-k terms — Church & Gale's
    burstiness: D ~ 1 means a term scatters Poisson-like (function
    word), D >> 1 means it clumps into few documents (topical or
    boilerplate/template term — the signal a dedup/quality pass uses
    to spot injected templates a plain frequency cut misses).

    D = (N*sum(c^2) - (sum c)^2) / (N * sum c) over all N docs (docs
    not containing the term contribute c = 0, which the identity
    absorbs — no dense zero-fill materializes). All moments are exact
    BIGINT sums; D is one fixed-order IEEE chain over those integers,
    emitted as quantized-BIGINT thousandths (burstiness_e3 — integer
    output only, functions/portable.py).

    Shape: one corpus explode into a map-side-combined (doc, term)
    aggregate, re-aggregated to the vocabulary-bounded term relation;
    the corpus doc count rides back as a one-row broadcast and the
    top-k cut is orderBy+limit (TakeOrdered — a distributed heap, no
    single-partition window over the vocabulary; the rank window runs
    on the k surviving rows only, the gr04 pattern) — exactly one
    input-scaled exchange (the dd02 discipline)."""
    from ntripmonitor_spark.functions.portable import quantize
    from ntripmonitor_spark.operators.dedup import normalized_words
    from pyspark.sql.window import Window

    toks = docs.select(
        F.col("doc_id"), F.explode(normalized_words(F.col(text_col))).alias("tok")
    )
    per_doc = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    per_term = per_doc.groupBy("tok").agg(
        F.sum("c").alias("total"),
        F.sum(F.col("c") * F.col("c")).alias("sum_c2"),
        F.count(F.lit(1)).alias("df"),
    )
    nd = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    j = per_term.crossJoin(F.broadcast(nd))
    n_d = F.col("n_docs").cast("double")
    num = n_d * F.col("sum_c2").cast("double") - F.col("total").cast("double") * F.col("total").cast("double")
    den = n_d * F.col("total").cast("double")
    top = j.orderBy(F.col("total").desc(), F.col("tok").asc()).limit(top_k)
    # GLOBAL-WINDOW-OK: runs over `top`, already LIMITed to top_k rows.
    w = Window.orderBy(F.col("total").desc(), F.col("tok").asc())
    return (
        top.withColumn("rnk", F.row_number().over(w).cast("int"))
        .select(
            "rnk", "tok", "total", "df",
            quantize(num / den, 3).alias("burstiness_e3"),
        )
    )

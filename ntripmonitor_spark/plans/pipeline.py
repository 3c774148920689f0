"""Training-data pipeline operators as declared queries (north-star
extensions beyond the reference surface — BASELINE.json):

  dd* — deduplication (exact, n-gram Jaccard, MinHash-LSH, SimHash,
        embedding cosine, connected-component clusters)
  ss* — similarity search (brute-force top-k, anchor-bucketed ANN,
        multi-table sign-LSH, IVF k-means training)
  tx* — text analysis (language-ID, quality, tokens, fingerprints,
        repetition, PII scrub, unigram surprisal)
  mm* — multimodal binary columns (stubbed decode over mapInPandas)
  sp*/tp*/cu* — sampling, packing, and the end-to-end curation funnel

Every oracle recomputes the identical md5-based signatures in DuckDB
SQL, so even the hash-based ops are value-checked, not rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ntripmonitor_spark.functions.portable import (
    BENFORD_L10,
    first_digit_sql,
    idiv_sql,
    quantize,
    quantize_sql,
    rational_rh,
    rational_rh_sql,
)
from ntripmonitor_spark.operators import dedup, multimodal, simsearch, text
from ntripmonitor_spark.operators import timeseries as timeseries_ops
from ntripmonitor_spark.plans.registry import register
from ntripmonitor_spark.tables import table

# Shared oracle CTE: normalized words + distinct word-3-gram shingles.
_SH_CTE = """
w AS (
    SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
    FROM documents
),
sh AS (
    SELECT DISTINCT doc_id,
           unnest(list_transform(range(1, greatest(len(ws) - 1, 1)),
                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
    FROM w
)
"""


@register(
    "dd01_exact_dedup",
    tags=("dedup",),
    oracle="""
SELECT md5(text) AS fp, count(*) AS n_docs, min(doc_id) AS keep_doc_id
FROM documents
GROUP BY 1
""",
)
def dd01_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content fingerprint; survivor = min(doc_id)."""
    return dedup.exact_duplicates(table(spark, sf_dir, "documents"))


@register(
    "dd02_ngram_jaccard",
    tags=("dedup",),
    oracle=f"""
WITH {_SH_CTE},
shc AS (
    SELECT doc_id, shingle FROM (
        SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df FROM sh
    ) WHERE df <= greatest(5, CAST(floor(0.01 * (SELECT count(DISTINCT doc_id) FROM sh)) AS BIGINT))
),
sz AS (SELECT doc_id, count(*) AS n_sh FROM shc GROUP BY 1),
p AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
    FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b, jaccard FROM (
    SELECT p.doc_a, p.doc_b,
           CAST(p.n_inter AS DOUBLE) / (x.n_sh + y.n_sh - p.n_inter) AS jaccard
    FROM p
    JOIN sz x ON x.doc_id = p.doc_a
    JOIN sz y ON y.doc_id = p.doc_b
)
WHERE jaccard >= 0.6
""",
)
def dd02_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs over the DF-capped
    shingle universe (shingle-blocked self-join — no O(n²) cross join;
    stopword grams with df > max(5, 1% of docs) are dropped before the
    join, killing the hot-key quadratic term)."""
    return dedup.ngram_jaccard_pairs(table(spark, sf_dir, "documents"), n=3, threshold=0.6)


_MH_MINS = ",\n           ".join(
    f"min(md5('{i}|' || shingle)) AS mh{i}" for i in range(dedup.MINHASH_PERMS)
)
_MH_BANDS = "\n    UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_id, md5(mh{b*3} || '|' || mh{b*3+1} || '|' || mh{b*3+2}) AS band_hash FROM mh"
    for b in range(dedup.MINHASH_BANDS)
)
_MH_MATCHES = " + ".join(
    f"(CASE WHEN x.mh{i} = y.mh{i} THEN 1 ELSE 0 END)" for i in range(dedup.MINHASH_PERMS)
)


@register(
    "dd03_minhash_lsh",
    tags=("dedup",),
    oracle=f"""
WITH {_SH_CTE},
mh AS (
    SELECT doc_id,
           {_MH_MINS}
    FROM sh GROUP BY doc_id
),
bands AS (
    {_MH_BANDS}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
)
SELECT cand.doc_a, cand.doc_b,
       ({_MH_MATCHES}) / 9.0 AS est_jaccard
FROM cand
JOIN mh x ON x.doc_id = cand.doc_a
JOIN mh y ON y.doc_id = cand.doc_b
""",
)
def dd03_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs (9 perms, 3 bands × 3 rows,
    LSH threshold ≈0.69) with estimated Jaccard."""
    return dedup.minhash_lsh_pairs(table(spark, sf_dir, "documents"), n=3)


@register(
    "dd04_simhash",
    tags=("dedup",),
    oracle="""
WITH w AS (
    SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
    FROM documents
),
tc AS (
    SELECT doc_id, unnest(ws) AS tok FROM w
),
tcc AS (
    SELECT doc_id, tok, count(*) AS cnt FROM tc GROUP BY 1, 2
),
vocab AS (
    SELECT DISTINCT tok, md5(tok) AS h FROM tcc
),
bits AS (
    SELECT tok, b,
           ((strpos('0123456789abcdef', substr(h, CAST(b // 4 AS INT) + 1, 1)) - 1)
             >> CAST(3 - (b % 4) AS INT)) & 1 AS bit
    FROM (SELECT tok, h, unnest(range(0, 64)) AS b FROM vocab)
),
votes AS (
    SELECT tcc.doc_id, bits.b, sum(tcc.cnt * (2 * bits.bit - 1)) AS v
    FROM tcc JOIN bits ON tcc.tok = bits.tok
    GROUP BY 1, 2
),
sig AS (
    SELECT doc_id,
           string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS simhash
    FROM votes GROUP BY doc_id
),
ch AS (
    SELECT doc_id, simhash, c AS chunk_id, substr(simhash, c * 16 + 1, 16) AS chunk
    FROM (SELECT doc_id, simhash, unnest(range(0, 4)) AS c FROM sig)
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    a.simhash AS sig_a, b.simhash AS sig_b
    FROM ch a
    JOIN ch b ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM (
    SELECT doc_a, doc_b,
           CAST(list_sum(list_transform(range(1, 65),
               i -> CASE WHEN substr(sig_a, CAST(i AS INT), 1) <> substr(sig_b, CAST(i AS INT), 1) THEN 1 ELSE 0 END)) AS INT) AS hamming
    FROM cand
)
WHERE hamming <= 6
""",
)
def dd04_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 64-bit count-weighted signatures,
    16-bit-chunk blocking, exact hamming on candidates only."""
    return dedup.simhash_pairs(table(spark, sf_dir, "documents"), max_hamming=6)


_VEC_CTE = """
v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
n AS (SELECT vec_id, label, vec, sqrt(list_dot_product(vec, vec)) AS nrm FROM v)
"""


@register(
    "dd05_embedding_neardup",
    tags=("dedup", "simsearch"),
    oracle=f"""
WITH {_VEC_CTE},
anch AS (SELECT vec_id, vec FROM n WHERE vec_id IN (11, 23, 37, 41)),
sigs AS (
    SELECT n.vec_id,
           string_agg(CASE WHEN list_dot_product(n.vec, anch.vec) >= 0 THEN '1' ELSE '0' END,
                      '' ORDER BY anch.vec_id) AS bucket
    FROM n CROSS JOIN anch
    GROUP BY n.vec_id
),
vs AS (SELECT n.vec_id, n.label, n.vec, n.nrm, sigs.bucket FROM n JOIN sigs USING (vec_id))
SELECT vec_a, vec_b, label, cos_sim FROM (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
           round(list_dot_product(a.vec, b.vec) / (a.nrm * b.nrm), 6) AS cos_sim
    FROM vs a JOIN vs b
      ON a.label = b.label AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
WHERE cos_sim >= 0.45
""",
)
def dd05_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked on (label, anchor-sign
    bucket) — the coarse cluster id plus an LSH sub-block, so no label
    block is ever all-pairs."""
    return simsearch.embedding_neardup_pairs(table(spark, sf_dir, "embeddings"), threshold=0.45)


@register(
    "ss01_knn_bruteforce",
    tags=("simsearch",),
    oracle=f"""
WITH {_VEC_CTE},
q AS (SELECT vec_id AS query_id, vec AS qv, nrm AS qn FROM n WHERE vec_id < 10),
scored AS (
    SELECT q.query_id, n.vec_id AS neighbor_id,
           round(list_dot_product(q.qv, n.vec) / (q.qn * n.nrm), 6) AS cos_sim
    FROM q CROSS JOIN n
    WHERE n.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
    FROM scored
)
WHERE rank <= 5
""",
)
def ss01_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for query vectors vec_id<10
    (broadcast queries × one corpus scan)."""
    return simsearch.knn_bruteforce(table(spark, sf_dir, "embeddings"), n_queries=10, k=5)


@register(
    "ss02_ann_bucketed",
    tags=("simsearch",),
    oracle=f"""
WITH {_VEC_CTE},
anch AS (SELECT vec_id, vec FROM n WHERE vec_id IN (11, 23, 37, 41)),
sigs AS (
    SELECT n.vec_id,
           string_agg(CASE WHEN list_dot_product(n.vec, anch.vec) >= 0 THEN '1' ELSE '0' END,
                      '' ORDER BY anch.vec_id) AS bucket
    FROM n CROSS JOIN anch
    GROUP BY n.vec_id
),
vs AS (SELECT n.vec_id, n.vec, n.nrm, sigs.bucket FROM n JOIN sigs USING (vec_id)),
q AS (SELECT vec_id AS query_id, vec AS qv, nrm AS qn, bucket AS qbucket FROM vs WHERE vec_id < 10),
scored AS (
    SELECT q.query_id, vs.vec_id AS neighbor_id,
           round(list_dot_product(q.qv, vs.vec) / (q.qn * vs.nrm), 6) AS cos_sim
    FROM q JOIN vs ON vs.bucket = q.qbucket
    WHERE vs.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
    FROM scored
)
WHERE rank <= 3
""",
)
def ss02_ann_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-3: sign-of-dot against 4 fixed anchor vectors
    buckets the corpus; queries search only their bucket."""
    return simsearch.ann_bucketed(table(spark, sf_dir, "embeddings"), n_queries=10, k=3)


_LANG_FILTERS = {
    lang: "(" + ", ".join(f"'{w}'" for w in words) + ")" for lang, words in text.LANG_STOPWORDS.items()
}


@register(
    "tx01_language_id",
    tags=("text",),
    oracle=f"""
WITH w AS (
    SELECT doc_id, lang, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
    FROM documents
),
s AS (
    SELECT doc_id, lang,
           len(list_filter(ws, x -> x IN {_LANG_FILTERS['en']})) AS s_en,
           len(list_filter(ws, x -> x IN {_LANG_FILTERS['de']})) AS s_de,
           len(list_filter(ws, x -> x IN {_LANG_FILTERS['es']})) AS s_es,
           len(list_filter(ws, x -> x IN {_LANG_FILTERS['fr']})) AS s_fr,
           len(list_filter(ws, x -> x IN {_LANG_FILTERS['zh']})) AS s_zh
    FROM w
)
SELECT doc_id, lang AS labeled_lang,
       CASE WHEN s_en = best THEN 'en'
            WHEN s_de = best THEN 'de'
            WHEN s_es = best THEN 'es'
            WHEN s_fr = best THEN 'fr'
            ELSE 'zh' END AS pred_lang,
       (CASE WHEN s_en = best THEN 'en'
             WHEN s_de = best THEN 'de'
             WHEN s_es = best THEN 'es'
             WHEN s_fr = best THEN 'fr'
             ELSE 'zh' END) = lang AS is_match
FROM (SELECT *, greatest(s_en, s_de, s_es, s_fr, s_zh) AS best FROM s)
""",
)
def tx01_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-seed language-ID heuristic with deterministic tie-break."""
    return text.language_id(table(spark, sf_dir, "documents"))


@register(
    "tx02_quality_score",
    tags=("text",),
    oracle="""
WITH w AS (
    SELECT doc_id, text, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
    FROM documents
)
SELECT doc_id,
       length(text) AS n_chars_calc,
       len(ws) AS n_tokens,
       round(CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE) / len(ws), 6) AS mean_tok_len,
       round(CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / length(text), 6) AS alpha_ratio,
       round(CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text), 6) AS punct_ratio,
       round(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text), 6) AS digit_ratio,
       round(CAST(len(list_filter(ws, x -> x IN ('the', 'a', 'of', 'and', 'is'))) AS DOUBLE) / len(ws), 6) AS stop_ratio,
       round(0.4 * (CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / length(text))
           + 0.3 * (1 - CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text))
           + 0.2 * (CAST(len(list_filter(ws, x -> x IN ('the', 'a', 'of', 'and', 'is'))) AS DOUBLE) / len(ws))
           + 0.1 * (1 - CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text)), 6) AS quality_score
FROM w
""",
)
def tx02_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheap corpus-quality features + weighted score."""
    return text.quality_features(table(spark, sf_dir, "documents"))


@register(
    "tx03_token_count",
    tags=("text",),
    oracle=f"""
SELECT doc_id,
       len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS n_ws_tokens,
       len(regexp_extract_all(lower(text), '{text.BPE_PATTERN}')) AS n_bpe_tokens,
       length(text) AS n_chars_calc
FROM documents
""",
)
def tx03_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counting."""
    return text.token_counts(table(spark, sf_dir, "documents"))


@register(
    "tx04_fingerprint",
    tags=("text",),
    oracle=f"""
WITH {_SH_CTE},
m AS (SELECT doc_id, min(md5(shingle)) AS min_shingle_fp FROM sh GROUP BY 1)
SELECT d.doc_id,
       md5(trim(regexp_replace(regexp_replace(lower(d.text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_fp,
       m.min_shingle_fp
FROM documents d
LEFT JOIN m ON m.doc_id = d.doc_id
""",
)
def tx04_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-content md5 + min-shingle-hash fingerprints."""
    return text.fingerprints(table(spark, sf_dir, "documents"), n=3)


@register(
    "mm01_decode_metadata",
    tags=("multimodal",),
    oracle="""
SELECT doc_id,
       CAST(strlen(text) AS INT) AS n_bytes,
       CAST(ascii(substr(text, 1, 1)) % 64 + 1 AS INT) AS width,
       CAST(ascii(substr(text, 2, 1)) % 64 + 1 AS INT) AS height,
       md5(text) AS checksum
FROM documents
""",
)
def mm01_decode_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload → typed metadata via an
    Arrow-batched mapInPandas decode stage (deterministically stubbed
    codec; see operators/multimodal.py)."""
    return multimodal.decode_metadata(table(spark, sf_dir, "documents"))


# Byte values of the UTF-8 payload, recomputed in SQL from hex pairs —
# lets DuckDB value-check the numpy kernels byte for byte.
_BYTES_CTE = """
b AS (
    SELECT doc_id, text, hex(encode(text)) AS h,
           CAST(octet_length(encode(text)) AS INT) AS n
    FROM documents
),
by AS (
    SELECT doc_id, text, n,
           list_transform(range(0, n), i ->
               (strpos('0123456789ABCDEF', substr(h, CAST(2*i+1 AS INT), 1)) - 1) * 16
             + strpos('0123456789ABCDEF', substr(h, CAST(2*i+2 AS INT), 1)) - 1) AS bts
    FROM b
)
"""


@register(
    "mm02_feature_extract",
    tags=("multimodal",),
    oracle=f"""
WITH {_BYTES_CTE}
SELECT doc_id, n AS n_bytes,
       CAST(len(list_filter(bts, x -> x // 64 = 0)) AS DOUBLE) / n AS bin0_ratio,
       CAST(len(list_filter(bts, x -> x // 64 = 1)) AS DOUBLE) / n AS bin1_ratio,
       CAST(len(list_filter(bts, x -> x // 64 = 2)) AS DOUBLE) / n AS bin2_ratio,
       CAST(len(list_filter(bts, x -> x // 64 = 3)) AS DOUBLE) / n AS bin3_ratio,
       CAST(list_sum(bts) AS DOUBLE) / n AS mean_byte
FROM by
""",
)
def mm02_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized byte-histogram 'feature extraction' over the binary
    payload (the embed-stage batch shape, numpy over Arrow)."""
    return multimodal.extract_features(table(spark, sf_dir, "documents"))


@register(
    "mm03_frame_sample",
    tags=("multimodal",),
    oracle=f"""
WITH {_BYTES_CTE}
SELECT doc_id,
       CAST((n + 15) // 16 AS INT) AS n_frames,
       array_to_string(list_transform(range(0, CAST((n + 15) // 16 AS BIGINT)), f ->
           CAST(list_sum(list_transform(range(16*f, least(16*f + 16, CAST(n AS BIGINT))),
                                        i -> list_extract(bts, CAST(i + 1 AS INT)))) AS INT)
       ), ',') AS frame_sums
FROM by
""",
)
def mm03_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Video frame sampling' stub: fixed-stride payload chunks with a
    per-frame signature. The operator emits an array column; the declared
    query flattens it to a comma-joined string so the oracle comparator
    (which sorts rows) can canonicalize the output."""
    frames = multimodal.sample_frames(table(spark, sf_dir, "documents"))
    return frames.withColumn(
        "frame_sums", F.array_join(F.col("frame_sums").cast("array<string>"), ",")
    )


@register(
    "mm04_resize",
    tags=("multimodal",),
    oracle="""
SELECT doc_id,
       CAST(ascii(substr(text, 1, 1)) % 64 + 1 AS INT) // 2 + 1 AS out_width,
       CAST(ascii(substr(text, 2, 1)) % 64 + 1 AS INT) // 2 + 1 AS out_height,
       md5(text || '|resized') AS resized_checksum
FROM documents
""",
)
def mm04_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Resize' stub: transformed dimensions + checksum of the resized
    payload (deterministic fake behind the real transform signature)."""
    return multimodal.resize(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# sp*/tp* — corpus sampling & packing (operators/sampling.py)
# ---------------------------------------------------------------------------

_BUCKET_SQL = "((doc_id * 2654435761) % 4294967296) % 1000"


@register(
    "sp01_stratified_sample",
    tags=("sampling",),
    oracle=f"""
SELECT doc_id, lang, source, bucket FROM (
    SELECT doc_id, lang, source, {_BUCKET_SQL} AS bucket,
           CASE lang WHEN 'en' THEN 700 WHEN 'de' THEN 500 WHEN 'es' THEN 400
                     WHEN 'fr' THEN 300 WHEN 'zh' THEN 250 ELSE 0 END AS rate
    FROM documents
) WHERE bucket < rate
""",
)
def sp01_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language rate sampling as a deterministic pushed-down hash
    filter (no shuffle, no RNG state — reproducible across retries)."""
    from ntripmonitor_spark.operators import sampling

    return sampling.stratified_sample(table(spark, sf_dir, "documents"))


@register(
    "sp02_quota_per_source",
    tags=("sampling",),
    oracle=f"""
SELECT doc_id, source, CAST(rk AS INT) AS rk FROM (
    SELECT doc_id, source,
           row_number() OVER (PARTITION BY source ORDER BY {_BUCKET_SQL}, doc_id) AS rk
    FROM documents
) WHERE rk <= 10
""",
)
def sp02_quota_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k pseudo-random docs per source via windowed rank over
    the deterministic hash order."""
    from ntripmonitor_spark.operators import sampling

    return sampling.quota_per_group(table(spark, sf_dir, "documents"), "source", k=10)


@register(
    "tp01_sequence_pack",
    tags=("sampling",),
    oracle="""
SELECT doc_id, source, CAST(n_tokens AS INT) AS n_tokens,
       CAST(shard * 1048576
            + FLOOR((SUM(n_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) / 512.0)
            AS BIGINT) AS pack_id
FROM (
    SELECT doc_id, source,
           len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS n_tokens,
           ((doc_id * 2654435761) % 4294967296) % 16 AS shard
    FROM documents
)
""",
)
def tp01_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy in-order sequence packing into ~512-token packs per
    (source, shard) — running-sum window keyed by (source, hash shard)
    so no single source serializes onto one task."""
    from ntripmonitor_spark.operators import sampling

    return sampling.sequence_pack(table(spark, sf_dir, "documents"), pack_tokens=512)


# ---------------------------------------------------------------------------
# tx05 — within-document repetition (Gopher-style filters)
# ---------------------------------------------------------------------------


@register(
    "tx05_repetition",
    tags=("text",),
    oracle="""
WITH w AS (
    SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
    FROM documents
),
g AS (
    SELECT doc_id,
           list_transform(range(1, greatest(len(ws), 1)), i -> ws[i] || ' ' || ws[i+1]) AS gs
    FROM w
),
gs2 AS (
    SELECT doc_id, len(gs) AS n_2grams, len(list_distinct(gs)) AS n_d2 FROM g
),
wc AS (
    SELECT doc_id, w, count(*) AS cnt
    FROM (SELECT doc_id, unnest(ws) AS w FROM w) GROUP BY 1, 2
),
ws2 AS (
    SELECT doc_id, sum(cnt) AS n_words, count(*) AS n_dw, max(cnt) AS top_cnt
    FROM wc GROUP BY 1
)
SELECT ws2.doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       round(CAST(n_dw AS DOUBLE) / n_words, 6) AS type_token_ratio,
       round(CAST(top_cnt AS DOUBLE) / n_words, 6) AS top_word_frac,
       round(CASE WHEN n_2grams > 0
                  THEN 1.0 - CAST(n_d2 AS DOUBLE) / n_2grams ELSE 0.0 END, 6) AS dup_2gram_frac
FROM ws2 JOIN gs2 ON ws2.doc_id = gs2.doc_id
""",
)
def tx05_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio, top-word mass, duplicate-2-gram fraction —
    the Gopher repetition pre-filters."""
    return text.repetition_metrics(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# dd06 — duplicate clusters (connected components over near-dup pairs)
# ---------------------------------------------------------------------------


# Shared transitive-closure chain over the 0.6-Jaccard near-dup graph
# (consumes the `sh` CTE from _SH_CTE): `lab` = (doc_id, cluster_id =
# min reachable id) — the oracle twin of dedup.duplicate_clusters,
# reused by dd06 / dd12 / sp08.
_CC_LAB_CTE = """
sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
p AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
pairs AS (
    SELECT doc_a, doc_b
    FROM p JOIN sz x ON x.doc_id = p.doc_a JOIN sz y ON y.doc_id = p.doc_b
    WHERE CAST(p.n_inter AS DOUBLE) / (x.n_sh + y.n_sh - p.n_inter) >= 0.6
),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION ALL SELECT doc_b, doc_a FROM pairs
),
reach(id, r) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a
),
lab AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
"""


@register(
    "dd06_dup_clusters",
    tags=("dedup",),
    oracle=f"""
WITH RECURSIVE {_SH_CTE},
{_CC_LAB_CTE.strip()}
SELECT doc_id, cluster_id, cluster_id = doc_id AS is_canonical
FROM lab
""",
)
def dd06_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → connected components → cluster/survivor
    assignment (iterative min-label propagation; oracle = recursive-CTE
    transitive closure)."""
    return dedup.duplicate_clusters(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# cu03 — the complete curation pipeline (gate → dedup → decontaminate
# → mix → split → pack) as one declarative plan.
# ---------------------------------------------------------------------------


@register(
    "cu03_full_pipeline",
    tags=("sampling", "text", "dedup"),
    oracle="""
WITH w AS (
    SELECT doc_id, text, source,
           list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
    FROM documents
),
sh AS (
    SELECT DISTINCT doc_id,
           unnest(list_transform(range(1, greatest(len(ws) - 1, 1)),
                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
    FROM w
),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20),
cont AS (
    SELECT sh.doc_id,
           CAST(sum(CASE WHEN bench.shingle IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*) AS frac
    FROM sh LEFT JOIN bench USING (shingle)
    WHERE sh.doc_id >= 20
    GROUP BY 1
),
scored AS (
    SELECT w.*, round(
        0.4 * (CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / length(text))
      + 0.3 * (1 - CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text))
      + 0.2 * (CAST(len(list_filter(ws, x -> x IN ('the', 'a', 'of', 'and', 'is'))) AS DOUBLE) / len(ws))
      + 0.1 * (1 - CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text)), 6
    ) AS quality_score
    FROM w WHERE doc_id >= 20
),
gated AS (SELECT * FROM scored WHERE quality_score >= 0.5),
dedup AS (
    SELECT * FROM (
        SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS win FROM gated
    ) WHERE doc_id = win
),
clean AS (
    SELECT dedup.* FROM dedup LEFT JOIN cont USING (doc_id)
    WHERE cont.frac IS NULL OR cont.frac < 0.8
),
rates AS (
    SELECT source,
           CAST(FLOOR(1000 * LEAST(1.0, 5.0 / sqrt(CAST(COUNT(*) AS DOUBLE)))) AS INT) AS rate
    FROM clean GROUP BY source
),
mixed AS (
    SELECT clean.* FROM clean JOIN rates USING (source)
    WHERE ((doc_id * 2654435761) % 4294967296) % 1000 < rate
),
chunks AS (
    SELECT doc_id, source, CAST(len(ws) AS INT) AS n_tokens,
           CAST(u.ci AS INT) AS chunk_idx,
           CAST(least(128, len(ws) - u.ci * 128) AS INT) AS chunk_len
    FROM mixed,
         unnest(range(0, greatest(CAST(ceil(len(ws) / 128.0) AS BIGINT), 1))) AS u(ci)
)
SELECT doc_id, chunk_idx, source, n_tokens, chunk_len,
       CAST(((doc_id * 2654435761) % 4294967296) % 16 * 1048576
            + FLOOR((SUM(chunk_len) OVER (
                     PARTITION BY source, ((doc_id * 2654435761) % 4294967296) % 16
                     ORDER BY doc_id, chunk_idx
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - chunk_len) / 512.0)
            AS BIGINT) AS pack_id
FROM chunks
""",
)
def cu03_full_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every cut a training run makes, in one declarative plan:
    quality gate → exact dedup → eval-set decontamination (dc01
    semantics, benchmark = doc_id < 20, which never enters the
    corpus) → temperature mixing → 128-token splitting → shard-
    parallel packing. Two corpus-keyed exchanges before the packer
    (dedup window + decontamination verdict join); everything else is
    scan predicates, broadcasts, and per-row generates."""
    from ntripmonitor_spark.operators import curation

    return curation.full_pipeline(
        table(spark, sf_dir, "documents"), F.col("doc_id") < 20
    )


# ---------------------------------------------------------------------------
# gr01 — dedup-savings report over the dd06 duplicate clusters.
# ---------------------------------------------------------------------------


@register(
    "gr01_cluster_sizes",
    tags=("dedup",),
    oracle=f"""
WITH RECURSIVE {_SH_CTE},
sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
p AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
pairs AS (
    SELECT doc_a, doc_b
    FROM p JOIN sz x ON x.doc_id = p.doc_a JOIN sz y ON y.doc_id = p.doc_b
    WHERE CAST(p.n_inter AS DOUBLE) / (x.n_sh + y.n_sh - p.n_inter) >= 0.6
),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION ALL SELECT doc_b, doc_a FROM pairs
),
reach(id, r) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a
),
clusters AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
by_cluster AS (
    SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
    FROM clusters GROUP BY 1
)
SELECT cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(count(*) * cluster_size AS BIGINT) AS n_docs,
       CAST(count(*) * (cluster_size - 1) AS BIGINT) AS n_removable
FROM by_cluster GROUP BY 1
""",
)
def gr01_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup report a curation run ends with: duplicate-cluster
    size distribution and how many documents deduplication removes at
    each size (keep one canonical per cluster). Two bounded
    aggregations over dd06's cluster assignment — the CC operator's
    output, |docs| rows, collapses to |distinct sizes| rows; nothing
    here adds input-scaled work beyond dd06 itself."""
    clusters = dedup.duplicate_clusters(table(spark, sf_dir, "documents"))
    by_cluster = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return by_cluster.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.count(F.lit(1)) * F.col("cluster_size")).alias("n_docs"),
        (F.count(F.lit(1)) * (F.col("cluster_size") - 1)).alias("n_removable"),
    )


# ---------------------------------------------------------------------------
# gr03 — the 100 TB dedup-graph route end-to-end: CC over LSH edges.
# ---------------------------------------------------------------------------


@register(
    "gr03_lsh_clusters",
    tags=("dedup",),
    oracle=f"""
WITH RECURSIVE {_SH_CTE},
mh AS (
    SELECT doc_id,
           {_MH_MINS}
    FROM sh GROUP BY doc_id
),
bands AS (
    {_MH_BANDS}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM cand
    UNION ALL SELECT doc_b, doc_a FROM cand
),
reach(id, r) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a
),
clusters AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
by_cluster AS (
    SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
    FROM clusters GROUP BY 1
)
SELECT cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(count(*) * cluster_size AS BIGINT) AS n_docs,
       CAST(count(*) * (cluster_size - 1) AS BIGINT) AS n_removable
FROM by_cluster GROUP BY 1
""",
)
def gr03_lsh_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gr01's dedup report over the APPROXIMATE edge set — the route a
    100 TB corpus actually takes: MinHash-LSH banding (dd03) generates
    the candidate pairs (signatures shuffle, never text; bucket
    equi-join, never all-pairs), and connected components runs over
    exactly those edges (edge-touched subgraph only, pointer-doubling
    O(log d) rounds). gr01 stays the exact-Jaccard report; this pins
    the LSH-edges → CC → savings-report composition end-to-end under
    the driver. The recursive oracle recomputes reachability over the
    same banding-derived edge list."""
    docs = table(spark, sf_dir, "documents")
    edges = dedup.minhash_lsh_candidates(docs, n=3)
    labels, _ = dedup.connected_components(docs.select("doc_id"), edges)
    by_cluster = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return by_cluster.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.count(F.lit(1)) * F.col("cluster_size")).alias("n_docs"),
        (F.count(F.lit(1)) * (F.col("cluster_size") - 1)).alias("n_removable"),
    )


# ---------------------------------------------------------------------------
# tx06 — PII scrub (regex redaction with accounting)
# ---------------------------------------------------------------------------

# Deterministic contact-bearing text so the scrub has real matches:
# every doc gets an email + phone token derived from doc_id.
_PII_TEXT_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example send 555-' "
    "|| lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)


@register(
    "tx06_pii_scrub",
    tags=("text",),
    oracle=f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{text.EMAIL_RE}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{text.PHONE_RE}')) AS INT) AS n_phones,
       md5(regexp_replace(regexp_replace(t, '{text.EMAIL_RE}', '<EMAIL>', 'g'),
                          '{text.PHONE_RE}', '<PHONE>', 'g')) AS scrubbed_fp
FROM (SELECT doc_id, {_PII_TEXT_SQL} AS t FROM documents)
""",
)
def tx06_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII redaction (emails, phone-shaped tokens) with match
    counts + scrubbed-text fingerprint."""
    docs = table(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.col("text"), F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@mail.example send 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    )
    return text.pii_scrub(docs)


# ---------------------------------------------------------------------------
# sp03 — temperature-flattened source mixing (expected kept ∝ √n_s).
# ---------------------------------------------------------------------------


@register(
    "sp03_source_mixing",
    tags=("sampling",),
    oracle=f"""
WITH rates AS (
    SELECT source,
           CAST(FLOOR(1000 * LEAST(1.0, 5.0 / sqrt(CAST(COUNT(*) AS DOUBLE)))) AS INT) AS rate
    FROM documents GROUP BY source
)
SELECT doc_id, lang, source, {_BUCKET_SQL} AS bucket, rate
FROM documents JOIN rates USING (source)
WHERE {_BUCKET_SQL} < rate
""",
)
def sp03_source_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened source mixing: per-source keep rate
    min(1, 5/√n_s) — dominant sources downsampled hardest (the
    standard LLM-corpus reweighting), applied as the deterministic
    hash coin. One tiny count aggregate broadcast onto a pure corpus
    filter; the corpus never shuffles."""
    from ntripmonitor_spark.operators import sampling

    return sampling.temperature_mix(table(spark, sf_dir, "documents"), coeff=5.0)


# ---------------------------------------------------------------------------
# ss03 — multi-table sign-LSH ANN (collide in ANY table → candidate).
# ---------------------------------------------------------------------------


@register(
    "ss03_ann_lsh_multitable",
    tags=("simsearch",),
    oracle=f"""
WITH {_VEC_CTE},
anch AS (
    SELECT tbl, vec_id, vec FROM (
        SELECT 0 AS tbl, unnest([3, 14, 25]) AS vec_id UNION ALL
        SELECT 1, unnest([8, 19, 30]) UNION ALL
        SELECT 2, unnest([12, 23, 34])
    ) JOIN n USING (vec_id)
),
sigs AS (
    SELECT n.vec_id, anch.tbl,
           string_agg(CASE WHEN list_dot_product(n.vec, anch.vec) >= 0 THEN '1' ELSE '0' END,
                      '' ORDER BY anch.vec_id) AS sig
    FROM n CROSS JOIN anch
    GROUP BY n.vec_id, anch.tbl
),
cand AS (
    SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
    FROM sigs q JOIN sigs c ON q.tbl = c.tbl AND q.sig = c.sig
    WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
),
scored AS (
    SELECT cand.query_id, cand.neighbor_id,
           round(list_dot_product(q.vec, c.vec) / (q.nrm * c.nrm), 6) AS cos_sim
    FROM cand
    JOIN n q ON q.vec_id = cand.query_id
    JOIN n c ON c.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
    FROM scored
)
WHERE rank <= 3
""",
)
def ss03_ann_lsh_multitable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table sign-LSH top-k: a candidate needs a bucket collision
    in ANY of three anchor tables (higher recall than the single
    signature of ss02 at the same candidate cost); pairs are
    deduplicated before the embedding column is re-attached, so only
    signatures ride the candidate join."""
    return simsearch.ann_lsh_multitable(table(spark, sf_dir, "embeddings"), n_queries=10, k=3)


# ---------------------------------------------------------------------------
# tx07 — mean unigram surprisal (perplexity-proxy quality filter).
# ---------------------------------------------------------------------------


@register(
    "tx07_unigram_surprisal",
    tags=("text",),
    oracle="""
WITH w AS (
    SELECT doc_id, source, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
    FROM documents
),
tok AS (SELECT unnest(ws) AS tok FROM w),
tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM tok),
vocab AS (
    SELECT tok, CAST(COUNT(*) AS DOUBLE) AS c
    FROM tok GROUP BY tok
    ORDER BY COUNT(*) DESC, tok ASC LIMIT 64
),
-- per-token surprisal with its in-document position, so the final
-- sum can replay the engine's sequential left-fold order exactly
toks AS (
    SELECT doc_id, i, ws[i] AS tok
    FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM w)
),
vals AS (
    SELECT toks.doc_id, toks.i,
           -log2(coalesce(v.c, 0.5) / (SELECT total FROM tot)) AS s
    FROM toks LEFT JOIN vocab v ON v.tok = toks.tok
),
agg AS (
    SELECT doc_id, list_sum(list(s ORDER BY i)) AS tot_s
    FROM vals GROUP BY doc_id
)
SELECT w.doc_id, w.source, CAST(len(w.ws) AS INT) AS n_tokens,
       round(CASE WHEN len(w.ws) > 0 THEN agg.tot_s / len(w.ws) END, 6) AS mean_surprisal
FROM w LEFT JOIN agg ON agg.doc_id = w.doc_id
""",
)
def tx07_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean per-token −log2 p under the corpus-fitted top-64 unigram
    LM (OOV floored at 0.5/total) — the cheap perplexity-proxy quality
    score. The model is one word aggregate folded back into the plan
    as a literal map; scoring is a shuffle-free column fold."""
    return text.unigram_surprisal(table(spark, sf_dir, "documents"), vocab_size=64)


# ---------------------------------------------------------------------------
# cu01 — the full curation funnel as one declarative plan.
# ---------------------------------------------------------------------------


@register(
    "cu01_curation_funnel",
    tags=("sampling", "text"),
    oracle="""
WITH w AS (
    SELECT doc_id, text, lang, source,
           list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
    FROM documents
),
scored AS (
    SELECT *, round(
        0.4 * (CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / length(text))
      + 0.3 * (1 - CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text))
      + 0.2 * (CAST(len(list_filter(ws, x -> x IN ('the', 'a', 'of', 'and', 'is'))) AS DOUBLE) / len(ws))
      + 0.1 * (1 - CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text)), 6
    ) AS quality_score
    FROM w
),
gated AS (SELECT * FROM scored WHERE quality_score >= 0.5),
dedup AS (
    SELECT * FROM (
        SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS win FROM gated
    ) WHERE doc_id = win
),
rates AS (
    SELECT source,
           CAST(FLOOR(1000 * LEAST(1.0, 5.0 / sqrt(CAST(COUNT(*) AS DOUBLE)))) AS INT) AS rate
    FROM dedup GROUP BY source
),
mixed AS (
    SELECT dedup.* FROM dedup JOIN rates USING (source)
    WHERE ((doc_id * 2654435761) % 4294967296) % 1000 < rate
)
SELECT doc_id, source, CAST(len(ws) AS INT) AS n_tokens,
       CAST(((doc_id * 2654435761) % 4294967296) % 16 * 1048576
            + FLOOR((SUM(len(ws)) OVER (
                     PARTITION BY source, ((doc_id * 2654435761) % 4294967296) % 16
                     ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - len(ws)) / 512.0)
            AS BIGINT) AS pack_id
FROM mixed
""",
)
def cu01_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gate → exact dedup (min-doc_id per content hash) →
    temperature source mixing → greedy sequence packing, as ONE
    declarative plan — the end-to-end composition every individual
    operator feeds (deterministic survivor set, oracle-reproduced)."""
    from ntripmonitor_spark.operators.curation import curation_funnel

    return curation_funnel(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# ss04 — IVF coarse-quantizer training step (one Lloyd iteration).
# ---------------------------------------------------------------------------

_IVF_DIM = 64
_IVF_SUMS = ",\n           ".join(
    f"round(sum(vec[{i + 1}]) / count(*), 4) + 0.0 AS c{i}" for i in range(_IVF_DIM)
)
_IVF_LIST = ", ".join(f"c{i}" for i in range(_IVF_DIM))


@register(
    "ss04_ivf_train_step",
    tags=("simsearch",),
    oracle=f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
seeds AS (SELECT vec_id AS cid, vec AS sv FROM v WHERE vec_id < 8),
d AS (
    SELECT v.vec_id, seeds.cid, v.vec,
           round(list_sum(list_transform(range(1, 65),
               i -> (v.vec[i] - seeds.sv[i]) * (v.vec[i] - seeds.sv[i]))), 6) AS dist
    FROM v CROSS JOIN seeds
),
a AS (
    SELECT vec_id, cid AS centroid_id, vec FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rk
        FROM d
    ) WHERE rk = 1
),
agg AS (
    SELECT centroid_id, count(*) AS n_members,
           {_IVF_SUMS}
    FROM a GROUP BY centroid_id
),
wide AS (SELECT centroid_id, n_members, [{_IVF_LIST}] AS centroid FROM agg)
SELECT centroid_id, n_members,
       CAST(r.i - 1 AS INT) AS dim_idx, centroid[r.i] AS component
FROM wide, range(1, {_IVF_DIM + 1}) r(i)
""",
)
def ss04_ivf_train_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration of IVF coarse-quantizer training: nearest-
    seed assignment (seeds = vec 0..7 folded as literals) + per-
    centroid member mean — one corpus scan, one aggregate; the
    k-means round a driver loop iterates, and whose assignment column
    becomes the IVF storage partition key at serving time. The
    centroid vector is exploded to one (dim_idx, component) row per
    dimension: the harness hash-canonicalizes result cells through
    pandas, which cannot sort/factorize array cells — scalar rows
    carry identical information and stay hashable."""
    out = simsearch.ivf_train_step(table(spark, sf_dir, "embeddings"), k=8)
    return out.select(
        "centroid_id", "n_members",
        F.posexplode("centroid").alias("dim_idx", "component"),
    )


# ---------------------------------------------------------------------------
# sk01 — KMV distinct-count sketch (deterministic, engine-portable).
# ---------------------------------------------------------------------------


@register(
    "sk01_kmv_distinct",
    tags=("sketch",),
    oracle="""
WITH d AS (
    SELECT DISTINCT event_type, user_id,
           (user_id * 2654435761) % 4294967296 AS h
    FROM events
),
kth AS (
    SELECT event_type, h AS hk FROM (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h ASC, user_id ASC) AS rk
        FROM d
    ) WHERE rk = 64
),
exact AS (
    SELECT event_type, count(*) AS exact_distinct FROM d GROUP BY event_type
)
SELECT exact.event_type, exact.exact_distinct,
       CASE WHEN exact.exact_distinct < 64 THEN CAST(exact.exact_distinct AS DOUBLE)
            ELSE round(63.0 * 4294967296.0 / kth.hk, 4) + 0.0 END AS kmv_estimate
FROM exact LEFT JOIN kth USING (event_type)
""",
)
def sk01_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct-user sketch per event type (k=64,
    portable Knuth hash) with the exact count alongside — a mergeable
    O(k)-state sketch whose estimate both engines reproduce
    bit-for-bit, unlike HLL."""
    from ntripmonitor_spark.operators.sketch import kmv_distinct

    return kmv_distinct(table(spark, sf_dir, "events"), "event_type", "user_id", k=64)


# ---------------------------------------------------------------------------
# cm01 — Count-Min sketch heavy-hitter estimates (deterministic).
# ---------------------------------------------------------------------------


@register(
    "cm01_countmin_heavy_hitters",
    tags=("sketch",),
    oracle="""
WITH c AS (
    SELECT t.d,
           CAST(concat('0x', substr(md5(t.d || '|' || CAST(user_id AS VARCHAR)), 1, 7))
                AS BIGINT) % 512 AS bkt,
           CAST(count(*) AS BIGINT) AS cnt
    FROM events, range(0, 4) t(d)
    GROUP BY 1, 2
),
e AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_exact FROM events GROUP BY 1),
top AS (SELECT * FROM e ORDER BY n_exact DESC, user_id ASC LIMIT 20),
p AS (
    SELECT top.user_id, top.n_exact, t.d,
           CAST(concat('0x', substr(md5(t.d || '|' || CAST(top.user_id AS VARCHAR)), 1, 7))
                AS BIGINT) % 512 AS bkt
    FROM top, range(0, 4) t(d)
)
SELECT p.user_id, p.n_exact, min(c.cnt) AS n_cms
FROM p JOIN c ON c.d = p.d AND c.bkt = p.bkt
GROUP BY 1, 2
""",
)
def cm01_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min estimates (depth 4 × width 512, fixed md5 hash
    family) for the 20 busiest users, with exact counts alongside —
    CMS guarantees n_cms ≥ n_exact. The counter build's exchange moves
    at most depth×width partial counters per task regardless of input
    volume (why 100 TB pipelines keep CMS state, not per-key counts);
    the probe side is 80 broadcast rows. The deterministic hash family
    makes the sketch itself oracle-checkable, unlike HLL."""
    from ntripmonitor_spark.operators.sketch import countmin_heavy_hitters

    return countmin_heavy_hitters(table(spark, sf_dir, "events"), "user_id", top_n=20)


# ---------------------------------------------------------------------------
# dc01 — train/test decontamination (eval-leakage scrub).
# ---------------------------------------------------------------------------


@register(
    "dc01_decontamination",
    tags=("dedup", "text"),
    oracle=f"""
WITH {_SH_CTE},
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20),
corpus AS (SELECT doc_id, shingle FROM sh WHERE doc_id >= 20),
scored AS (
    SELECT corpus.doc_id,
           count(*) AS n_shingles,
           CAST(sum(CASE WHEN bench.shingle IS NOT NULL THEN 1 ELSE 0 END) AS INT) AS n_contaminated
    FROM corpus LEFT JOIN bench ON corpus.shingle = bench.shingle
    GROUP BY corpus.doc_id
)
SELECT doc_id, n_shingles, n_contaminated,
       round(CAST(n_contaminated AS DOUBLE) / n_shingles, 6) AS contamination_frac,
       CAST(n_contaminated AS DOUBLE) / n_shingles >= 0.8 AS is_contaminated
FROM scored
""",
)
def dc01_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-leakage scrub: per corpus doc (doc_id ≥ 20), the count and
    fraction of its distinct word-3-grams that also appear in the
    benchmark set (doc_id < 20). The benchmark shingle set broadcasts;
    the corpus streams through one scan + map-side join — no corpus
    self-join, no corpus-side shingle shuffle beyond the per-doc
    aggregate."""
    return dedup.decontaminate(
        table(spark, sf_dir, "documents"), F.col("doc_id") < 20, n=3
    )


@register(
    "tp02_sorted_pack",
    tags=("sampling",),
    oracle="""
SELECT doc_id, source, CAST(n_tokens AS INT) AS n_tokens,
       CAST(shard * 1048576
            + FLOOR((SUM(n_tokens) OVER (PARTITION BY source, shard
                     ORDER BY n_tokens DESC, doc_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) / 512.0)
            AS BIGINT) AS pack_id
FROM (
    SELECT doc_id, source,
           len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS n_tokens,
           ((doc_id * 2654435761) % 4294967296) % 16 AS shard
    FROM documents
)
""",
)
def tp02_sorted_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted greedy packing (first-fit-decreasing's sort step as a
    window): long docs seed packs, short docs fill tails — less
    fragmentation than arrival-order tp01 at the same one-shuffle
    cost."""
    from ntripmonitor_spark.operators import sampling

    return sampling.sequence_pack_sorted(table(spark, sf_dir, "documents"), pack_tokens=512)


# ---------------------------------------------------------------------------
# ss05 — product-quantization encode (IVF-PQ storage-side compression).
# ---------------------------------------------------------------------------

_PQ_SUB = 8  # subspaces; 64-dim vectors → 8-dim sub-vectors


@register(
    "ss05_pq_encode",
    tags=("simsearch",),
    oracle=f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
seeds AS (SELECT vec_id AS cid, vec AS sv FROM v WHERE vec_id < 4),
d AS (
    SELECT v.vec_id, s.s, seeds.cid,
           round(list_sum(list_transform(range(1, 9),
               i -> (v.vec[s.s * 8 + i] - seeds.sv[s.s * 8 + i])
                  * (v.vec[s.s * 8 + i] - seeds.sv[s.s * 8 + i]))), 6) AS dist
    FROM v CROSS JOIN range(0, {_PQ_SUB}) s(s) CROSS JOIN seeds
),
best AS (
    SELECT vec_id, s, cid, dist FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY dist ASC, cid ASC) AS rk
        FROM d
    ) WHERE rk = 1
)
SELECT vec_id, string_agg(CAST(cid AS VARCHAR), '' ORDER BY s) AS pq_code,
       round(sum(dist), 6) AS distortion
FROM best GROUP BY vec_id
""",
)
def ss05_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes: each embedding split into 8
    sub-vectors, each replaced by its nearest codeword id (codebook =
    sub-vectors of seeds 0..3 folded as literals). One corpus scan,
    zero joins/shuffles — the compression step of an IVF-PQ index."""
    return simsearch.pq_encode(table(spark, sf_dir, "embeddings"), m=_PQ_SUB, k=4)


# ---------------------------------------------------------------------------
# ss09 — PQ asymmetric-distance search (the serving half of ss05).
# ---------------------------------------------------------------------------


@register(
    "ss09_pq_adc_topk",
    tags=("simsearch",),
    oracle=f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
seeds AS (SELECT vec_id AS cid, vec AS sv FROM v WHERE vec_id < 4),
d AS (
    SELECT v.vec_id, s.s, seeds.cid,
           round(list_sum(list_transform(range(1, 9),
               i -> (v.vec[s.s * 8 + i] - seeds.sv[s.s * 8 + i])
                  * (v.vec[s.s * 8 + i] - seeds.sv[s.s * 8 + i]))), 6) AS dist
    FROM v CROSS JOIN range(0, {_PQ_SUB}) s(s) CROSS JOIN seeds
),
best AS (
    SELECT vec_id, s, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY dist ASC, cid ASC) AS rk
        FROM d
    ) WHERE rk = 1
),
q AS (SELECT vec_id AS qid, vec AS qv FROM v WHERE vec_id < 10),
qd AS (
    SELECT q.qid, s.s, seeds.cid,
           round(list_sum(list_transform(range(1, 9),
               i -> (q.qv[s.s * 8 + i] - seeds.sv[s.s * 8 + i])
                  * (q.qv[s.s * 8 + i] - seeds.sv[s.s * 8 + i]))), 6) AS dist
    FROM q CROSS JOIN range(0, {_PQ_SUB}) s(s) CROSS JOIN seeds
),
adc AS (
    SELECT qd.qid, best.vec_id, round(sum(qd.dist), 6) AS adc
    FROM best JOIN qd ON qd.s = best.s AND qd.cid = best.cid
    GROUP BY 1, 2
)
SELECT qid, vec_id, adc, rk FROM (
    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adc ASC, vec_id ASC) AS rk
    FROM adc
) WHERE rk <= 5
""",
)
def ss09_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance PQ search (Jégou et al. 2011): top-5 per
    query over the ENCODED corpus — each query precomputes its 8×4
    subspace-to-codeword distance table (bounded collect, broadcast
    back); scoring is one scan over the m-byte codes doing m array
    lookups per row, never touching the raw vector column — the whole
    point of PQ at scale."""
    return simsearch.pq_adc_topk(
        table(spark, sf_dir, "embeddings"), m=_PQ_SUB, k=4, n_queries=10, topk=5
    )


# ---------------------------------------------------------------------------
# ss06 — IVF probe (the serving path of the ss04-trained coarse quantizer).
# ---------------------------------------------------------------------------


@register(
    "ss06_ivf_probe",
    tags=("simsearch",),
    oracle=f"""
WITH {_VEC_CTE},
seeds AS (SELECT vec_id AS cid, vec AS sv FROM v WHERE vec_id < 8),
d AS (
    SELECT v.vec_id, seeds.cid,
           round(list_sum(list_transform(range(1, 65),
               i -> (v.vec[i] - seeds.sv[i]) * (v.vec[i] - seeds.sv[i]))), 6) AS dist
    FROM v CROSS JOIN seeds
),
corpus AS (
    SELECT n.vec_id, n.vec, n.nrm, a.cell
    FROM n JOIN (
        SELECT vec_id, cid AS cell FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rk
            FROM d
        ) WHERE rk = 1
    ) a ON a.vec_id = n.vec_id
),
probes AS (
    SELECT t.vec_id AS query_id, nn.vec AS qv, nn.nrm AS qnrm, t.cid AS cell
    FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS pr
        FROM d WHERE vec_id < 10
    ) t JOIN n nn ON nn.vec_id = t.vec_id
    WHERE t.pr <= 2
),
scored AS (
    SELECT p.query_id, c.vec_id AS neighbor_id, c.cell,
           round(list_dot_product(p.qv, c.vec) / (p.qnrm * c.nrm), 6) AS cos_sim
    FROM corpus c JOIN probes p ON p.cell = c.cell
    WHERE c.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cell, cos_sim, rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
    FROM scored
) WHERE rank <= 5
""",
)
def ss06_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF serving: corpus vectors live in their nearest-centroid cell
    (the storage partition key at scale); each query probes its 2
    nearest cells (broadcast) and ranks candidates by cosine — the
    corpus is scanned once and never shuffled."""
    return simsearch.ivf_probe(
        table(spark, sf_dir, "embeddings"), k_centroids=8, n_queries=10, nprobe=2, k=5
    )


# ---------------------------------------------------------------------------
# qa01 — exact per-source quantile thresholds (curation cutoffs).
# ---------------------------------------------------------------------------


@register(
    "qa01_quantile_thresholds",
    tags=("stats", "curation"),
    oracle="""
SELECT source,
       count(*) AS n_docs,
       round(quantile_cont(n_chars, 0.5), 4) AS p50,
       round(quantile_cont(n_chars, 0.9), 4) AS p90,
       round(quantile_cont(n_chars, 0.99), 4) AS p99
FROM documents GROUP BY source
""",
)
def qa01_quantile_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source quantiles of document length (the cutoffs a
    curation gate consumes): one exchange on source, linear-interp
    percentile on both engines; `stats.approx_quantiles` is the
    sketch-based 100 TB twin, pinned by a pytest tolerance test."""
    from ntripmonitor_spark.operators import stats

    return stats.quantile_thresholds(
        table(spark, sf_dir, "documents"), value_col="n_chars", group_col="source"
    )


# ---------------------------------------------------------------------------
# lr02 — distributed logistic-regression classifier training
# (iterative GD; non-SQL-expressible, so no DuckDB oracle — pinned by
# tests/test_logreg.py against a NumPy reference to 1e-6).
# ---------------------------------------------------------------------------


def _lr02_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ntripmonitor_spark.operators.dedup import normalized_words
    from ntripmonitor_spark.operators.text import LANG_STOPWORDS, stopword_count

    docs = table(spark, sf_dir, "documents")
    words = normalized_words(F.col("text"))
    n_tok = F.size(words)
    stop_ratio = F.when(
        n_tok > 0, stopword_count(words, LANG_STOPWORDS["en"]).cast("double") / n_tok
    ).otherwise(F.lit(0.0))
    alpha_ratio = (
        F.length(F.regexp_replace(F.lower(F.col("text")), "[^a-z]", "")).cast("double")
        / F.greatest(F.length("text"), F.lit(1))
    )
    return docs.select(
        (F.col("lang") == "en").cast("int").alias("is_en"),
        stop_ratio.alias("stop_ratio"),
        alpha_ratio.alias("alpha_ratio"),
    )


def _lr02_oracle(iters: int = 20) -> str:
    """Full value oracle for lr02 by UNROLLING the fixed GD loop as
    chained scalar CTEs: iteration k is one aggregate over the feature
    relation CROSS JOINed with the previous 1-row weight CTE — exactly
    the Spark loop's algebra (full-batch gradient, lr=1). Determinism
    holds because every step is pure arithmetic (no argmax/tie
    structure); summation-order float drift is ~1e-12 relative and the
    outputs round to 6 dp on both sides (FIXTURES float canon)."""
    feat = """
feat AS (
    SELECT CAST(lang = 'en' AS DOUBLE) AS y,
           CASE WHEN len(ws) > 0
                THEN CAST(len(list_filter(ws, x -> x IN ('the', 'a', 'of', 'and', 'is')))
                          AS DOUBLE) / len(ws)
                ELSE 0.0 END AS x1,
           CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
               / greatest(length(text), 1) AS x2
    FROM (
        SELECT lang, text,
               list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
        FROM documents
    )
),
it0 AS (SELECT 0.0 AS wa, 0.0 AS wb, 0.0 AS wc)"""
    steps = []
    for k in range(1, iters + 1):
        steps.append(f"""
it{k} AS (
    SELECT max(wa) - sum(p - y) / count(*) AS wa,
           max(wb) - sum((p - y) * x1) / count(*) AS wb,
           max(wc) - sum((p - y) * x2) / count(*) AS wc
    FROM (
        SELECT f.y, f.x1, f.x2, w.wa, w.wb, w.wc,
               1.0 / (1.0 + exp(-(w.wa + w.wb * f.x1 + w.wc * f.x2))) AS p
        FROM feat f CROSS JOIN it{k-1} w
    )
)""")
    return (
        "WITH " + feat + "," + ",".join(steps) + f"""
SELECT round(max(w.wa), 6) AS w0,
       round(max(w.wb), 6) AS w_stop_ratio,
       round(max(w.wc), 6) AS w_alpha_ratio,
       round(avg(CASE WHEN (CASE WHEN w.wa + w.wb * f.x1 + w.wc * f.x2 > 0
                                 THEN 1.0 ELSE 0.0 END) = f.y
                      THEN 1.0 ELSE 0.0 END), 6) AS train_acc,
       CAST(count(*) AS BIGINT) AS n
FROM feat f CROSS JOIN it{iters} w
""")


@register(
    "lr02_logreg_quality",
    tags=("stats",),
    oracle=_lr02_oracle(20),
    doc="Distributed logistic-regression training (20 GD epochs)",
)
def lr02_logreg_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trains an English-document classifier (stopword + alpha ratio
    features) with 20 full-batch GD epochs: weights live on the driver
    as literals folded into the scoring expression, each epoch is ONE
    aggregate (K+2 mergeable sums) + a 1-row collect — iterative ML as
    repeated aggregates, the Lloyd-loop discipline (ss04/ss07) applied
    to a classifier. Returns weights + training accuracy. The FIXED
    iteration count makes even this iterative trainer value-oracled:
    _lr02_oracle unrolls the 20 steps as chained scalar CTEs (pure
    arithmetic, no tie structure, 6-dp rounding absorbs summation-
    order drift); also NumPy-reference-pinned in tests/test_logreg.py."""
    from ntripmonitor_spark.operators import stats

    return stats.logreg_quality(
        _lr02_features(spark, sf_dir), label_col="is_en",
        feature_cols=["stop_ratio", "alpha_ratio"], iters=20, lr=1.0,
    )


# ---------------------------------------------------------------------------
# tx10 — bigram-LM perplexity quality scoring (CCNet-style).
# ---------------------------------------------------------------------------


@register(
    "tx10_bigram_nll",
    tags=("text",),
    oracle="""
WITH w AS (
    SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
    FROM documents
),
t AS (SELECT unnest(ws) AS tok FROM w),
v AS (
    SELECT tok FROM (
        SELECT tok, count(*) AS c FROM t GROUP BY 1 ORDER BY c DESC, tok ASC LIMIT 64
    )
),
nv AS (SELECT count(*) + 1.0 AS v_plus FROM v),
p AS (
    SELECT doc_id,
           string_split(pair, ' ')[1] AS a,
           string_split(pair, ' ')[2] AS b
    FROM (
        SELECT doc_id,
               unnest([ws[i] || ' ' || ws[i + 1] FOR i IN range(1, len(ws))]) AS pair
        FROM w
    )
),
mp AS (
    SELECT doc_id,
           CASE WHEN a IN (SELECT tok FROM v) THEN a ELSE '<unk>' END AS w1,
           CASE WHEN b IN (SELECT tok FROM v) THEN b ELSE '<unk>' END AS w2
    FROM p
),
bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM mp GROUP BY 1, 2),
cx AS (SELECT w1, sum(c) AS cw FROM bc GROUP BY 1),
model AS (
    SELECT bc.w1, bc.w2, ln((bc.c + 0.5) / (cx.cw + 0.5 * nv.v_plus)) AS logp
    FROM bc JOIN cx USING (w1), nv
)
SELECT mp.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(avg(-model.logp), 6) AS avg_nll
FROM mp JOIN model ON mp.w1 = model.w1 AND mp.w2 = model.w2
GROUP BY mp.doc_id
""",
)
def tx10_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality signal: per-doc average negative log
    likelihood under a corpus-fit bigram model (top-64 closed vocab +
    <unk>, add-0.5 smoothing) — high avg_nll flags gibberish and
    wrong-language fragments. Fit-tiny-broadcast shape: vocab is a
    bounded TakeOrdered folded back as literals, the ≤(V+1)² bigram
    model broadcasts, the corpus shuffles only as per-doc partial
    sums."""
    return text.bigram_nll(table(spark, sf_dir, "documents"), vocab_size=64)


# ---------------------------------------------------------------------------
# bp01 — full distributed BPE tokenizer training (iterative merge
# loop; non-SQL-expressible, so no DuckDB oracle — pinned instead by
# tests/test_bpe.py against a pure-Python reference implementation).
# ---------------------------------------------------------------------------


def _bpe_merge_ctes(n_merges: int = 8) -> str:
    """CTE chain reproducing the bp01 training loop in SQL (shared by
    the bp01 and tk01 oracles). Exact (no floats anywhere): pair
    counts are integers and the argmax tie-break (count DESC, pair
    ASC) is the same on both engines. The merge application maps
    Spark's leftmost-first non-overlapping array fold onto SQL
    ``replace`` over a DOUBLE-space-separated symbol string: the
    pattern ' l  r ' consumes one leading/trailing space of each
    symbol's two-space separators, so back-to-back occurrences keep a
    separator for the next match while overlapping ones ('a a a',
    merge (a,a)) correctly yield 'aa a'. Exposes b1..bN (one merge
    each: lft/rgt/mrg/pair/n)."""
    parts = ["""
wf AS (
    SELECT CAST(count(*) AS BIGINT) AS cnt,
           '  ' || array_to_string(
               list_transform(range(1, length(tok) + 1), i -> tok[i]), '  ')
           || '  ' AS s
    FROM (
        SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS tok
        FROM documents
    )
    GROUP BY tok
),
w0 AS (SELECT cnt, s FROM wf)"""]
    for k in range(1, n_merges + 1):
        parts.append(f"""
p{k} AS (
    SELECT w.sy[t.i] || ' ' || w.sy[t.i + 1] AS pair, sum(w.cnt) AS n
    FROM (SELECT cnt, list_filter(string_split(s, '  '), x -> x <> '') AS sy
          FROM w{k - 1}) w,
         LATERAL unnest(range(1, greatest(len(w.sy), 1))) AS t(i)
    GROUP BY pair
),
b{k} AS (
    SELECT pair, CAST(n AS BIGINT) AS n,
           split_part(pair, ' ', 1) AS lft,
           split_part(pair, ' ', 2) AS rgt,
           replace(pair, ' ', '') AS mrg
    FROM p{k} ORDER BY n DESC, pair ASC LIMIT 1
),
w{k} AS (
    SELECT w.cnt,
           replace(w.s, ' ' || b.lft || '  ' || b.rgt || ' ',
                   ' ' || b.mrg || ' ') AS s
    FROM w{k - 1} w CROSS JOIN b{k} b
)""")
    return "WITH " + ",".join(parts)


def _bp01_oracle(n_merges: int = 8) -> str:
    """bp01: the merge table itself — union of the b1..bN argmax rows."""
    finals = "\nUNION ALL ".join(
        f'SELECT CAST({k - 1} AS INT) AS "rank", lft AS "left", rgt AS "right", '
        f'mrg AS merged, n FROM b{k}'
        for k in range(1, n_merges + 1)
    )
    return _bpe_merge_ctes(n_merges) + "\n" + finals


def _tk01_oracle(n_merges: int = 8) -> str:
    """tk01: apply the b1..bN merges (rank order) to every word of
    every document — the same double-space ``replace`` fold as
    training, nested once per merge — then per-doc token stats and
    the md5 of the '|'-joined token stream (UTF-8 both engines)."""
    enc = ("'  ' || array_to_string("
           "list_transform(range(1, length(w) + 1), i -> w[i]), '  ') || '  '")
    for k in range(1, n_merges + 1):
        enc = (f"replace({enc}, ' ' || b{k}.lft || '  ' || b{k}.rgt || ' ', "
               f"' ' || b{k}.mrg || ' ')")
    joins = " ".join(f"CROSS JOIN b{k}" for k in range(1, n_merges + 1))
    return _bpe_merge_ctes(n_merges) + f"""
SELECT d.doc_id,
       CAST(length(lower(d.text)) AS INT) AS n_chars,
       CAST(len(d.ws) AS INT) AS n_words,
       CAST(len(t.toks) AS INT) AS n_tokens,
       md5(array_to_string(t.toks, '|')) AS tokens_md5
FROM (
    SELECT doc_id, text,
           list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
    FROM documents
) d {joins},
LATERAL (
    SELECT flatten(list_transform(d.ws,
        w -> list_filter(string_split({enc}, '  '), x -> x <> ''))) AS toks
) t
"""


@register(
    "bp01_bpe_train",
    tags=("text",),
    oracle=_bp01_oracle(8),
    doc="Full BPE merge loop on the word-frequency table",
)
def bp01_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8 rounds of BPE training: corpus → word-frequency table once,
    then per-round pair-count aggregate + argmax + column-fold merge
    application, all on the bounded vocab relation (Heaps' law ~O(√N)
    rows). The FIXED merge count makes the loop SQL-unrollable
    (_bp01_oracle — integer-exact, no float drift possible), and it
    stays exact-match-pinned against a pure-Python BPE in
    tests/test_bpe.py."""
    return text.bpe_train(table(spark, sf_dir, "documents"), n_merges=8)


# ---------------------------------------------------------------------------
# sp04 — deterministic per-stratum k-sample (mergeable "reservoir").
# ---------------------------------------------------------------------------


@register(
    "sp04_stratified_ksample",
    tags=("sampling",),
    oracle="""
WITH s AS (
    SELECT source, doc_id, (doc_id * 2654435761) % 4294967296 AS coin FROM documents
)
SELECT source, doc_id, coin, rk FROM (
    SELECT source, doc_id, coin,
           row_number() OVER (PARTITION BY source ORDER BY coin ASC, doc_id ASC) AS rk
    FROM s
) WHERE rk <= 10
""",
)
def sp04_stratified_ksample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform 10-doc sample per source as the k smallest Knuth-hash
    coins — reservoir sampling's distributed replacement: partial
    samples merge by re-ranking their union (the KMV property), and
    re-runs reproduce the same sample. Two-level rank (per-shard top-k
    feeds a per-stratum re-rank over ≤ shards·k rows) so a dominant
    stratum never sorts on one task; output identical to the oracle's
    single window."""
    from ntripmonitor_spark.operators import sampling

    return sampling.stratified_ksample(table(spark, sf_dir, "documents"), k=10)


# ---------------------------------------------------------------------------
# hs01 — per-language length histogram.
# ---------------------------------------------------------------------------


@register(
    "hs01_length_histogram",
    tags=("stats",),
    oracle="""
WITH h AS (
    SELECT lang, CAST(floor(n_chars / 250) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n
    FROM documents GROUP BY 1, 2
)
SELECT lang, bin * 250 AS bin_lo, n,
       round(n / sum(n) OVER (PARTITION BY lang), 9) AS frac
FROM h
""",
)
def hs01_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width (250-char) document-length histogram per language
    with in-group fractions: one hash aggregate (map-side combine caps
    task output at groups×bins rows); the normalization windows over
    the aggregated histogram only. The corpus-profiling step before
    choosing curation thresholds (qa01 gives the quantile view of the
    same distribution)."""
    from ntripmonitor_spark.operators import stats

    return stats.length_histogram(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# tx09 — Zipf's-law fit over the token-frequency distribution.
# ---------------------------------------------------------------------------


@register(
    "tx09_zipf_fit",
    tags=("text", "stats"),
    oracle="""
WITH t AS (
    SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS tok
    FROM documents
),
f AS (SELECT tok, CAST(count(*) AS BIGINT) AS f FROM t GROUP BY 1),
top AS (SELECT tok, f FROM f ORDER BY f DESC, tok ASC LIMIT 1000),
r AS (
    SELECT ln(CAST(f AS DOUBLE)) AS ln_f,
           ln(CAST(row_number() OVER (ORDER BY f DESC, tok ASC) AS DOUBLE)) AS ln_r
    FROM top
)
SELECT CAST(count(*) AS BIGINT) AS n_top,
       round(regr_slope(ln_f, ln_r), 6) AS slope,
       round(regr_intercept(ln_f, ln_r), 6) AS intercept,
       round(regr_r2(ln_f, ln_r), 6) AS r2
FROM r
""",
)
def tx09_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ln(freq)-on-ln(rank) OLS over the top-1000 tokens (natural text
    ≈ slope −1; drift flags boilerplate floods or over-dedup). Token
    counts are one map-side-combined aggregate; only top_v rows reach
    the rank window via a bounded TakeOrdered — the single-partition
    step is O(top_v) at any corpus size — and the fit reuses lr01's
    sufficient-statistics aggregate."""
    return text.zipf_fit(table(spark, sf_dir, "documents"), top_v=1000)


# ---------------------------------------------------------------------------
# ig01 — DSIR importance weights (Xie et al. 2023).
# ---------------------------------------------------------------------------


@register(
    "ig01_dsir_weights",
    tags=("sampling", "text"),
    oracle="""
WITH w AS (
    SELECT doc_id, lang = 'en' AS is_t,
           unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS tok
    FROM documents
),
b AS (
    SELECT doc_id, is_t,
           CAST(concat('0x', substr(md5(tok), 1, 7)) AS BIGINT) % 1024 AS bkt
    FROM w
),
f AS (
    SELECT bkt,
           CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
           CAST(count(*) AS BIGINT) AS n_r
    FROM b GROUP BY 1
),
tot AS (SELECT sum(n_t) AS nt_tot, sum(n_r) AS nr_tot FROM f),
r AS (
    SELECT bkt,
           ln((n_t + 1.0) / (nt_tot + 1024.0)) - ln((n_r + 1.0) / (nr_tot + 1024.0)) AS lw
    FROM f, tot
)
SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_toks, round(sum(r.lw), 6) AS logw
FROM b JOIN r USING (bkt)
GROUP BY b.doc_id
""",
)
def ig01_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR log importance weights toward the English slice: hashed-
    unigram (1024-bucket) add-one-smoothed target/raw log-ratio model,
    built in one hash aggregate and broadcast back for scoring — the
    corpus shuffles only as (doc_id, partial-sum) rows. Resampling
    ∝ exp(logw) is the DSIR selection step; the weight output keeps it
    deterministic and oracle-checkable."""
    from ntripmonitor_spark.operators import sampling

    return sampling.dsir_logweights(
        table(spark, sf_dir, "documents"), F.col("lang") == "en"
    )


# ---------------------------------------------------------------------------
# sd01 — cross-document duplicated spans (stride-sampled exact
# substring dedup, after Lee et al. 2021).
# ---------------------------------------------------------------------------


@register(
    "sd01_duplicate_spans",
    tags=("dedup",),
    oracle="""
WITH d AS (
    SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
    FROM documents
),
d2 AS (SELECT doc_id, ws, len(ws) AS n FROM d WHERE len(ws) >= 1),
b AS (
    SELECT doc_id, ws,
           list_sort(list_distinct(
               [CAST(1 AS BIGINT)] ||
               [i FOR i IN range(1, n + 1) IF
                   CAST(concat('0x', substr(md5(ws[CAST(i AS INT)]), 1, 7))
                        AS BIGINT) % 8 = 0] ||
               [CAST(n + 1 AS BIGINT)]
           )) AS bs
    FROM d2
),
c AS (
    SELECT doc_id,
           CAST(bs[i + 1] - bs[i] AS BIGINT) AS n_words,
           md5(array_to_string(
               ws[CAST(bs[i] AS INT):CAST(bs[i + 1] - 1 AS INT)], ' ')) AS span_h
    FROM b, unnest(range(1, len(bs))) AS u(i)
)
SELECT span_h,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occ,
       max(n_words) AS n_words,
       min(doc_id) AS first_doc
FROM c WHERE n_words >= 3
GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
""",
)
def sd01_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim spans shared by ≥2 documents via word-granular
    content-defined chunking (boundary before every word whose md5 ≡ 0
    mod 8, expected chunk 8 words): alignment-invariant by
    construction — a repeat produces the same interior chunks at any
    offset, which fixed-stride sampling cannot guarantee
    (property-pinned across 41 offsets in tests). One hash per word,
    one chunk-hash-keyed aggregate; the text column never shuffles."""
    return dedup.duplicate_spans(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# lr01 — grouped linear regression as a pure aggregation.
# ---------------------------------------------------------------------------


@register(
    "lr01_grouped_regression",
    tags=("stats",),
    oracle="""
SELECT l_returnflag,
       regr_count(l_extendedprice, l_quantity) AS n,
       round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
       round(regr_r2(l_extendedprice, l_quantity), 6) AS r2
FROM lineitem GROUP BY l_returnflag
""",
)
def lr01_grouped_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag OLS fit of extended price on quantity — the
    "model fit as sufficient statistics" scale pattern: regr_* reduce
    to six mergeable sums, so the whole fit is one hash aggregate with
    map-side combine and O(1) state per group; at 100 TB nothing but
    |groups| rows ever crosses the exchange. Extends the reference's
    aggregate dashboard surface (SURVEY.md §2.5) with a model-fitting
    aggregate neither Postgres panel attempts."""
    from ntripmonitor_spark.operators import stats

    return stats.grouped_regression(
        table(spark, sf_dir, "lineitem"),
        y_col="l_extendedprice", x_col="l_quantity", group_col="l_returnflag",
    )


# ---------------------------------------------------------------------------
# dc02 — Bloom-pre-filtered decontamination (exact results).
# ---------------------------------------------------------------------------


@register(
    "dc02_decontamination_bloom",
    tags=("dedup", "text"),
    oracle=f"""
WITH {_SH_CTE},
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20),
corpus AS (SELECT doc_id, shingle FROM sh WHERE doc_id >= 20)
SELECT corpus.doc_id, CAST(count(*) AS INT) AS n_contaminated
FROM corpus JOIN bench ON corpus.shingle = bench.shingle
GROUP BY corpus.doc_id
""",
)
def dc02_decontamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contaminated-doc report via a Bloom pre-filter: benchmark
    shingle hashes fold into a bloom_filter_agg literal applied as a
    corpus scan predicate (might_contain); only probable hits reach
    the exact confirming join, so results are byte-identical to the
    no-bloom plan (the oracle) while the corpus side never joins the
    full benchmark set — the shape that survives a benchmark too big
    to broadcast."""
    return dedup.decontaminate_bloom(
        table(spark, sf_dir, "documents"), F.col("doc_id") < 20
    )


# ---------------------------------------------------------------------------
# cu02 — quantile-adaptive quality gate (qa01 thresholds driving curation).
# ---------------------------------------------------------------------------


@register(
    "cu02_adaptive_gate",
    tags=("curation", "stats"),
    oracle="""
WITH t AS (
    SELECT source, round(quantile_cont(n_chars, 0.5), 4) AS p50
    FROM documents GROUP BY source
)
SELECT d.doc_id, d.source, d.n_chars, t.p50
FROM documents d JOIN t ON d.source = t.source
WHERE d.n_chars >= t.p50
""",
)
def cu02_adaptive_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive curation gate: keep each source's top half by document
    length, with the cutoff COMPUTED from the data (qa01's exact
    per-source median) instead of a global constant — the two-pass
    shape of every data-driven filter at scale: a tiny per-group stats
    aggregate broadcast back onto one corpus scan."""
    from ntripmonitor_spark.operators import stats

    docs = table(spark, sf_dir, "documents")
    thresholds = stats.quantile_thresholds(docs, qs=(0.5,)).select("source", "p50")
    return (
        docs.join(F.broadcast(thresholds), "source")
        .filter(F.col("n_chars") >= F.col("p50"))
        .select("doc_id", "source", "n_chars", "p50")
    )


# ---------------------------------------------------------------------------
# tp03 — long-document splitting (chunking before packing).
# ---------------------------------------------------------------------------


@register(
    "tp03_split_long_docs",
    tags=("packing",),
    oracle="""
WITH staged AS (
    SELECT doc_id, source,
           len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS n_tokens
    FROM documents
)
SELECT doc_id, source, n_tokens,
       CAST(i AS INT) AS chunk_idx,
       CAST(least(128, n_tokens - i * 128) AS INT) AS chunk_len
FROM (
    SELECT doc_id, source, n_tokens,
           unnest(range(0, greatest(CAST(ceil(n_tokens / 128.0) AS BIGINT), 1))) AS i
    FROM staged
)
""",
)
def tp03_split_long_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long documents split into 128-token training chunks (the step
    before packing): pure per-row sequence+explode, zero shuffles —
    fuses into the corpus scan at any scale."""
    from ntripmonitor_spark.operators.sampling import split_long_docs

    return split_long_docs(table(spark, sf_dir, "documents"), chunk_tokens=128)


# ---------------------------------------------------------------------------
# ss07 — full IVF training loop (iterative; rows-only driver check).
# ---------------------------------------------------------------------------


@register(
    "ss07_ivf_train_full",
    tags=("simsearch",),
    # Value oracle by UNROLLING the fixed 3-round Lloyd loop as chained
    # CTEs (one assignment + one mean per round — ss04's oracle pattern
    # iterated). Sound because every round's assignment uses dist
    # ROUNDED to 6 dp with ties to the lowest centroid id (both
    # engines), and the output rounds components to 4 dp, so
    # summation-order float drift (~1e-12 relative on the means) sits
    # orders of magnitude under every decision/canon boundary.
    oracle="""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
c0 AS (SELECT vec_id AS cid, vec AS cv FROM v WHERE vec_id < 8),
"""
    + ",\n".join(
        f"""d{r} AS (
    SELECT v.vec_id, c.cid, v.vec,
           round(list_sum(list_transform(range(1, 65),
               i -> (v.vec[i] - c.cv[i]) * (v.vec[i] - c.cv[i]))), 6) AS dist
    FROM v CROSS JOIN c{r - 1} c
),
a{r} AS (
    SELECT vec_id, cid, vec FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rk
        FROM d{r}
    ) WHERE rk = 1
),
m{r} AS (
    SELECT cid, t.i AS i, avg(vec[t.i]) AS comp
    FROM a{r}, range(1, 65) t(i) GROUP BY cid, t.i
),
c{r} AS (
    SELECT p.cid, coalesce(m.cv, p.cv) AS cv
    FROM c{r - 1} p
    LEFT JOIN (SELECT cid, list(comp ORDER BY i) AS cv FROM m{r} GROUP BY cid) m
    USING (cid)
)"""
        for r in (1, 2, 3)
    )
    + """
SELECT CAST(p.cid AS INT) AS centroid_id, CAST(t.i - 1 AS INT) AS dim_idx,
       round(p.cv[t.i], 4) + 0.0 AS component
FROM c3 p, range(1, 65) t(i)
""",
)
def ss07_ivf_train_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three Lloyd rounds of IVF coarse-quantizer training (the
    driver loop whose single round is ss04): per round one corpus
    scan + one k-row aggregate; new centroids fold back as literals.
    Output: converged centroids exploded to scalar rows (the harness
    canonicalizer cannot hash array cells). The fixed iteration count
    makes the loop SQL-unrollable, so this trainer carries a full
    value oracle; + 0.0 normalizes IEEE -0.0 on both sides."""
    cents, _hist = simsearch.ivf_train(
        table(spark, sf_dir, "embeddings"), k=8, iters=3
    )
    rows = [
        (cid, i, round(x, 4) + 0.0) for cid, vec in cents for i, x in enumerate(vec)
    ]
    return spark.createDataFrame(rows, "centroid_id int, dim_idx int, component double")


# ---------------------------------------------------------------------------
# lo01 — Z-order (Morton) clustering code (layout family).
# ---------------------------------------------------------------------------

_Z_TERMS = " | ".join(
    f"(((xa >> {i}) & 1) << {2 * i}) | (((xb >> {i}) & 1) << {2 * i + 1})"
    for i in range(16)
)


@register(
    "lo01_zorder_code",
    tags=("layout",),
    oracle=f"""
WITH s AS (
    SELECT min(CAST(user_id AS DOUBLE)) AS loa, max(CAST(user_id AS DOUBLE)) AS hia,
           min(CAST(value AS DOUBLE)) AS lob, max(CAST(value AS DOUBLE)) AS hib
    FROM events
),
b AS (
    SELECT event_id,
           CAST(floor(least(greatest((CAST(user_id AS DOUBLE) - s.loa)
                / (CASE WHEN s.hia > s.loa THEN s.hia - s.loa ELSE 1 END), 0), 1) * 65535) AS BIGINT) AS xa,
           CAST(floor(least(greatest((CAST(value AS DOUBLE) - s.lob)
                / (CASE WHEN s.hib > s.lob THEN s.hib - s.lob ELSE 1 END), 0), 1) * 65535) AS BIGINT) AS xb
    FROM events CROSS JOIN s
)
SELECT event_id, {_Z_TERMS} AS z FROM b
""",
)
def lo01_zorder_code(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton code over (user_id, value): both dimensions min/max-
    scaled to 16 bits (bounds one tiny agg, folded as literals) and
    bit-interleaved — the write-time clustering key that gives every
    output file a tight bounding box in BOTH dimensions, so parquet
    min/max stats prune scans on either predicate."""
    from ntripmonitor_spark.functions.zorder import zorder_code

    ev = table(spark, sf_dir, "events")
    return zorder_code(ev, "user_id", "value").select("event_id", "z")


# ---------------------------------------------------------------------------
# tx08 — BPE pair-merge counting step.
# ---------------------------------------------------------------------------


@register(
    "tx08_bpe_pairs",
    tags=("text",),
    oracle="""
WITH t AS (
    SELECT list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
    FROM documents
)
SELECT pair, CAST(count(*) AS BIGINT) AS n
FROM t, unnest([toks[i] || ' ' || toks[i + 1] FOR i IN range(1, len(toks))]) AS u(pair)
GROUP BY pair
ORDER BY n DESC, pair ASC
LIMIT 40
""",
)
def tx08_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-40 adjacent-token pairs — the counting step of one BPE merge
    round. Pairs are built array-side (zip_with over shifted slices,
    no element_at inlining trap), then one pair-keyed aggregate with
    map-side combine; only top_n rows cross the final sort-limit.
    Deterministic ties: (count DESC, pair ASC)."""
    return text.bpe_pair_counts(table(spark, sf_dir, "documents"), top_n=40)


# ---------------------------------------------------------------------------
# dd07 — SemDeDup cluster-scoped embedding dedup.
# ---------------------------------------------------------------------------

_CELL_CTE = f"""
seeds AS (SELECT vec_id AS cid, vec AS sv FROM v WHERE vec_id < 8),
cd AS (
    SELECT v.vec_id, seeds.cid,
           round(list_sum(list_transform(range(1, 65),
               i -> (v.vec[i] - seeds.sv[i]) * (v.vec[i] - seeds.sv[i]))), 6) AS dist
    FROM v CROSS JOIN seeds
),
cells AS (
    SELECT vec_id, cid AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rk
        FROM cd
    ) WHERE rk = 1
)"""


@register(
    "dd07_semantic_dedup",
    tags=("dedup", "simsearch"),
    oracle=f"""
WITH {_VEC_CTE},
{_CELL_CTE},
c AS (SELECT n.vec_id, n.vec, n.nrm, cells.cell FROM n JOIN cells USING (vec_id)),
dups AS (
    SELECT DISTINCT b.vec_id
    FROM c a JOIN c b ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.vec, b.vec) / (a.nrm * b.nrm), 6) >= 0.3
)
SELECT c.vec_id, c.cell, dups.vec_id IS NULL AS is_kept
FROM c LEFT JOIN dups ON dups.vec_id = c.vec_id
""",
)
def dd07_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: pairwise cosine only within a vector's coarse-
    quantizer cell (equi self-join on the cell id, never a corpus
    cross-join); a vector is dropped when a lower-id cell-mate sits
    at-or-above 0.3 cosine. k scales with the corpus (≈√N cells) so
    per-cell work stays bounded; the cell id doubles as the storage
    partition key."""
    return simsearch.semantic_dedup(
        table(spark, sf_dir, "embeddings"), k_centroids=8, threshold=0.3
    )


# ---------------------------------------------------------------------------
# ss08 — ANN recall evaluation (IVF probe vs exact brute force).
# ---------------------------------------------------------------------------


@register(
    "ss08_ann_recall",
    tags=("simsearch",),
    oracle=f"""
WITH {_VEC_CTE},
q AS (SELECT vec_id AS query_id, vec AS qv, nrm AS qn FROM n WHERE vec_id < 10),
bf_scored AS (
    SELECT q.query_id, n.vec_id AS neighbor_id,
           round(list_dot_product(q.qv, n.vec) / (q.qn * n.nrm), 6) AS cos_sim
    FROM q CROSS JOIN n WHERE n.vec_id <> q.query_id
),
bf AS (
    SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
        FROM bf_scored
    ) WHERE rank <= 5
),
{_CELL_CTE},
corpus AS (SELECT n.vec_id, n.vec, n.nrm, cells.cell FROM n JOIN cells USING (vec_id)),
probes AS (
    SELECT t.vec_id AS query_id, nn.vec AS qv, nn.nrm AS qnrm, t.cid AS cell
    FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS pr
        FROM cd WHERE vec_id < 10
    ) t JOIN n nn ON nn.vec_id = t.vec_id
    WHERE t.pr <= 2
),
ann_scored AS (
    SELECT p.query_id, c.vec_id AS neighbor_id,
           round(list_dot_product(p.qv, c.vec) / (p.qnrm * c.nrm), 6) AS cos_sim
    FROM corpus c JOIN probes p ON p.cell = c.cell
    WHERE c.vec_id <> p.query_id
),
ann AS (
    SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
        FROM ann_scored
    ) WHERE rank <= 5
)
SELECT bf.query_id,
       CAST(count(ann.neighbor_id) AS INT) AS n_hits,
       round(count(ann.neighbor_id) / 5.0, 6) AS recall
FROM bf LEFT JOIN ann
  ON ann.query_id = bf.query_id AND ann.neighbor_id = bf.neighbor_id
GROUP BY bf.query_id
""",
)
def ss08_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the nprobe=2 IVF probe against exact brute force,
    per query — the ANN quality-evaluation harness; the comparison
    itself moves only n_queries × k id pairs."""
    return simsearch.ann_recall(
        table(spark, sf_dir, "embeddings"), k_centroids=8, n_queries=10, nprobe=2, k=5
    )


# ---------------------------------------------------------------------------
# tx11 — Gopher-style rule-based quality gate.
# ---------------------------------------------------------------------------

_GOPHER_SW = "['the', 'a', 'of', 'and', 'is', 'to', 'in']"


@register(
    "tx11_gopher_rules",
    tags=("text",),
    oracle=f"""
WITH w AS (
    SELECT doc_id, lower(text) AS lt,
           list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
    FROM documents
),
m AS (
    SELECT doc_id,
           len(ws) AS n_words,
           CASE WHEN len(ws) > 0 THEN
               list_sum(list_transform(ws, x -> length(x)))::DOUBLE / len(ws) END AS mwl,
           CASE WHEN len(ws) > 0 THEN
               length(regexp_replace(lt, '[a-z0-9 ]', '', 'g'))::DOUBLE / len(ws) END AS sym,
           CASE WHEN len(ws) > 0 THEN
               len(list_filter(ws, x -> regexp_matches(x, '[a-z]')))::DOUBLE / len(ws) END AS alp,
           len(list_filter(ws, x -> list_contains({_GOPHER_SW}, x))) AS stop_hits
    FROM w
)
SELECT doc_id, n_words,
       round(mwl, 6) AS mean_word_len,
       round(sym, 6) AS symbol_ratio,
       round(alp, 6) AS alpha_word_ratio,
       stop_hits,
       n_words BETWEEN 20 AND 80 AS wc_ok,
       mwl >= 3.9 AND mwl <= 5.0 AS ml_ok,
       sym <= 0.1 AS sym_ok,
       alp >= 0.8 AS alpha_ok,
       stop_hits >= 2 AS stop_ok,
       (n_words BETWEEN 20 AND 80) AND mwl >= 3.9 AND mwl <= 5.0
           AND sym <= 0.1 AND alp >= 0.8 AND stop_hits >= 2 AS keep
FROM m
""",
)
def tx11_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style (Rae et al. 2021) rule gate: word-count bounds,
    mean-word-length bounds, symbol ratio, alpha-word fraction,
    stopword presence — five boolean flags plus the conjunction, as
    pure column expressions over one scan (zero exchanges)."""
    return text.gopher_rules(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# tx12 — PMI collocations (top bigrams by pointwise mutual information).
# ---------------------------------------------------------------------------


@register(
    "tx12_pmi_collocations",
    tags=("text",),
    oracle="""
WITH w AS (
    SELECT list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
    FROM documents
),
g AS (
    SELECT unnest(list_transform(range(1, greatest(len(ws), 1)),
                  i -> ws[i] || ' ' || ws[i + 1])) AS bigram
    FROM w
),
bg AS (
    SELECT string_split(bigram, ' ')[1] AS w1, string_split(bigram, ' ')[2] AS w2
    FROM g
),
bc AS (SELECT w1, w2, count(*) AS c_xy FROM bg GROUP BY 1, 2),
uni AS (
    SELECT tok, count(*) AS c_tok FROM (
        SELECT w1 AS tok FROM bg UNION ALL SELECT w2 AS tok FROM bg
    ) GROUP BY 1
),
tot AS (SELECT count(*)::DOUBLE AS t_b, count(*) * 2.0 AS t_u FROM bg)
SELECT b.w1, b.w2, b.c_xy,
       round(ln((b.c_xy / t_b) / ((u1.c_tok / t_u) * (u2.c_tok / t_u))), 6) AS pmi
FROM bc b
JOIN uni u1 ON b.w1 = u1.tok
JOIN uni u2 ON b.w2 = u2.tok, tot
WHERE b.c_xy >= 5
ORDER BY pmi DESC, b.w1 ASC, b.w2 ASC
LIMIT 50
""",
)
def tx12_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent-word collocations by PMI: one explode scan
    feeds bigram + unigram counts (persisted once); unigram counts are
    vocabulary-sized and broadcast back, so the corpus-sized bigram
    relation shuffles exactly once, and the top-N sorts an aggregated
    vocabulary-bounded relation — never corpus rows."""
    return text.pmi_collocations(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# sp05 — deterministic hash-based train/val/test split.
# ---------------------------------------------------------------------------


@register(
    "sp05_hash_split",
    tags=("sampling",),
    oracle="""
SELECT doc_id, source,
       (doc_id * 2654435761) % 4294967296 AS h,
       CASE WHEN (doc_id * 2654435761) % 4294967296 < 3865470566 THEN 'train'
            WHEN (doc_id * 2654435761) % 4294967296 < 4080218931 THEN 'val'
            ELSE 'test' END AS split
FROM documents
""",
)
def sp05_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train-val-test split by portable hashed
    doc_id (integer cutoff compares — no float-boundary ambiguity,
    no RNG/partition-layout dependence): zero exchanges, and a split's
    materialization pushes down as a scan predicate."""
    from ntripmonitor_spark.operators.sampling import hash_split

    return hash_split(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# ss10 — int8 scalar quantization of the embedding column.
# ---------------------------------------------------------------------------

_SQ_DIM = 64
_SQ_MINS = ", ".join(f"min(vec[{i + 1}])" for i in range(_SQ_DIM))
_SQ_MAXS = ", ".join(f"max(vec[{i + 1}])" for i in range(_SQ_DIM))


@register(
    "ss10_sq8_quantize",
    tags=("simsearch",),
    oracle=f"""
WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
st AS (SELECT [{_SQ_MINS}] AS mins, [{_SQ_MAXS}] AS maxs FROM v),
q AS (
    SELECT vec_id, label,
           list_transform(range(1, {_SQ_DIM + 1}), i ->
               CASE WHEN maxs[i] - mins[i] = 0 THEN 0.0
                    ELSE floor((vec[i] - mins[i]) / (maxs[i] - mins[i]) * 255.0 + 0.5)
               END) AS codes,
           list_transform(range(1, {_SQ_DIM + 1}), i -> maxs[i] - mins[i]) AS spans,
           list_transform(range(1, {_SQ_DIM + 1}), i -> vec[i] - mins[i]) AS shifted
    FROM v, st
)
SELECT vec_id, label,
       CAST(list_sum(codes) AS BIGINT) AS code_sum,
       round(list_sum(list_transform(range(1, {_SQ_DIM + 1}), i ->
           (codes[i] / 255.0 * spans[i] - shifted[i])
           * (codes[i] / 255.0 * spans[i] - shifted[i]))) / {_SQ_DIM} * 1e6, 4) AS micro_mse
FROM q
""",
)
def ss10_sq8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of embeddings: pass 1 reduces the
    corpus to one row of per-dimension [min,max] (mergeable partials),
    pass 2 broadcasts it and encodes elementwise — the 4x storage-
    compression path that precedes PQ (ss05) in an IVF index build.
    Codes use floor(x+0.5), bit-reproducible across engines."""
    return simsearch.sq8_quantize(table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# mm05 — windowed audio-energy extraction (sliding RMS over fake PCM).
# ---------------------------------------------------------------------------


@register(
    "mm05_audio_energy",
    tags=("multimodal",),
    oracle=f"""
WITH {_BYTES_CTE},
wins AS (
    SELECT doc_id,
           unnest(list_transform(range(0, CAST(greatest((n - 32) // 16 + 1, 0) AS BIGINT)), w -> {{
               'win_idx': CAST(w AS INT),
               'ssq': CAST(list_sum(list_transform(range(16 * CAST(w AS INT) + 1,
                                                         16 * CAST(w AS INT) + 33),
                       i -> CAST(list_extract(bts, CAST(i AS INT)) AS BIGINT)
                          * list_extract(bts, CAST(i AS INT)))) AS BIGINT)
           }})) AS s
    FROM by
)
SELECT doc_id, s.win_idx AS win_idx, s.ssq AS ssq,
       round(sqrt(s.ssq / 32.0), 6) AS rms
FROM wins
""",
)
def mm05_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Audio' energy extraction: payload as 8-bit PCM, sliding
    32-sample windows at 16-sample hop, per-window RMS — the STFT-
    frame batch shape over Arrow-batched mapInPandas. The
    sum-of-squares stays integer, so the single sqrt is bit-identical
    across engines."""
    return multimodal.audio_energy(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# tk01 — BPE encode (apply the bp01-trained merge table at corpus scale).
# ---------------------------------------------------------------------------


@register(
    "tk01_bpe_encode",
    tags=("text",),
    # Value oracle: the 8 data-derived merges are reproduced by the
    # _bpe_merge_ctes training chain (integer-exact), then applied to
    # every word as nested replace folds; tokens_md5 makes the check
    # corpus-wide exact. Also pinned by tests/test_bpe.py against a
    # pure-Python reference tokenizer.
    oracle=_tk01_oracle(8),
)
def tk01_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale BPE encode: the ≤8-row trained merge table folds
    in as literals, so encoding is one scan, zero joins, zero
    shuffles — chars → chained merge folds per word (identical fold
    to training). Emits per-doc token stats + an md5 of the full
    token stream."""
    return text.bpe_encode(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# ss11 — the complete IVF-PQ serving stack (probe → ADC shortlist → rerank).
# ---------------------------------------------------------------------------


@register(
    "ss11_ivfpq_search",
    tags=("simsearch",),
    oracle=f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
seeds8 AS (SELECT vec_id AS cid, vec AS sv FROM v WHERE vec_id < 8),
seeds4 AS (SELECT vec_id AS cid, vec AS sv FROM v WHERE vec_id < 4),
celld AS (
    SELECT v.vec_id, seeds8.cid,
           round(list_sum(list_transform(range(1, 65),
               i -> (v.vec[i] - seeds8.sv[i]) * (v.vec[i] - seeds8.sv[i]))), 6) AS dist
    FROM v CROSS JOIN seeds8
),
cells AS (
    SELECT vec_id, cid AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rk
        FROM celld
    ) WHERE rk = 1
),
subd AS (
    SELECT v.vec_id, s.s, seeds4.cid,
           round(list_sum(list_transform(range(1, 9),
               i -> (v.vec[s.s * 8 + i] - seeds4.sv[s.s * 8 + i])
                  * (v.vec[s.s * 8 + i] - seeds4.sv[s.s * 8 + i]))), 6) AS dist
    FROM v CROSS JOIN range(0, 8) s(s) CROSS JOIN seeds4
),
codes AS (
    SELECT vec_id, s, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY dist ASC, cid ASC) AS rk
        FROM subd
    ) WHERE rk = 1
),
probes AS (
    SELECT vec_id AS qid, cid AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS pr
        FROM celld WHERE vec_id < 10
    ) WHERE pr <= 2
),
adc AS (
    SELECT p.qid, c.vec_id, round(sum(qd.dist), 6) AS adc
    FROM probes p
    JOIN cells cl ON cl.cell = p.cell
    JOIN codes c ON c.vec_id = cl.vec_id
    JOIN subd qd ON qd.vec_id = p.qid AND qd.s = c.s AND qd.cid = c.cid
    WHERE c.vec_id <> p.qid
    GROUP BY 1, 2
),
short AS (
    SELECT qid, vec_id, adc FROM (
        SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adc ASC, vec_id ASC) AS rk
        FROM adc
    ) WHERE rk <= 20
),
rer AS (
    SELECT s.qid AS query_id, s.vec_id AS neighbor_id, s.adc,
           round(list_sum(list_transform(range(1, 65),
               i -> (cv.vec[i] - qv.vec[i]) * (cv.vec[i] - qv.vec[i]))), 6) AS l2
    FROM short s
    JOIN v cv ON cv.vec_id = s.vec_id
    JOIN v qv ON qv.vec_id = s.qid
)
SELECT query_id, neighbor_id, adc, l2, CAST(rank AS BIGINT) AS rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY l2 ASC, neighbor_id ASC) AS rank
    FROM rer
) WHERE rank <= 5
""",
)
def ss11_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete IVF-PQ ANN serving pipeline in one declarative
    plan: coarse cell probe (nprobe=2 of 8) → ADC scoring over m-digit
    PQ codes only (the vector column never rides the candidate path) →
    top-20 shortlist → exact L2 rerank that re-reads true vectors for
    queries×20 rows total → top-5. Candidate join and rerank fetch
    are both broadcast hash joins; the corpus shuffles zero times."""
    return simsearch.ivfpq_search(
        table(spark, sf_dir, "embeddings"),
        k_centroids=8, m=8, k_codes=4, n_queries=10,
        nprobe=2, shortlist=20, topk=5,
    )


# ---------------------------------------------------------------------------
# dd09 — C4-style global block dedup with document reconstruction.
# ---------------------------------------------------------------------------


@register(
    "dd09_block_dedup_rebuild",
    tags=("dedup",),
    oracle="""
WITH w AS (
    SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
    FROM documents
),
d AS (
    SELECT doc_id, ws, CAST(floor(len(ws) / 10) AS INT) AS nb
    FROM w WHERE len(ws) >= 10
),
b AS (
    SELECT doc_id,
           unnest(list_transform(range(0, nb), p -> {
               'pos': CAST(p AS INT),
               'block': array_to_string(ws[CAST(p * 10 + 1 AS INT) : CAST(p * 10 + 10 AS INT)], ' ')
           })) AS s
    FROM d
),
bb AS (SELECT doc_id, s.pos AS pos, s.block AS block FROM b),
kept AS (
    SELECT doc_id, pos, block FROM (
        SELECT *, row_number() OVER (PARTITION BY block ORDER BY doc_id ASC, pos ASC) AS rk
        FROM bb
    ) WHERE rk = 1
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       md5(string_agg(block, ' ' ORDER BY pos)) AS kept_md5
FROM kept GROUP BY doc_id
""",
)
def dd09_block_dedup_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style global block dedup APPLIED (Raffel et al. 2020:
    corpus-wide first-occurrence-wins removal of repeated spans),
    with each surviving document re-assembled from its kept blocks —
    the step that actually produces the cleaned corpus, not just the
    dedup report (sd01). Two 8-byte-keyed exchanges: block-hash
    window for the keeper decision, doc-keyed aggregate for
    reconstruction; text never shuffles."""
    return dedup.block_dedup_rebuild(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# er01 — entity resolution (blocking + edit distance).
# ---------------------------------------------------------------------------


@register(
    "er01_name_matching",
    tags=("dedup", "linkage"),
    oracle="""
WITH s AS (
    SELECT c_custkey AS rec_id, c_name AS nm,
           substring(c_name, 1, length(c_name) - 2) AS blk
    FROM customer
)
SELECT a.rec_id AS rec_a, b.rec_id AS rec_b,
       CAST(levenshtein(a.nm, b.nm) AS INT) AS edit_dist
FROM s a JOIN s b ON a.blk = b.blk AND a.rec_id < b.rec_id
WHERE levenshtein(a.nm, b.nm) <= 1
""",
)
def er01_name_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage: blocked candidate generation (shared name
    prefix) + Levenshtein scoring on candidates only — the O(n²)
    comparison space never materializes, same blocking discipline as
    the dd* family, JVM edit distance (no UDF)."""
    from ntripmonitor_spark.operators.dedup import blocked_name_matches

    out = blocked_name_matches(
        table(spark, sf_dir, "customer"), "c_custkey", "c_name"
    )
    return out.withColumn("edit_dist", F.col("edit_dist").cast("int"))


# ---------------------------------------------------------------------------
# tx13 — per-document TF-IDF keywords.
# ---------------------------------------------------------------------------


@register(
    "tx13_tfidf_keywords",
    tags=("text",),
    oracle="""
WITH toks AS (
    SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS tok
    FROM documents
),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
dfr AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.tok, round(tf.tf * ln(n.n_docs / dfr.df), 6) AS tfidf
    FROM tf JOIN dfr ON tf.tok = dfr.tok, n
)
SELECT doc_id, CAST(rk AS INT) AS rk, tok, tfidf FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok ASC) AS rk
    FROM scored
) WHERE rk <= 3
""",
)
def tx13_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document: one explode feeds the tf
    aggregate, vocabulary-sized document frequencies broadcast back,
    per-doc top-k is a window on the doc key — the per-document
    complement of bm01's query-side BM25."""
    return text.tfidf_keywords(table(spark, sf_dir, "documents"), k=3)


# ---------------------------------------------------------------------------
# ks01 — per-source Kolmogorov-Smirnov drift.
# ---------------------------------------------------------------------------


@register(
    "ks01_source_drift",
    tags=("stats", "monitoring"),
    oracle="""
WITH counts AS (
    SELECT source, n_chars AS v, count(*) AS c FROM documents GROUP BY 1, 2
),
vals AS (SELECT v, sum(c) AS c_all FROM counts GROUP BY 1),
grps AS (SELECT source, sum(c) AS n_g FROM counts GROUP BY 1),
tot AS (SELECT sum(c) AS n_total FROM counts),
grid AS (
    SELECT g.source, g.n_g, t.n_total, va.v, va.c_all, coalesce(ct.c, 0) AS c
    FROM grps g CROSS JOIN tot t CROSS JOIN vals va
    LEFT JOIN counts ct ON ct.source = g.source AND ct.v = va.v
),
cum AS (
    SELECT source, n_g, n_total,
           sum(c) OVER (PARTITION BY source ORDER BY v
                        ROWS UNBOUNDED PRECEDING) AS cum_g,
           sum(c_all) OVER (PARTITION BY source ORDER BY v
                            ROWS UNBOUNDED PRECEDING) AS cum_all
    FROM grid
)
SELECT source, CAST(n_g AS BIGINT) AS n_rows,
       round(max(abs(cum_g / n_g - (cum_all - cum_g) / (n_total - n_g))), 6)
           AS ks_stat
FROM cum GROUP BY source, n_g
""",
)
def ks01_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source two-sample KS statistic (source vs rest of corpus)
    over document length — the drift monitor for a landing crawl. The
    raw relation collapses to per-(source, value) counts in one
    map-side-combined aggregate; ECDFs and the max-gap run on the
    bounded sources × distinct-values grid."""
    from ntripmonitor_spark.operators import stats

    return stats.ks_drift(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# kl01 — per-source unigram KL divergence.
# ---------------------------------------------------------------------------


@register(
    "kl01_source_divergence",
    tags=("text", "monitoring"),
    oracle="""
WITH toks AS (
    SELECT source,
           unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS tok
    FROM documents
),
tc AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
vocab AS (
    SELECT tok FROM (
        SELECT tok, row_number() OVER (ORDER BY c DESC, tok ASC) AS rk FROM tc
    ) WHERE rk <= 24
),
symed AS (
    SELECT source,
           CASE WHEN tok IN (SELECT tok FROM vocab) THEN tok
                ELSE '<oov>' END AS sym
    FROM toks
),
sc AS (SELECT source, sym, count(*) AS c FROM symed GROUP BY 1, 2),
totals AS (SELECT source, sum(c) AS n_s FROM sc GROUP BY 1),
corpus AS (SELECT sym, sum(c) AS c_all FROM sc GROUP BY 1),
nall AS (SELECT sum(c) AS n_all FROM sc),
vp AS (SELECT count(*) + 1.0 AS v_plus FROM vocab),
grid AS (
    SELECT t.source, t.n_s, n.n_all, v.v_plus, co.sym, co.c_all,
           coalesce(s.c, 0) AS c
    FROM totals t CROSS JOIN nall n CROSS JOIN vp v CROSS JOIN corpus co
    LEFT JOIN sc s ON s.source = t.source AND s.sym = co.sym
)
SELECT source, CAST(n_s AS BIGINT) AS n_tokens,
       round(sum(((c + 0.5) / (n_s + 0.5 * v_plus))
                 * log2(((c + 0.5) / (n_s + 0.5 * v_plus))
                        / ((c_all + 0.5) / (n_all + 0.5 * v_plus)))), 6)
           AS kl_bits,
       round(sum(CASE WHEN sym = '<oov>' THEN c ELSE 0 END)::DOUBLE / n_s, 6)
           AS oov_rate
FROM grid GROUP BY source, n_s
""",
)
def kl01_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram KL divergence vs the corpus distribution
    (+ OOV rate) over a closed top-24 vocabulary with add-half
    smoothing — the corpus-shift report before assigning a new source
    its mixing weight. Fit-tiny-broadcast: one (source, symbol)
    aggregate is the only input-scaled exchange."""
    out = text.source_divergence(table(spark, sf_dir, "documents"), vocab_size=24)
    return out


# ---------------------------------------------------------------------------
# dd10 — asymmetric containment dedup.
# ---------------------------------------------------------------------------


@register(
    "dd10_containment",
    tags=("dedup",),
    oracle=f"""
WITH {_SH_CTE},
shc AS (
    SELECT doc_id, shingle FROM (
        SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df FROM sh
    ) WHERE df <= greatest(5, CAST(floor(0.01 * (SELECT count(DISTINCT doc_id) FROM sh)) AS BIGINT))
),
sz AS (SELECT doc_id, count(*) AS n_sh FROM shc GROUP BY 1),
p AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
    FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
directed AS (
    SELECT doc_a AS doc_id, doc_b AS container_id, n_inter FROM p
    UNION ALL
    SELECT doc_b AS doc_id, doc_a AS container_id, n_inter FROM p
)
SELECT d.doc_id, d.container_id, s.n_sh, d.n_inter,
       CAST(d.n_inter AS DOUBLE) / s.n_sh AS containment
FROM directed d JOIN sz s ON s.doc_id = d.doc_id
WHERE CAST(d.n_inter AS DOUBLE) / s.n_sh >= 0.8
""",
)
def dd10_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment hits ≥ 0.8 over the DF-capped shingle
    universe — the quote/excerpt detector that catches a short doc
    pasted inside a longer one, which symmetric Jaccard (dd02) misses.
    Same blocked self-join, candidate volume and shuffle keys as dd02;
    only the post-join ratio differs."""
    return dedup.containment_pairs(table(spark, sf_dir, "documents"), n=3, threshold=0.8)


# ---------------------------------------------------------------------------
# qa02 — per-source percentile normalization.
# ---------------------------------------------------------------------------


@register(
    "qa02_percentile_normalize",
    tags=("stats",),
    oracle="""
SELECT doc_id, source, n_chars,
       round(percent_rank() OVER (PARTITION BY source ORDER BY n_chars), 6)
           AS pct_in_group
FROM documents
""",
)
def qa02_percentile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-matching calibration: each document's quality metric
    becomes its percent rank within its source, making thresholds
    comparable across domains ("top 30% per source" = one global
    predicate). One keyed exchange; tie-stable without an id
    tiebreaker."""
    from ntripmonitor_spark.operators import stats

    return stats.percentile_normalize(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# er02 — entity clusters + golden record.
# ---------------------------------------------------------------------------


@register(
    "er02_entity_clusters",
    tags=("dedup", "linkage"),
    oracle="""
WITH RECURSIVE s AS (
    SELECT c_custkey AS rec_id, c_name AS nm,
           substring(c_name, 1, length(c_name) - 2) AS blk
    FROM customer
),
e AS (
    SELECT a.rec_id AS ra, b.rec_id AS rb
    FROM s a JOIN s b ON a.blk = b.blk AND a.rec_id < b.rec_id
    WHERE levenshtein(a.nm, b.nm) <= 1
),
edges AS (SELECT ra AS a, rb AS b FROM e UNION ALL SELECT rb, ra FROM e),
reach(id, r) AS (
    SELECT rec_id, rec_id FROM s
    UNION
    SELECT reach.id, ed.b FROM reach JOIN edges ed ON reach.r = ed.a
),
cl AS (SELECT id AS rec_id, min(r) AS entity_id FROM reach GROUP BY 1)
SELECT cl.entity_id, CAST(count(*) AS BIGINT) AS n_records,
       max(CASE WHEN cl.rec_id = cl.entity_id THEN s.nm END) AS canonical_name
FROM cl JOIN s ON s.rec_id = cl.rec_id
GROUP BY 1
""",
)
def er02_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution completed: transitive closure over er01's
    blocked-Levenshtein match graph (shared pointer-doubling CC
    operator, matched-subgraph-only rounds) with min-id survivorship —
    the master-table/golden-record step after pairwise linkage."""
    return dedup.entity_clusters(table(spark, sf_dir, "customer"), "c_custkey", "c_name")


# ---------------------------------------------------------------------------
# dp01 — per-source Welch mean-shift drift.
# ---------------------------------------------------------------------------


@register(
    "dp01_mean_drift",
    tags=("stats", "monitoring"),
    oracle="""
WITH per AS (
    SELECT source, count(*) AS n_g,
           sum(CAST(n_chars AS DOUBLE)) AS s1,
           sum(CAST(n_chars AS DOUBLE) * CAST(n_chars AS DOUBLE)) AS s2
    FROM documents GROUP BY 1
),
tot AS (SELECT sum(n_g) AS n_t, sum(s1) AS t1, sum(s2) AS t2 FROM per),
g AS (
    SELECT per.source, per.n_g, per.s1, per.s2, tot.n_t, tot.t1, tot.t2,
           per.s1 / per.n_g AS m1,
           (tot.t1 - per.s1) / (tot.n_t - per.n_g) AS m2
    FROM per CROSS JOIN tot
)
SELECT source, CAST(n_g AS BIGINT) AS n_rows,
       round(m1, 6) AS mean_group,
       round(m2, 6) AS mean_rest,
       round((m1 - m2) / sqrt(
           ((s2 - n_g * m1 * m1) / (n_g - 1)) / n_g
           + (((t2 - s2) - (n_t - n_g) * m2 * m2) / (n_t - n_g - 1)) / (n_t - n_g)
       ), 6) AS t_stat
FROM g
""",
)
def dp01_mean_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t statistic per source vs the rest of the corpus — the
    parametric (mean-shift, directional) complement of ks01. Pure
    sufficient statistics: one map-side-combined aggregate + a 1-row
    broadcast of corpus totals; the corpus never self-joins."""
    from ntripmonitor_spark.operators import stats

    return stats.welch_t_drift(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# ss12 — maximum inner-product search.
# ---------------------------------------------------------------------------


@register(
    "ss12_mips_topk",
    tags=("simsearch",),
    oracle=f"""
WITH {_VEC_CTE},
m AS (SELECT max(nrm) AS mx FROM n),
q AS (SELECT vec_id AS query_id, vec AS qv, nrm AS qn FROM n WHERE vec_id < 10),
scored AS (
    SELECT q.query_id, n.vec_id AS neighbor_id,
           round(list_dot_product(q.qv, n.vec), 6) AS inner_product,
           round(list_dot_product(q.qv, n.vec) / (q.qn * m.mx), 6) AS aug_cos
    FROM q CROSS JOIN n CROSS JOIN m
    WHERE n.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, inner_product, aug_cos, rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY inner_product DESC, neighbor_id ASC) AS rank
    FROM scored
)
WHERE rank <= 5
""",
)
def ss12_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 by INNER PRODUCT (not cosine) per query via the
    norm-augmentation reduction — the transform that lets the cosine
    ANN stack serve recommendation-style dot-product scores. One
    corpus scan; M folded as a literal."""
    return simsearch.mips_topk(table(spark, sf_dir, "embeddings"), n_queries=10, k=5)


# ---------------------------------------------------------------------------
# mm06 — perceptual-hash image near-dup.
# ---------------------------------------------------------------------------


@register(
    "mm06_phash_neardup",
    tags=("multimodal", "dedup"),
    oracle=f"""
WITH {_BYTES_CTE},
smp AS (
    SELECT doc_id,
           list_transform(range(0, 64), i -> bts[CAST((i * n) // 64 AS INT) + 1]) AS s
    FROM by
),
sig AS (
    SELECT doc_id,
           array_to_string(
               list_transform(s, x -> CASE WHEN x > list_sum(s) / 64.0
                                           THEN '1' ELSE '0' END), '') AS ahash
    FROM smp
),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(list_sum(list_transform(range(1, 65), i ->
               CASE WHEN substr(a.ahash, CAST(i AS INT), 1)
                         <> substr(b.ahash, CAST(i AS INT), 1)
                    THEN 1 ELSE 0 END)) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 7
""",
)
def mm06_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash (aHash) near-dup pairs over binary payloads —
    multimodal dedup: Arrow-batched signature kernel at the stub-codec
    boundary, dd04-style lossless chunk blocking (hamming ≤ 7 over 8
    chunks forces a shared chunk), exact hamming on candidates only.
    The oracle recomputes the signature byte-for-byte from hex pairs.

    DELIBERATE oracle-stress variant, kept registered by decision
    (round-6): 8-bit chunks at radius 7 are the only lossless blocking
    that yields non-empty results on the raw synthetic corpus (closest
    pair at hamming 5), and the wide radius is what stresses the
    candidate join against the blocking-free oracle. It is NOT the
    scale mode — 16-bit blocking (mm11 on the raw corpus; mm13 with
    planted near-dups proving non-empty recovery) is the 100 TB
    default (SCALE.md §6d: 8-bit went 0.93 s → 29.5 s at 10×, 16-bit
    stayed linear)."""
    return multimodal.phash_neardup(table(spark, sf_dir, "documents"), max_hamming=7)


# ---------------------------------------------------------------------------
# mm11 — 16-bit-block phash near-dup (the production/scale mode).
# ---------------------------------------------------------------------------


@register(
    "mm11_phash_16bit",
    tags=("multimodal", "dedup"),
    oracle=f"""
WITH {_BYTES_CTE},
smp AS (
    SELECT doc_id,
           list_transform(range(0, 64), i -> bts[CAST((i * n) // 64 AS INT) + 1]) AS s
    FROM by
),
sig AS (
    SELECT doc_id,
           array_to_string(
               list_transform(s, x -> CASE WHEN x > list_sum(s) / 64.0
                                           THEN '1' ELSE '0' END), '') AS ahash
    FROM smp
),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(list_sum(list_transform(range(1, 65), i ->
               CASE WHEN substr(a.ahash, CAST(i AS INT), 1)
                         <> substr(b.ahash, CAST(i AS INT), 1)
                    THEN 1 ELSE 0 END)) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3
""",
)
def mm11_phash_16bit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """phash near-dup in the mode you would run at 100 TB: 16-bit
    blocks (4 blocks → 65,536 buckets/position) at radius 3 — still a
    lossless pigeonhole (hamming ≤ 3 over 4 blocks forces a shared
    block) but with 256× fewer collisions per bucket than mm06's
    8-bit blocking, which SCALE.md measured going quadratic at 10×
    (0.93 s → 29.5 s) while this mode stayed linear (0.45 s → 1.22 s).
    mm06 stays registered as the recall-sensitivity demo (radius 7);
    the two modes' pair sets agree at the shared radius
    (tests/test_newops_properties.py pins 8-bit ≡ 16-bit at r=3).
    The oracle is blocking-free brute force at the same radius, so a
    blocked candidate set that dropped ANY qualifying pair would
    hash-mismatch."""
    return multimodal.phash_neardup(
        table(spark, sf_dir, "documents"), max_hamming=3, chunk_bits=16
    )


# ---------------------------------------------------------------------------
# mm13 — production mode with PLANTED near-dups (non-empty proof).
# ---------------------------------------------------------------------------


@register(
    "mm13_phash_planted",
    tags=("multimodal", "dedup"),
    oracle="""
WITH aug AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000000000, text FROM documents WHERE doc_id % 23 = 0
    UNION ALL
    SELECT doc_id + 2000000000000,
           substr(text, 1, strlen(text) - 1)
           || CASE WHEN substr(text, strlen(text), 1) = 'z'
                   THEN 'y' ELSE 'z' END
    FROM documents WHERE doc_id % 29 = 0
),
b AS (
    SELECT doc_id, hex(encode(text)) AS h,
           CAST(octet_length(encode(text)) AS INT) AS n
    FROM aug
),
by2 AS (
    SELECT doc_id, n,
           list_transform(range(0, n), i ->
               (strpos('0123456789ABCDEF', substr(h, CAST(2*i+1 AS INT), 1)) - 1) * 16
             + strpos('0123456789ABCDEF', substr(h, CAST(2*i+2 AS INT), 1)) - 1) AS bts
    FROM b
),
smp AS (
    SELECT doc_id,
           list_transform(range(0, 64), i -> bts[CAST((i * n) // 64 AS INT) + 1]) AS s
    FROM by2
),
sig AS (
    SELECT doc_id,
           array_to_string(
               list_transform(s, x -> CASE WHEN x > list_sum(s) / 64.0
                                           THEN '1' ELSE '0' END), '') AS ahash
    FROM smp
),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(list_sum(list_transform(range(1, 65), i ->
               CASE WHEN substr(a.ahash, CAST(i AS INT), 1)
                         <> substr(b.ahash, CAST(i AS INT), 1)
                    THEN 1 ELSE 0 END)) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3
""",
)
def mm13_phash_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mm11's production mode (16-bit blocks, radius 3) proven on a
    corpus where near-dups EXIST: the documents table augmented with
    deterministic twins — exact copies (doc_id % 23, hamming 0) and
    last-character swaps (doc_id % 29, a near-miss whose sampled-byte
    and mean shifts stay within the radius for most docs). mm11's row
    on the raw corpus is agreement-on-empty (the synthetic closest
    pair sits at hamming 5 > 3); this query is the non-empty
    counterpart — the blocked candidate set must recover every planted
    pair the blocking-free brute-force oracle finds, at the same
    radius. mm06 (8-bit chunks, radius 7) stays registered as the
    deliberate oracle-stress/recall-sensitivity variant — see its
    docstring and SCALE.md §6d for why 16-bit is the 100 TB mode."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    # Twin ids sit 10**12 above the corpus range so they can never alias
    # genuine doc_ids, even at 100 TB scale factors (doc_id is int64).
    dup = docs.filter(F.col("doc_id") % 23 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000_000_000)
    )
    last = F.substring(F.col("text"), -1, 1)
    swapped = F.concat(
        F.expr("substring(text, 1, length(text) - 1)"),
        F.when(last == "z", F.lit("y")).otherwise(F.lit("z")),
    )
    near = (
        docs.filter(F.col("doc_id") % 29 == 0)
        .withColumn("doc_id", F.col("doc_id") + F.lit(2_000_000_000_000))
        .withColumn("text", swapped)
    )
    aug = docs.unionByName(dup).unionByName(near)
    return multimodal.phash_neardup(aug, max_hamming=3, chunk_bits=16)


# ---------------------------------------------------------------------------
# sp06 — exact token-budget selection.
# ---------------------------------------------------------------------------


@register(
    "sp06_token_budget",
    tags=("sampling", "curation"),
    oracle="""
WITH d AS (
    SELECT doc_id, source, n_chars AS quality,
           CAST(len(list_filter(string_split(lower(text), ' '), x -> x <> ''))
                AS INT) AS n_tokens
    FROM documents
),
ranked AS (
    SELECT doc_id, source, quality, n_tokens,
           sum(n_tokens) OVER (PARTITION BY source
                               ORDER BY quality DESC, doc_id ASC
                               ROWS UNBOUNDED PRECEDING) AS cum
    FROM d
)
SELECT doc_id, source, CAST(quality AS BIGINT) AS quality, n_tokens
FROM ranked WHERE cum <= 800
""",
)
def sp06_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy per-source token-budget selection (best docs until 800
    tokens), computed WITHOUT the one-window-per-source global sort:
    a bounded (source, quality) grid carries the cumulative budget,
    only documents at the cutoff quality pay a rank. The oracle is the
    naive global-window definition the decomposition must equal."""
    from ntripmonitor_spark.operators import sampling

    out = sampling.token_budget_select(table(spark, sf_dir, "documents"), 800)
    return out.withColumn("quality", F.col("quality").cast("long")).withColumn(
        "n_tokens", F.col("n_tokens").cast("int")
    )


# ---------------------------------------------------------------------------
# ws01 — weighted sampling without replacement (Efraimidis–Spirakis).
# ---------------------------------------------------------------------------


@register(
    "ws01_weighted_sample",
    tags=("sampling",),
    doc="Exact-k weighted sample without replacement (A-ES priorities).",
    oracle="""
SELECT doc_id, source, n_chars,
       ln(((doc_id * 2654435761) % 4294967296 % 1048576 + 0.5) / 1048576.0)
           / greatest(CAST(n_chars AS DOUBLE), 1.0) AS priority
FROM documents
ORDER BY priority DESC, doc_id ASC
LIMIT 200
""",
)
def ws01_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted exact-k corpus sample: priority = ln(u)/w with a
    hashed-id uniform u and w = n_chars, top-200 by priority — the
    Efraimidis–Spirakis weighted draw as a pure column expression plus
    a distributed TakeOrdered top-k. No shuffle of the corpus, no RNG
    state; the oracle recomputes the identical priorities in SQL."""
    from ntripmonitor_spark.operators import sampling

    return sampling.weighted_sample_topk(table(spark, sf_dir, "documents"), k=200)


# ---------------------------------------------------------------------------
# dq01 — one-pass table profile (ingest data-quality report).
# ---------------------------------------------------------------------------


@register(
    "dq01_table_profile",
    tags=("quality",),
    doc="One-pass per-column profile of the events table.",
    oracle="""
SELECT 'event_id' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count(event_id) AS BIGINT) AS n_null,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
       CAST(min(event_id) AS DOUBLE) AS min_num, CAST(max(event_id) AS DOUBLE) AS max_num
FROM events
UNION ALL
SELECT 'user_id', CAST(count(*) AS BIGINT), CAST(count(*) - count(user_id) AS BIGINT),
       CAST(count(DISTINCT user_id) AS BIGINT),
       CAST(min(user_id) AS DOUBLE), CAST(max(user_id) AS DOUBLE)
FROM events
UNION ALL
SELECT 'event_type', CAST(count(*) AS BIGINT), CAST(count(*) - count(event_type) AS BIGINT),
       CAST(count(DISTINCT event_type) AS BIGINT), NULL, NULL
FROM events
UNION ALL
SELECT 'value', CAST(count(*) AS BIGINT), CAST(count(*) - count(value) AS BIGINT),
       CAST(count(DISTINCT value) AS BIGINT),
       CAST(min(value) AS DOUBLE), CAST(max(value) AS DOUBLE)
FROM events
UNION ALL
SELECT 'props', CAST(count(*) AS BIGINT), CAST(count(*) - count(props) AS BIGINT),
       CAST(count(DISTINCT props) AS BIGINT), NULL, NULL
FROM events
""",
)
def dq01_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time data-quality report over events: row count, null
    count, exact distinct cardinality, and numeric range for every
    column, in ONE aggregation job (Expand(xN) + value-keyed dedup —
    the oracle's five separate scans collapse into one).

    DELIBERATE exact variant, kept registered by decision (round-6):
    exact distinct counts are what a SQL oracle can value-check
    hash-exactly, and the Expand×|columns| cost is the honest price of
    exactness. It is NOT the scale mode — dq02 (profile_table(
    approx=True), HLL sketch state, single scan, no Expand) is the
    100 TB default with its own driver-green row (r5);
    equivalence-within-error is test-pinned."""
    from ntripmonitor_spark.operators import profile

    ev = table(spark, sf_dir, "events")
    return profile.profile_table(
        ev, ["event_id", "user_id", "event_type", "value", "props"]
    )


# ---------------------------------------------------------------------------
# dq02 — HLL profile (the no-Expand 100 TB mode of dq01).
# ---------------------------------------------------------------------------


@register(
    "dq02_profile_approx",
    tags=("quality",),
    doc="HLL (no-Expand) per-column profile of the events table.",
    oracle="""
SELECT 'event_id' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count(event_id) AS BIGINT) AS n_null,
       CAST(min(event_id) AS DOUBLE) AS min_num, CAST(max(event_id) AS DOUBLE) AS max_num,
       CASE WHEN count(event_id) = 0 THEN count(DISTINCT event_id) = 0
            ELSE count(DISTINCT event_id)
                 BETWEEN 1 AND CAST(ceil(1.1 * count(event_id)) AS BIGINT) END AS nd_sane
FROM events
UNION ALL
SELECT 'user_id', CAST(count(*) AS BIGINT), CAST(count(*) - count(user_id) AS BIGINT),
       CAST(min(user_id) AS DOUBLE), CAST(max(user_id) AS DOUBLE),
       CASE WHEN count(user_id) = 0 THEN count(DISTINCT user_id) = 0
            ELSE count(DISTINCT user_id)
                 BETWEEN 1 AND CAST(ceil(1.1 * count(user_id)) AS BIGINT) END
FROM events
UNION ALL
SELECT 'event_type', CAST(count(*) AS BIGINT), CAST(count(*) - count(event_type) AS BIGINT),
       NULL, NULL,
       CASE WHEN count(event_type) = 0 THEN count(DISTINCT event_type) = 0
            ELSE count(DISTINCT event_type)
                 BETWEEN 1 AND CAST(ceil(1.1 * count(event_type)) AS BIGINT) END
FROM events
UNION ALL
SELECT 'value', CAST(count(*) AS BIGINT), CAST(count(*) - count(value) AS BIGINT),
       CAST(min(value) AS DOUBLE), CAST(max(value) AS DOUBLE),
       CASE WHEN count(value) = 0 THEN count(DISTINCT value) = 0
            ELSE count(DISTINCT value)
                 BETWEEN 1 AND CAST(ceil(1.1 * count(value)) AS BIGINT) END
FROM events
UNION ALL
SELECT 'props', CAST(count(*) AS BIGINT), CAST(count(*) - count(props) AS BIGINT),
       NULL, NULL,
       CASE WHEN count(props) = 0 THEN count(DISTINCT props) = 0
            ELSE count(DISTINCT props)
                 BETWEEN 1 AND CAST(ceil(1.1 * count(props)) AS BIGINT) END
FROM events
""",
)
def dq02_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dq01's profile in the plan you would run at 100 TB: ONE
    map-side-combined aggregate with approx_count_distinct (HLL++,
    rsd 0.02, mergeable O(kB) state per column) — NO Expand(×N) row
    multiplication, so the scan is paid once, not |columns| times
    (test_plans pins Expand-free + single scan). Exact-in-both-engines
    fields (row count, null count, numeric ranges) carry the value
    oracle; the HLL estimate itself is engine-specific, so it is
    exported as the deterministic ``nd_sane`` contract — zero iff the
    column is all-NULL, else within [1, ceil(1.1·non-null)] — which
    the oracle re-derives from the exact cardinality (trivially true
    there; false on the Spark side iff the estimator degenerates).
    The tight ±5% agreement with the exact profile is pinned by
    tests/test_plans.py::test_profiler_approx_tracks_exact."""
    from ntripmonitor_spark.operators import profile

    ev = table(spark, sf_dir, "events")
    p = profile.profile_table(
        ev, ["event_id", "user_id", "event_type", "value", "props"], approx=True
    )
    n_nonnull = F.col("n_rows") - F.col("n_null")
    nd_sane = F.when(n_nonnull == 0, F.col("n_distinct") == 0).otherwise(
        (F.col("n_distinct") >= 1)
        & (F.col("n_distinct") <= F.ceil(n_nonnull * F.lit(1.1)))
    )
    return p.select(
        "column", "n_rows", "n_null", "min_num", "max_num", nd_sane.alias("nd_sane")
    )


# ---------------------------------------------------------------------------
# dd11 — 1-bit minhash similarity estimation (compressed-signature path).
# ---------------------------------------------------------------------------

_MH_BIT_AGREE = " + ".join(
    f"(CASE WHEN CAST(concat('0x', substr(x.mh{i}, 32, 1)) AS INT) % 2 = "
    f"CAST(concat('0x', substr(y.mh{i}, 32, 1)) AS INT) % 2 THEN 1 ELSE 0 END)"
    for i in range(dedup.MINHASH_PERMS)
)


@register(
    "dd11_bbit_minhash",
    tags=("dedup",),
    doc="Jaccard estimation from 1-bit minhash signatures (Li-Koenig).",
    oracle=f"""
WITH {_SH_CTE},
mh AS (
    SELECT doc_id,
           {_MH_MINS}
    FROM sh GROUP BY doc_id
),
bands AS (
    {_MH_BANDS}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
)
SELECT cand.doc_a, cand.doc_b,
       CAST(({_MH_BIT_AGREE}) AS INT) AS bits_agree,
       round(greatest(2.0 * ({_MH_BIT_AGREE}) / 9.0 - 1.0, 0.0), 6) AS est_jaccard_1bit
FROM cand
JOIN mh x ON x.doc_id = cand.doc_a
JOIN mh y ON y.doc_id = cand.doc_b
""",
)
def dd11_bbit_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd03's candidate pairs scored from 1-bit signatures: the
    similarity state shrinks 128x (9 bits vs 9 x 16-byte hashes per
    doc) for a quantified variance increase — the storage shape that
    lets a 100 TB dedup keep its signature silver table in memory.
    Estimator J = max(0, 2A - 1) with A the agreeing-bit fraction."""
    return dedup.bbit_minhash_pairs(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# mm07 — ViT-style patch grid (vision-preprocessing batch shape).
# ---------------------------------------------------------------------------


@register(
    "mm07_patch_grid",
    tags=("multimodal",),
    doc="8x8 patch-grid extraction over stub-decoded binary images.",
    oracle=f"""
WITH {_BYTES_CTE},
dims AS (
    SELECT doc_id, bts, n,
           CASE WHEN n = 0 THEN 0 ELSE list_extract(bts, 1) % 64 + 1 END AS w,
           CASE WHEN n = 0 THEN 0
                WHEN n > 1 THEN list_extract(bts, 2) % 64 + 1 ELSE 1 END AS h
    FROM by
),
grid AS (
    SELECT doc_id, w, h,
           unnest(list_transform(range(0, CAST(((h + 7) // 8) * ((w + 7) // 8) AS BIGINT)), p -> {{
               'pr': CAST(p // ((w + 7) // 8) AS INT),
               'pc': CAST(p % ((w + 7) // 8) AS INT),
               'ps': CAST(list_sum(list_transform(range(0, 64), k ->
                   CASE WHEN (p // ((w + 7) // 8)) * 8 + k // 8 < h
                         AND (p % ((w + 7) // 8)) * 8 + k % 8 < w
                         AND ((p // ((w + 7) // 8)) * 8 + k // 8) * w
                             + (p % ((w + 7) // 8)) * 8 + k % 8 < n
                        THEN CAST(list_extract(bts,
                             CAST(((p // ((w + 7) // 8)) * 8 + k // 8) * w
                                  + (p % ((w + 7) // 8)) * 8 + k % 8 + 1 AS INT)) AS BIGINT)
                        ELSE 0 END)) AS BIGINT)
           }})) AS s
    FROM dims
    WHERE w > 0 AND h > 0
)
SELECT doc_id, CAST(w AS INT) AS img_w, CAST(h AS INT) AS img_h,
       s.pr AS patch_row, s.pc AS patch_col, s.ps AS patch_sum
FROM grid
""",
)
def mm07_patch_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vision-preprocessing plumbing: stub-decode (w, h) from the
    payload header bytes, raster the first w*h bytes, tile into 8x8
    zero-padded patches, emit per-patch byte sums — one Arrow-batched
    mapInPandas stage whose batch shape (and partition behavior) is
    exactly what a real patch-embed stage uses. Zero shuffles; the
    payload column never leaves the scan stage."""
    return multimodal.patchify(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# tx14 — trigram stupid-backoff LM scoring (fit half, score all).
# ---------------------------------------------------------------------------

_SB_MAP = "CASE WHEN {c} IN (SELECT tok FROM v) THEN {c} ELSE '<unk>' END"


@register(
    "tx14_stupid_backoff",
    tags=("text",),
    doc="Trigram stupid-backoff NLL, model fit on even docs, scoring all.",
    oracle=f"""
WITH w AS (
    SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
    FROM documents
),
fitw AS (SELECT * FROM w WHERE doc_id % 2 = 0),
t AS (SELECT unnest(ws) AS tok FROM fitw),
v AS (
    SELECT tok FROM (
        SELECT tok, count(*) AS c FROM t GROUP BY 1 ORDER BY c DESC, tok ASC LIMIT 64
    )
),
nv AS (SELECT count(*) + 1.0 AS v_plus FROM v),
ntot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM t),
tri_fit AS (
    SELECT {_SB_MAP.format(c="string_split(g, ' ')[1]")} AS w1,
           {_SB_MAP.format(c="string_split(g, ' ')[2]")} AS w2,
           {_SB_MAP.format(c="string_split(g, ' ')[3]")} AS w3
    FROM (SELECT unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                         FOR i IN range(1, len(ws) - 1)]) AS g FROM fitw)
),
bi_fit AS (
    SELECT {_SB_MAP.format(c="string_split(g, ' ')[1]")} AS w1,
           {_SB_MAP.format(c="string_split(g, ' ')[2]")} AS w2
    FROM (SELECT unnest([ws[i] || ' ' || ws[i+1]
                         FOR i IN range(1, len(ws))]) AS g FROM fitw)
),
uni_fit AS (SELECT {_SB_MAP.format(c="tok")} AS w1 FROM t),
c3 AS (SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c3 FROM tri_fit GROUP BY 1, 2, 3),
c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM bi_fit GROUP BY 1, 2),
c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM uni_fit GROUP BY 1),
scored AS (
    SELECT doc_id,
           {_SB_MAP.format(c="string_split(g, ' ')[1]")} AS w1,
           {_SB_MAP.format(c="string_split(g, ' ')[2]")} AS w2,
           {_SB_MAP.format(c="string_split(g, ' ')[3]")} AS w3
    FROM (SELECT doc_id, unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                 FOR i IN range(1, len(ws) - 1)]) AS g FROM w)
),
j AS (
    SELECT s.doc_id, c3.c3, c2d.c2 AS c2_den, c2n.c2 AS c2_num,
           c1d.c1 AS c1_den, c1u.c1 AS c1_uni
    FROM scored s
    LEFT JOIN c3 ON s.w1 = c3.w1 AND s.w2 = c3.w2 AND s.w3 = c3.w3
    LEFT JOIN c2 c2d ON s.w1 = c2d.w1 AND s.w2 = c2d.w2
    LEFT JOIN c2 c2n ON s.w2 = c2n.w1 AND s.w3 = c2n.w2
    LEFT JOIN c1 c1d ON s.w2 = c1d.w1
    LEFT JOIN c1 c1u ON s.w3 = c1u.w1
),
sc AS (
    SELECT doc_id, c3,
           CASE WHEN c3 IS NOT NULL THEN c3 / c2_den
                WHEN c2_num IS NOT NULL THEN 0.4 * c2_num / c1_den
                ELSE 0.4 * 0.4 * (coalesce(c1_uni, 0) + 0.5)
                     / (ntot.n + 0.5 * nv.v_plus)
           END AS s
    FROM j, ntot, nv
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
       CAST(sum(CASE WHEN c3 IS NULL THEN 1 ELSE 0 END) AS INT) AS n_backoff,
       round(avg(-ln(s)), 6) AS avg_nll
FROM sc GROUP BY doc_id
""",
)
def tx14_stupid_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-scale LM quality signal: trigram stupid backoff (0.4 factor,
    add-half unknown unigrams) fit on the even-doc_id half and scoring
    every document, so held-out docs exercise the full backoff chain.
    All model tables are vocab-bounded broadcasts; the corpus-scale
    trigram relation never shuffles before the final per-doc agg."""
    return text.stupid_backoff_nll(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# cu04 — funnel provenance: why each document was (not) kept.
# ---------------------------------------------------------------------------


@register(
    "cu04_drop_reasons",
    tags=("sampling", "text"),
    doc="Per-document first-drop-stage audit of the curation funnel.",
    oracle="""
WITH w AS (
    SELECT doc_id, text, lang, source,
           list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
    FROM documents
),
scored AS (
    SELECT *, round(
        0.4 * (CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / length(text))
      + 0.3 * (1 - CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text))
      + 0.2 * (CAST(len(list_filter(ws, x -> x IN ('the', 'a', 'of', 'and', 'is'))) AS DOUBLE) / len(ws))
      + 0.1 * (1 - CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text)), 6
    ) AS quality_score
    FROM w
),
raced AS (
    SELECT *, min(CASE WHEN quality_score >= 0.5 THEN doc_id END)
                  OVER (PARTITION BY md5(text)) AS win
    FROM scored
),
rates AS (
    SELECT source,
           CAST(FLOOR(1000 * LEAST(1.0, 5.0 / sqrt(CAST(COUNT(*) AS DOUBLE)))) AS INT) AS rate
    FROM raced WHERE quality_score >= 0.5 AND doc_id = win GROUP BY source
),
j AS (SELECT raced.*, rates.rate FROM raced LEFT JOIN rates USING (source))
SELECT doc_id, source, quality_score,
       CASE WHEN quality_score < 0.5 THEN 'gate'
            WHEN doc_id <> win THEN 'duplicate'
            WHEN ((doc_id * 2654435761) % 4294967296) % 1000 >= coalesce(rate, 0) THEN 'mix'
            ELSE 'kept' END AS stage,
       CASE WHEN quality_score >= 0.5 AND doc_id <> win THEN win END AS winner_id
FROM j
""",
)
def cu04_drop_reasons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel audit: every input document with the first stage that
    dropped it (gate / duplicate+winner / mix) or 'kept' — produced by
    ONE pass of the same cuts cu01 applies, with no row ever filtered.
    The 'kept' slice equals cu01's survivor set (test-pinned)."""
    from ntripmonitor_spark.operators import curation

    return curation.drop_reasons(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# sk02 — sketch set algebra: union/intersection from KMV state alone.
# ---------------------------------------------------------------------------


@register(
    "sk02_kmv_set_algebra",
    tags=("sketch",),
    doc="Pairwise distinct union/intersection estimates from KMV sketches.",
    oracle="""
WITH d AS (
    SELECT DISTINCT event_type AS g, user_id,
           (user_id * 2654435761) % 4294967296 AS h
    FROM events
),
sk AS (
    SELECT g, h, rk FROM (
        SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h ASC, user_id ASC) AS rk
        FROM d
    ) WHERE rk <= 64
),
theta AS (SELECT g, max(h) AS th FROM sk GROUP BY g),
pairs AS (
    SELECT a.g AS ga, b.g AS gb, a.th AS th_a, b.th AS th_b
    FROM theta a, theta b WHERE a.g < b.g
),
merged AS (
    SELECT DISTINCT ga, gb, h FROM (
        SELECT p.ga, p.gb, s.h FROM pairs p JOIN sk s ON s.g = p.ga
        UNION ALL
        SELECT p.ga, p.gb, s.h FROM pairs p JOIN sk s ON s.g = p.gb
    )
),
msk AS (
    SELECT * FROM (
        SELECT ga, gb, h, row_number() OVER (PARTITION BY ga, gb ORDER BY h ASC) AS rk
        FROM merged
    ) WHERE rk <= 64
),
mstats AS (
    SELECT ga, gb, max(CASE WHEN rk = 64 THEN h END) AS hk_u,
           CAST(count(*) AS BIGINT) AS n_u
    FROM msk GROUP BY 1, 2
),
common AS (
    SELECT p.ga, p.gb, CAST(count(*) AS BIGINT) AS n_common
    FROM pairs p
    JOIN sk a ON a.g = p.ga
    JOIN sk b ON b.g = p.gb AND b.h = a.h
    WHERE a.h < least(p.th_a, p.th_b)
    GROUP BY 1, 2
)
SELECT p.ga AS group_a, p.gb AS group_b,
       CASE WHEN m.n_u < 64 THEN CAST(m.n_u AS DOUBLE)
            ELSE round(63.0 * 4294967296.0 / m.hk_u, 4) END AS union_est,
       round(coalesce(c.n_common, 0) * 4294967296.0
             / CAST(least(p.th_a, p.th_b) AS DOUBLE), 4) AS inter_est
FROM pairs p
LEFT JOIN mstats m ON m.ga = p.ga AND m.gb = p.gb
LEFT JOIN common c ON c.ga = p.ga AND c.gb = p.gb
""",
)
def sk02_kmv_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every event-type pair's estimated distinct-user union and
    intersection, computed purely from per-type KMV sketches (KMV
    merge for union; theta rule — common hashes below min(theta),
    scaled by 2^32/theta — for intersection). One corpus
    distinct-reduce builds the sketches; every cross-slice question
    after that touches k x |groups| rows only."""
    from ntripmonitor_spark.operators import sketch

    return sketch.kmv_set_algebra(table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# er03 — blocking-quality profile (the pre-flight check for er01/dd*).
# ---------------------------------------------------------------------------


@register(
    "er03_blocking_profile",
    tags=("dedup", "linkage"),
    doc="Candidate-volume / skew / reduction-ratio report for er01's blocking.",
    oracle="""
WITH s AS (
    SELECT c_custkey, substring(c_name, 1, length(c_name) - 2) AS blk
    FROM customer
),
sz AS (SELECT blk, CAST(count(*) AS BIGINT) AS b FROM s GROUP BY blk)
SELECT CAST(sum(b) AS BIGINT) AS n_records,
       CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(max(b) AS BIGINT) AS max_block,
       CAST(sum(b * (b - 1) / 2) AS BIGINT) AS n_candidates,
       round(1.0 - sum(b * (b - 1) / 2) / (sum(b) * (sum(b) - 1) / 2.0), 6) AS reduction_ratio
FROM sz
""",
)
def er03_blocking_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-flight check every blocked pairwise operator should run
    at scale: candidate-pair volume, block skew (max_block squared
    bounds the worst task), and the record-linkage reduction ratio for
    er01's name-prefix blocking. One count-by-block aggregate plus a
    scalar reduce — gate your production run on it."""
    from ntripmonitor_spark.operators import dedup as dd

    cust = table(spark, sf_dir, "customer")
    blk = F.expr("substring(c_name, 1, length(c_name) - 2)")
    return dd.blocking_profile(cust, blk, id_col="c_custkey")


# ---------------------------------------------------------------------------
# tp04 — pack-utilization report (padding waste = GPU-hours).
# ---------------------------------------------------------------------------


@register(
    "tp04_pack_utilization",
    tags=("sampling",),
    doc="Per-source fill-fraction report over tp01's greedy packing.",
    oracle="""
WITH packed AS (
    SELECT doc_id, source, n_tokens,
           CAST(shard * 1048576
                + FLOOR((SUM(n_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) / 512.0)
                AS BIGINT) AS pack_id
    FROM (
        SELECT doc_id, source,
               len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS n_tokens,
               ((doc_id * 2654435761) % 4294967296) % 16 AS shard
        FROM documents
    )
),
per_pack AS (
    SELECT source, pack_id, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS tok
    FROM packed GROUP BY 1, 2
)
SELECT source, CAST(count(*) AS BIGINT) AS n_packs,
       round(avg(tok / 512.0), 6) AS avg_fill,
       round(min(tok / 512.0), 6) AS min_fill,
       round(avg(CASE WHEN tok / 512.0 < 0.5 THEN 1.0 ELSE 0.0 END), 6) AS frac_underhalf,
       round(avg(CAST(n_docs AS DOUBLE)), 6) AS avg_docs_per_pack
FROM per_pack GROUP BY source
""",
)
def tp04_pack_utilization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste report a training run budgets GPU-hours with: per
    source, pack count and fill-fraction stats (mean/min/under-half
    share) over tp01's greedy packs. Fill values are exact multiples of
    2^-9, so every aggregate is order-independent and engine-exact.
    Bounded post-packing aggregation — no corpus-scaled work added."""
    from ntripmonitor_spark.operators import sampling

    return sampling.pack_utilization(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# gr02 — near-dup graph degree distribution (boilerplate-hub detector).
# ---------------------------------------------------------------------------


@register(
    "gr02_dup_degree",
    tags=("dedup",),
    doc="Degree distribution of the MinHash-LSH near-dup graph.",
    oracle=f"""
WITH {_SH_CTE},
mh AS (
    SELECT doc_id,
           {_MH_MINS}
    FROM sh GROUP BY doc_id
),
bands AS (
    {_MH_BANDS}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
deg AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS degree FROM (
        SELECT doc_a AS doc_id FROM cand UNION ALL SELECT doc_b FROM cand
    ) GROUP BY doc_id
)
SELECT degree, CAST(count(*) AS BIGINT) AS n_docs
FROM deg GROUP BY degree
""",
)
def gr02_dup_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How concentrated is the near-duplicate graph? Per-doc degree
    over dd03's LSH candidate pairs, collapsed to a (degree, n_docs)
    distribution — the shape that separates organic duplication (a
    thin tail of pairs/triples) from boilerplate hubs (one template
    near-dupping thousands of pages, which both melts the pairwise
    join AND signals content to drop wholesale). Two bounded
    aggregates over the pair list; input-scaled work is dd03's."""
    pairs = dedup.minhash_lsh_candidates(table(spark, sf_dir, "documents"))
    deg = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_docs"))


# ---------------------------------------------------------------------------
# qa03 — median/MAD robust outlier screen.
# ---------------------------------------------------------------------------


@register(
    "qa03_robust_outliers",
    tags=("quality",),
    doc="Per-source median/MAD modified-z outlier screen on doc length.",
    oracle="""
WITH med AS (
    SELECT source, quantile_cont(n_chars, 0.5) AS med,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM documents GROUP BY source
),
dev AS (
    SELECT d.source, d.n_chars, m.med, m.n_rows,
           abs(d.n_chars - m.med) AS adev
    FROM documents d JOIN med m USING (source)
),
mad AS (
    SELECT source, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY source
)
SELECT dev.source, max(dev.n_rows) AS n_rows,
       round(max(dev.med), 6) AS median,
       round(max(mad.mad), 6) AS mad,
       CAST(sum(CASE WHEN mad.mad > 0
                     AND abs(0.6745 * (dev.n_chars - dev.med) / mad.mad) > 3.5
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev JOIN mad USING (source)
GROUP BY dev.source
""",
)
def qa03_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-source length screening: median + MAD + count of
    modified-z outliers beyond 3.5 (Iglewicz-Hoaglin) — the screen a
    mean/std version fails exactly when it matters, because the
    outlier drags the mean toward itself. Two exact percentile passes
    with the bounded median relation broadcast between them; the
    100 TB dial is approx_percentile in both passes."""
    from ntripmonitor_spark.operators import stats

    return stats.robust_outlier_screen(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# mm09 — magic-byte modality router / census.
# ---------------------------------------------------------------------------


@register(
    "mm09_modality_census",
    tags=("multimodal",),
    doc="Magic-byte sniffed modality census over a mixed binary drop.",
    oracle="""
WITH staged AS (
    SELECT doc_id,
           unhex(CASE doc_id % 5
                 WHEN 0 THEN '89504E47' WHEN 1 THEN 'FFD8FF'
                 WHEN 2 THEN '52494646' WHEN 3 THEN '25504446'
                 ELSE '' END || hex(encode(text))) AS payload
    FROM documents
),
sniffed AS (
    SELECT CASE
             WHEN substr(hex(payload), 1, 8) = '89504E47' THEN 'png'
             WHEN substr(hex(payload), 1, 6) = 'FFD8FF' THEN 'jpeg'
             WHEN substr(hex(payload), 1, 8) = '52494646' THEN 'riff'
             WHEN substr(hex(payload), 1, 8) = '25504446' THEN 'pdf'
             WHEN substr(hex(payload), 1, 6) = '474946' THEN 'gif'
             ELSE 'unknown' END AS modality,
           octet_length(payload) AS nb
    FROM staged
)
SELECT modality, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nb) AS BIGINT) AS total_bytes
FROM sniffed GROUP BY modality
""",
)
def mm09_modality_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-sniffing router census: magic-byte modality detection
    (metadata lies; first bytes don't) over a deterministic mixed
    binary drop — the dispatch stage in front of every mm* kernel.
    Pure column sniff + one bounded aggregate; zero joins."""
    return multimodal.modality_census(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# ig02 — loss-aware source reweighting (DoReMi-shape mixture step).
# ---------------------------------------------------------------------------


@register(
    "ig02_loss_aware_mix",
    tags=("sampling", "text"),
    doc="Exponential source reweighting by mean LM-surprisal excess.",
    oracle="""
WITH w AS (
    SELECT doc_id, source, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
    FROM documents
),
tok AS (SELECT unnest(ws) AS tok FROM w),
tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM tok),
vocab AS (
    SELECT tok, CAST(COUNT(*) AS DOUBLE) AS c
    FROM tok GROUP BY tok
    ORDER BY COUNT(*) DESC, tok ASC LIMIT 64
),
toks AS (
    SELECT doc_id, i, ws[i] AS tok
    FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM w)
),
vals AS (
    SELECT toks.doc_id, toks.i,
           -log2(coalesce(v.c, 0.5) / (SELECT total FROM tot)) AS s
    FROM toks LEFT JOIN vocab v ON v.tok = toks.tok
),
agg AS (
    SELECT doc_id, list_sum(list(s ORDER BY i)) AS tot_s
    FROM vals GROUP BY doc_id
),
per_doc AS (
    SELECT w.doc_id, w.source,
           round(CASE WHEN len(w.ws) > 0 THEN agg.tot_s / len(w.ws) END, 6) AS ms
    FROM w LEFT JOIN agg ON agg.doc_id = w.doc_id
),
sc AS (SELECT * FROM per_doc WHERE ms IS NOT NULL),
src AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CAST(ms AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS mean_nll
    FROM sc GROUP BY source
),
g AS (SELECT CAST(sum(CAST(ms AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS g FROM sc)
SELECT source, n_docs, round(mean_nll, 6) AS mean_nll,
       round(mean_nll - g.g, 6) AS excess,
       round(exp(1.0 * (mean_nll - g.g))
             / sum(exp(1.0 * (mean_nll - g.g))) OVER (), 6) AS weight
FROM src, g
""",
)
def ig02_loss_aware_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One step of loss-aware mixture optimization: per-source mean
    unigram surprisal (the domain-difficulty proxy), exponential
    upweighting of above-average sources, softmax-normalized — the
    DoReMi-family reweighting loop as a declarative plan. Per-doc
    scores aggregate in exact decimal; the softmax runs over the
    bounded |sources| relation."""
    from ntripmonitor_spark.operators import sampling

    return sampling.loss_aware_mix(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# tx15 — per-document novelty (unique-shingle fraction).
# ---------------------------------------------------------------------------


@register(
    "tx15_novelty_score",
    tags=("text", "dedup"),
    doc="Fraction of each doc's 3-gram shingles unique to it.",
    oracle=f"""
WITH {_SH_CTE},
hf AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle)
SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       round(sum(CASE WHEN hf.df = 1 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS novelty
FROM sh JOIN hf ON hf.shingle = sh.shingle
GROUP BY sh.doc_id
""",
)
def tx15_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What will dedup do to this source BEFORE running it: per doc,
    the fraction of its distinct 3-gram shingles appearing in no other
    document. One DF aggregate + one hash-keyed join-back; the text
    column never shuffles."""
    return text.novelty_score(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# sp07 — deterministic per-epoch shuffle order.
# ---------------------------------------------------------------------------


@register(
    "sp07_epoch_order",
    tags=("sampling",),
    doc="Reproducible epoch-2 training order (sharded hash permutation).",
    oracle="""
WITH s AS (
    SELECT doc_id,
           ((doc_id * 2654435761) % 4294967296) % 16 AS shard,
           (((doc_id + 2 * 15485863) * 2654435761) % 4294967296) % 1048576 AS okey
    FROM documents
)
SELECT doc_id, CAST(shard AS BIGINT) AS shard,
       CAST(shard * 1099511627776
            + row_number() OVER (PARTITION BY shard ORDER BY okey ASC, doc_id ASC)
            - 1 AS BIGINT) AS pos
FROM s
""",
)
def sp07_epoch_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-2 training order: Knuth hash of (doc_id + 2*PRIME) ranks
    docs within hash shards — a different, exactly reproducible
    permutation per epoch with no RNG state and no global sort (the
    property a preempted trainer needs to resume mid-epoch)."""
    from ntripmonitor_spark.operators import sampling

    return sampling.epoch_order(table(spark, sf_dir, "documents"), epoch=2)


# ---------------------------------------------------------------------------
# cu05 — CCNet perplexity-bucket sampling.
# ---------------------------------------------------------------------------


@register(
    "cu05_ccnet_buckets",
    tags=("sampling", "text"),
    doc="Perplexity head/middle/tail bucketing with kept-rate policy.",
    oracle="""
WITH w AS (
    SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
    FROM documents
),
t AS (SELECT unnest(ws) AS tok FROM w),
v AS (
    SELECT tok FROM (
        SELECT tok, count(*) AS c FROM t GROUP BY 1 ORDER BY c DESC, tok ASC LIMIT 64
    )
),
nv AS (SELECT count(*) + 1.0 AS v_plus FROM v),
p AS (
    SELECT doc_id,
           string_split(pair, ' ')[1] AS a,
           string_split(pair, ' ')[2] AS b
    FROM (
        SELECT doc_id,
               unnest([ws[i] || ' ' || ws[i + 1] FOR i IN range(1, len(ws))]) AS pair
        FROM w
    )
),
mp AS (
    SELECT doc_id,
           CASE WHEN a IN (SELECT tok FROM v) THEN a ELSE '<unk>' END AS w1,
           CASE WHEN b IN (SELECT tok FROM v) THEN b ELSE '<unk>' END AS w2
    FROM p
),
bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM mp GROUP BY 1, 2),
cx AS (SELECT w1, sum(c) AS cw FROM bc GROUP BY 1),
model AS (
    SELECT bc.w1, bc.w2, ln((bc.c + 0.5) / (cx.cw + 0.5 * nv.v_plus)) AS logp
    FROM bc JOIN cx USING (w1), nv
),
-- rounded to 6 BEFORE the cuts, matching the Spark side (which buckets
-- tx10's rounded output): cuts and comparisons then see identical
-- values on both engines instead of 1-ulp-different raw averages
scored AS (
    SELECT mp.doc_id, round(avg(-model.logp), 6) AS avg_nll
    FROM mp JOIN model ON mp.w1 = model.w1 AND mp.w2 = model.w2
    GROUP BY mp.doc_id
),
cuts AS (
    SELECT quantile_cont(avg_nll, 0.3333333333333333) AS t1,
           quantile_cont(avg_nll, 0.6666666666666666) AS t2
    FROM scored
)
SELECT doc_id, avg_nll,
       CASE WHEN avg_nll <= t1 THEN 'head'
            WHEN avg_nll <= t2 THEN 'middle'
            ELSE 'tail' END AS bucket,
       CASE WHEN avg_nll <= t1 THEN TRUE
            WHEN avg_nll <= t2 THEN ((doc_id * 2654435761) % 4294967296) % 1000 < 500
            ELSE FALSE END AS kept
FROM scored, cuts
""",
)
def cu05_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's famous head/middle/tail split: bigram-LM NLL per doc,
    tercile cuts broadcast as two scalars, head kept / middle
    coin-sampled / tail dropped — audit-style output so the filter is
    a pushed-down `kept` predicate downstream. Scale dial: swap the
    exact tercile for approx_percentile."""
    from ntripmonitor_spark.operators import curation

    return curation.ccnet_buckets(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# dc03 — 13-gram exact-collision decontamination (GPT-3 appendix C).
# ---------------------------------------------------------------------------


@register(
    "dc03_thirteen_gram",
    tags=("dedup", "text"),
    doc="Flag corpus docs sharing ANY 13-gram with the benchmark slice.",
    oracle="""
WITH w AS (
    SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
    FROM documents
),
sh AS (
    SELECT DISTINCT doc_id,
           unnest([array_to_string(ws[CAST(i AS INT):CAST(i + 12 AS INT)], ' ')
                   FOR i IN range(1, greatest(len(ws) - 11, 1))]) AS shingle
    FROM w
),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20),
corpus AS (SELECT doc_id, shingle FROM sh WHERE doc_id >= 20),
scored AS (
    SELECT corpus.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN bench.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
    FROM corpus LEFT JOIN bench ON corpus.shingle = bench.shingle
    GROUP BY corpus.doc_id
)
SELECT doc_id, n_shingles, n_hits FROM scored WHERE n_hits > 0
""",
)
def dc03_thirteen_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published decontamination rule (GPT-3 appendix C / common
    practice since): a corpus document sharing ANY exact 13-gram with
    the eval slice is flagged — no overlap fraction, one collision is
    enough. Same broadcast-benchmark shape as dc01 (benchmark shingles
    dedup to 8-byte hashes and broadcast; the corpus never self-joins);
    docs shorter than 13 words have no 13-grams and cannot collide."""
    out = dedup.decontaminate(table(spark, sf_dir, "documents"),
                              F.col("doc_id") < 20, n=13)
    return (
        out.filter(F.col("n_contaminated") > 0)
        .select("doc_id", "n_shingles",
                F.col("n_contaminated").cast("long").alias("n_hits"))
    )


# ---------------------------------------------------------------------------
# er04 — blocking-scheme shoot-out (pick the key by measurement).
# ---------------------------------------------------------------------------


@register(
    "er04_blocking_compare",
    tags=("dedup", "linkage"),
    doc="Three candidate blocking keys profiled side by side.",
    oracle="""
WITH s AS (
    SELECT c_custkey,
           substring(c_name, 1, length(c_name) - 2) AS b_prefix,
           substring(c_name, length(c_name) - 2, 3) AS b_suffix,
           CAST(length(c_name) AS VARCHAR) AS b_len
    FROM customer
),
u AS (
    SELECT 'name_prefix' AS scheme, b_prefix AS blk FROM s
    UNION ALL SELECT 'name_suffix', b_suffix FROM s
    UNION ALL SELECT 'name_length', b_len FROM s
),
sz AS (SELECT scheme, blk, CAST(count(*) AS BIGINT) AS b FROM u GROUP BY 1, 2)
SELECT scheme,
       CAST(sum(b) AS BIGINT) AS n_records,
       CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(max(b) AS BIGINT) AS max_block,
       CAST(sum(b * (b - 1) / 2) AS BIGINT) AS n_candidates,
       round(1.0 - sum(b * (b - 1) / 2) / (sum(b) * (sum(b) - 1) / 2.0), 6) AS reduction_ratio
FROM sz GROUP BY scheme
""",
)
def er04_blocking_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-key selection by measurement, not vibes: profile three
    candidate schemes (name prefix — er01's choice; name suffix; name
    length — a deliberately awful low-cardinality key) side by side in
    ONE job: union the keyed projections under a scheme tag, one
    count-by-(scheme, block) aggregate, one bounded rollup. The
    worst scheme shows up as max_block ~ n_records and RR near 0
    BEFORE anyone runs its quadratic join."""
    cust = table(spark, sf_dir, "customer")
    schemes = [
        ("name_prefix", F.expr("substring(c_name, 1, length(c_name) - 2)")),
        ("name_suffix", F.expr("substring(c_name, length(c_name) - 2, 3)")),
        ("name_length", F.length("c_name").cast("string")),
    ]
    # one explode, ONE scan — the union-per-scheme formulation re-reads
    # the table once per candidate key (x3 I/O at 100 TB for nothing)
    pairs = F.array(*[
        F.struct(F.lit(name).alias("scheme"), col.alias("blk"))
        for name, col in schemes
    ])
    u = cust.select(F.explode(pairs).alias("s")).select("s.scheme", "s.blk")
    sz = u.groupBy("scheme", "blk").agg(F.count(F.lit(1)).alias("b"))
    return sz.groupBy("scheme").agg(
        F.sum("b").alias("n_records"),
        F.count(F.lit(1)).alias("n_blocks"),
        F.max("b").alias("max_block"),
        F.sum(F.col("b") * (F.col("b") - 1) / 2).cast("bigint").alias("n_candidates"),
    ).select(
        "scheme", "n_records", "n_blocks", "max_block", "n_candidates",
        F.when(
            F.col("n_records") > 1,
            F.round(
                F.lit(1.0)
                - F.col("n_candidates")
                / (F.col("n_records") * (F.col("n_records") - 1) / 2.0),
                6,
            ),
        ).alias("reduction_ratio"),
    )


# ---------------------------------------------------------------------------
# dd08 — incremental LSH delta dedup (the production arrival path),
# value-oracled: split the corpus into an "existing" signed half and a
# "new" batch, return every candidate pair involving a new doc.
# ---------------------------------------------------------------------------

_DD08_SPLIT = 250  # doc_id < SPLIT = already-signed corpus; rest = new batch


@register(
    "dd08_lsh_delta",
    tags=("dedup",),
    doc="Delta-batch MinHash-LSH against the persisted signature table.",
    oracle=f"""
WITH {_SH_CTE},
mh AS (
    SELECT doc_id,
           {_MH_MINS}
    FROM sh GROUP BY doc_id
),
bands AS (
    {_MH_BANDS}
),
cand AS (
    SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
                    greatest(a.doc_id, b.doc_id) AS doc_b
    FROM bands a
    JOIN bands b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
                AND a.doc_id < b.doc_id
    WHERE a.doc_id >= {_DD08_SPLIT} OR b.doc_id >= {_DD08_SPLIT}
)
SELECT cand.doc_a, cand.doc_b,
       ({_MH_MATCHES}) / 9.0 AS est_jaccard
FROM cand
JOIN mh x ON x.doc_id = cand.doc_a
JOIN mh y ON y.doc_id = cand.doc_b
""",
)
def dd08_lsh_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production dedup arrival path, value-oracled: docs with
    doc_id >= 250 arrive as a batch against the already-signed corpus
    (its text is never re-read — only its K x 16 B signature table
    joins). Candidates = new-vs-old plus new-vs-new band collisions;
    the oracle computes the same pairs from a full-corpus banding
    restricted to pairs touching the batch, which the incremental
    topology provably equals (also pinned batch-by-batch in
    tests/test_newops_properties.py)."""
    docs = table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") < _DD08_SPLIT)
    new = docs.filter(F.col("doc_id") >= _DD08_SPLIT)
    old_sigs = dedup.minhash_signatures(old)
    pairs, _ = dedup.minhash_lsh_delta(old_sigs, new)
    return pairs


# ---------------------------------------------------------------------------
# mm10 — byte-entropy profile (compressibility signal).
# ---------------------------------------------------------------------------


@register(
    "mm10_byte_entropy",
    tags=("multimodal", "quality"),
    doc="Shannon byte entropy per binary payload.",
    oracle=f"""
WITH {_BYTES_CTE},
freq AS (
    SELECT doc_id, b.n, bt, count(*) AS c
    FROM (SELECT doc_id, n, unnest(bts) AS bt FROM by) AS x
    JOIN b USING (doc_id)
    GROUP BY doc_id, b.n, bt
)
SELECT doc_id, CAST(n AS INT) AS n_bytes,
       round(-sum((c / CAST(n AS DOUBLE)) * log2(c / CAST(n AS DOUBLE))), 6)
           AS entropy_bits
FROM freq GROUP BY doc_id, n
""",
)
def mm10_byte_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressibility screen over binary payloads: Shannon entropy of
    the byte histogram (bits/byte) — near 0 flags padding/constant
    fills, near 8 flags already-compressed/encrypted content a corpus
    build routes or drops. One Arrow-batched numpy kernel, zero
    shuffles; the oracle replays the histogram in SQL."""
    return multimodal.byte_entropy(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# tx16 — language-ID confusion matrix (evaluate the classifier).
# ---------------------------------------------------------------------------

_LID_PRED = """CASE WHEN s_en = best THEN 'en'
            WHEN s_de = best THEN 'de'
            WHEN s_es = best THEN 'es'
            WHEN s_fr = best THEN 'fr'
            ELSE 'zh' END"""


@register(
    "tx16_langid_confusion",
    tags=("text", "quality"),
    doc="Confusion matrix + per-class recall for the tx01 classifier.",
    oracle=f"""
WITH w AS (
    SELECT doc_id, lang, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
    FROM documents
),
s AS (
    SELECT doc_id, lang,
           len(list_filter(ws, x -> x IN {_LANG_FILTERS['en']})) AS s_en,
           len(list_filter(ws, x -> x IN {_LANG_FILTERS['de']})) AS s_de,
           len(list_filter(ws, x -> x IN {_LANG_FILTERS['es']})) AS s_es,
           len(list_filter(ws, x -> x IN {_LANG_FILTERS['fr']})) AS s_fr,
           len(list_filter(ws, x -> x IN {_LANG_FILTERS['zh']})) AS s_zh
    FROM w
),
p AS (
    SELECT lang AS labeled_lang, {_LID_PRED} AS pred_lang
    FROM (SELECT *, greatest(s_en, s_de, s_es, s_fr, s_zh) AS best FROM s)
),
cm AS (
    SELECT labeled_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
    FROM p GROUP BY 1, 2
)
SELECT labeled_lang, pred_lang, n,
       round(n / CAST(sum(n) OVER (PARTITION BY labeled_lang) AS DOUBLE), 6) AS frac_of_label
FROM cm
""",
)
def tx16_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation discipline for tx01: the full (labeled,
    predicted) confusion matrix with each cell's share of its true
    class — the diagonal IS per-class recall, the off-diagonal rows
    say WHICH languages the stopword heuristic confuses (the signal
    that drives seed-list fixes). One bounded aggregate after the
    pure-column classifier; the share window runs over |langs|² rows."""
    from ntripmonitor_spark.operators.text import language_id

    cm = (
        language_id(table(spark, sf_dir, "documents"))
        .groupBy("labeled_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql import Window as W

    share = F.col("n") / F.sum("n").over(W.partitionBy("labeled_lang"))
    return cm.select("labeled_lang", "pred_lang", "n",
                     F.round(share, 6).alias("frac_of_label"))


# ---------------------------------------------------------------------------
# ss13 — recall under SQ8 quantization (compression quality check).
# ---------------------------------------------------------------------------


@register(
    "ss13_sq8_recall",
    tags=("simsearch",),
    doc="Recall@5 of cosine search over SQ8-reconstructed vectors vs exact.",
    oracle=f"""
WITH {_VEC_CTE},
st AS (SELECT [{_SQ_MINS}] AS mins, [{_SQ_MAXS}] AS maxs FROM v),
rec AS (
    SELECT vec_id,
           list_transform(range(1, {_SQ_DIM + 1}), i ->
               mins[i] + CASE WHEN maxs[i] - mins[i] = 0 THEN 0.0
                    ELSE floor((vec[i] - mins[i]) / (maxs[i] - mins[i]) * 255.0 + 0.5)
                         / 255.0 * (maxs[i] - mins[i]) END) AS rv
    FROM v, st
),
recn AS (SELECT vec_id, rv, sqrt(list_dot_product(rv, rv)) AS rn FROM rec),
q AS (SELECT vec_id AS query_id, vec AS qv, nrm AS qn FROM n WHERE vec_id < 10),
sq_scored AS (
    SELECT q.query_id, recn.vec_id AS neighbor_id,
           round(list_dot_product(q.qv, recn.rv) / (q.qn * recn.rn), 6) AS cos_sim
    FROM q CROSS JOIN recn WHERE recn.vec_id <> q.query_id
),
sq_topk AS (
    SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
        FROM sq_scored
    ) WHERE rank <= 5
),
bf_scored AS (
    SELECT q.query_id, n.vec_id AS neighbor_id,
           round(list_dot_product(q.qv, n.vec) / (q.qn * n.nrm), 6) AS cos_sim
    FROM q CROSS JOIN n WHERE n.vec_id <> q.query_id
),
bf_topk AS (
    SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
        FROM bf_scored
    ) WHERE rank <= 5
)
SELECT bf.query_id,
       CAST(sum(CASE WHEN sq.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS INT) AS n_hits,
       round(sum(CASE WHEN sq.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) / 5.0, 6) AS recall
FROM bf_topk bf
LEFT JOIN sq_topk sq ON sq.query_id = bf.query_id AND sq.neighbor_id = bf.neighbor_id
GROUP BY bf.query_id
""",
)
def ss13_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does 4x compression cost retrieval quality? Recall@5 of cosine
    top-k over the SQ8-reconstructed corpus (queries exact — the
    standard asymmetric setup) against the exact top-k, per query.
    Bounds broadcast once, reconstruction rides the scan, the recall
    join moves queries x k id pairs."""
    return simsearch.sq8_recall(table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# Round-7 curation additions: leakage-safe split, quality survivor,
# source-overlap matrix, vocabulary coverage.
# ---------------------------------------------------------------------------


@register(
    "sp08_cluster_split",
    tags=("sampling", "dedup"),
    oracle=f"""
WITH RECURSIVE {_SH_CTE},
{_CC_LAB_CTE.strip()}
SELECT doc_id, cluster_id,
       (cluster_id * 2654435761) % 4294967296 AS h,
       CASE WHEN (cluster_id * 2654435761) % 4294967296 < 3865470566 THEN 'train'
            WHEN (cluster_id * 2654435761) % 4294967296 < 4080218931 THEN 'val'
            ELSE 'test' END AS split
FROM lab
""",
)
def sp08_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe 90/5/5 split: hash the near-dup CLUSTER id (CC over
    the 0.6-Jaccard graph) so duplicate mates can never straddle
    train/test — the group-aware complement of sp05's per-doc hash."""
    from ntripmonitor_spark.operators.sampling import cluster_split

    return cluster_split(table(spark, sf_dir, "documents"))


@register(
    "dd12_quality_survivor",
    tags=("dedup",),
    oracle=f"""
WITH RECURSIVE {_SH_CTE},
{_CC_LAB_CTE.strip()},
mem AS (
    SELECT lab.doc_id, lab.cluster_id, d.n_chars
    FROM lab JOIN documents d USING (doc_id)
),
best AS (
    SELECT cluster_id, doc_id AS keep_doc_id FROM (
        SELECT cluster_id, doc_id,
               row_number() OVER (PARTITION BY cluster_id
                                  ORDER BY n_chars DESC, doc_id ASC) AS rn
        FROM mem
    ) WHERE rn = 1
),
cnt AS (SELECT cluster_id, count(*) AS n_members FROM mem GROUP BY 1)
SELECT m.doc_id, m.cluster_id, b.keep_doc_id, c.n_members,
       m.doc_id = b.keep_doc_id AS keep
FROM mem m JOIN best b USING (cluster_id) JOIN cnt c USING (cluster_id)
""",
)
def dd12_quality_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup keep-decision with a quality survivor policy: each
    near-dup cluster keeps its highest-n_chars member (ties to lowest
    id) — the keep-the-best-copy policy real curation runs use, vs
    dd06's min-id canonical."""
    return dedup.survivor_by_quality(table(spark, sf_dir, "documents"))


@register(
    "mx01_source_overlap",
    tags=("dedup", "sampling"),
    oracle="""
WITH w AS (
    SELECT source, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
    FROM documents
),
sh AS (
    SELECT DISTINCT source,
           unnest(list_transform(range(1, greatest(len(ws) - 1, 1)),
                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
    FROM w
),
tot AS (SELECT source, count(*) AS n_sh FROM sh GROUP BY 1),
pr AS (
    SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
    GROUP BY 1, 2
)
SELECT source_a, source_b, n_shared,
       round(n_shared / CAST(ta.n_sh + tb.n_sh - n_shared AS DOUBLE), 6) AS jaccard,
       round(n_shared / CAST(ta.n_sh AS DOUBLE), 6) AS containment_a,
       round(n_shared / CAST(tb.n_sh AS DOUBLE), 6) AS containment_b
FROM pr
JOIN tot ta ON ta.source = pr.source_a
JOIN tot tb ON tb.source = pr.source_b
""",
)
def mx01_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise inter-source shingle-overlap matrix (shared distinct
    3-grams, Jaccard, both containments): the mirror-source audit a
    mixing plan runs before assigning per-source weights. One shuffle
    keyed by shingle hash; pairs explode from a source-count-bounded
    array — no self-join, no all-pairs."""
    return dedup.source_overlap(table(spark, sf_dir, "documents"))


@register(
    "tx17_vocab_coverage",
    tags=("text", "sampling"),
    oracle="""
WITH t AS (
    SELECT source,
           unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS word
    FROM documents
),
wc AS (SELECT word, count(*) AS c FROM t GROUP BY 1),
vocab AS (SELECT word FROM wc ORDER BY c DESC, word ASC LIMIT 500),
j AS (
    SELECT t.source, t.word, v.word IS NOT NULL AS in_vocab
    FROM t LEFT JOIN vocab v USING (word)
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN NOT in_vocab THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       CAST(count(DISTINCT CASE WHEN NOT in_vocab THEN word END) AS BIGINT) AS n_oov_types,
       round(sum(CASE WHEN NOT in_vocab THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS oov_rate
FROM j GROUP BY 1
""",
)
def tx17_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source OOV rate and distinct OOV types against the corpus
    top-500 vocabulary — the tokenizer-coverage check run before
    committing a mixing plan."""
    return text.vocab_coverage(table(spark, sf_dir, "documents"))


@register(
    "sp09_cluster_split_lsh",
    tags=("sampling", "dedup"),
    oracle=f"""
WITH RECURSIVE {_SH_CTE},
mh AS (
    SELECT doc_id,
           {_MH_MINS}
    FROM sh GROUP BY doc_id
),
bands AS (
    {_MH_BANDS}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM cand
    UNION ALL SELECT doc_b, doc_a FROM cand
),
reach(id, r) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a
),
clusters AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
SELECT doc_id, cluster_id,
       (cluster_id * 2654435761) % 4294967296 AS h,
       CASE WHEN (cluster_id * 2654435761) % 4294967296 < 3865470566 THEN 'train'
            WHEN (cluster_id * 2654435761) % 4294967296 < 4080218931 THEN 'val'
            ELSE 'test' END AS split
FROM clusters
""",
)
def sp09_cluster_split_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sp08's leakage-safe split over the APPROXIMATE edge set — the
    route a 100 TB corpus actually takes (cf. gr03): MinHash-LSH
    banding generates the near-dup edges (signatures shuffle, never
    text), connected components groups them (edge-touched subgraph
    only), and the split hash is the same pure column expression over
    the cluster id. sp08 stays the exact-Jaccard variant; this pins
    the LSH-edges → CC → group-split composition under the driver."""
    from ntripmonitor_spark.operators.sampling import split_col, split_hash_col

    docs = table(spark, sf_dir, "documents")
    edges = dedup.minhash_lsh_candidates(docs, n=3)
    labels, _ = dedup.connected_components(docs.select("doc_id"), edges)
    return labels.select(
        "doc_id", "cluster_id",
        split_hash_col(F.col("cluster_id")).alias("h"),
        split_col(F.col("cluster_id")).alias("split"),
    )


@register(
    "fn04_conversion_latency",
    tags=("joins", "analytics"),
    oracle="""
WITH pu AS (
    SELECT user_id,
           min(CASE WHEN event_type = 'view' THEN ts END) AS fv,
           min(CASE WHEN event_type = 'purchase' THEN ts END) AS fp
    FROM events GROUP BY 1
),
conv AS (
    SELECT CAST(fv AS DATE) AS cohort_day,
           (epoch_us(fp) - epoch_us(fv)) / 1000000.0 AS lat
    FROM pu WHERE fv IS NOT NULL AND fp IS NOT NULL AND fp >= fv
)
SELECT cohort_day,
       CAST(count(*) AS BIGINT) AS n_converted,
       round(quantile_cont(lat, 0.5), 4) AS p50_s,
       round(quantile_cont(lat, 0.9), 4) AS p90_s,
       round(avg(lat), 4) AS avg_s
FROM conv GROUP BY 1
""",
)
def fn04_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How long does view -> purchase take? Per first-view-day cohort:
    converted-user count and exact p50/p90/mean conversion latency in
    seconds. One user-keyed aggregate (two conditional mins — no
    event-log self-join, the fn01/fn02 discipline) then one
    day-keyed percentile aggregate over the bounded converting-user
    relation; epoch arithmetic through timeutil.epoch_us."""
    from ntripmonitor_spark.functions.timeutil import epoch_us

    ev = table(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("fv"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("fp"),
    )
    conv = pu.filter(
        F.col("fv").isNotNull() & F.col("fp").isNotNull() & (F.col("fp") >= F.col("fv"))
    ).select(
        F.to_date("fv").alias("cohort_day"),
        ((epoch_us("fp") - epoch_us("fv")) / F.lit(1000000.0)).alias("lat"),
    )
    return conv.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.expr("percentile(lat, 0.5)"), 4).alias("p50_s"),
        F.round(F.expr("percentile(lat, 0.9)"), 4).alias("p90_s"),
        F.round(F.avg("lat"), 4).alias("avg_s"),
    )


@register(
    "ss14_mmr_rerank",
    tags=("simsearch", "retrieval"),
    oracle=f"""
WITH {_VEC_CTE},
q AS (SELECT vec_id AS query_id, vec AS qv, nrm AS qn FROM n WHERE vec_id < 10),
sc AS (
    SELECT q.query_id, n.vec_id AS neighbor_id,
           round(list_dot_product(q.qv, n.vec) / (q.qn * n.nrm), 6) AS rel,
           n.vec, n.nrm
    FROM q CROSS JOIN n WHERE n.vec_id <> q.query_id
),
cand AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY rel DESC, neighbor_id ASC) AS rnk
        FROM sc
    ) WHERE rnk <= 10
),
sim AS (
    SELECT a.query_id, a.neighbor_id AS a_id, b.neighbor_id AS b_id,
           round(list_dot_product(a.vec, b.vec) / (a.nrm * b.nrm), 6) AS s
    FROM cand a JOIN cand b
      ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id
),
sel1 AS (SELECT query_id, neighbor_id, rel FROM cand WHERE rnk = 1),
c2 AS (
    SELECT c.query_id, c.neighbor_id, c.rel,
           CAST(0.7 AS DECIMAL(2,1)) * CAST(c.rel AS DECIMAL(18,6))
           - CAST(0.3 AS DECIMAL(2,1)) * CAST(sim.s AS DECIMAL(18,6)) AS score
    FROM cand c
    JOIN sel1 ON sel1.query_id = c.query_id AND c.neighbor_id <> sel1.neighbor_id
    JOIN sim ON sim.query_id = c.query_id AND sim.a_id = c.neighbor_id
            AND sim.b_id = sel1.neighbor_id
),
sel2 AS (
    SELECT query_id, neighbor_id, rel, score FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, neighbor_id ASC) AS r
        FROM c2
    ) WHERE r = 1
),
c3 AS (
    SELECT c.query_id, c.neighbor_id, c.rel,
           CAST(0.7 AS DECIMAL(2,1)) * CAST(c.rel AS DECIMAL(18,6))
           - CAST(0.3 AS DECIMAL(2,1)) * CAST(greatest(s1.s, s2.s) AS DECIMAL(18,6)) AS score
    FROM cand c
    JOIN sel1 ON sel1.query_id = c.query_id AND c.neighbor_id <> sel1.neighbor_id
    JOIN sel2 ON sel2.query_id = c.query_id AND c.neighbor_id <> sel2.neighbor_id
    JOIN sim s1 ON s1.query_id = c.query_id AND s1.a_id = c.neighbor_id
               AND s1.b_id = sel1.neighbor_id
    JOIN sim s2 ON s2.query_id = c.query_id AND s2.a_id = c.neighbor_id
               AND s2.b_id = sel2.neighbor_id
),
sel3 AS (
    SELECT query_id, neighbor_id, rel, score FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, neighbor_id ASC) AS r
        FROM c3
    ) WHERE r = 1
)
SELECT query_id, 1 AS mmr_rank, neighbor_id, rel,
       CAST(round(CAST(0.7 AS DECIMAL(2,1)) * CAST(rel AS DECIMAL(18,6)), 6) AS DOUBLE) AS mmr_score FROM sel1
UNION ALL
SELECT query_id, 2 AS mmr_rank, neighbor_id, rel,
       CAST(round(score, 6) AS DOUBLE) AS mmr_score FROM sel2
UNION ALL
SELECT query_id, 3 AS mmr_rank, neighbor_id, rel,
       CAST(round(score, 6) AS DOUBLE) AS mmr_score FROM sel3
""",
)
def ss14_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity re-ranking of the top-10 cosine pool down to 3
    results per query (lambda=0.7): retrieval scans the corpus ONCE,
    then every greedy step is a broadcast join + window argmax over the
    persisted candidate pool — the re-rank never touches corpus-sized
    data. Greedy loop unrolled (fixed k), scores are arithmetic over
    6-dp-rounded cosines, so the DuckDB oracle replays it as chained
    CTEs comparing identical doubles."""
    return simsearch.mmr_rerank(table(spark, sf_dir, "embeddings"))


@register(
    "sp10_pps_resample",
    tags=("sampling", "stats"),
    oracle=f"""
WITH mx AS (SELECT max(n_chars) AS mx FROM documents),
staged AS (
    SELECT doc_id, source, n_chars,
           greatest(1, least(1000,
               {idiv_sql('CAST(n_chars AS BIGINT) * 1000', 'mx.mx')})) AS cutoff,
           {_BUCKET_SQL} AS bucket
    FROM documents CROSS JOIN mx
),
kept AS (SELECT * FROM staged WHERE bucket < cutoff),
agg AS (
    SELECT source, count(*) AS n_kept, sum(n_chars) AS chars_kept,
           sum({rational_rh_sql('1000000000', 'cutoff')}) AS ht_ppm
    FROM kept GROUP BY source
)
SELECT s.source, s.n_orig,
       coalesce(agg.n_kept, 0) AS n_kept,
       CAST(coalesce(agg.chars_kept, 0) AS BIGINT) AS chars_kept,
       CAST(coalesce(agg.ht_ppm, 0) AS BIGINT) AS ht_n_docs_ppm
FROM (SELECT source, count(*) AS n_orig FROM staged GROUP BY source) s
LEFT JOIN agg USING (source)
""",
)
def sp10_pps_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson PPS resampling (inclusion probability proportional to
    doc length, Horvitz-Thompson 1/p reweighting) with per-source
    kept counts and the HT estimate of the original doc count — the
    unbiased downsample-but-keep-estimates primitive. One corpus max
    rides as a one-row broadcast; the keep decision is a deterministic
    integer hash-cutoff scan predicate (no RNG state, reproducible
    across retries). Round 10: the cutoff is pure BIGINT integral
    division and each HT millionths share is an exact integer-rational
    round-half-up (functions/portable.rational_rh) — VERDICT r9 proved
    the prior DOUBLE floor sat exactly on the 1000.0 boundary for the
    max-length doc, so no double is constructed anywhere anymore;
    shares BIGINT-sum into ht_n_docs_ppm."""
    from ntripmonitor_spark.operators import sampling

    return sampling.pps_resample(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# gr04 — PageRank centrality over the LSH dup-graph (fixed-point power method)
# ---------------------------------------------------------------------------

def _PR_ITER(i: int) -> str:
    """One fixed-point PageRank round as two chained CTEs (message sum,
    then rank update) — the SQL unroll of dedup.pagerank's loop.
    Integral division is idiv_sql, not ``//``: some DuckDB versions type
    ``//`` as a DOUBLE floor, and a 13-digit rank that rides as DOUBLE
    gets truncated to 9 significant digits by the driver's float
    canonicalizer — idiv_sql pins BIGINT on every version."""
    return f"""
m{i} AS (
    SELECT u.dst AS src, sum({idiv_sql('p.pr', 'p.deg')}) AS s
    FROM und u JOIN pr{i - 1} p ON u.src = p.src GROUP BY u.dst
),
pr{i} AS (
    SELECT d.src, d.deg, d.n,
           {idiv_sql('150000000000', 'd.n')} + {idiv_sql(f'85 * m{i}.s', '100')} AS pr
    FROM pr{i - 1} d JOIN m{i} ON m{i}.src = d.src
)"""


@register(
    "gr04_pagerank",
    tags=("dedup", "graph"),
    oracle=f"""
WITH {_SH_CTE},
mh AS (
    SELECT doc_id,
           {_MH_MINS}
    FROM sh GROUP BY doc_id
),
bands AS (
    {_MH_BANDS}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
und AS (
    SELECT doc_a AS src, doc_b AS dst FROM cand
    UNION ALL SELECT doc_b, doc_a FROM cand
),
deg AS (SELECT src, count(*) AS deg FROM und GROUP BY src),
nn AS (SELECT count(*) AS n FROM deg),
pr0 AS (
    SELECT d.src, d.deg, nn.n, {idiv_sql('1000000000000', 'nn.n')} AS pr
    FROM deg d CROSS JOIN nn
),{_PR_ITER(1)},{_PR_ITER(2)},{_PR_ITER(3)}
SELECT doc_id, degree, pr_e12,
       CAST(row_number() OVER (ORDER BY pr_e12 DESC, doc_id ASC) AS INT) AS rnk
FROM (
    SELECT src AS doc_id, deg AS degree, pr AS pr_e12
    FROM pr3 ORDER BY pr DESC, src ASC LIMIT 20
)
""",
)
def gr04_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 PageRank docs of the MinHash-LSH dup-graph (3 power
    rounds, damping 0.85): the canonical-member ranking inside dup
    clusters — the doc everything else is a near-copy OF scores
    highest, so "keep the canonical, drop satellites" becomes a rank
    filter instead of min(doc_id) arbitrariness. Ranks are integers
    scaled by 1e12 with integral division everywhere (see
    dedup.pagerank), so both engines run EXACT integer arithmetic —
    no float appears anywhere in this query. The top-20 is
    orderBy+limit (TakeOrdered — distributed heap top-k, no global
    sort, no single-partition window); the rank column is a window
    over the surviving 20 rows only."""
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    edges = dedup.minhash_lsh_candidates(docs, n=3)
    ranked = dedup.pagerank(edges)
    top = ranked.orderBy(F.col("pr_e12").desc(), F.col("doc_id").asc()).limit(20)
    # GLOBAL-WINDOW-OK: runs over `top`, already LIMITed to 20 rows.
    w = Window.orderBy(F.col("pr_e12").desc(), F.col("doc_id").asc())
    return top.withColumn("rnk", F.row_number().over(w).cast("int"))


# ---------------------------------------------------------------------------
# mx02 — temperature-flattened mixture weights → per-source epoch budget
# ---------------------------------------------------------------------------


# epochs_e4 = round-half-up(2 * total * 10^4 * sq_e3 / (z_e3 * chars)) —
# an exact integer rational once the per-source sqrt is pinned to integer
# thousandths. Magnitude budget: p = 20000 * total * sq_e3 ≈ 2.3e14 at
# sf0.01 and ≈ 7e15 at sf0.1 — BIGINT-safe on Spark at both, and < 2^53
# at the sf0.01 oracle scale (rational_rh_sql's DOUBLE-division bound).
_MX02_E_NUM = "20000 * t.total * sq_e3"
_MX02_E_DEN = "t.z_e3 * n_chars_total"


@register(
    "mx02_mixture_epochs",
    tags=("sampling", "curation"),
    oracle=f"""
WITH s AS (
    SELECT source, sum(n_chars) AS n_chars_total,
           {quantize_sql('sqrt(CAST(sum(n_chars) AS DOUBLE))', 3)} AS sq_e3
    FROM documents GROUP BY source
),
t AS (SELECT sum(sq_e3) AS z_e3, sum(n_chars_total) AS total FROM s)
SELECT source, CAST(n_chars_total AS BIGINT) AS n_chars_total,
       {rational_rh_sql('sq_e3 * 1000000', 't.z_e3')} AS weight_ppm,
       {rational_rh_sql(_MX02_E_NUM, _MX02_E_DEN)} AS epochs_e4,
       CAST({rational_rh_sql(_MX02_E_NUM, _MX02_E_DEN)} > 10000 AS INT) AS needs_upsampling
FROM s CROSS JOIN t
""",
)
def mx02_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mixing plan a training run actually executes: per-source
    temperature-flattened weight (T=0.5, i.e. w ∝ sqrt(chars) — sqrt is
    correctly-rounded IEEE on every libm, unlike pow(x, 0.7)) and the
    epoch count each source needs to fill a 2x-corpus token budget at
    that weight; epochs > 1 flags sources the loader must upsample
    (repeat) rather than subsample. Shape: one |sources|-row aggregate,
    corpus totals ride back as a one-row broadcast — two bounded
    aggregates total, no shuffle scales with the corpus. Round 10
    emission: the ONLY double op left is the correctly-rounded sqrt,
    pinned to integer thousandths (sq_e3) at the source level; the
    flattening normalizer is an exact BIGINT sum of those, and
    weight_ppm / epochs_e4 are exact integer-rational round-half-up
    divisions in pure BIGINT arithmetic (functions/portable.rational_rh
    — no round(), no DECIMAL, no double ratio on either engine)."""
    docs = table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.sum("n_chars").alias("n_chars_total"),
    ).withColumn(
        "sq_e3", quantize(F.sqrt(F.col("n_chars_total").cast("double")), 3)
    )
    t = s.agg(
        F.sum("sq_e3").alias("z_e3"),
        F.sum("n_chars_total").alias("total"),
    )
    j = s.crossJoin(F.broadcast(t))
    eq = rational_rh(
        F.lit(20000) * F.col("total") * F.col("sq_e3"),
        F.col("z_e3") * F.col("n_chars_total"),
    )
    return j.select(
        "source", "n_chars_total",
        rational_rh(F.col("sq_e3") * F.lit(1000000), F.col("z_e3"))
        .alias("weight_ppm"),
        eq.alias("epochs_e4"),
        (eq > F.lit(10000)).cast("int").alias("needs_upsampling"),
    )


# ---------------------------------------------------------------------------
# ss15 — power iteration: dominant eigenvector of the embedding Gram matrix
# ---------------------------------------------------------------------------

_PI_DIM = 64


def _pi_oracle(iters: int = 3, dim: int = _PI_DIM) -> str:
    """Generate the unrolled power-iteration oracle: per round, a
    64-decimal-sum aggregate CTE and a normalized-iterate CTE, with
    every dot/norm an explicit left-associated add chain (matching the
    Spark fold order exactly)."""
    def dot_expr(xref) -> str:
        terms = [f"vec[{j + 1}] * {xref(j)}" for j in range(dim)]
        return " + ".join(terms)

    parts = ["v AS (SELECT CAST(embedding AS DOUBLE[]) AS vec FROM embeddings)"]
    prev = None
    for it in range(1, iters + 1):
        xref = (lambda j: "0.125") if prev is None else (
            lambda j, p=prev: f"{p}.x{j}"
        )
        src = "v" if prev is None else f"v CROSS JOIN {prev}"
        sums = ",\n           ".join(
            f"sum(CAST(round(vec[{j + 1}] * d, 9) AS DECIMAL(38,9))) AS s{j}"
            for j in range(dim)
        )
        parts.append(
            f"a{it} AS (\n    SELECT {sums}\n"
            f"    FROM (SELECT vec, round({dot_expr(xref)}, 6) AS d FROM {src})\n)"
        )
        nsq = " + ".join(
            f"CAST(s{j} AS DOUBLE) * CAST(s{j} AS DOUBLE)" for j in range(dim)
        )
        comps = ",\n           ".join(
            f"round(CAST(s{j} AS DOUBLE) / sqrt({nsq}), 9) AS x{j}"
            for j in range(dim)
        )
        parts.append(
            f"x{it} AS (\n    SELECT {comps},\n"
            f"           round(sqrt({nsq}), 4) AS lam\n    FROM a{it}\n)"
        )
        prev = f"x{it}"
    body = ",\n".join(parts)
    sel = "\nUNION ALL\n".join(
        f"SELECT {j} AS dim_idx, x{j} AS loading, lam AS eigenvalue FROM {prev}"
        for j in range(dim)
    )
    return f"WITH {body}\n{sel}"


@register(
    "ss15_power_iteration",
    tags=("simsearch", "stats"),
    oracle=_pi_oracle(),
)
def ss15_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First principal direction of the embedding cloud: 3 unrolled
    power-method rounds on the corpus Gram matrix. Each round is one
    corpus scan collapsing map-side into a single 64-decimal-sum row;
    the iterate rides back as a one-row broadcast (no collect). All
    dots/norms are explicit left-associated chains and component
    products ride DECIMAL(38,9) sums — deterministic at any partition
    count and replayed verbatim by the unrolled-CTE oracle."""
    return simsearch.power_iteration(table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# dq03 — prospective shuffle-key skew profile (the pre-join planning report)
# ---------------------------------------------------------------------------


@register(
    "dq03_key_skew_profile",
    tags=("profile", "skew"),
    oracle=f"""
WITH per_key AS (
    SELECT user_id, ((user_id * 2654435761) % 4294967296) % 32 AS partition_id,
           count(*) AS n
    FROM events GROUP BY 1, 2
),
per_part AS (
    SELECT partition_id,
           count(*) AS n_keys,
           sum(n) AS n_rows,
           max(n) AS max_key_rows
    FROM per_key GROUP BY 1
),
t AS (SELECT sum(n_rows) AS total FROM per_part)
SELECT partition_id, n_keys, CAST(n_rows AS BIGINT) AS n_rows, max_key_rows,
       {rational_rh_sql('n_rows * 1000000', 't.total')} AS row_share_ppm,
       {rational_rh_sql('n_rows * 320000', 't.total')} AS skew_vs_mean_e4
FROM per_part CROSS JOIN t
""",
)
def dq03_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The report to run BEFORE keying a big shuffle on user_id: rows,
    distinct keys, and heaviest single key per PROSPECTIVE hash
    partition (portable Knuth multiplicative hash mod 32 — the same
    family the repo's bucketing uses, so the projection is
    reproducible, not engine-internal), plus each partition's row
    share and its load relative to the mean. skew_vs_mean >> 1 says
    salt-or-AQE before shuffling; max_key_rows says whether ONE key is
    the problem (salting helps) or many medium keys are (more
    partitions help). Shape: per-(key, partition) partial count, then a
    32-row rollup; the grand total rides back as a one-row broadcast —
    the profile costs one aggregation pass, far less than the shuffle
    it de-risks. Round 10: the share/skew ratios are exact
    integer-rational round-half-up divisions in pure BIGINT arithmetic
    (row_share_ppm = rh(n_rows*10^6, total), skew_vs_mean_e4 =
    rh(n_rows*32*10^4, total); functions/portable.rational_rh — no
    double is constructed anywhere, eliminating the entire fp
    hypothesis space on this query's third driver-red row)."""
    ev = table(spark, sf_dir, "events")
    per_key = ev.groupBy(
        "user_id",
        (((F.col("user_id") * F.lit(2654435761)) % F.lit(4294967296)) % 32)
        .alias("partition_id"),
    ).agg(F.count(F.lit(1)).alias("n"))
    per_part = per_key.groupBy("partition_id").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_key_rows"),
    )
    t = per_part.agg(F.sum("n_rows").alias("total"))
    return per_part.crossJoin(F.broadcast(t)).select(
        "partition_id", "n_keys", "n_rows", "max_key_rows",
        rational_rh(F.col("n_rows") * F.lit(1000000), F.col("total"))
        .alias("row_share_ppm"),
        rational_rh(F.col("n_rows") * F.lit(320000), F.col("total"))
        .alias("skew_vs_mean_e4"),
    )


# ---------------------------------------------------------------------------
# dd13 — MinHash estimator calibration (signature vs exact Jaccard)
# ---------------------------------------------------------------------------


@register(
    "dd13_lsh_calibration",
    tags=("dedup",),
    oracle=f"""
WITH {_SH_CTE},
mh AS (
    SELECT doc_id,
           {_MH_MINS}
    FROM sh GROUP BY doc_id
),
bands AS (
    {_MH_BANDS}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
nm AS (
    SELECT cand.doc_a, cand.doc_b, {_MH_MATCHES} AS n_match
    FROM cand JOIN mh x ON x.doc_id = cand.doc_a JOIN mh y ON y.doc_id = cand.doc_b
),
sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
ii AS (
    SELECT n.doc_a, n.doc_b, count(*) AS n_inter
    FROM nm n JOIN sh sa ON sa.doc_id = n.doc_a
    JOIN sh sb ON sb.doc_id = n.doc_b AND sb.shingle = sa.shingle
    GROUP BY 1, 2
),
inter AS (
    SELECT nm.doc_a, nm.doc_b, nm.n_match, coalesce(ii.n_inter, 0) AS n_inter
    FROM nm LEFT JOIN ii ON ii.doc_a = nm.doc_a AND ii.doc_b = nm.doc_b
),
scored AS (
    SELECT n_match,
           round(CAST(n_inter AS DOUBLE) / (x.n_sh + y.n_sh - n_inter), 6) AS jac,
           round(n_match / 9.0, 6) AS est
    FROM inter JOIN sz x ON x.doc_id = inter.doc_a JOIN sz y ON y.doc_id = inter.doc_b
)
SELECT n_match, CAST(count(*) AS BIGINT) AS n_pairs,
       round(CAST(sum(CAST(jac AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_exact,
       round(CAST(sum(CAST(round(abs(est - jac), 6) AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_abs_err
FROM scored GROUP BY 1
""",
)
def dd13_lsh_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-vs-exact Jaccard calibration per matching-slot count —
    the tuning report run before trusting 9-perm/3-band LSH at corpus
    scale (is est within tolerance of exact at the 0.69 threshold
    region?). The exact side computes only on the banded candidate
    pairs (the verify stage a production run executes anyway), so its
    cost is candidate-bounded, never |corpus|². Bucket means are
    DECIMAL-carried."""
    return dedup.lsh_calibration(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# tp05 — sliding-window chunking (RAG-style overlap)
# ---------------------------------------------------------------------------


@register(
    "tp05_sliding_chunks",
    tags=("packing", "text"),
    oracle="""
WITH staged AS (
    SELECT doc_id, source,
           len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS n_tokens
    FROM documents
)
SELECT doc_id, source, n_tokens,
       CAST(i AS INT) AS chunk_idx,
       CAST(i * 96 AS INT) AS start_tok,
       CAST(least(128, n_tokens - i * 96) AS INT) AS chunk_len,
       CAST(CASE WHEN i = 0 THEN least(128, n_tokens)
                 ELSE least(128, n_tokens - i * 96) - 32 END AS INT) AS n_new
FROM (
    SELECT doc_id, source, n_tokens,
           unnest(range(0, greatest(CAST(ceil((n_tokens - 32) / 96.0) AS BIGINT), 1))) AS i
    FROM staged
)
""",
)
def tp05_sliding_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 128-token chunks every 96 tokens (32-token overlap
    both sides of every cut) — the retrieval/RAG splitting rule, vs
    tp03's contiguous training split. A start is emitted only when it
    adds new tokens beyond the previous chunk's coverage. Pure per-row
    sequence+explode: zero shuffles, fuses into the corpus scan."""
    from ntripmonitor_spark.operators.sampling import sliding_chunks

    return sliding_chunks(table(spark, sf_dir, "documents"), window=128, stride=96)


# ---------------------------------------------------------------------------
# sp11 — temporal train/test split with embargo + user-leakage audit
# ---------------------------------------------------------------------------


@register(
    "sp11_temporal_split",
    tags=("sampling",),
    oracle="""
WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
m AS (SELECT min(us) AS mn FROM e),
d AS (
    SELECT user_id, (us - m.mn) // 86400000000 AS day_idx
    FROM e CROSS JOIN m
),
lab AS (
    SELECT user_id, day_idx,
           CASE WHEN day_idx < 21 THEN 'train'
                WHEN day_idx < 22 THEN 'embargo'
                ELSE 'test' END AS split
    FROM d
),
tr_users AS (SELECT DISTINCT user_id FROM lab WHERE split = 'train')
SELECT split,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(min(day_idx) AS BIGINT) AS first_day,
       CAST(max(day_idx) AS BIGINT) AS last_day,
       CAST(count(DISTINCT CASE WHEN user_id IN (SELECT user_id FROM tr_users)
                                THEN user_id END) AS BIGINT) AS n_users_shared_with_train
FROM lab GROUP BY split
""",
)
def sp11_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based train/embargo/test split (days <21 / 21 / >=22 from
    the corpus's first event) with the user-leakage audit: how many of
    each split's users also appear in train. The embargo day absorbs
    boundary-straddling windows (the standard purge for autocorrelated
    features); the shared-user count is the signal that a USER-level
    model still leaks across a purely temporal cut and needs sp08's
    entity-level split instead. Shape: corpus min rides as a one-row
    broadcast; labeling is a scan predicate; the audit is one distinct
    aggregate plus a broadcast-sized train-user semi-join."""
    from ntripmonitor_spark.functions.timeutil import epoch_us

    e = table(spark, sf_dir, "events").select(
        "user_id", epoch_us("ts").alias("us")
    )
    m = e.agg(F.min("us").alias("mn"))
    lab = e.crossJoin(F.broadcast(m)).select(
        "user_id",
        F.expr("(us - mn) div 86400000000").alias("day_idx"),
    ).select(
        "user_id", "day_idx",
        F.when(F.col("day_idx") < 21, "train")
         .when(F.col("day_idx") < 22, "embargo")
         .otherwise("test").alias("split"),
    )
    tr_users = lab.filter(F.col("split") == "train").select("user_id").distinct()
    shared = lab.join(tr_users.withColumnRenamed("user_id", "tu"),
                      lab.user_id == F.col("tu"), "left")
    return shared.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        F.min("day_idx").alias("first_day"),
        F.max("day_idx").alias("last_day"),
        F.count_distinct(F.when(F.col("tu").isNotNull(), F.col("user_id")))
         .alias("n_users_shared_with_train"),
    )


# ---------------------------------------------------------------------------
# dp02 — PSI drift monitor (population stability index per event type)
# ---------------------------------------------------------------------------


@register(
    "dp02_psi_drift",
    tags=("monitoring", "stats"),
    oracle="""
WITH e AS (SELECT event_type, value, epoch_us(ts) AS us FROM events),
m AS (SELECT min(us) AS mn FROM e),
lab AS (
    SELECT event_type,
           CAST(least(CAST(floor(value / 25.0) AS BIGINT), 15) AS BIGINT) AS bin,
           CASE WHEN (us - m.mn) // 86400000000 < 15 THEN 'ref' ELSE 'cur' END AS half
    FROM e CROSS JOIN m
),
c AS (SELECT event_type, bin, half, count(*) AS c FROM lab GROUP BY 1, 2, 3),
types AS (SELECT DISTINCT event_type FROM lab),
grid AS (
    SELECT t.event_type, g.bin
    FROM types t CROSS JOIN (SELECT unnest(range(0, 16)) AS bin) g
),
tot AS (
    SELECT event_type,
           sum(CASE WHEN half = 'ref' THEN c ELSE 0 END) AS n_ref,
           sum(CASE WHEN half = 'cur' THEN c ELSE 0 END) AS n_cur
    FROM c GROUP BY 1
),
filled AS (
    SELECT g.event_type, g.bin, tot.n_ref, tot.n_cur,
           coalesce(max(CASE WHEN c.half = 'ref' THEN c.c END), 0) AS c_ref,
           coalesce(max(CASE WHEN c.half = 'cur' THEN c.c END), 0) AS c_cur
    FROM grid g
    JOIN tot ON tot.event_type = g.event_type
    LEFT JOIN c ON c.event_type = g.event_type AND c.bin = g.bin
    GROUP BY 1, 2, 3, 4
),
terms AS (
    SELECT event_type, n_ref, n_cur,
           round(((c_cur + 0.5) / (n_cur + 8.0) - (c_ref + 0.5) / (n_ref + 8.0))
                 * ln(((c_cur + 0.5) / (n_cur + 8.0)) / ((c_ref + 0.5) / (n_ref + 8.0))),
                 9) AS term
    FROM filled
)
SELECT event_type, CAST(max(n_ref) AS BIGINT) AS n_ref, CAST(max(n_cur) AS BIGINT) AS n_cur,
       round(CAST(sum(CAST(term AS DECIMAL(18,9))) AS DOUBLE), 6) AS psi,
       CAST(round(CAST(sum(CAST(term AS DECIMAL(18,9))) AS DOUBLE), 6) > 0.1 AS INT) AS drift_flag
FROM terms GROUP BY 1
""",
)
def dp02_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event type — THE production
    drift monitor: value distributions of the corpus's first 15 days
    (reference) vs the rest (current) over 16 fixed-width bins,
    PSI = sum((q-p)·ln(q/p)) with add-half smoothing over the full bin
    grid (kl01's discipline — no empty-bin infinities, every bin
    present on both sides). PSI > 0.1 is the canonical
    investigate-drift flag. Per-bin terms are 9-dp rounded and
    DECIMAL-summed so the 16-term total is order-free. Shape: one
    grouped count over a scan predicate + a |types|x16 bounded grid —
    nothing after the first aggregate scales with the corpus."""
    from ntripmonitor_spark.functions.timeutil import epoch_us

    e = table(spark, sf_dir, "events").select(
        "event_type", "value", epoch_us("ts").alias("us")
    )
    m = e.agg(F.min("us").alias("mn"))
    lab = e.crossJoin(F.broadcast(m)).select(
        "event_type",
        F.least(F.floor(F.col("value") / 25.0).cast("long"), F.lit(15).cast("long")).alias("bin"),
        F.when(F.expr("(us - mn) div 86400000000") < 15, "ref").otherwise("cur").alias("half"),
    )
    c = lab.groupBy("event_type", "bin", "half").agg(F.count(F.lit(1)).alias("c"))
    types = lab.select("event_type").distinct()
    grid = types.crossJoin(spark.range(16).select(F.col("id").alias("bin")))
    tot = c.groupBy("event_type").agg(
        F.sum(F.when(F.col("half") == "ref", F.col("c")).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("half") == "cur", F.col("c")).otherwise(0)).alias("n_cur"),
    )
    filled = (
        grid.join(tot, "event_type")
        .join(c, ["event_type", "bin"], "left")
        .groupBy("event_type", "bin", "n_ref", "n_cur")
        .agg(
            F.coalesce(F.max(F.when(F.col("half") == "ref", F.col("c"))), F.lit(0)).alias("c_ref"),
            F.coalesce(F.max(F.when(F.col("half") == "cur", F.col("c"))), F.lit(0)).alias("c_cur"),
        )
    )
    p = (F.col("c_ref") + 0.5) / (F.col("n_ref") + 8.0)
    q = (F.col("c_cur") + 0.5) / (F.col("n_cur") + 8.0)
    term = F.round((q - p) * F.log(q / p), 9)
    psi = F.round(F.sum(term.cast("decimal(18,9)")).cast("double"), 6)
    return filled.groupBy("event_type").agg(
        F.max("n_ref").alias("n_ref"),
        F.max("n_cur").alias("n_cur"),
        psi.alias("psi"),
        (psi > 0.1).cast("int").alias("drift_flag"),
    )


# ---------------------------------------------------------------------------
# ss16 — IVF nprobe tuning sweep: recall@5 across probe budgets
# ---------------------------------------------------------------------------


def _ss16_block(p: int) -> str:
    """One nprobe leg of the sweep oracle — ss08's probe/rank/recall
    CTEs parameterized by the probe budget."""
    return f"""
probes{p} AS (
    SELECT t.vec_id AS query_id, nn.vec AS qv, nn.nrm AS qnrm, t.cid AS cell
    FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS pr
        FROM cd WHERE vec_id < 10
    ) t JOIN n nn ON nn.vec_id = t.vec_id
    WHERE t.pr <= {p}
),
ann_scored{p} AS (
    SELECT pq.query_id, c.vec_id AS neighbor_id,
           round(list_dot_product(pq.qv, c.vec) / (pq.qnrm * c.nrm), 6) AS cos_sim
    FROM corpus c JOIN probes{p} pq ON pq.cell = c.cell
    WHERE c.vec_id <> pq.query_id
),
ann{p} AS (
    SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
        FROM ann_scored{p}
    ) WHERE rank <= 5
),
rec{p} AS (
    SELECT bf.query_id, round(count(ann{p}.neighbor_id) / 5.0, 6) AS recall
    FROM bf LEFT JOIN ann{p}
      ON ann{p}.query_id = bf.query_id AND ann{p}.neighbor_id = bf.neighbor_id
    GROUP BY bf.query_id
)"""


_SS16_NPROBES = (1, 2, 3)


@register(
    "ss16_nprobe_sweep",
    tags=("simsearch",),
    oracle=f"""
WITH {_VEC_CTE},
q AS (SELECT vec_id AS query_id, vec AS qv, nrm AS qn FROM n WHERE vec_id < 10),
bf_scored AS (
    SELECT q.query_id, n.vec_id AS neighbor_id,
           round(list_dot_product(q.qv, n.vec) / (q.qn * n.nrm), 6) AS cos_sim
    FROM q CROSS JOIN n WHERE n.vec_id <> q.query_id
),
bf AS (
    SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
        FROM bf_scored
    ) WHERE rank <= 5
),
{_CELL_CTE},
corpus AS (SELECT n.vec_id, n.vec, n.nrm, cells.cell FROM n JOIN cells USING (vec_id)),
{",".join(_ss16_block(p) for p in _SS16_NPROBES)}
{" UNION ALL ".join(
    f'''SELECT {p} AS nprobe, CAST(count(*) AS BIGINT) AS n_queries,
       round(CAST(sum(CAST(recall AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_recall,
       min(recall) AS min_recall
FROM rec{p}''' for p in _SS16_NPROBES)}
""",
)
def ss16_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tuning curve an IVF deployment reads before fixing its probe
    budget: recall@5 vs brute force at nprobe 1, 2, 3 in one plan. The
    brute-force reference ranking computes ONCE and each leg reuses the
    shared cell assignment — the incremental cost per budget level is
    only that leg's candidate ranking. Per-query recalls ride
    DECIMAL(18,6) into the mean."""
    emb = table(spark, sf_dir, "embeddings")
    legs = []
    for p in _SS16_NPROBES:
        r = simsearch.ann_recall(emb, k_centroids=8, n_queries=10, nprobe=p, k=5)
        legs.append(r.agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.round(
                F.sum(F.col("recall").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)), 6,
            ).alias("avg_recall"),
            F.min("recall").alias("min_recall"),
        ).select(F.lit(p).alias("nprobe"), "n_queries", "avg_recall", "min_recall"))
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


# ---------------------------------------------------------------------------
# tx18 — per-source lexical-diversity profile (TTR + hapax share)
# ---------------------------------------------------------------------------


@register(
    "tx18_lexical_diversity",
    tags=("text",),
    oracle="""
WITH t AS (
    SELECT source,
           list_sort(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS s
    FROM documents
),
m AS (
    SELECT source, len(s) AS n_tokens,
           len(list_filter(range(1, len(s) + 1),
               i -> i = 1 OR s[i] <> s[i - 1])) AS n_types,
           len(list_filter(range(1, len(s) + 1),
               i -> (i = 1 OR s[i] <> s[i - 1])
                    AND (i = len(s) OR s[i] <> s[i + 1]))) AS n_hapax
    FROM t WHERE len(s) > 0
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       round(CAST(sum(CAST(round(CAST(n_types AS DOUBLE) / n_tokens, 9)
                           AS DECIMAL(38,9))) AS DOUBLE) / count(*), 6) AS avg_ttr,
       round(CAST(sum(CAST(round(CAST(n_hapax AS DOUBLE) / n_types, 9)
                           AS DECIMAL(38,9))) AS DOUBLE) / count(*), 6) AS avg_hapax_share
FROM m GROUP BY 1
""",
)
def tx18_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mean type-token ratio and mean hapax share (words
    occurring once in their doc) — corpus-level diversity profile on
    top of tx05's per-doc repetition signals. Distinct/hapax counts
    come from run boundaries of the per-doc SORTED token array (an
    index lambda, no explode), so the only shuffle is the final
    |sources|-row aggregate; per-doc ratios ride 9-dp DECIMAL."""
    return text.lexical_diversity(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# qa04 — winsorized mean per event type
# ---------------------------------------------------------------------------


@register(
    "qa04_winsorized_mean",
    tags=("stats",),
    oracle="""
WITH pct AS (
    SELECT event_type,
           quantile_cont(value, 0.05) AS p_lo,
           quantile_cont(value, 0.95) AS p_hi
    FROM events GROUP BY 1
)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(max(p.p_lo), 6) AS p_lo, round(max(p.p_hi), 6) AS p_hi,
       round(CAST(sum(CAST(round(e.value, 6) AS DECIMAL(38,6))) AS DOUBLE)
             / count(*), 6) AS mean_raw,
       round(CAST(sum(CAST(round(least(greatest(e.value, p.p_lo), p.p_hi), 6)
                           AS DECIMAL(38,6))) AS DOUBLE) / count(*), 6) AS mean_winsor,
       CAST(sum(CASE WHEN e.value < p.p_lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
       CAST(sum(CASE WHEN e.value > p.p_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi
FROM events e JOIN pct p USING (event_type)
GROUP BY 1
""",
)
def qa04_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw vs tail-clipped (p05/p95) mean per event type — the robust
    location estimate published when fat-tail rows would move the
    dashboard; complements qa03, which flags the tail rows instead of
    neutralizing them. One exact-percentile aggregate broadcast back +
    one keyed aggregate; clipped values are 6-dp rounded and
    DECIMAL-summed so the means are float-order-free."""
    from ntripmonitor_spark.operators import stats

    return stats.winsorized_mean(table(spark, sf_dir, "events"),
                                 lo_q=0.05, hi_q=0.95)


# ---------------------------------------------------------------------------
# qa05 — quantiles from mergeable fixed-grid histogram state (round 8)
# ---------------------------------------------------------------------------

_QA05_BINS = 128
_QA05_W = f"((vmax - vmin) / {float(_QA05_BINS)!r})"

# shared base CTEs (e0/ext/v/h/c/r) of the qa05 oracle
QA05_BASE_CTES = f"""
e0 AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
ext AS (SELECT min(CAST(value AS DOUBLE)) AS vmin, max(CAST(value AS DOUBLE)) AS vmax FROM e0),
v AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS v, vmin, vmax FROM e0 CROSS JOIN ext),
h AS (
    SELECT g, vmin, vmax,
           CASE WHEN vmax = vmin THEN 0
                ELSE least(CAST(floor((v - vmin) / {_QA05_W}) AS INT), {_QA05_BINS - 1}) END AS b,
           count(*) AS n
    FROM v GROUP BY 1, 2, 3, 4
),
c AS (
    SELECT g, vmin, vmax, b, n,
           sum(n) OVER (PARTITION BY g ORDER BY b) AS cum,
           sum(n) OVER (PARTITION BY g) AS n_total
    FROM h
),
r AS (
    SELECT event_type AS g, CAST(value AS DOUBLE) AS v,
           row_number() OVER (PARTITION BY event_type ORDER BY CAST(value AS DOUBLE)) AS rk,
           count(*) OVER (PARTITION BY event_type) AS n_g
    FROM e0
)"""


def qa05_est_ppm_sql(q: float) -> str:
    """The histogram-interpolation expression + target predicate pair
    for one quantile over CTE ``c``."""
    target = f"{q!r} * CAST(n_total AS DOUBLE)"
    est = (
        f"CASE WHEN vmax = vmin THEN vmin ELSE "
        f"vmin + CAST(b AS DOUBLE) * {_QA05_W} "
        f"+ {_QA05_W} * ({target} - CAST(cum - n AS DOUBLE)) / CAST(n AS DOUBLE) END"
    )
    p = int(q * 100)
    return f"""
p{p} AS (
    SELECT g, n_total, {quantize_sql(est, 6)} AS est_p{p}_ppm
    FROM (
        SELECT *, row_number() OVER (PARTITION BY g ORDER BY b) AS rk
        FROM c WHERE CAST(cum AS DOUBLE) >= {target}
    ) WHERE rk = 1
)"""


def qa05_exact_ppm_sql(q: float) -> str:
    """The exact rank-interpolation CTE triplet for one quantile over
    CTE ``r``."""
    p = int(q * 100)
    k = f"CAST(floor({q!r} * CAST(n_g - 1 AS DOUBLE)) AS BIGINT)"
    frac = f"({q!r} * CAST(n_g - 1 AS DOUBLE) - CAST({k} AS DOUBLE))"
    return f"""
lo{p} AS (SELECT g, v AS v_lo, {frac} AS frac FROM r WHERE rk = {k} + 1),
hi{p} AS (SELECT g, v AS v_hi FROM r WHERE rk = {k} + 2),
ex{p} AS (
    SELECT lo{p}.g,
           {quantize_sql('v_lo + (coalesce(v_hi, v_lo) - v_lo) * frac', 6)} AS exact_p{p}_ppm
    FROM lo{p} LEFT JOIN hi{p} ON hi{p}.g = lo{p}.g
)"""


def _qa05_oracle(qs=(0.5, 0.9, 0.99)) -> str:
    """Generate the DuckDB twin of stats.histogram_quantiles — every
    double chain in textually identical op order to the Spark side."""
    parts = [QA05_BASE_CTES]
    sel = ["p50.g AS event_type", "CAST(p50.n_total AS BIGINT) AS n"]
    joins = []
    for q in qs:
        p = int(q * 100)
        parts.append(qa05_est_ppm_sql(q))
        parts.append(qa05_exact_ppm_sql(q))
        sel += [f"p{p}.est_p{p}_ppm", f"ex{p}.exact_p{p}_ppm"]
        if p != 50:
            joins.append(f"JOIN p{p} ON p{p}.g = p50.g")
        joins.append(f"JOIN ex{p} ON ex{p}.g = p50.g")
    return (
        "WITH " + ",".join(parts)
        + "\nSELECT " + ", ".join(sel)
        + "\nFROM p50 " + " ".join(joins)
    )


@register(
    "qa05_histogram_quantiles",
    tags=("stats", "sketch"),
    oracle=_qa05_oracle(),
)
def qa05_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 of event value per type from MERGEABLE fixed-grid
    histogram state (128 bins on the global [min, max]), exact
    quantiles alongside — the oracle-gradable form of the 100 TB
    percentile path (stats.approx_quantiles wraps the builtin sketch
    but its state is engine-internal, so it can only be
    tolerance-tested; this estimator's integer bin vector merges across
    partitions/shards/days by addition and reproduces on any engine).
    One tiny [min,max] aggregate fixes the grid, one map-side-combined
    hash aggregate builds the counts (output bounded by groups x 128);
    everything after runs on that bounded relation. The exact leg is an
    explicit rank-interpolation (NOT percentile()/quantile_cont(),
    whose interpolation order can differ by 1 ulp across engines);
    estimates ride quantized-BIGINT millionths (*_ppm columns)."""
    from ntripmonitor_spark.operators import stats

    return stats.histogram_quantiles(table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# dq04 — Benford first-digit screen per event type
# ---------------------------------------------------------------------------


@register(
    "dq04_benford",
    tags=("quality",),
    oracle=f"""
WITH d AS (
    SELECT event_type,
           {first_digit_sql('value')} AS digit
    FROM events WHERE value > 0
),
bd AS (SELECT event_type, digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1, 2),
tt AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS n_tot FROM bd GROUP BY 1),
lt AS (
    SELECT CAST(digit AS INT) AS digit, l10 FROM (VALUES
        {', '.join(f'({d}, {BENFORD_L10[d]})' for d in range(1, 10))}
    ) AS t(digit, l10)
),
sp AS (
    SELECT t.event_type, t.n_tot, g.digit, g.l10
    FROM tt t CROSS JOIN lt g
),
b AS (
    SELECT sp.event_type, sp.n_tot, sp.digit, sp.l10, coalesce(bd.n, 0) AS n
    FROM sp LEFT JOIN bd ON bd.event_type = sp.event_type AND bd.digit = sp.digit
)
SELECT event_type,
       CAST(max(n_tot) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_digits,
       CAST(sum({quantize_sql(
           '(CAST(n AS DOUBLE) - CAST(n_tot AS DOUBLE) * l10)'
           ' * (CAST(n AS DOUBLE) - CAST(n_tot AS DOUBLE) * l10)'
           ' / (CAST(n_tot AS DOUBLE) * l10)', 9)}) AS BIGINT) AS chi2_e9,
       max(CASE WHEN digit = 1 THEN {quantize_sql('CAST(n AS DOUBLE) / CAST(n_tot AS DOUBLE)', 6)} END) AS p_digit1_ppm
FROM b
GROUP BY 1
""",
)
def dq04_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit histogram vs the Benford expectation,
    as a per-type chi-square — the fabricated/corrupted-feed screen
    for financial-style columns. Each type joins a literal 1..9 digit
    spine (missing counts 0), so chi2 is the standard 9-term statistic
    even for sparse groups; n_digits reports the observed-digit count.
    One map-side-combined (type, digit) aggregate + a |types|×9
    reduction. Portability: digit via a literal comparison spine,
    Benford expectations as inline double literals (NO log10/pow —
    libm never runs), chi-square terms floor-quantized to integer
    billionths, BIGINT-summed, and emitted as chi2_e9 / p_digit1_ppm
    integer columns (functions/portable.py)."""
    from ntripmonitor_spark.operators import stats

    return stats.benford_deviation(table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# dd14 — content-defined-chunking dedup statistics
# ---------------------------------------------------------------------------


@register(
    "dd14_cdc_chunks",
    tags=("dedup",),
    oracle="""
WITH w AS (
    SELECT doc_id, source,
           list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
    FROM documents
),
p AS (
    SELECT doc_id, source, i AS pos, toks[i] AS tok
    FROM w, unnest(range(1, len(toks) + 1)) AS u(i)
),
f AS (
    SELECT *, CASE WHEN substr(md5(tok), 1, 1) IN ('0', '8') THEN 1 ELSE 0 END AS b
    FROM p
),
st AS (
    SELECT *, coalesce(sum(b) OVER (
        PARTITION BY doc_id ORDER BY pos
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
    FROM f
),
ch AS (
    SELECT doc_id, source, chunk_id, CAST(count(*) AS BIGINT) AS n_toks,
           md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_h
    FROM st GROUP BY 1, 2, 3
),
sc AS (SELECT *, count(*) OVER (PARTITION BY chunk_h) AS n_occ FROM ch)
SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       round(CAST(sum(CASE WHEN n_occ > 1 THEN n_toks ELSE 0 END) AS BIGINT)
             / CAST(sum(n_toks) AS DOUBLE), 6) AS dup_token_share
FROM sc GROUP BY 1
""",
)
def dd14_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking dedup stats (FastCDC on token streams):
    boundaries fall where md5(token)'s first nibble ∈ {0,8} (1-in-8,
    local content only — an insertion shifts one chunk, not the whole
    tail, which is why CDC beats fixed spans for substring dedup).
    Chunks hash corpus-wide; per source, the token share sitting in
    chunks seen more than once. Three keyed exchanges (doc → chunk →
    hash); the corpus never self-joins."""
    return dedup.cdc_chunk_stats(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# gr05 — triangle counts / clustering coefficient on the co-order graph
# ---------------------------------------------------------------------------


@register(
    "gr05_triangle_stats",
    tags=("graph",),
    oracle="""
WITH e AS (
    SELECT a.l_partkey AS u, b.l_partkey AS v
    FROM lineitem a
    JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2 HAVING count(DISTINCT a.l_orderkey) >= 2
),
tri AS (
    SELECT e1.u AS ta, e1.v AS tb, e2.v AS tc
    FROM e e1
    JOIN e e2 ON e2.u = e1.v
    JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
),
roles AS (
    SELECT ta AS node FROM tri
    UNION ALL SELECT tb FROM tri
    UNION ALL SELECT tc FROM tri
),
tcnt AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM roles GROUP BY 1),
dg AS (
    SELECT node, CAST(count(*) AS BIGINT) AS degree
    FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
    GROUP BY 1
)
SELECT row_number() OVER (ORDER BY t.n_tri DESC, t.node ASC) AS rank,
       t.node, dg.degree, t.n_tri,
       round(2.0 * t.n_tri / (CAST(dg.degree AS DOUBLE) * (dg.degree - 1)), 6)
           AS clustering
FROM tcnt t JOIN dg USING (node)
ORDER BY t.n_tri DESC, t.node ASC LIMIT 20
""",
)
def gr05_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 nodes by triangle participation (plus degree and local
    clustering coefficient) on the part co-order graph — the density
    diagnostic separating clique-like duplicate clusters from
    chain-like hash-collision bleed in a candidate graph. Oriented
    a<b<c enumeration finds each triangle once; the co-count ≥ 2
    floor caps the edge relation (at 100 TB add a hub degree cap —
    documented in `dedup.triangle_stats`)."""
    return dedup.triangle_stats(table(spark, sf_dir, "lineitem"),
                                min_weight=2, k=20)


# ---------------------------------------------------------------------------
# lo02 — zone-map file-skipping estimate: Z-order vs insertion layout
# ---------------------------------------------------------------------------

_LO02_BOX = "av >= 30 AND av <= 70 AND bv >= 50 AND bv <= 200"
_LO02_SCAN = "a_max >= 30 AND a_min <= 70 AND b_max >= 50 AND b_min <= 200"


def _lo02_leg(layout: str, keyexpr: str, lo: str, hi: str) -> str:
    return f"""
SELECT '{layout}' AS layout, CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(CASE WHEN {_LO02_SCAN} THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
       CAST(sum(CASE WHEN {_LO02_SCAN} THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
       CAST(sum(n_match) AS BIGINT) AS rows_matched
FROM (
    SELECT least(CAST(floor(({keyexpr} - rng.{lo}) * 64
                            / greatest(rng.{hi} - rng.{lo} + 1, 1)) AS BIGINT), 63) AS f,
           count(*) AS n_rows, min(av) AS a_min, max(av) AS a_max,
           min(bv) AS b_min, max(bv) AS b_max,
           sum(CASE WHEN {_LO02_BOX} THEN 1 ELSE 0 END) AS n_match
    FROM z CROSS JOIN rng GROUP BY 1
)"""


@register(
    "lo02_pruning_stats",
    tags=("layout",),
    oracle=f"""
WITH s AS (
    SELECT min(CAST(user_id AS DOUBLE)) AS loa, max(CAST(user_id AS DOUBLE)) AS hia,
           min(CAST(value AS DOUBLE)) AS lob, max(CAST(value AS DOUBLE)) AS hib
    FROM events
),
b AS (
    SELECT event_id, CAST(user_id AS DOUBLE) AS av, CAST(value AS DOUBLE) AS bv,
           CAST(floor(least(greatest((CAST(user_id AS DOUBLE) - s.loa)
                / (CASE WHEN s.hia > s.loa THEN s.hia - s.loa ELSE 1 END), 0), 1) * 65535) AS BIGINT) AS xa,
           CAST(floor(least(greatest((CAST(value AS DOUBLE) - s.lob)
                / (CASE WHEN s.hib > s.lob THEN s.hib - s.lob ELSE 1 END), 0), 1) * 65535) AS BIGINT) AS xb
    FROM events CROSS JOIN s
),
z AS (SELECT event_id, av, bv, {_Z_TERMS} AS z FROM b),
rng AS (
    SELECT min(z) AS zmin, max(z) AS zmax,
           min(event_id) AS imin, max(event_id) AS imax
    FROM z
)
{_lo02_leg("zorder", "z.z", "zmin", "zmax")}
UNION ALL
{_lo02_leg("insertion", "z.event_id", "imin", "imax")}
""",
)
def lo02_pruning_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many of 64 files a (user_id ∈ [30,70] AND value ∈ [50,200])
    box query scans under the Z-order layout vs insertion order —
    parquet zone-map pruning quantified without writing a byte (each
    synthetic file mirrors a footer's min/max; a file is scanned iff
    its bounding box intersects the predicate box). Fixed-width
    bucketing keeps file assignment engine-reproducible where
    repartitionByRange's sampled boundaries are not; skew in the
    synthetic files only biases AGAINST z-order, so the reported gain
    is a floor. lo01 builds the code; this is the read-side payoff."""
    from ntripmonitor_spark.functions.zorder import pruning_stats

    return pruning_stats(table(spark, sf_dir, "events"), "user_id", "value",
                         30.0, 70.0, 50.0, 200.0, n_files=64)


# ---------------------------------------------------------------------------
# an07 — peaks-over-threshold mean excess (EVT tail diagnostics)
# ---------------------------------------------------------------------------


@register(
    "an07_mean_excess",
    tags=("stats", "timeseries"),
    oracle="""
WITH thr AS (
    SELECT event_type, quantile_cont(value, 0.95) AS u FROM events GROUP BY 1
)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS n_exceed,
       round(max(t.u), 6) AS threshold,
       round(CAST(sum(CAST(round(e.value - t.u, 6) AS DECIMAL(38,6))) AS DOUBLE)
             / count(*), 6) AS mean_excess,
       round(max(e.value), 6) AS max_value
FROM events e JOIN thr t USING (event_type)
WHERE e.value > t.u
GROUP BY 1
""",
)
def an07_mean_excess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peaks-over-threshold summary per event type: exceedances over
    the exact p95, their mean excess, and the max — the extreme-value
    diagnostic (linear mean excess ⇒ generalized-Pareto tail) that
    MEASURES the tail qa04 clips. The threshold filter drops the body
    of the distribution before the exceedance aggregate shuffles."""
    from ntripmonitor_spark.operators import stats

    return stats.mean_excess(table(spark, sf_dir, "events"), q=0.95)


# ---------------------------------------------------------------------------
# ss17 — radius (range) search over the IVF cells
# ---------------------------------------------------------------------------


@register(
    "ss17_radius_search",
    tags=("simsearch",),
    oracle=f"""
WITH {_VEC_CTE},
seeds AS (SELECT vec_id AS cid, vec AS sv FROM v WHERE vec_id < 8),
d AS (
    SELECT v.vec_id, seeds.cid,
           round(list_sum(list_transform(range(1, 65),
               i -> (v.vec[i] - seeds.sv[i]) * (v.vec[i] - seeds.sv[i]))), 6) AS dist
    FROM v CROSS JOIN seeds
),
corpus AS (
    SELECT n.vec_id, n.vec, n.nrm, a.cell
    FROM n JOIN (
        SELECT vec_id, cid AS cell FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rk
            FROM d
        ) WHERE rk = 1
    ) a ON a.vec_id = n.vec_id
),
probes AS (
    SELECT t.vec_id AS query_id, nn.vec AS qv, nn.nrm AS qnrm, t.cid AS cell
    FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS pr
        FROM d WHERE vec_id < 10
    ) t JOIN n nn ON nn.vec_id = t.vec_id
    WHERE t.pr <= 2
)
SELECT p.query_id, c.vec_id AS neighbor_id,
       round(list_dot_product(p.qv, c.vec) / (p.qnrm * c.nrm), 6) AS cos_sim
FROM corpus c JOIN probes p ON p.cell = c.cell
WHERE c.vec_id <> p.query_id
  AND round(list_dot_product(p.qv, c.vec) / (p.qnrm * c.nrm), 6) >= 0.35
""",
)
def ss17_radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius search: every candidate within cosine ≥ 0.35 of each of
    the 10 query vectors, generated from the same IVF cell probes as
    ss06 — but the cut is a pure predicate on the rounded cosine, so
    there is NO ranking window at all: result size is data-dependent
    (the dedup-style "everything this close" serving mode) and the
    plan is embarrassingly parallel at any scale."""
    return simsearch.ivf_radius(table(spark, sf_dir, "embeddings"),
                                tau=0.35, k_centroids=8, n_queries=10, nprobe=2)


# ---------------------------------------------------------------------------
# gr06 — k-core peeling on the co-order graph
# ---------------------------------------------------------------------------


def _gr06_round(i: int) -> str:
    prev = f"e{i - 1}"
    return f"""
d{i} AS (
    SELECT node, count(*) AS deg
    FROM (SELECT u AS node FROM {prev} UNION ALL SELECT v AS node FROM {prev})
    GROUP BY 1
),
k{i} AS (SELECT node FROM d{i} WHERE deg >= 3),
e{i} AS (
    SELECT {prev}.u, {prev}.v
    FROM {prev}
    JOIN k{i} a ON a.node = {prev}.u
    JOIN k{i} b ON b.node = {prev}.v
)"""


@register(
    "gr06_kcore",
    tags=("graph",),
    oracle=f"""
WITH e0 AS (
    SELECT a.l_partkey AS u, b.l_partkey AS v
    FROM lineitem a
    JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2 HAVING count(DISTINCT a.l_orderkey) >= 2
),
{",".join(_gr06_round(i) for i in (1, 2, 3))}
SELECT node, CAST(count(*) AS BIGINT) AS core_deg
FROM (SELECT u AS node FROM e3 UNION ALL SELECT v AS node FROM e3)
GROUP BY 1
ORDER BY core_deg DESC, node ASC
""",
)
def gr06_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three peeling rounds toward the 3-core of the part co-order
    graph: drop degree<3 nodes and their edges each round — the
    dense-subgraph filter a dedup graph runs before trusting CC
    components (bridges and collision chains peel away; cliques
    survive). Fixed unroll like gr04's budget: one degree aggregate +
    two semi-joins per round over the shrinking survivor set, edges
    persisted between rounds."""
    edges = dedup.co_order_edges(table(spark, sf_dir, "lineitem"), min_weight=2)
    return dedup.kcore_peel(edges, k=3, rounds=3)


# ---------------------------------------------------------------------------
# tp06 — fill-in-the-middle training splits
# ---------------------------------------------------------------------------


@register(
    "tp06_fim_split",
    tags=("packing",),
    oracle="""
WITH t AS (
    SELECT doc_id, source,
           list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
    FROM documents
),
s AS (
    SELECT doc_id, source, len(ws) AS n_tokens, ws,
           (doc_id * 2654435761) % 4294967296 AS h1,
           ((doc_id + 1) * 2654435761) % 4294967296 AS h2
    FROM t WHERE len(ws) >= 3
),
c AS (
    SELECT *,
           least(h1 % (n_tokens + 1), h2 % (n_tokens + 1)) AS lo,
           greatest(h1 % (n_tokens + 1), h2 % (n_tokens + 1)) AS hi
    FROM s
)
SELECT doc_id, source, n_tokens,
       lo AS cut_lo, hi AS cut_hi,
       lo AS len_prefix, hi - lo AS len_middle, n_tokens - hi AS len_suffix,
       CASE WHEN h1 % 2 = 0 THEN 'psm' ELSE 'spm' END AS mode,
       md5(coalesce(array_to_string(list_slice(ws, lo + 1, hi), ' '), '')) AS middle_fp
FROM c
""",
)
def tp06_fim_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle splits: two deterministic uniform cut points
    per doc (Knuth hash of the id — a new doc never moves an existing
    split, unlike an RNG transform) + the PSM/SPM mode flag from the
    hash parity. Pure column expressions: zero exchanges, fuses into
    the export scan; the middle segment's md5 makes the split itself
    value-checked, not just the lengths."""
    from ntripmonitor_spark.operators import sampling

    return sampling.fim_split(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# an08 — lag-k autocorrelation of the hourly series
# ---------------------------------------------------------------------------


def _an08_leg(k: int) -> str:
    return f"""
SELECT event_type, {k} AS lag,
       CAST(sum(CASE WHEN x_lead{k} IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
       round(CASE WHEN CAST(sum(CAST(round((x - mu) * (x - mu), 9) AS DECIMAL(38,9))) AS DOUBLE) > 0
             THEN CAST(sum(CASE WHEN x_lead{k} IS NOT NULL
                  THEN CAST(round((x - mu) * (x_lead{k} - mu), 9) AS DECIMAL(38,9)) END) AS DOUBLE)
             / CAST(sum(CAST(round((x - mu) * (x - mu), 9) AS DECIMAL(38,9))) AS DOUBLE) END, 6) AS acf
FROM led GROUP BY 1"""


@register(
    "an08_autocorrelation",
    tags=("timeseries",),
    oracle=f"""
WITH series AS (
    SELECT event_type, CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS bkt,
           round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / count(*), 6) AS x
    FROM events GROUP BY 1, 2
),
mu_rel AS (
    SELECT event_type,
           CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS mu
    FROM series GROUP BY 1
),
led AS (
    SELECT s.event_type, s.bkt, s.x, m.mu,
           lead(s.x, 1) OVER w AS x_lead1,
           lead(s.x, 2) OVER w AS x_lead2,
           lead(s.x, 3) OVER w AS x_lead3
    FROM series s JOIN mu_rel m USING (event_type)
    WINDOW w AS (PARTITION BY s.event_type ORDER BY s.bkt)
)
{_an08_leg(1)} UNION ALL {_an08_leg(2)} UNION ALL {_an08_leg(3)}
""",
)
def an08_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1/2/3 autocorrelation of each event type's hourly mean
    series — the ACF read before trusting an EWMA or seasonal model.
    The bucket aggregate collapses the corpus first; all three lags
    come from ONE keyed window pass (one lead per lag on the shared
    sort); deviation products ride 9-dp DECIMAL so the quotients are
    summation-order-free."""
    return timeseries_ops.autocorrelation(table(spark, sf_dir, "events"),
                                          lags=(1, 2, 3), bucket_s=3600)


# ---------------------------------------------------------------------------
# tk02 — tokenizer fertility by (source, lang)
# ---------------------------------------------------------------------------


@register(
    "tk02_fertility",
    tags=("text",),
    oracle=f"""
WITH t AS (
    SELECT source, lang,
           len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS n_ws,
           len(regexp_extract_all(lower(text), '{text.BPE_PATTERN}')) AS n_bpe
    FROM documents
)
SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_ws) AS BIGINT) AS ws_tokens,
       CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens,
       round(CAST(sum(n_bpe) AS BIGINT) / CAST(sum(n_ws) AS DOUBLE), 6) AS fertility
FROM t GROUP BY 1, 2
""",
)
def tk02_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish tokens per whitespace word by (source, lang) — the cost
    model that prices token budgets for mixing (a high-fertility slice
    consumes more budget per word). One scan of column expressions +
    one small keyed aggregate; integer totals divide once per row."""
    return text.tokenizer_fertility(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# er05 — golden-record survivorship over er02's entity clusters
# ---------------------------------------------------------------------------


@register(
    "er05_golden_record",
    tags=("dedup", "linkage"),
    oracle="""
WITH RECURSIVE s AS (
    SELECT c_custkey AS rec_id, c_name AS nm,
           substring(c_name, 1, length(c_name) - 2) AS blk,
           c_acctbal, c_mktsegment, c_nationkey
    FROM customer
),
e AS (
    SELECT a.rec_id AS ra, b.rec_id AS rb
    FROM s a JOIN s b ON a.blk = b.blk AND a.rec_id < b.rec_id
    WHERE levenshtein(a.nm, b.nm) <= 1
),
edges AS (SELECT ra AS a, rb AS b FROM e UNION ALL SELECT rb, ra FROM e),
reach(id, r) AS (
    SELECT rec_id, rec_id FROM s
    UNION
    SELECT reach.id, ed.b FROM reach JOIN edges ed ON reach.r = ed.a
),
cl AS (SELECT id AS rec_id, min(r) AS entity_id FROM reach GROUP BY 1),
m AS (
    SELECT cl.entity_id, cl.rec_id, s.nm, s.c_acctbal, s.c_mktsegment, s.c_nationkey
    FROM cl JOIN s ON s.rec_id = cl.rec_id
),
base AS (
    SELECT entity_id, CAST(count(*) AS BIGINT) AS n_records,
           max(CASE WHEN rec_id = entity_id THEN nm END) AS canonical_name,
           round(max(c_acctbal), 2) AS max_acctbal,
           CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_nations
    FROM m GROUP BY 1
),
segc AS (SELECT entity_id, c_mktsegment, count(*) AS n_seg FROM m GROUP BY 1, 2),
modal AS (
    SELECT entity_id, c_mktsegment AS segment FROM (
        SELECT *, row_number() OVER (
            PARTITION BY entity_id ORDER BY n_seg DESC, c_mktsegment ASC
        ) AS rn FROM segc
    ) WHERE rn = 1
)
SELECT base.entity_id, base.n_records, base.canonical_name,
       base.max_acctbal, modal.segment, base.n_nations
FROM base JOIN modal USING (entity_id)
""",
)
def er05_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merged master row per resolved entity: canonical name from
    the min-id member, MAX balance, MAJORITY market segment (ties →
    lexicographic), distinct-nation count as a conflict flag — the
    survivorship step after er02's clustering, under explicit
    deterministic rules instead of 'first record wins'. Same blocked
    edges + pointer-doubling CC; everything after is entity-keyed."""
    return dedup.golden_record(table(spark, sf_dir, "customer"))


# ---------------------------------------------------------------------------
# fn08 — rolling 7-day active users (distinct-over-sliding-window)
# ---------------------------------------------------------------------------


@register(
    "fn08_rolling_dau",
    tags=("funnel", "timeseries"),
    oracle="""
WITH daily AS (
    SELECT DISTINCT CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
           user_id AS uid
    FROM events
),
spine AS (SELECT DISTINCT day FROM daily),
contrib AS (
    SELECT u.obs_day, d.day, d.uid
    FROM daily d, unnest(generate_series(d.day, d.day + 6)) AS u(obs_day)
    WHERE u.obs_day IN (SELECT day FROM spine)
)
SELECT obs_day AS day,
       CAST(count(DISTINCT CASE WHEN day = obs_day THEN uid END) AS BIGINT) AS dau,
       CAST(count(DISTINCT uid) AS BIGINT) AS wau,
       round(count(DISTINCT CASE WHEN day = obs_day THEN uid END)
             / CAST(count(DISTINCT uid) AS DOUBLE), 6) AS stickiness
FROM contrib GROUP BY 1
""",
)
def fn08_rolling_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per day + DAU/WAU stickiness.
    Distinct-over-sliding-window does not decompose into daily
    distincts, so the plan dedups to (day, user) and lets each pair
    CONTRIBUTE itself to its 7 window-end days via a bounded
    sequence-explode — one (day)-keyed count-distinct finishes.
    Linear, shuffle-friendly, and NO range-condition join (which
    would plan as a nested loop against the day spine)."""
    return timeseries_ops.rolling_active_users(table(spark, sf_dir, "events"),
                                               window_days=7)


# ---------------------------------------------------------------------------
# lo03 — layout × predicate pruning matrix (Z-order vs 1-D sort vs insertion)
# ---------------------------------------------------------------------------

_LO03_PREDS = {
    "user_band": (30.0, 70.0, 0.0, 1e9),
    "value_band": (0.0, 1e9, 50.0, 60.0),
    "box": (30.0, 70.0, 50.0, 200.0),
}

_LO03_FEXPR = {
    "zorder": ("least(CAST(floor((z.z - rng.zmin) * 64 "
               "/ greatest(rng.zmax - rng.zmin + 1, 1)) AS BIGINT), 63)"),
    "sort_a": ("least(CAST(floor((z.av - rng.alo) * 64 "
               "/ (CASE WHEN rng.ahi > rng.alo THEN rng.ahi - rng.alo ELSE 1 END)) "
               "AS BIGINT), 63)"),
    "insertion": ("least(CAST(floor((z.event_id - rng.imin) * 64 "
                  "/ greatest(rng.imax - rng.imin + 1, 1)) AS BIGINT), 63)"),
}


def _lo03_leg(layout: str, pred: str) -> str:
    alo, ahi, blo, bhi = _LO03_PREDS[pred]
    scan = f"a_max >= {alo} AND a_min <= {ahi} AND b_max >= {blo} AND b_min <= {bhi}"
    hit = f"av >= {alo} AND av <= {ahi} AND bv >= {blo} AND bv <= {bhi}"
    return f"""
SELECT '{layout}' AS layout, '{pred}' AS predicate,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(CASE WHEN {scan} THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
       CAST(sum(CASE WHEN {scan} THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
       CAST(sum(m) AS BIGINT) AS rows_matched
FROM (
    SELECT {_LO03_FEXPR[layout]} AS f, count(*) AS n_rows,
           min(av) AS a_min, max(av) AS a_max, min(bv) AS b_min, max(bv) AS b_max,
           sum(CASE WHEN {hit} THEN 1 ELSE 0 END) AS m
    FROM z CROSS JOIN rng GROUP BY 1
)"""


@register(
    "lo03_layout_matrix",
    tags=("layout",),
    oracle=f"""
WITH s AS (
    SELECT min(CAST(user_id AS DOUBLE)) AS loa, max(CAST(user_id AS DOUBLE)) AS hia,
           min(CAST(value AS DOUBLE)) AS lob, max(CAST(value AS DOUBLE)) AS hib
    FROM events
),
b AS (
    SELECT event_id, CAST(user_id AS DOUBLE) AS av, CAST(value AS DOUBLE) AS bv,
           CAST(floor(least(greatest((CAST(user_id AS DOUBLE) - s.loa)
                / (CASE WHEN s.hia > s.loa THEN s.hia - s.loa ELSE 1 END), 0), 1) * 65535) AS BIGINT) AS xa,
           CAST(floor(least(greatest((CAST(value AS DOUBLE) - s.lob)
                / (CASE WHEN s.hib > s.lob THEN s.hib - s.lob ELSE 1 END), 0), 1) * 65535) AS BIGINT) AS xb
    FROM events CROSS JOIN s
),
z AS (SELECT event_id, av, bv, {_Z_TERMS} AS z FROM b),
rng AS (
    SELECT min(z) AS zmin, max(z) AS zmax,
           min(event_id) AS imin, max(event_id) AS imax,
           min(av) AS alo, max(av) AS ahi
    FROM z
)
{" UNION ALL ".join(_lo03_leg(layout, pred)
                    for layout in ("zorder", "sort_a", "insertion")
                    for pred in ("user_band", "value_band", "box"))}
""",
)
def lo03_layout_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The layout-choice study lo02 is one cell of: files/rows scanned
    for every (layout × predicate) pair over Z-ORDER(user, value),
    1-D SORT(user), and insertion order — quantifying the classic
    rule: the 1-D sort wins narrowly on its own column, collapses on
    2-D boxes; Z-order stays near the sort on 1-D predicates and far
    ahead on 2-D. One scan per layout; every predicate is a flag
    column in the same per-file zone-map aggregate."""
    from ntripmonitor_spark.functions.zorder import layout_matrix

    return layout_matrix(table(spark, sf_dir, "events"), "user_id", "value",
                         _LO03_PREDS, n_files=64)


# ---------------------------------------------------------------------------
# tp07 — curriculum ordering by quality tercile
# ---------------------------------------------------------------------------


@register(
    "tp07_curriculum_order",
    tags=("packing", "sampling"),
    oracle="""
WITH w AS (
    SELECT doc_id, text, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
    FROM documents
),
q AS (
    SELECT doc_id,
           round(0.4 * (CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / length(text))
               + 0.3 * (1 - CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text))
               + 0.2 * (CAST(len(list_filter(ws, x -> x IN ('the', 'a', 'of', 'and', 'is'))) AS DOUBLE) / len(ws))
               + 0.1 * (1 - CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text)), 6) AS q
    FROM w
),
thr AS (
    SELECT round(quantile_cont(q, 0.3333333333), 6) AS p33,
           round(quantile_cont(q, 0.6666666667), 6) AS p66
    FROM q
)
SELECT q.doc_id, q.q AS quality,
       CAST(CASE WHEN q.q < thr.p33 THEN 0
                 WHEN q.q < thr.p66 THEN 1 ELSE 2 END AS INT) AS phase,
       (q.doc_id * 2654435761) % 4294967296 AS order_key,
       CAST(CASE WHEN q.q < thr.p33 THEN 0
                 WHEN q.q < thr.p66 THEN 1 ELSE 2 END AS BIGINT) * 4294967296
           + (q.doc_id * 2654435761) % 4294967296 AS position
FROM q CROSS JOIN thr
""",
)
def tp07_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering: easy→hard training phases by quality
    tercile (exact percentile thresholds, 6-dp rounded on both sides
    of every comparison so the phase cut is cross-engine exact), with
    a deterministic Knuth-hash shuffle WITHIN each phase — position =
    phase·2³² + hash(id), one global sort key a writer can
    repartitionByRange on. A new document lands in its phase without
    moving any existing document (contrast RNG shuffles). One tiny
    percentile aggregate broadcast back; everything else is column
    arithmetic."""
    from ntripmonitor_spark.operators.sampling import KNUTH
    from ntripmonitor_spark.operators.text import quality_score_col

    docs = table(spark, sf_dir, "documents")
    q = docs.select("doc_id", quality_score_col(F.col("text")).alias("q"))
    thr = q.agg(
        F.round(F.expr("percentile(q, 0.3333333333)"), 6).alias("p33"),
        F.round(F.expr("percentile(q, 0.6666666667)"), 6).alias("p66"),
    )
    j = q.crossJoin(F.broadcast(thr))
    phase = (
        F.when(F.col("q") < F.col("p33"), 0)
        .when(F.col("q") < F.col("p66"), 1)
        .otherwise(2)
    )
    okey = F.pmod(F.col("doc_id").cast("long") * F.lit(KNUTH), F.lit(1 << 32))
    return j.select(
        "doc_id", F.col("q").alias("quality"),
        phase.cast("int").alias("phase"),
        okey.alias("order_key"),
        (phase.cast("long") * F.lit(1 << 32) + okey).alias("position"),
    )


# ---------------------------------------------------------------------------
# cu06 — quality-gate threshold sweep (yield curve)
# ---------------------------------------------------------------------------

_CU06_THRESHOLDS = tuple(t / 10 for t in range(1, 10))

_CU06_QSCORE = """
    SELECT doc_id,
           len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS n_toks,
           round(0.4 * (CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / length(text))
               + 0.3 * (1 - CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text))
               + 0.2 * (CAST(len(list_filter(list_filter(string_split(lower(text), ' '), x -> x <> ''),
                                             x -> x IN ('the', 'a', 'of', 'and', 'is'))) AS DOUBLE)
                        / len(list_filter(string_split(lower(text), ' '), x -> x <> '')))
               + 0.1 * (1 - CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text)), 6) AS q
    FROM documents
"""


@register(
    "cu06_threshold_sweep",
    tags=("curation",),
    oracle=f"""
WITH q AS ({_CU06_QSCORE}),
agg AS (
    SELECT CAST(count(*) AS BIGINT) AS total_docs,
           CAST(sum(n_toks) AS BIGINT) AS total_toks,
           {", ".join(
               f"CAST(sum(CASE WHEN q >= {t} THEN 1 ELSE 0 END) AS BIGINT) AS d{i},"
               f" CAST(sum(CASE WHEN q >= {t} THEN n_toks ELSE 0 END) AS BIGINT) AS k{i}"
               for i, t in enumerate(_CU06_THRESHOLDS))}
    FROM q
)
{" UNION ALL ".join(
    f'''SELECT CAST({t} AS DOUBLE) AS threshold, d{i} AS docs_kept, k{i} AS tokens_kept,
       round(d{i} / CAST(total_docs AS DOUBLE), 6) AS doc_share,
       round(k{i} / CAST(total_toks AS DOUBLE), 6) AS token_share
FROM agg''' for i, t in enumerate(_CU06_THRESHOLDS))}
""",
)
def cu06_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The yield curve read before fixing a quality gate: docs and
    tokens surviving each candidate threshold 0.1..0.9, as shares of
    the corpus. ONE corpus scan computes all nine thresholds (each is
    a pair of flag sums in the same map-side-combined aggregate — a
    threshold costs two columns, not a scan); the nine output rows
    unpivot from that single-row aggregate."""
    from ntripmonitor_spark.operators.dedup import normalized_words
    from ntripmonitor_spark.operators.text import quality_score_col

    docs = table(spark, sf_dir, "documents")
    staged = docs.select(
        F.size(normalized_words(F.col("text"))).alias("n_toks"),
        quality_score_col(F.col("text")).alias("q"),
    )
    aggs = [
        F.count(F.lit(1)).alias("total_docs"),
        F.sum("n_toks").alias("total_toks"),
    ]
    for i, t in enumerate(_CU06_THRESHOLDS):
        aggs.append(F.sum(F.when(F.col("q") >= t, 1).otherwise(0)).alias(f"d{i}"))
        aggs.append(F.sum(F.when(F.col("q") >= t, F.col("n_toks")).otherwise(0)).alias(f"k{i}"))
    one = staged.agg(*aggs)
    legs = [
        one.select(
            F.lit(t).alias("threshold"),
            F.col(f"d{i}").alias("docs_kept"),
            F.col(f"k{i}").alias("tokens_kept"),
            F.round(F.col(f"d{i}") / F.col("total_docs").cast("double"), 6).alias("doc_share"),
            F.round(F.col(f"k{i}") / F.col("total_toks").cast("double"), 6).alias("token_share"),
        )
        for i, t in enumerate(_CU06_THRESHOLDS)
    ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


# ---------------------------------------------------------------------------
# dd15 — duplicate token inflation per source
# ---------------------------------------------------------------------------


@register(
    "dd15_dup_inflation",
    tags=("dedup",),
    oracle="""
WITH d AS (
    SELECT doc_id, source, md5(text) AS fp,
           len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS n_toks,
           min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
    FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
       CAST(sum(n_toks) AS BIGINT) AS total_tokens,
       CAST(sum(CASE WHEN doc_id <> keep_id THEN n_toks ELSE 0 END) AS BIGINT) AS dup_tokens,
       round(sum(CASE WHEN doc_id <> keep_id THEN n_toks ELSE 0 END)
             / CAST(sum(n_toks) AS DOUBLE), 6) AS inflation
FROM d GROUP BY 1
""",
)
def dd15_dup_inflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What exact duplicates actually COST per source: the token share
    a training run would spend re-seeing copies (survivor = min-id per
    content fingerprint, dd01's rule). The budget-denominated report a
    dedup decision is made on — cluster counts (dd01/dd06) say how
    many, this says how much compute. One fp-keyed window + one
    source-keyed aggregate."""
    return dedup.dup_token_inflation(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# dq06 — referential-integrity audit across the star schema
# ---------------------------------------------------------------------------

_DQ06_EDGES = (
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
)


@register(
    "dq06_referential_integrity",
    tags=("quality",),
    oracle=" UNION ALL ".join(
        # the parent side is DISTINCT-projected to mirror the Spark
        # plan's .distinct() exactly — without it the two engines only
        # agree because TPC-H parent keys happen to be unique (a
        # duplicated parent key would inflate n_child in a raw join)
        f"""
SELECT '{edge}' AS fk_edge,
       CAST(count(*) AS BIGINT) AS n_child,
       CAST(sum(CASE WHEN p.{pkey} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
       round(1.0 - sum(CASE WHEN p.{pkey} IS NULL THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS fk_coverage
FROM {child} c
LEFT JOIN (SELECT DISTINCT {pkey} FROM {parent}) p ON p.{pkey} = c.{ckey}"""
        for edge, child, ckey, parent, pkey in _DQ06_EDGES
    ),
)
def dq06_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan audit over every FK edge of the star schema — the
    load-order/late-arrival check a warehouse runs after ingest (the
    reference trusts Postgres FKs; a lakehouse must ASSERT them). One
    row per edge: child rows, orphans, coverage. Each edge is a left
    join probing the parent key — dims broadcast, the fact-to-orders
    edge hash-joins on the key; orphan counting rides the same join,
    no second scan."""
    legs = []
    for edge, child, ckey, parent, pkey in _DQ06_EDGES:
        c = table(spark, sf_dir, child).select(F.col(ckey).alias("_ck"))
        p = table(spark, sf_dir, parent).select(F.col(pkey).alias("_pk")).distinct()
        joined = c.join(p, c["_ck"] == p["_pk"], "left")
        legs.append(
            joined.agg(
                F.count(F.lit(1)).alias("n_child"),
                F.sum(F.when(F.col("_pk").isNull(), 1).otherwise(0)).alias("n_orphans"),
            ).select(
                F.lit(edge).alias("fk_edge"), "n_child", "n_orphans",
                F.round(
                    F.lit(1.0) - F.col("n_orphans") / F.col("n_child").cast("double"), 6,
                ).alias("fk_coverage"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


# ---------------------------------------------------------------------------
# mk02 — behavioral-sequence anomaly scoring under the Markov matrix
# ---------------------------------------------------------------------------


@register(
    "mk02_sequence_nll",
    tags=("timeseries",),
    oracle="""
WITH s AS (
    SELECT user_id, event_type AS next_type,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
               AS prev_type
    FROM events
),
steps AS (SELECT user_id, prev_type, next_type FROM s WHERE prev_type IS NOT NULL),
c AS (SELECT prev_type, next_type, count(*) AS n FROM steps GROUP BY 1, 2),
m AS (
    SELECT prev_type, next_type,
           n / sum(n) OVER (PARTITION BY prev_type) AS p
    FROM c
),
scored AS (
    SELECT st.user_id, CAST(count(*) AS BIGINT) AS n_steps,
           round(CAST(sum(CAST(round(-log2(m.p), 9) AS DECIMAL(38,9))) AS DOUBLE)
                 / count(*), 6) AS mean_nll
    FROM steps st JOIN m USING (prev_type, next_type)
    GROUP BY 1 HAVING count(*) >= 5
)
SELECT row_number() OVER (ORDER BY mean_nll DESC, user_id ASC) AS rank,
       user_id, n_steps, mean_nll
FROM scored ORDER BY mean_nll DESC, user_id ASC LIMIT 20
""",
)
def mk02_sequence_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 users whose event-type SEQUENCE is most surprising under
    the corpus transition matrix (mean −log2 P(next|prev)) — the
    behavioral-anomaly complement of mk01's matrix itself. One lag
    window keyed by user, the 25-row matrix broadcast back, per-step
    surprisals 9-dp rounded into DECIMAL sums, TakeOrderedAndProject
    cut on the rounded score."""
    return timeseries_ops.sequence_nll(table(spark, sf_dir, "events"),
                                       min_steps=5, k=20)


# ---------------------------------------------------------------------------
# cu07 — independent-gate ablation (unique vs shared removals)
# ---------------------------------------------------------------------------


@register(
    "cu07_gate_ablation",
    tags=("curation",),
    oracle="""
WITH w AS (
    SELECT doc_id, text, source,
           list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
    FROM documents
),
flags AS (
    SELECT doc_id,
           CASE WHEN round(
               0.4 * (CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / length(text))
             + 0.3 * (1 - CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text))
             + 0.2 * (CAST(len(list_filter(ws, x -> x IN ('the', 'a', 'of', 'and', 'is'))) AS DOUBLE) / len(ws))
             + 0.1 * (1 - CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text)), 6
           ) < 0.5 THEN 1 ELSE 0 END AS g_quality,
           CASE WHEN doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) THEN 1 ELSE 0 END AS g_dup,
           CASE WHEN len(ws) < 20 OR len(ws) > 400 THEN 1 ELSE 0 END AS g_length
    FROM w
),
tot AS (
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN g_quality + g_dup + g_length > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_removed
    FROM flags
)
SELECT g.gate, g.n_flagged, g.n_only, tot.n_docs, tot.n_removed FROM (
    SELECT 'quality' AS gate,
           CAST(sum(g_quality) AS BIGINT) AS n_flagged,
           CAST(sum(CASE WHEN g_quality = 1 AND g_dup = 0 AND g_length = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_only
    FROM flags
    UNION ALL
    SELECT 'dup',
           CAST(sum(g_dup) AS BIGINT),
           CAST(sum(CASE WHEN g_dup = 1 AND g_quality = 0 AND g_length = 0
                    THEN 1 ELSE 0 END) AS BIGINT)
    FROM flags
    UNION ALL
    SELECT 'length',
           CAST(sum(g_length) AS BIGINT),
           CAST(sum(CASE WHEN g_length = 1 AND g_quality = 0 AND g_dup = 0
                    THEN 1 ELSE 0 END) AS BIGINT)
    FROM flags
) g CROSS JOIN tot
""",
)
def cu07_gate_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate ablation for the curation funnel: every gate evaluated
    INDEPENDENTLY per doc (quality < 0.5, exact-dup non-survivor,
    length outside 20..400 tokens), reporting per gate the total
    flagged and — the ablation number — how many docs ONLY that gate
    catches (drop it and exactly those documents leak back in).
    cu04's first-drop audit shows funnel ORDER; this shows funnel
    NECESSITY. One scan computes all flags (the dup flag is dd15's
    fingerprint window); the three output rows unpivot from flag
    sums."""
    from ntripmonitor_spark.operators.dedup import normalized_words
    from ntripmonitor_spark.operators.text import quality_score_col
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    nw = F.size(normalized_words(F.col("text")))
    flags = docs.select(
        "doc_id",
        (quality_score_col(F.col("text")) < 0.5).cast("int").alias("g_quality"),
        (F.col("doc_id") != F.min("doc_id").over(
            W.partitionBy(F.md5(F.col("text").cast("binary")))
        )).cast("int").alias("g_dup"),
        ((nw < 20) | (nw > 400)).cast("int").alias("g_length"),
    )
    tot = flags.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("g_quality") + F.col("g_dup") + F.col("g_length") > 0, 1)
              .otherwise(0)).alias("n_removed"),
    )
    gates = ("quality", "dup", "length")
    legs = []
    for g in gates:
        others = [f"g_{o}" for o in gates if o != g]
        legs.append(
            flags.agg(
                F.sum(f"g_{g}").alias("n_flagged"),
                F.sum(
                    F.when((F.col(f"g_{g}") == 1)
                           & (F.col(others[0]) == 0) & (F.col(others[1]) == 0), 1)
                    .otherwise(0)
                ).alias("n_only"),
            ).select(F.lit(g).alias("gate"), "n_flagged", "n_only")
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out.crossJoin(F.broadcast(tot)).select(
        "gate", "n_flagged", "n_only", "n_docs", "n_removed"
    )


# ---------------------------------------------------------------------------
# Round-8 wave: soft dedup, systematic sampling, readability.
# ---------------------------------------------------------------------------

_DD16_EXCESS = (
    "(CAST(n_docs AS DOUBLE) * 1000000.0 - CAST(sum_ppm AS DOUBLE))"
    " / (CAST(n_docs AS DOUBLE) * 1000000.0)"
)


@register(
    "dd16_soft_dedup",
    tags=("dedup", "sampling"),
    oracle=f"""
WITH c AS (SELECT doc_id, source, md5(text) AS fp FROM documents),
s AS (SELECT fp, count(*) AS csize FROM c GROUP BY fp),
j AS (SELECT c.source, {quantize_sql('CAST(1.0 AS DOUBLE) / csize', 6)} AS w_ppm
      FROM c JOIN s USING (fp)),
a AS (SELECT source, count(*) AS n_docs, sum(w_ppm) AS sum_ppm
      FROM j GROUP BY source)
SELECT source, n_docs,
       CAST(sum_ppm AS BIGINT) AS eff_docs_ppm,
       {quantize_sql(_DD16_EXCESS, 6)} AS excess_share_ppm
FROM a
""",
)
def dd16_soft_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup: weight every doc by 1/cluster_size instead of
    dropping copies — the down-weighting alternative to dd15's drop
    accounting, for loaders that sample by weight. Per source: raw
    docs, effective docs (weight sum), excess share removed. One
    fingerprint-keyed window + one source rollup, no join; weights
    ride as exact integer millionths (functions/portable.py)."""
    return dedup.soft_dedup_weights(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# dd17 — LSH candidate recall/precision vs the exact Jaccard join (round 8).
# ---------------------------------------------------------------------------


@register(
    "dd17_lsh_recall",
    tags=("dedup",),
    oracle=f"""
WITH {_SH_CTE},
shc AS (
    SELECT doc_id, shingle FROM (
        SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df FROM sh
    ) WHERE df <= greatest(5, CAST(floor(0.01 * (SELECT count(DISTINCT doc_id) FROM sh)) AS BIGINT))
),
sz AS (SELECT doc_id, count(*) AS n_sh FROM shc GROUP BY 1),
p AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
    FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
ex AS (
    SELECT doc_a, doc_b FROM (
        SELECT p.doc_a, p.doc_b,
               CAST(p.n_inter AS DOUBLE) / (x.n_sh + y.n_sh - p.n_inter) AS jaccard
        FROM p
        JOIN sz x ON x.doc_id = p.doc_a
        JOIN sz y ON y.doc_id = p.doc_b
    ) WHERE jaccard >= 0.6
),
mh AS (
    SELECT doc_id,
           {_MH_MINS}
    FROM sh GROUP BY doc_id
),
bands AS (
    {_MH_BANDS}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
conf AS (
    SELECT coalesce(sum(CASE WHEN e.doc_a IS NOT NULL THEN 1 ELSE 0 END), 0) AS n_exact_pairs,
           coalesce(sum(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END), 0) AS n_lsh_candidates,
           coalesce(sum(CASE WHEN e.doc_a IS NOT NULL AND c.doc_a IS NOT NULL THEN 1 ELSE 0 END), 0) AS n_hits
    FROM ex e
    FULL JOIN cand c ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b
)
SELECT CAST(n_exact_pairs AS BIGINT) AS n_exact_pairs,
       CAST(n_lsh_candidates AS BIGINT) AS n_lsh_candidates,
       CAST(n_hits AS BIGINT) AS n_hits,
       CASE WHEN n_exact_pairs > 0 THEN
           {quantize_sql('CAST(n_hits AS DOUBLE) / CAST(n_exact_pairs AS DOUBLE)', 6)}
       END AS recall_ppm,
       CASE WHEN n_lsh_candidates > 0 THEN
           {quantize_sql('CAST(n_hits AS DOUBLE) / CAST(n_lsh_candidates AS DOUBLE)', 6)}
       END AS precision_ppm
FROM conf
""",
)
def dd17_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-level confusion of MinHash-LSH banding (dd03) against the
    exact DF-capped Jaccard join (dd02) at threshold 0.6: recall = the
    fraction of true near-dup pairs the banding surfaces (what a 100 TB
    run silently loses by going approximate), precision = the fraction
    of candidates that survive verification (the verify-stage cost
    multiplier). dd13 calibrates the estimator VALUES; this measures
    the candidate SET. Both legs are the existing blocking-first
    pipelines; the confusion is a full outer join on the pair key,
    bounded by candidates + true pairs, collapsed to one row with
    quantized-BIGINT millionths ratios (recall_ppm / precision_ppm)."""
    return dedup.lsh_recall(table(spark, sf_dir, "documents"), n=3, threshold=0.6)


_SP12_K = 20


@register(
    "sp12_systematic",
    tags=("sampling",),
    oracle=f"""
WITH r AS (
    SELECT source, doc_id, n_chars,
           row_number() OVER (PARTITION BY source
               ORDER BY ((doc_id * 2654435761) % 4294967296) ASC, doc_id ASC) AS rn
    FROM documents
),
a AS (
    SELECT source, count(*) AS n_frame,
           sum(CASE WHEN (rn - 1) % {_SP12_K} = 0 THEN 1 ELSE 0 END) AS n_kept,
           sum(n_chars) AS sz_frame,
           sum(CASE WHEN (rn - 1) % {_SP12_K} = 0 THEN n_chars END) AS sz_kept
    FROM r GROUP BY source
)
SELECT source, n_frame, CAST(n_kept AS BIGINT) AS n_kept,
       {rational_rh_sql('sz_frame * 1000', 'n_frame')} AS mean_chars_frame_e3,
       {rational_rh_sql('sz_kept * 1000', 'n_kept')} AS mean_chars_kept_e3
FROM a
""",
)
def sp12_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic 1-in-20 sampling per source over a deterministic
    hash permutation: exactly ceil(n/20) kept per source (vs the
    Binomial counts of Bernoulli/hash-cutoff sp01), evenly spread
    through the frame. Output per-source audit: frame/kept counts and
    mean kept length vs frame mean (the self-weighting check). One
    window rank per source + one rollup; round 10: the means are exact
    integer-rational round-half-up divisions in pure BIGINT arithmetic
    (functions/portable.rational_rh — no double constructed), closing
    the last fp hypothesis on this query's third driver-red row."""
    from ntripmonitor_spark.operators import sampling

    return sampling.systematic_sample(table(spark, sf_dir, "documents"), k=_SP12_K)


# flesch * 1000 as an exact integer rational: numerator over n_sents*n_words
@register(
    "sp13_weighted_reservoir",
    tags=("sampling",),
    oracle=f"""
WITH s AS (
    SELECT source, doc_id, n_chars,
           {idiv_sql('((doc_id * 2654435761) % 4294967296) * 1000000',
                     'greatest(CAST(n_chars AS BIGINT), 1)')} AS key
    FROM documents
),
r AS (
    SELECT source, doc_id, n_chars,
           row_number() OVER (PARTITION BY source ORDER BY key ASC, doc_id ASC) AS rk
    FROM s
),
a AS (
    SELECT source, count(*) AS n_frame,
           sum(CASE WHEN rk <= 10 THEN 1 ELSE 0 END) AS n_kept,
           sum(n_chars) AS sz_frame,
           sum(CASE WHEN rk <= 10 THEN n_chars END) AS chars_kept
    FROM r GROUP BY source
)
SELECT source, n_frame, CAST(n_kept AS BIGINT) AS n_kept,
       CAST(chars_kept AS BIGINT) AS chars_kept,
       {rational_rh_sql('sz_frame * 1000', 'n_frame')} AS mean_chars_frame_e3,
       {rational_rh_sql('chars_kept * 1000', 'n_kept')} AS mean_chars_kept_e3
FROM a
""",
)
def sp13_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source weighted reservoir (bottom-k of the integer priority
    floor(hash * 10^6 / weight), k = 10) — the deterministic, libm-free
    Efraimidis–Spirakis sibling of ws01's global ln(u)/w top-k: per
    GROUP, exact-k, and every number in the draw is BIGINT (priority,
    rank, counts, integer-rational means), so the whole operator sits
    in the emission class the driver has never rejected. The audit
    output inverts sp12's self-weighting check: a length-weighted draw
    must skew long (mean_kept >> mean_frame). One window rank per
    group + one rollup — the sp12/quota exchange shape."""
    from ntripmonitor_spark.operators import sampling

    return sampling.weighted_reservoir(table(spark, sf_dir, "documents"), k=10)


@register(
    "mx03_epoch_schedule",
    tags=("sampling", "curation"),
    oracle=f"""
WITH s AS (SELECT source, sum(n_chars) AS chars FROM documents GROUP BY source),
t AS (SELECT sum(chars) AS total FROM s),
b AS (
    SELECT source, chars,
           {idiv_sql('chars * 1000', 't.total')} AS base_batches,
           (chars * 1000) % t.total AS rem
    FROM s CROSS JOIN t
),
lv AS (SELECT CAST(1000 - sum(base_batches) AS BIGINT) AS leftover FROM b),
rk AS (
    SELECT *, row_number() OVER (ORDER BY rem DESC, source ASC) AS rrank FROM b
)
SELECT source, CAST(chars AS BIGINT) AS n_chars_total,
       CAST(base_batches AS BIGINT) AS base_batches,
       CAST(rrank AS INT) AS rem_rank,
       CAST(rrank <= lv.leftover AS INT) AS extra,
       CAST(base_batches + CAST(rrank <= lv.leftover AS INT) AS BIGINT) AS batches
FROM rk CROSS JOIN lv
""",
)
def mx03_epoch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The loader schedule mx02's weights become: largest-remainder
    (Hamilton) apportionment of a 1000-batch epoch across sources by
    exact character mass — base_i = floor(chars_i*1000/total) batches
    each, then the leftover batches go to the largest remainders
    (ties by source). Sum(batches) == 1000 EXACTLY (property-pinned) —
    the guarantee proportional-rounding-per-source cannot give. All
    arithmetic is BIGINT (integral div + mod + one rank); shape is two
    bounded aggregates + a window over the |sources|-row relation (the
    unpartitioned rank is over ~20 rows, never the corpus)."""
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(F.sum(F.col("n_chars").cast("long")).alias("chars"))
    t = s.agg(F.sum("chars").alias("total"))
    b = s.crossJoin(F.broadcast(t)).select(
        "source", "chars",
        F.call_function("div", F.col("chars") * F.lit(1000), F.col("total"))
        .alias("base_batches"),
        F.pmod(F.col("chars") * F.lit(1000), F.col("total")).alias("rem"),
    )
    lv = b.agg((F.lit(1000) - F.sum("base_batches")).alias("leftover"))
    rk = b.withColumn(
        "rrank",
        # GLOBAL-WINDOW-OK: b is the per-source aggregate (|sources| rows).
        F.row_number().over(Window.orderBy(F.col("rem").desc(), F.col("source").asc())),
    )
    extra = (F.col("rrank") <= F.col("leftover")).cast("int")
    return rk.crossJoin(F.broadcast(lv)).select(
        "source", F.col("chars").alias("n_chars_total"), "base_batches",
        F.col("rrank").cast("int").alias("rem_rank"),
        extra.alias("extra"),
        (F.col("base_batches") + extra).alias("batches"),
    )


_TX19_F_NUM = (
    "206835 * n_sents * n_words - 1015 * n_words * n_words"
    " - 84600 * n_syll * n_sents"
)


@register(
    "tx19_readability",
    tags=("text", "curation"),
    oracle=f"""
WITH d AS (
    SELECT source,
           CAST(len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS BIGINT) AS n_words,
           CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sents,
           CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syll
    FROM documents
),
s AS (
    SELECT source, n_words,
           CASE WHEN n_words > 0 THEN {rational_rh_sql(_TX19_F_NUM, 'n_sents * n_words')}
                ELSE 0 END AS f_milli,
           CASE WHEN n_words > 0 THEN 1 ELSE 0 END AS scored
    FROM d
),
a AS (
    SELECT source, count(*) AS n_docs, sum(scored) AS n_scored,
           sum(f_milli) AS f_sum,
           sum(CASE WHEN f_milli >= 60000 AND scored = 1 THEN 1 ELSE 0 END) AS n_easy
    FROM s GROUP BY source
)
SELECT source, n_docs, CAST(n_scored AS BIGINT) AS n_scored,
       CAST(n_easy AS BIGINT) AS n_easy,
       CASE WHEN n_scored > 0 THEN {rational_rh_sql('f_sum', 'n_scored')}
       END AS mean_flesch_e3
FROM a
""",
)
def tx19_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-style readability per source (vowel-group syllable proxy,
    terminator-run sentences) — the difficulty score a curriculum or
    mixing plan stratifies on. Three regexp column expressions fused
    into one scan + a |sources|-row rollup. Round 10: per-doc score and
    per-source mean are exact integer-rational round-half-up divisions
    (functions/portable.rational_rh) — flesch*1000 is a rational with
    denominator n_sents*n_words, and VERDICT r9 proved the double path
    had exact floor-boundary ties on this data (docs 16/108/481), so
    no double is constructed anywhere in this query anymore."""
    return text.readability(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# sk03 — KMV Jaccard: pairwise Jaccard/union between groups (round 8).
# ---------------------------------------------------------------------------


@register(
    "sk03_kmv_jaccard",
    tags=("sketch",),
    oracle=f"""
WITH d AS (
    SELECT DISTINCT event_type, user_id,
           (user_id * 2654435761) % 4294967296 AS h
    FROM events
),
sk AS (
    SELECT event_type AS g, h FROM (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h ASC) AS rk
        FROM d
    ) WHERE rk <= 64
),
sizes AS (SELECT event_type, count(*) AS n_exact FROM d GROUP BY 1),
pairs AS (
    SELECT a.event_type AS ga, a.n_exact AS na, b.event_type AS gb, b.n_exact AS nb
    FROM sizes a JOIN sizes b ON a.event_type < b.event_type
),
m AS (
    SELECT ga, gb, h, max(in_a) AS in_a, max(in_b) AS in_b FROM (
        SELECT p.ga, p.gb, s.h, 1 AS in_a, 0 AS in_b
        FROM pairs p JOIN sk s ON s.g = p.ga
        UNION ALL
        SELECT p.ga, p.gb, s.h, 0, 1
        FROM pairs p JOIN sk s ON s.g = p.gb
    ) GROUP BY 1, 2, 3
),
top AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY ga, gb ORDER BY h ASC) AS rk
        FROM m
    ) WHERE rk <= 64
),
est AS (
    SELECT ga, gb, count(*) AS m,
           sum(CASE WHEN in_a + in_b = 2 THEN 1 ELSE 0 END) AS overlap,
           max(CASE WHEN rk = 64 THEN h END) AS hk
    FROM top GROUP BY 1, 2
),
inter AS (
    SELECT a.event_type AS ga, b.event_type AS gb, count(*) AS n_inter
    FROM d a JOIN d b ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY 1, 2
),
j AS (
    SELECT p.ga, p.gb, p.na, p.nb, coalesce(i.n_inter, 0) AS n_inter,
           e.m, e.overlap, e.hk
    FROM pairs p
    LEFT JOIN est e ON e.ga = p.ga AND e.gb = p.gb
    LEFT JOIN inter i ON i.ga = p.ga AND i.gb = p.gb
)
SELECT ga AS group_a, gb AS group_b, n_inter,
       na + nb - n_inter AS n_union,
       {quantize_sql('CAST(n_inter AS DOUBLE) / CAST(na + nb - n_inter AS DOUBLE)', 6)}
           AS exact_jaccard_ppm,
       {quantize_sql('CAST(overlap AS DOUBLE) / CAST(m AS DOUBLE)', 6)} AS kmv_jaccard_ppm,
       CASE WHEN m < 64 THEN {quantize_sql('CAST(m AS DOUBLE)', 1)}
            ELSE {quantize_sql('63.0 * 4294967296.0 / CAST(hk AS DOUBLE)', 1)}
       END AS kmv_union_e1
FROM j
""",
)
def sk03_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set algebra: sketch-estimated pairwise Jaccard and union
    cardinality of the distinct-user sets of every event-type pair,
    exact values alongside — the mergeable-sketch op that prices an
    audience-overlap matrix at O(k·|groups|²) sketch rows instead of
    |groups|² set intersections. Rank cuts are tie-free (bijective odd
    Knuth multiplier mod 2^32); estimates are exact integer ratios
    quantized portably (functions/portable.py)."""
    from ntripmonitor_spark.operators.sketch import kmv_jaccard

    return kmv_jaccard(table(spark, sf_dir, "events"), "event_type", "user_id", k=64)


# ---------------------------------------------------------------------------
# mm15 — silence-run segmentation over binary payloads (round 8).
# ---------------------------------------------------------------------------


@register(
    "mm15_silence_runs",
    tags=("multimodal",),
    oracle=f"""
WITH {_BYTES_CTE},
p0 AS (
    SELECT doc_id, n, bts, unnest(range(0, n)) AS i0 FROM by
),
pos AS (
    SELECT doc_id, n, CAST(i0 AS INT) AS i, bts[CAST(i0 AS INT) + 1] AS s
    FROM p0
),
sil AS (
    SELECT doc_id, i,
           i - row_number() OVER (PARTITION BY doc_id ORDER BY i ASC) AS rid
    FROM pos WHERE s < 64
),
rs AS (SELECT doc_id, rid, min(i) AS start, count(*) AS len FROM sil GROUP BY 1, 2),
mx AS (SELECT doc_id, max(len) AS max_run_len FROM rs GROUP BY 1),
st AS (
    SELECT rs.doc_id, CAST(min(rs.start) AS INT) AS max_run_start
    FROM rs JOIN mx ON rs.doc_id = mx.doc_id AND rs.len = mx.max_run_len
    GROUP BY 1
),
agg AS (
    SELECT doc_id, CAST(count(*) AS INT) AS n_runs,
           CAST(sum(len) AS INT) AS n_silent
    FROM rs GROUP BY 1
)
SELECT b.doc_id, CAST(b.n AS INT) AS n_samples,
       coalesce(agg.n_silent, 0) AS n_silent,
       coalesce(agg.n_runs, 0) AS n_runs,
       CAST(coalesce(mx.max_run_len, 0) AS INT) AS max_run_len,
       st.max_run_start AS max_run_start,
       CASE WHEN b.n > 0 THEN
           {quantize_sql('CAST(coalesce(agg.n_silent, 0) AS DOUBLE) / CAST(b.n AS DOUBLE)', 6)}
       END AS silence_ratio_ppm
FROM by b
LEFT JOIN agg ON agg.doc_id = b.doc_id
LEFT JOIN mx ON mx.doc_id = b.doc_id
LEFT JOIN st ON st.doc_id = b.doc_id
""",
)
def mm15_silence_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-payload silence segmentation ('audio' VAD shape): run-length
    summary of samples below the silence threshold — count/total of
    silent runs, the longest run and its earliest start, and the
    silence share. The gaps-and-islands computation runs LOCALLY per
    payload inside the Arrow batch (zero shuffles beyond the scan);
    the oracle replays it relationally via a position spine and
    i - row_number run ids. Integer outputs only; the one ratio is
    quantized BIGINT millionths (functions/portable.py)."""
    return multimodal.silence_runs(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# dp03 — pairwise Jensen-Shannon source-similarity matrix (round 8).
# ---------------------------------------------------------------------------

_DP03_TERM = (
    "0.5 * p * log2(p / ((p + q) / 2.0))"
    " + 0.5 * q * log2(q / ((p + q) / 2.0))"
)


@register(
    "dp03_js_matrix",
    tags=("text", "monitoring"),
    oracle=f"""
WITH toks AS (
    SELECT source,
           unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS tok
    FROM documents
),
tc AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
vocab AS (
    SELECT tok FROM (
        SELECT tok, row_number() OVER (ORDER BY c DESC, tok ASC) AS rk FROM tc
    ) WHERE rk <= 24
),
symed AS (
    SELECT source,
           CASE WHEN tok IN (SELECT tok FROM vocab) THEN tok
                ELSE '<oov>' END AS sym
    FROM toks
),
sc AS (SELECT source, sym, count(*) AS c FROM symed GROUP BY 1, 2),
totals AS (SELECT source, sum(c) AS n_s FROM sc GROUP BY 1),
syms AS (SELECT DISTINCT sym FROM sc),
vp AS (SELECT count(*) + 1.0 AS v_plus FROM vocab),
grid AS (
    SELECT t.source, t.n_s, v.v_plus, sy.sym, coalesce(s.c, 0) AS c
    FROM totals t CROSS JOIN vp v CROSS JOIN syms sy
    LEFT JOIN sc s ON s.source = t.source AND s.sym = sy.sym
),
dist AS (
    SELECT source, sym, (c + 0.5) / (n_s + 0.5 * v_plus) AS p FROM grid
),
pairs AS (
    SELECT a.source AS source_a, b.source AS source_b, a.p AS p, b.p AS q
    FROM dist a JOIN dist b ON a.sym = b.sym AND a.source < b.source
)
SELECT source_a, source_b,
       CAST(sum({quantize_sql(_DP03_TERM, 9)}) AS BIGINT) AS js_bits_e9
FROM pairs GROUP BY 1, 2
""",
)
def dp03_js_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence (bits) between every two
    sources' smoothed unigram distributions — the bounded, symmetric
    source-similarity matrix next to kl01's source-vs-corpus report;
    the distance to cluster sources on before assigning mixing
    weights. One (source, symbol) aggregate is the only input-scaled
    exchange; the |sources|² pair join runs on the tiny smoothed grid,
    and per-symbol terms ride as exact integer nano-bits
    (functions/portable.py)."""
    return text.pairwise_js(table(spark, sf_dir, "documents"), vocab_size=24)


# ---------------------------------------------------------------------------
# dq07 — functional-dependency audit over the star schema (round 8).
# ---------------------------------------------------------------------------

_DQ07_FDS = (
    # (label, table, lhs, rhs) — a mix of true keys and deliberately
    # false dependencies so both report legs carry signal
    ("orders.o_orderkey->o_custkey", "orders", "o_orderkey", "o_custkey"),
    ("orders.o_custkey->o_orderpriority", "orders", "o_custkey", "o_orderpriority"),
    ("lineitem.l_orderkey->l_suppkey", "lineitem", "l_orderkey", "l_suppkey"),
    ("lineitem.l_partkey->l_suppkey", "lineitem", "l_partkey", "l_suppkey"),
    ("customer.c_nationkey->c_mktsegment", "customer", "c_nationkey", "c_mktsegment"),
)


@register(
    "dq07_fd_audit",
    tags=("quality", "profile"),
    oracle=" UNION ALL ".join(
        f"""
SELECT '{label}' AS fd,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
       CAST(max(n_rhs) AS BIGINT) AS max_rhs,
       CAST(max(n_rhs) = 1 AS INT) AS holds
FROM (
    SELECT {lhs}, count(DISTINCT {rhs}) AS n_rhs
    FROM {tbl} GROUP BY {lhs}
)"""
        for label, tbl, lhs, rhs in _DQ07_FDS
    ),
)
def dq07_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit (the TANE-style profiling primitive)
    over candidate FDs of the star schema — the check that validates a
    column is safe to denormalize/derive before a pipeline relies on
    it: per candidate lhs→rhs, the number of lhs groups, the groups
    where rhs is NOT functionally determined, the worst group's
    distinct-rhs count, and the verdict. The candidate set mixes true
    keys with deliberately false dependencies so both legs carry
    signal. One map-side-combined (lhs, rhs)-level aggregate per
    candidate; the report is O(|candidates|) rows however large the
    tables."""
    legs = []
    for label, tbl, lhs, rhs in _DQ07_FDS:
        per = (
            table(spark, sf_dir, tbl)
            .groupBy(lhs)
            .agg(F.count_distinct(rhs).alias("n_rhs"))
        )
        legs.append(
            per.agg(
                F.count(F.lit(1)).alias("n_groups"),
                F.sum((F.col("n_rhs") > 1).cast("int")).alias("n_violating"),
                F.max("n_rhs").alias("max_rhs"),
            ).select(
                F.lit(label).alias("fd"), "n_groups", "n_violating", "max_rhs",
                (F.col("max_rhs") == 1).cast("int").alias("holds"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


# ---------------------------------------------------------------------------
# tx20 — Zipf slope per source (round 8).
# ---------------------------------------------------------------------------


@register(
    "tx20_zipf_slope",
    tags=("text", "quality"),
    oracle=f"""
WITH toks AS (
    SELECT source,
           unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS tok
    FROM documents
),
tc AS (SELECT source, tok, count(*) AS c FROM toks GROUP BY 1, 2),
top AS (
    SELECT source, c, rnk FROM (
        SELECT source, c,
               row_number() OVER (PARTITION BY source
                                  ORDER BY c DESC, tok ASC) AS rnk
        FROM tc
    ) WHERE rnk <= 64
),
staged AS (
    SELECT source,
           {quantize_sql('log10(CAST(rnk AS DOUBLE))', 6)} AS x,
           {quantize_sql('log10(CAST(c AS DOUBLE))', 6)} AS y
    FROM top
),
g AS (
    SELECT source, count(*) AS n,
           sum(x) AS sx, sum(y) AS sy,
           sum(x * y) AS sxy, sum(x * x) AS sx2
    FROM staged GROUP BY 1
),
v AS (
    SELECT source, n,
           CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
           CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den
    FROM g
)
SELECT source, CAST(n AS BIGINT) AS n_top,
       CASE WHEN den > 0 THEN {quantize_sql('num / den', 6)} END AS zipf_slope_ppm
FROM v
""",
)
def tx20_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS slope of log-frequency on log-rank over each source's top-64
    tokens — the Zipf power-law screen (natural text near -1;
    boilerplate/generated corpora flatten) next to tx05's repetition
    ratios. One (source, token) aggregate is the only input-scaled
    exchange; regression moments are exact integer sums of quantized
    logs over the bounded top-k grid (functions/portable.py)."""
    return text.zipf_slope(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Round-9 wave: gate agreement, term burstiness, quality x dup matrix.
# All emit integer-units BIGINT columns only (the round-9 standing
# decision, docs/OPERATORS.md) — no DECIMAL, no round(), no libm.
# ---------------------------------------------------------------------------

_R9_WS = "list_filter(string_split(lower(text), ' '), x -> x <> '')"
_R9_STOPHITS = f"len(list_filter(ws, x -> list_contains({_GOPHER_SW}, x)))"


@register(
    "qa06_gate_agreement",
    tags=("quality", "curation"),
    oracle=f"""
WITH w AS (SELECT source, {_R9_WS} AS ws FROM documents),
f AS (
    SELECT source,
           CASE WHEN len(ws) BETWEEN 20 AND 80 THEN 1 ELSE 0 END AS ga,
           CASE WHEN {_R9_STOPHITS} >= 2 THEN 1 ELSE 0 END AS gb
    FROM w
),
g AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(ga * gb) AS BIGINT) AS n11,
           CAST(sum(ga * (1 - gb)) AS BIGINT) AS n10,
           CAST(sum((1 - ga) * gb) AS BIGINT) AS n01
    FROM f GROUP BY 1
),
h AS (SELECT *, n - n11 - n10 - n01 AS n00 FROM g),
v AS (
    SELECT *,
           CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
               + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE) AS pe_num
    FROM h
)
SELECT source, n, n11, n10, n01, CAST(n00 AS BIGINT) AS n00,
       {quantize_sql('CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)', 6)} AS po_ppm,
       CASE WHEN CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - pe_num <> 0 THEN
           {quantize_sql('(CAST(n AS DOUBLE) * CAST(n11 + n00 AS DOUBLE) - pe_num)'
                         ' / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - pe_num)', 6)}
       END AS kappa_ppm
FROM v
""",
)
def qa06_gate_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the word-count gate and the stopword gate
    (tx11's exact-integer Gopher rules) per source — quantifies gate
    redundancy before a curation stack drops a pass. Exact-integer 2x2
    contingency in one |sources|-row aggregate; kappa rides a
    fixed-order IEEE chain over the exact cells, emitted as BIGINT
    millionths (po_ppm / kappa_ppm)."""
    return text.gate_agreement(table(spark, sf_dir, "documents"))


@register(
    "tx21_burstiness",
    tags=("text",),
    oracle=f"""
WITH t AS (
    SELECT doc_id, unnest({_R9_WS}) AS tok FROM documents
),
pd AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1, 2),
pt AS (
    SELECT tok, CAST(sum(c) AS BIGINT) AS total,
           CAST(sum(c * c) AS BIGINT) AS sum_c2,
           CAST(count(*) AS BIGINT) AS df
    FROM pd GROUP BY 1
),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
r AS (
    SELECT *, row_number() OVER (ORDER BY total DESC, tok ASC) AS rnk
    FROM pt CROSS JOIN nd
)
SELECT CAST(rnk AS INT) AS rnk, tok, total, df,
       {quantize_sql(
           '(CAST(n_docs AS DOUBLE) * CAST(sum_c2 AS DOUBLE)'
           ' - CAST(total AS DOUBLE) * CAST(total AS DOUBLE))'
           ' / (CAST(n_docs AS DOUBLE) * CAST(total AS DOUBLE))', 3)} AS burstiness_e3
FROM r WHERE rnk <= 20
""",
)
def tx21_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-to-mean dispersion (Church-Gale burstiness, zeros
    included via the moment identity) of the corpus top-20 terms —
    separates Poisson-scattered function words (D ~ 1) from clumping
    topical/template terms (D >> 1). One corpus explode-aggregate is
    the only input-scaled exchange; the top-k window runs on the
    vocabulary-bounded term relation; burstiness_e3 is BIGINT
    thousandths."""
    return text.term_burstiness(table(spark, sf_dir, "documents"))


_CU08_PHI_NUM = (
    "CAST(n_dup_keep AS DOUBLE) * CAST(n_uniq_drop AS DOUBLE)"
    " - CAST(n_dup_drop AS DOUBLE) * CAST(n_uniq_keep AS DOUBLE)"
)
_CU08_PHI_DEN = (
    "sqrt((CAST(n_dup_keep AS DOUBLE) + CAST(n_dup_drop AS DOUBLE))"
    " * (CAST(n_uniq_keep AS DOUBLE) + CAST(n_uniq_drop AS DOUBLE))"
    " * (CAST(n_dup_keep AS DOUBLE) + CAST(n_uniq_keep AS DOUBLE))"
    " * (CAST(n_dup_drop AS DOUBLE) + CAST(n_uniq_drop AS DOUBLE)))"
)


@register(
    "cu08_quality_dup_matrix",
    tags=("curation", "dedup", "quality"),
    oracle=f"""
WITH b AS (SELECT source, text, {_R9_WS} AS ws FROM documents),
f AS (
    SELECT source, md5(text) AS fp,
           CASE WHEN len(ws) BETWEEN 20 AND 80
                     AND {_R9_STOPHITS} >= 2
                THEN 1 ELSE 0 END AS keep
    FROM b
),
d AS (
    SELECT source, keep,
           CASE WHEN count(*) OVER (PARTITION BY fp) > 1 THEN 1 ELSE 0 END AS is_dup
    FROM f
),
g AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(is_dup * keep) AS BIGINT) AS n_dup_keep,
           CAST(sum(is_dup * (1 - keep)) AS BIGINT) AS n_dup_drop,
           CAST(sum((1 - is_dup) * keep) AS BIGINT) AS n_uniq_keep
    FROM d GROUP BY 1
),
h AS (
    SELECT *, n_docs - n_dup_keep - n_dup_drop - n_uniq_keep AS n_uniq_drop
    FROM g
)
SELECT source, n_docs, n_dup_keep, n_dup_drop, n_uniq_keep,
       CAST(n_uniq_drop AS BIGINT) AS n_uniq_drop,
       CASE WHEN {_CU08_PHI_DEN} > 0 THEN
           {quantize_sql(f'({_CU08_PHI_NUM}) / ({_CU08_PHI_DEN})', 6)}
       END AS phi_ppm
FROM h
""",
)
def cu08_quality_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality x duplication contingency + phi coefficient per source —
    whether dedup and the quality gate remove OVERLAPPING mass (phi <
    0 means the passes share victims; ~0 means they compose). Reuses
    dd16's single fingerprint-window exchange; the gate is the exact-
    integer Gopher pair (no float in any flag); phi_ppm is BIGINT
    millionths."""
    return dedup.quality_dup_matrix(table(spark, sf_dir, "documents"))


@register(
    "cu09_selection_bias",
    tags=("curation", "quality"),
    oracle=f"""
WITH w AS (
    SELECT doc_id, source, n_chars, lower(text) AS lt,
           list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
    FROM documents
),
m AS (
    SELECT source, n_chars,
           len(ws) AS n_words,
           CASE WHEN len(ws) > 0 THEN
               list_sum(list_transform(ws, x -> length(x)))::DOUBLE / len(ws) END AS mwl,
           CASE WHEN len(ws) > 0 THEN
               length(regexp_replace(lt, '[a-z0-9 ]', '', 'g'))::DOUBLE / len(ws) END AS sym,
           CASE WHEN len(ws) > 0 THEN
               len(list_filter(ws, x -> regexp_matches(x, '[a-z]')))::DOUBLE / len(ws) END AS alp,
           len(list_filter(ws, x -> list_contains({_GOPHER_SW}, x))) AS stop_hits
    FROM w
),
k AS (
    SELECT source, n_chars,
           coalesce((n_words BETWEEN 20 AND 80) AND mwl >= 3.9 AND mwl <= 5.0
               AND sym <= 0.1 AND alp >= 0.8 AND stop_hits >= 2, false) AS kp
    FROM m
),
a AS (
    SELECT source,
           CAST(sum(CASE WHEN kp THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN kp THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
           CAST(sum(CASE WHEN kp THEN n_chars ELSE 0 END) AS BIGINT) AS chars_kept,
           CAST(sum(CASE WHEN kp THEN 0 ELSE n_chars END) AS BIGINT) AS chars_dropped
    FROM k GROUP BY source
)
SELECT source, n_kept, n_dropped, chars_kept, chars_dropped,
       CASE WHEN n_kept > 0 THEN
           {rational_rh_sql('chars_kept * 1000', 'n_kept')} END AS mean_chars_kept_e3,
       CASE WHEN n_dropped > 0 THEN
           {rational_rh_sql('chars_dropped * 1000', 'n_dropped')} END AS mean_chars_dropped_e3,
       CASE WHEN n_kept > 0 AND chars_dropped > 0 THEN
           {rational_rh_sql('chars_kept * n_dropped * 1000000',
                            'chars_dropped * n_kept')}
       END AS len_bias_ppm
FROM a
""",
)
def cu09_selection_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selection-bias audit of the Gopher gate per source: kept/dropped
    counts + character mass, kept/dropped mean lengths, and the
    length-bias ratio mean_kept/mean_dropped — the "what does my filter
    throw away" report run BEFORE a 100 TB filtering pass commits
    (a bias far from 1 means the gate is a covert length filter that
    silently re-weights the downstream mixture). NULL gate verdicts
    (empty docs) count as dropped, so kept + dropped == total docs.
    The gate fuses into the scan; ONE |sources|-row aggregate follows;
    every emitted number is exact BIGINT (counts, sums, integer-
    rational means, and the bias cross-multiplied into a single
    rational — no double division anywhere)."""
    return text.selection_bias(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# dc04 — FUZZY decontamination (MinHash-LSH vs the eval set) + tp08 padding.
# ---------------------------------------------------------------------------

def _mh_bands_sql(tbl: str) -> str:
    return "\n    UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id,"
        f" md5(mh{b * 3} || '|' || mh{b * 3 + 1} || '|' || mh{b * 3 + 2}) AS band_hash"
        f" FROM {tbl}"
        for b in range(dedup.MINHASH_BANDS)
    )


@register(
    "dc04_fuzzy_decontamination",
    tags=("dedup", "text", "curation"),
    oracle=f"""
WITH {_SH_CTE},
mh AS (
    SELECT doc_id,
           {_MH_MINS}
    FROM sh GROUP BY doc_id
),
bmh AS (SELECT * FROM mh WHERE doc_id < 20),
cmh AS (SELECT * FROM mh WHERE doc_id >= 20),
cb AS (
    {_mh_bands_sql('cmh')}
),
bb AS (
    {_mh_bands_sql('bmh')}
),
cand AS (
    SELECT DISTINCT c.doc_id AS corpus_id, b.doc_id AS bench_id
    FROM cb c JOIN bb b ON c.band_id = b.band_id AND c.band_hash = b.band_hash
),
scored AS (
    SELECT cand.corpus_id, {_MH_MATCHES} AS m
    FROM cand
    JOIN cmh x ON x.doc_id = cand.corpus_id
    JOIN bmh y ON y.doc_id = cand.bench_id
),
perdoc AS (
    SELECT corpus_id, CAST(count(*) AS BIGINT) AS n_pairs,
           max(m) AS max_m
    FROM scored GROUP BY 1
)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN p.corpus_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_candidate_docs,
       CAST(sum(coalesce(p.n_pairs, 0)) AS BIGINT) AS n_candidate_pairs,
       CAST(sum(CASE WHEN coalesce(p.max_m, 0) >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       CAST(max(coalesce(p.max_m, 0)) AS INT) AS max_slot_matches
FROM (SELECT doc_id, source FROM documents WHERE doc_id >= 20) d
LEFT JOIN perdoc p ON p.corpus_id = d.doc_id
GROUP BY 1
""",
)
def dc04_fuzzy_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy eval-leakage scrub: MinHash-LSH band collisions between
    the corpus (doc_id >= 20) and the benchmark set (doc_id < 20),
    scored by signature slot agreement — the near-duplicate
    contamination class dc01–dc03's exact n-gram membership misses.
    All-integer output (slot matches ARE the statistic). Benchmark
    signatures AND bands broadcast; the corpus never self-joins."""
    return dedup.fuzzy_decontaminate(
        table(spark, sf_dir, "documents"), F.col("doc_id") < 20, n=3
    )


@register(
    "tp08_padding_waste",
    tags=("sampling",),
    oracle=f"""
WITH s AS (
    SELECT source,
           len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS n_tok
    FROM documents
),
p AS (
    SELECT source, n_tok,
           (n_tok + 15) - (n_tok + 15) % 16 AS padded
    FROM s
),
g AS (
    SELECT source, padded AS padded_len,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS tokens_sum
    FROM p GROUP BY 1, 2
)
SELECT source, padded_len, n_docs, tokens_sum,
       CAST(padded_len * n_docs - tokens_sum AS BIGINT) AS pad_sum,
       CASE WHEN padded_len * n_docs > 0 THEN
           {rational_rh_sql('(padded_len * n_docs - tokens_sum) * 1000000',
                            'padded_len * n_docs')}
       END AS waste_ppm
FROM g
""",
)
def tp08_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste accounting for length-bucketed batching (bucket
    width 16 tokens) — the unpacked counterpart of tp04's packing
    utilization: per (source, bucket), docs, real tokens, pad tokens
    and the waste share. Integer ceil-to-bucket arithmetic, exact
    BIGINT sums, one map-side-combined aggregate bounded by
    buckets x sources; waste_ppm is an exact integer-rational
    round-half-up in BIGINT millionths, NULL-guarded for the
    zero-token bucket (ADVICE r9: 0.0/0.0 would NaN on Spark but
    NULL/error on the oracle)."""
    from ntripmonitor_spark.operators import sampling

    return sampling.padding_waste(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Round 11 — four planning/audit primitives for the training-data pipeline:
# mx04 UniMax water-fill, qa08 calibration bins, sp15 Neyman allocation,
# lo04 file-compaction plan. All are one corpus scan + bounded (|groups|-row)
# reductions with pure-BIGINT emission.
# ---------------------------------------------------------------------------

_MX04_CAP = 4       # per-source epoch cap C (UniMax k)
# budget B = 2 * total chars; caps h_i = C * chars_i, so sum(h) = 4*total >= B
# and the ascending water-fill always terminates with 0 <= k < n capped.


@register(
    "mx04_unimax_waterfill",
    tags=("sampling", "curation"),
    oracle=f"""
WITH s AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS chars FROM documents GROUP BY source),
t AS (SELECT CAST(2 * sum(chars) AS BIGINT) AS b, CAST(count(*) AS BIGINT) AS n FROM s),
r AS (
    SELECT source, chars, {_MX04_CAP} * chars AS h,
           CAST(row_number() OVER w AS BIGINT) AS i,
           CAST(sum({_MX04_CAP} * chars) OVER (w ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p
    FROM s
    WINDOW w AS (ORDER BY {_MX04_CAP} * chars ASC, source ASC)
),
kk AS (
    SELECT coalesce(max(CASE WHEN p + h * (t.n - i) <= t.b THEN i END), 0) AS k,
           coalesce(max(CASE WHEN p + h * (t.n - i) <= t.b THEN p END), 0) AS pk,
           max(t.b) AS b, max(t.n) AS n
    FROM r CROSS JOIN t
),
u AS (SELECT {idiv_sql('b - pk', 'n - k')} AS water FROM kk)
SELECT source, chars AS n_chars_total, h AS cap_chars,
       least(h, u.water) AS alloc_chars,
       CAST(h <= u.water AS INT) AS capped,
       {rational_rh_sql('least(h, u.water) * 10000', 'chars')} AS epochs_e4,
       u.water AS water_chars
FROM r CROSS JOIN u
""",
)
def mx04_unimax_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax-style budget allocation (Chung et al. 2023): spread a
    2x-corpus character budget as UNIFORMLY as possible across sources,
    subject to a 4-epoch per-source cap — the anti-starvation
    counterpart of mx02's proportional temperature flattening (which
    lets giant sources dominate) and mx03's Hamilton apportionment
    (which has no cap). Closed-form water-fill, not iteration: sort
    caps h_i = 4*chars_i ascending, k = the (prefix-monotone) count of
    sources whose cap sits below the water line via
    p_k + h_k*(n-k) <= B, then water u = (B - p_k) div (n - k) and
    alloc_i = min(h_i, u). Every number is exact BIGINT (the floor on
    u under-spends at most n-k chars — a property test pins the
    residual bound). Shape: one corpus aggregate, then windows and
    joins over the |sources|-row relation only — the mx03 exchange
    shape; nothing after the first aggregate scales with the corpus."""
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(F.sum(F.col("n_chars").cast("long")).alias("chars"))
    t = s.agg(
        (F.lit(2) * F.sum("chars")).cast("long").alias("b"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    # GLOBAL-WINDOW-OK: s is the per-source aggregate (|sources| rows).
    w = Window.orderBy((F.lit(_MX04_CAP) * F.col("chars")).asc(), F.col("source").asc())
    r = s.select(
        "source", "chars",
        (F.lit(_MX04_CAP) * F.col("chars")).alias("h"),
        F.row_number().over(w).cast("long").alias("i"),
        F.sum(F.lit(_MX04_CAP) * F.col("chars"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("p"),
    ).crossJoin(F.broadcast(t))
    fits = F.col("p") + F.col("h") * (F.col("n") - F.col("i")) <= F.col("b")
    kk = r.agg(
        F.coalesce(F.max(F.when(fits, F.col("i"))), F.lit(0).cast("long")).alias("k"),
        F.coalesce(F.max(F.when(fits, F.col("p"))), F.lit(0).cast("long")).alias("pk"),
        F.max("b").alias("b"), F.max("n").alias("n"),
    )
    u = kk.select(
        F.call_function("div", F.col("b") - F.col("pk"), F.col("n") - F.col("k"))
        .alias("water")
    )
    alloc = F.least(F.col("h"), F.col("water"))
    return r.crossJoin(F.broadcast(u)).select(
        "source",
        F.col("chars").alias("n_chars_total"),
        F.col("h").alias("cap_chars"),
        alloc.alias("alloc_chars"),
        (F.col("h") <= F.col("water")).cast("int").alias("capped"),
        rational_rh(alloc * F.lit(10000), F.col("chars")).alias("epochs_e4"),
        F.col("water").alias("water_chars"),
    )


# qa08 — the RAW (unrounded) quality-score expression: quantized ONCE to
# integer millionths on both engines (quantize of round() would inherit
# round()'s cross-version instability — the an11 lesson), unlike cu06
# which compares the 6-dp-rounded score against literal thresholds.
_QA08_RAW_SQL = (
    "0.4 * (CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / length(text))"
    " + 0.3 * (1 - CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text))"
    " + 0.2 * (CAST(len(list_filter(list_filter(string_split(lower(text), ' '), x -> x <> ''),"
    " x -> x IN ('the', 'a', 'of', 'and', 'is'))) AS DOUBLE)"
    " / len(list_filter(string_split(lower(text), ' '), x -> x <> '')))"
    " + 0.1 * (1 - CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text))"
)


@register(
    "qa08_calibration_bins",
    tags=("quality", "stats"),
    oracle=f"""
WITH sm AS (
    SELECT source, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(count(*) AS BIGINT) AS n_src
    FROM documents GROUP BY source
),
d AS (
    SELECT {quantize_sql(_QA08_RAW_SQL, 6)} AS p_ppm,
           CAST(CAST(n_chars AS BIGINT) * sm.n_src >= sm.sum_chars AS INT) AS y
    FROM documents JOIN sm USING (source)
    WHERE len(list_filter(string_split(lower(text), ' '), x -> x <> '')) > 0
),
ext AS (SELECT CAST(min(p_ppm) AS BIGINT) AS pmin, CAST(max(p_ppm) AS BIGINT) AS pmax FROM d),
b AS (
    SELECT least({idiv_sql('(p_ppm - ext.pmin) * 10', 'ext.pmax - ext.pmin + 1')}, 9) AS bin,
           p_ppm, y
    FROM d CROSS JOIN ext
)
SELECT CAST(bin AS INT) AS bin,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(y) AS BIGINT) AS n_pos,
       {rational_rh_sql('sum(p_ppm)', 'count(*)')} AS mean_p_ppm,
       {rational_rh_sql('sum(y) * 1000000', 'count(*)')} AS frac_pos_ppm,
       abs({rational_rh_sql('sum(p_ppm)', 'count(*)')}
           - {rational_rh_sql('sum(y) * 1000000', 'count(*)')}) AS gap_ppm
FROM b GROUP BY 1
""",
)
def qa08_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram (calibration report) for the cheap quality
    score used as a classifier — per score bin, the mean predicted
    score vs the observed positive rate and their gap (whose n-weighted
    sum is the expected calibration error a gate threshold should be
    read against). Bins are ten equal-width slices of the OBSERVED
    [min, max] score range (one-row broadcast extent, the qa05 grid
    trick — no global sort, unlike equal-frequency deciles), because
    absolute [0,1] deciles collapse this corpus's concentrated scores
    into one bin. The deterministic stand-in label is
    "document is at/above its source's mean length" (an exact BIGINT
    comparison — no float, no RNG), which makes the report reproducible
    and the MECHANICS the operator under test; swap the label column
    for a real judgment table in production. The raw (unrounded) score
    is quantized ONCE to integer millionths; bins, counts, means and
    gaps are all exact BIGINT after that. Shape: one |sources|-row
    aggregate broadcast back + one corpus scan into a 10-row
    map-side-combined aggregate."""
    from ntripmonitor_spark.operators.dedup import normalized_words
    from ntripmonitor_spark.operators.text import LANG_STOPWORDS, stopword_count

    docs = table(spark, sf_dir, "documents")
    sm = docs.groupBy("source").agg(
        F.sum(F.col("n_chars").cast("long")).alias("sum_chars"),
        F.count(F.lit(1)).cast("long").alias("n_src"),
    )
    text_col = F.col("text")
    words = normalized_words(text_col)
    n_chars = F.length(text_col)
    raw = (
        F.lit(0.4) * (F.length(F.regexp_replace(text_col, "[^a-z]", "")).cast("double") / n_chars)
        + F.lit(0.3) * (F.lit(1) - F.length(F.regexp_replace(text_col, "[a-z0-9 ]", "")).cast("double") / n_chars)
        + F.lit(0.2) * (stopword_count(words, LANG_STOPWORDS["en"]).cast("double") / F.size(words))
        + F.lit(0.1) * (F.lit(1) - F.length(F.regexp_replace(text_col, "[^0-9]", "")).cast("double") / n_chars)
    )
    def _build_d() -> DataFrame:
        return (
            docs.join(F.broadcast(sm), "source")
            .filter(F.size(normalized_words(text_col)) > 0)
            .select(
                quantize(raw, 6).alias("p_ppm"),
                (F.col("n_chars").cast("long") * F.col("n_src") >= F.col("sum_chars"))
                .cast("int").alias("y"),
            )
        )

    # The regex feature scan is the only corpus-linear cost here, and
    # TWO aggregates consume it (the 1-row extent + the 10-row binned
    # report). Unpersisted, each rescans the corpus — measured 2.5x at
    # 10x data (SCALE.md §6u, round-11 verdict #3). Persist it via the
    # shared qa-family memo so the scan runs once per input, and
    # back-to-back qa08 calls reuse it.
    from ntripmonitor_spark.operators.stats import _hq_memoized

    d = _hq_memoized("qa08_d", docs, (), _build_d)
    ext = d.agg(
        F.min("p_ppm").cast("long").alias("pmin"),
        F.max("p_ppm").cast("long").alias("pmax"),
    )
    b = d.crossJoin(F.broadcast(ext)).select(
        F.least(
            F.call_function(
                "div",
                (F.col("p_ppm") - F.col("pmin")) * F.lit(10),
                F.col("pmax") - F.col("pmin") + F.lit(1),
            ),
            F.lit(9).cast("long"),
        ).alias("bin"),
        "p_ppm", "y",
    )
    mean_p = rational_rh(F.sum("p_ppm"), F.count(F.lit(1)))
    frac = rational_rh(F.sum("y").cast("long") * F.lit(1000000), F.count(F.lit(1)))
    return b.groupBy(F.col("bin").cast("int").alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
        mean_p.alias("mean_p_ppm"),
        frac.alias("frac_pos_ppm"),
        F.abs(mean_p - frac).alias("gap_ppm"),
    )


@register(
    "sp15_neyman_allocation",
    tags=("sampling", "stats"),
    oracle=f"""
WITH e AS (
    SELECT event_type AS g, {quantize_sql('value', 3)} AS v_e3
    FROM events WHERE value IS NOT NULL
),
m AS (
    SELECT g, CAST(count(*) AS BIGINT) AS n, {rational_rh_sql('sum(v_e3)', 'count(*)')} AS m_e3
    FROM e GROUP BY g
),
v AS (
    SELECT e.g, m.n,
           {rational_rh_sql('sum((v_e3 - m_e3) * (v_e3 - m_e3))', 'max(m.n)')} AS var_e6
    FROM e JOIN m USING (g) GROUP BY e.g, m.n
),
sd AS (
    SELECT g, n, {quantize_sql('sqrt(CAST(var_e6 AS DOUBLE))', 0)} AS s_e3 FROM v
),
wt AS (SELECT g, n, s_e3, n * s_e3 AS w FROM sd),
tw AS (SELECT CAST(sum(w) AS BIGINT) AS tw, CAST(sum(n) AS BIGINT) AS tn FROM wt),
base AS (
    SELECT g, n, s_e3, w,
           {idiv_sql('w * 1000', 'tw.tw')} AS bney, (w * 1000) % tw.tw AS rney,
           {idiv_sql('n * 1000', 'tw.tn')} AS bprop, (n * 1000) % tw.tn AS rprop
    FROM wt CROSS JOIN tw
),
lv AS (
    SELECT CAST(1000 - sum(bney) AS BIGINT) AS lftn,
           CAST(1000 - sum(bprop) AS BIGINT) AS lftp
    FROM base
),
rk AS (
    SELECT *,
           CAST(row_number() OVER (ORDER BY rney DESC, g ASC) AS BIGINT) AS kn,
           CAST(row_number() OVER (ORDER BY rprop DESC, g ASC) AS BIGINT) AS kp
    FROM base
)
SELECT g AS event_type, n AS n_rows, s_e3 AS sd_e3,
       CAST(bprop + CAST(kp <= lv.lftp AS INT) AS BIGINT) AS n_prop,
       CAST(bney + CAST(kn <= lv.lftn AS INT) AS BIGINT) AS n_neyman
FROM rk CROSS JOIN lv
""",
)
def sp15_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal allocation of a 1000-row sample budget across
    event-type strata (n_h proportional to N_h * S_h) next to the
    proportional allocation sp01-style sampling implies — the sampling
    DESIGN step run before drawing: high-variance strata earn more
    rows, which proportional allocation leaves on the table. Variance
    is computed CENTERED (mean first, then squared integer deviations)
    so every sum stays far under 2^63 at any tested SF — the raw
    sum-of-squares form overflows BIGINT at sf0.1. The only double op
    is the correctly-rounded sqrt of an exact integer (quantized once);
    both allocations are Hamilton largest-remainder (the mx03
    discipline), so each sums to exactly 1000 (property-pinned). Shape:
    two corpus aggregates (mean pass + deviation pass, the qa04
    broadcast-back shape) into |types|-row windows."""
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    e = ev.select(F.col("event_type").alias("g"), quantize(F.col("value"), 3).alias("v_e3"))
    m = e.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        rational_rh(F.sum("v_e3"), F.count(F.lit(1))).alias("m_e3"),
    )
    dev = F.col("v_e3") - F.col("m_e3")
    v = (
        e.join(F.broadcast(m), "g")
        .groupBy("g", "n")
        .agg(rational_rh(F.sum(dev * dev), F.max("n")).alias("var_e6"))
    )
    sd = v.select(
        "g", "n",
        quantize(F.sqrt(F.col("var_e6").cast("double")), 0).alias("s_e3"),
    )
    wt = sd.select("g", "n", "s_e3", (F.col("n") * F.col("s_e3")).alias("w"))
    tw = wt.agg(
        F.sum("w").cast("long").alias("tw"), F.sum("n").cast("long").alias("tn")
    )
    base = wt.crossJoin(F.broadcast(tw)).select(
        "g", "n", "s_e3", "w",
        F.call_function("div", F.col("w") * F.lit(1000), F.col("tw")).alias("bney"),
        F.pmod(F.col("w") * F.lit(1000), F.col("tw")).alias("rney"),
        F.call_function("div", F.col("n") * F.lit(1000), F.col("tn")).alias("bprop"),
        F.pmod(F.col("n") * F.lit(1000), F.col("tn")).alias("rprop"),
    )
    lv = base.agg(
        (F.lit(1000) - F.sum("bney")).cast("long").alias("lftn"),
        (F.lit(1000) - F.sum("bprop")).cast("long").alias("lftp"),
    )
    rk = base.select(
        "*",
        # GLOBAL-WINDOW-OK: base is the per-stratum aggregate (|groups| rows).
        F.row_number().over(Window.orderBy(F.col("rney").desc(), F.col("g").asc()))
        .cast("long").alias("kn"),
        F.row_number().over(Window.orderBy(F.col("rprop").desc(), F.col("g").asc()))
        .cast("long").alias("kp"),
    )
    return rk.crossJoin(F.broadcast(lv)).select(
        F.col("g").alias("event_type"),
        F.col("n").alias("n_rows"),
        F.col("s_e3").alias("sd_e3"),
        (F.col("bprop") + (F.col("kp") <= F.col("lftp")).cast("int")).cast("long").alias("n_prop"),
        (F.col("bney") + (F.col("kn") <= F.col("lftn")).cast("int")).cast("long").alias("n_neyman"),
    )


_LO04_TARGET = 262144  # 256 KiB target file size at test SFs (128 MB in prod)


@register(
    "lo04_compaction_plan",
    tags=("layout",),
    oracle=f"""
WITH d AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(coalesce(strlen(props), 0) + 64) AS BIGINT) AS est_bytes
    FROM events GROUP BY 1
),
t AS (SELECT CAST(sum(est_bytes) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS n_days FROM d)
SELECT day, n_rows, est_bytes,
       {idiv_sql(f'est_bytes + {_LO04_TARGET - 1}', str(_LO04_TARGET))} AS n_files,
       {idiv_sql(
           'n_rows + ' + idiv_sql(f'est_bytes + {_LO04_TARGET - 1}', str(_LO04_TARGET)) + ' - 1',
           idiv_sql(f'est_bytes + {_LO04_TARGET - 1}', str(_LO04_TARGET)))} AS rows_per_file,
       CAST(est_bytes * t.n_days > 4 * t.total AS INT) AS skew_hot_day
FROM d CROSS JOIN t
""",
)
def lo04_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The small-files/compaction plan for the event-time-partitioned
    silver layout: per day-partition, estimated bytes (exact payload
    octet lengths + a 64 B/row envelope), how many target-size files
    the writer should coalesce to (ceil division — never 0), the
    resulting rows-per-file, and a hot-partition flag (day holds >4x
    the mean-day bytes — the repartition-before-write signal; zone-map
    pruning in lo02 assumes day files of comparable size). Every
    number is exact BIGINT; one map-side-combined day aggregate plus a
    one-row total broadcast back. The 256 KiB target matches the test
    SFs; production uses the same plan with a 128 MB target."""
    ev = table(spark, sf_dir, "events")
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.coalesce(F.octet_length("props"), F.lit(0)) + F.lit(64))
        .cast("long").alias("est_bytes"),
    )
    t = d.agg(
        F.sum("est_bytes").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    n_files = F.call_function(
        "div", F.col("est_bytes") + F.lit(_LO04_TARGET - 1), F.lit(_LO04_TARGET)
    )
    return d.crossJoin(F.broadcast(t)).select(
        "day", "n_rows", "est_bytes",
        n_files.alias("n_files"),
        F.call_function("div", F.col("n_rows") + n_files - F.lit(1), n_files)
        .alias("rows_per_file"),
        (F.col("est_bytes") * F.col("n_days") > F.lit(4) * F.col("total"))
        .cast("int").alias("skew_hot_day"),
    )

"""Sparse-retrieval queries (bm*/in*): inverted index and BM25 top-k
over the documents table — the retrieval leg of a training-data
pipeline (relevance-based data selection, targeted decontamination)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ntripmonitor_spark.operators import retrieval
from ntripmonitor_spark.plans.registry import register
from ntripmonitor_spark.tables import table

# Fixed literal query set: terms drawn from the synthetic corpus
# vocabulary, folded into the plan as a pushed-down filter + broadcast
# dim (never a shuffle side).
BM25_QUERIES: list[tuple[int, list[str]]] = [
    (1, ["hash", "join", "merge"]),
    (2, ["stream", "window", "batch"]),
    (3, ["vector", "scan", "filter"]),
]

_Q_VALUES = ", ".join(
    f"({qid}, '{t}')" for qid, ts in BM25_QUERIES for t in ts
)
_Q_TERMS = ", ".join(sorted({f"'{t}'" for _, ts in BM25_QUERIES for t in ts}))

_TOKS_CTE = (
    "t AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks "
    "FROM documents)"
)


@register(
    "in01_inverted_index",
    tags=("retrieval",),
    oracle=f"""
WITH {_TOKS_CTE},
dt AS (
    SELECT doc_id, tok AS term, count(*) AS tf
    FROM t, unnest(toks) AS u(tok)
    GROUP BY 1, 2
)
SELECT term,
       CAST(count(*) AS BIGINT) AS df,
       CAST(sum(tf) AS BIGINT) AS tf_total,
       array_to_string(list_sort(list(doc_id))[1:64], ',') AS postings
FROM dt GROUP BY term
""",
)
def in01_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term → (df, total tf, capped sorted posting list): one explode +
    one term-keyed aggregate, postings capped at 64 doc_ids so a
    stopword term can't funnel the corpus through one reducer."""
    return retrieval.inverted_index(table(spark, sf_dir, "documents"), max_postings=64)


@register(
    "bm01_bm25_topk",
    tags=("retrieval",),
    oracle=f"""
WITH {_TOKS_CTE},
stats AS (SELECT count(*) AS n_docs, avg(len(toks)) AS avgdl FROM t),
dt AS (
    SELECT doc_id, tok AS term, count(*) AS tf, min(len(toks)) AS doc_len
    FROM t, unnest(toks) AS u(tok)
    WHERE tok IN ({_Q_TERMS})
    GROUP BY 1, 2
),
dfd AS (SELECT term, count(*) AS df FROM dt GROUP BY 1),
q(query_id, term) AS (VALUES {_Q_VALUES}),
sc AS (
    SELECT q.query_id, dt.doc_id,
           round(sum(
               ln(1 + (stats.n_docs - dfd.df + 0.5) / (dfd.df + 0.5))
               * (dt.tf * (1.2 + 1))
               / (dt.tf + 1.2 * (0.25 + 0.75 * dt.doc_len / stats.avgdl))
           ), 6) AS score
    FROM dt JOIN dfd USING (term) JOIN q USING (term) CROSS JOIN stats
    GROUP BY 1, 2
)
SELECT query_id, rank, doc_id, score FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, doc_id ASC
    ) AS rank FROM sc
) WHERE rank <= 10
""",
)
def bm01_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 per query (Lucene idf, k1=1.2 b=0.75): query terms
    filter the postings below the shuffle, corpus stats ride as a
    one-row broadcast, document frequency is a window count over the
    filtered postings, rank moves only k rows per query. Scores rounded
    to 6 decimals in both engines (rank is taken on the rounded score
    so the cut is cross-engine deterministic)."""
    return retrieval.bm25_topk(
        table(spark, sf_dir, "documents"), BM25_QUERIES, k=10
    )


@register(
    "rc01_hybrid_rrf",
    tags=("retrieval", "simsearch"),
    oracle=f"""
WITH {_TOKS_CTE},
stats AS (SELECT count(*) AS n_docs, avg(len(toks)) AS avgdl FROM t),
dt AS (
    SELECT doc_id, tok AS term, count(*) AS tf, min(len(toks)) AS doc_len
    FROM t, unnest(toks) AS u(tok)
    WHERE tok IN ({_Q_TERMS})
    GROUP BY 1, 2
),
dfd AS (SELECT term, count(*) AS df FROM dt GROUP BY 1),
q(query_id, term) AS (VALUES {_Q_VALUES}),
sc AS (
    SELECT q.query_id, dt.doc_id,
           round(sum(
               ln(1 + (stats.n_docs - dfd.df + 0.5) / (dfd.df + 0.5))
               * (dt.tf * (1.2 + 1))
               / (dt.tf + 1.2 * (0.25 + 0.75 * dt.doc_len / stats.avgdl))
           ), 6) AS score
    FROM dt JOIN dfd USING (term) JOIN q USING (term) CROSS JOIN stats
    GROUP BY 1, 2
),
sparse AS (
    SELECT query_id, doc_id, rank AS r_sparse FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY score DESC, doc_id ASC
        ) AS rank FROM sc
    ) WHERE rank <= 20
),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
n AS (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS nrm FROM v),
dq AS (SELECT vec_id AS query_id, vec AS qv, nrm AS qn FROM n WHERE vec_id IN (1, 2, 3)),
dscored AS (
    SELECT dq.query_id, n.vec_id AS doc_id,
           round(list_dot_product(dq.qv, n.vec) / (dq.qn * n.nrm), 6) AS cos_sim
    FROM dq CROSS JOIN n
    WHERE n.vec_id <> dq.query_id
),
dense AS (
    SELECT query_id, doc_id, rank AS r_dense FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, doc_id ASC
        ) AS rank FROM dscored
    ) WHERE rank <= 20
),
fused AS (
    SELECT query_id, doc_id, r_sparse, r_dense,
           round(
               CASE WHEN r_sparse IS NOT NULL THEN 1.0 / (60 + r_sparse) ELSE 0.0 END
             + CASE WHEN r_dense IS NOT NULL THEN 1.0 / (60 + r_dense) ELSE 0.0 END,
           6) AS rrf
    FROM sparse FULL JOIN dense USING (query_id, doc_id)
)
SELECT query_id, doc_id, r_sparse, r_dense, rrf, rank FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY rrf DESC, doc_id ASC
    ) AS rank FROM fused
) WHERE rank <= 10
""",
)
def rc01_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of the BM25 leg and the dense cosine leg
    (queries 1-3; RRF c=60, each leg contributes 1/(60+rank) for its
    top-20): the standard score-free hybrid-retrieval combiner. Each
    leg moves only k_leg rows per query past its broadcast-query plan;
    the fusion join is driver-scale."""
    return retrieval.hybrid_rrf(
        table(spark, sf_dir, "documents"),
        table(spark, sf_dir, "embeddings"),
        BM25_QUERIES, k_leg=20, k=10,
    )


@register(
    "in02_phrase_search",
    tags=("retrieval",),
    doc="Exact phrase search via positional-posting self-joins.",
    oracle="""
WITH p AS (
    SELECT doc_id, i - 1 AS pos, ws[i] AS term
    FROM (
        SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
        FROM documents
    ), LATERAL unnest(range(1, len(ws) + 1)) AS t(i)
)
SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_matches
FROM p a
JOIN p b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 AND b.term = 'table'
JOIN p c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2 AND c.term = 'hash'
WHERE a.term = 'stream'
GROUP BY a.doc_id
""",
)
def in02_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The query class bag-of-words retrieval cannot answer: exact
    phrase containment ('stream table hash') via positional postings —
    term_i's postings equi-join term_0's shifted by i, keyed by
    (doc_id, position). No window, no regex corpus scan; with the
    posting relation as a silver table the per-query cost is the
    postings of the phrase terms, not the corpus."""
    from ntripmonitor_spark.operators import retrieval

    return retrieval.phrase_search(table(spark, sf_dir, "documents"), "stream table hash")


def _posting_index_path(spark: SparkSession, sf_dir: str) -> str:
    """The positional posting relation as a MATERIALIZED silver table:
    range-partitioned by term and sorted within partitions, so each
    parquet file covers a narrow term range and a probe's ``term = w``
    predicate prunes to a handful of row groups via min/max stats.
    Built once per corpus version (cf. the rtcm frame archive)."""
    from ntripmonitor_spark.operators import retrieval as r
    from ntripmonitor_spark.tables import silver_archive

    def build() -> DataFrame:
        idx = r.build_posting_index(table(spark, sf_dir, "documents"))
        return idx.repartitionByRange(32, "term").sortWithinPartitions(
            "term", "doc_id", "pos"
        )

    # Salt on BOTH the operator module and this plan module: the
    # repartitionByRange/sortWithinPartitions layout lives here, so a
    # layout change must invalidate the cached archive too.
    return silver_archive(
        spark, sf_dir, "postings", build,
        salt=f"{os.path.getmtime(r.__file__)}|{__file__}|{os.path.getmtime(__file__)}",
    )


@register(
    "in03_phrase_probe",
    tags=("retrieval",),
    doc="Probe-only phrase search over the materialized posting index.",
    oracle="""
WITH p AS (
    SELECT doc_id, i - 1 AS pos, ws[i] AS term
    FROM (
        SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
        FROM documents
    ), LATERAL unnest(range(1, len(ws) + 1)) AS t(i)
)
SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_matches
FROM p a
JOIN p b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 AND b.term = 'table'
JOIN p c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2 AND c.term = 'hash'
WHERE a.term = 'stream'
GROUP BY a.doc_id
""",
)
def in03_phrase_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """in02's SERVING shape: the posting index is a prebuilt silver
    parquet (term-range-partitioned, sorted), so the query plan is
    probe-only — three scans of the posting store, each with its
    ``term = w`` literal reaching parquet as a pushed filter
    (PushedFilters: [IsNotNull(term), EqualTo(term,...)]) and pruning
    to the matching term-range files, joined on (doc_id, pos). The
    corpus text is never rescanned at query time; per-query cost is
    the phrase terms' posting volume. Same oracle as in02 — the index
    is the same relation."""
    from ntripmonitor_spark.operators import retrieval as r

    postings = spark.read.parquet(_posting_index_path(spark, sf_dir))
    return r.phrase_search_postings(postings, "stream table hash")


@register(
    "in04_boolean_probe",
    tags=("retrieval",),
    doc="Probe-only AND/AND-NOT boolean retrieval over the posting index.",
    oracle="""
WITH p AS (
    SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS term
    FROM documents
),
a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS tf_0 FROM p WHERE term = 'stream' GROUP BY 1),
b AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS tf_1 FROM p WHERE term = 'hash' GROUP BY 1),
x AS (SELECT DISTINCT doc_id FROM p WHERE term = 'join')
SELECT a.doc_id, a.tf_0, b.tf_1
FROM a JOIN b USING (doc_id)
WHERE a.doc_id NOT IN (SELECT doc_id FROM x)
""",
)
def in04_boolean_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive boolean retrieval in its SERVING shape: docs
    containing 'stream' AND 'hash' but NOT 'join', answered entirely
    from the prebuilt term-range-partitioned posting index — three
    posting probes (pushed ``term = w`` predicates pruning to the
    matching term-range files), hash-joined on doc id, with the
    exclusion as a left-anti join. Completes the retrieval surface
    next to phrase (in03) and ranked BM25 (bm01) probes."""
    from ntripmonitor_spark.operators import retrieval as r

    postings = spark.read.parquet(_posting_index_path(spark, sf_dir))
    return r.boolean_search_postings(
        postings, must=["stream", "hash"], must_not=["join"]
    )


# ---------------------------------------------------------------------------
# rc02 — nDCG@10 ranking-quality evaluation of the BM25 leg
# ---------------------------------------------------------------------------

def _disc_case(rank_col: str, k: int = 10) -> str:
    """Rank → shared 9-dp DECIMAL discount literal (same strings the
    Spark plan folds in — DCG is exact decimal on both engines)."""
    whens = " ".join(
        f"WHEN {r} THEN CAST({s} AS DECIMAL(11,9))"
        for r, s in enumerate(retrieval.ndcg_discounts(k), start=1)
    )
    return f"CASE {rank_col} {whens} END"


@register(
    "rc02_ndcg_eval",
    tags=("retrieval",),
    oracle=f"""
WITH {_TOKS_CTE},
stats AS (SELECT count(*) AS n_docs, avg(len(toks)) AS avgdl FROM t),
dt AS (
    SELECT doc_id, tok AS term, count(*) AS tf, min(len(toks)) AS doc_len
    FROM t, unnest(toks) AS u(tok)
    WHERE tok IN ({_Q_TERMS})
    GROUP BY 1, 2
),
dfd AS (SELECT term, count(*) AS df FROM dt GROUP BY 1),
q(query_id, term) AS (VALUES {_Q_VALUES}),
sc AS (
    SELECT q.query_id, dt.doc_id,
           round(sum(
               ln(1 + (stats.n_docs - dfd.df + 0.5) / (dfd.df + 0.5))
               * (dt.tf * (1.2 + 1))
               / (dt.tf + 1.2 * (0.25 + 0.75 * dt.doc_len / stats.avgdl))
           ), 6) AS score
    FROM dt JOIN dfd USING (term) JOIN q USING (term) CROSS JOIN stats
    GROUP BY 1, 2
),
ranked AS (
    SELECT query_id, doc_id, rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY score DESC, doc_id ASC
        ) AS rank FROM sc
    ) WHERE rank <= 10
),
rel AS (
    SELECT q.query_id, dt.doc_id, CAST(count(DISTINCT dt.term) AS INT) AS rel
    FROM dt JOIN q USING (term) GROUP BY 1, 2
),
dcg AS (
    SELECT r.query_id,
           sum(coalesce((1 << rel.rel) - 1, 0) * {_disc_case('r.rank')}) AS dcg_d
    FROM ranked r
    LEFT JOIN rel ON rel.query_id = r.query_id AND rel.doc_id = r.doc_id
    GROUP BY 1
),
ideal AS (
    SELECT query_id, max(n_rel) AS n_rel,
           sum(((1 << rel) - 1) * {_disc_case('irank')}) AS idcg_d
    FROM (
        SELECT query_id, rel,
               row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, doc_id ASC) AS irank,
               count(*) OVER (PARTITION BY query_id) AS n_rel
        FROM rel
    ) WHERE irank <= 10 GROUP BY query_id
)
SELECT dcg.query_id, ideal.n_rel,
       CAST(dcg_d AS DOUBLE) AS dcg,
       CAST(idcg_d AS DOUBLE) AS idcg,
       round(CAST(dcg_d AS DOUBLE) / CAST(idcg_d AS DOUBLE), 6) AS ndcg
FROM dcg JOIN ideal USING (query_id)
""",
)
def rc02_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of the BM25 leg per query, self-labeled by graded term
    coverage (rel = distinct query terms in the doc): the retrieval
    regression metric run before swapping a ranking change into the
    pipeline. Gains are integers and rank discounts fold in as shared
    9-dp DECIMAL literals, so both DCG sums are exact decimal — the
    only float is the final dcg/idcg division of identical doubles.
    Relevance reuses the query-term-filtered posting scan the BM25 leg
    already pushes below the shuffle; past it everything moves
    O(queries x k) rows."""
    return retrieval.ndcg_eval(table(spark, sf_dir, "documents"), BM25_QUERIES, k=10)


@register(
    "in05_proximity_rank",
    tags=("retrieval",),
    oracle=f"""
WITH {_TOKS_CTE},
p AS (
    SELECT doc_id, i AS pos, toks[i] AS tok
    FROM t, unnest(range(1, len(toks) + 1)) AS u(i)
    WHERE toks[i] IN ('hash', 'join')
),
pa AS (SELECT doc_id, pos AS pos_a FROM p WHERE tok = 'hash'),
pb AS (SELECT doc_id, pos AS pos_b FROM p WHERE tok = 'join'),
g AS (
    SELECT pa.doc_id, min(abs(pos_a - pos_b)) AS min_dist,
           count(DISTINCT pos_a) AS tf_a, count(DISTINCT pos_b) AS tf_b
    FROM pa JOIN pb USING (doc_id) GROUP BY 1
)
SELECT row_number() OVER (ORDER BY min_dist ASC, doc_id ASC) AS rank,
       doc_id, min_dist, tf_a, tf_b
FROM g ORDER BY min_dist ASC, doc_id ASC LIMIT 20
""",
)
def in05_proximity_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional NEAR ranking: docs containing both 'hash' and 'join',
    top-20 by minimum token distance between any occurrence pair. The
    two term literals prune the positional postings below the explode's
    shuffle (only those terms' positions ever move); the pairing is a
    per-doc join between two tf-bounded posting slices, never a corpus
    self-join; the cut is TakeOrderedAndProject on all-integer keys."""
    return retrieval.proximity_rank(
        table(spark, sf_dir, "documents"), "hash", "join", k=20
    )


@register(
    "in06_prefix_probe",
    tags=("retrieval",),
    doc="Probe-only wildcard (prefix) retrieval over the posting index.",
    oracle="""
WITH p AS (
    SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS term
    FROM documents
),
m AS (SELECT doc_id, term FROM p WHERE term LIKE 's%'),
g AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS tf_prefix,
           CAST(count(DISTINCT term) AS BIGINT) AS n_terms
    FROM m GROUP BY 1
)
SELECT row_number() OVER (ORDER BY tf_prefix DESC, doc_id ASC) AS rank,
       doc_id, tf_prefix, n_terms
FROM g ORDER BY tf_prefix DESC, doc_id ASC LIMIT 15
""",
)
def in06_prefix_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wildcard retrieval ('s*') in its SERVING shape: the prefix
    predicate reaches the term-range-partitioned posting store as a
    pushed StringStartsWith — a [prefix, prefix+1) range that min/max
    stats prune to the matching term-range files — then one doc-keyed
    aggregate and a TakeOrderedAndProject top-15 on all-integer keys.
    Completes the probe family: equality (in03), boolean (in04),
    proximity (in05), prefix (in06)."""
    from ntripmonitor_spark.operators import retrieval as r

    postings = spark.read.parquet(_posting_index_path(spark, sf_dir))
    return r.prefix_probe(postings, "s", k=15)


# ---------------------------------------------------------------------------
# in07 — full tf-idf cosine top-k (round-8 wave)
# ---------------------------------------------------------------------------

from ntripmonitor_spark.functions.portable import quantize_sql  # noqa: E402

_IN07_IDF = "ln(1.0 + CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))"
_IN07_SCORE = (
    "(CAST(dot_ppm AS DOUBLE) / 1000000.0)"
    " / (sqrt(CAST(nsq_ppm AS DOUBLE) / 1000000.0)"
    " * sqrt(CAST(qn_ppm AS DOUBLE) / 1000000.0))"
)


@register(
    "in07_tfidf_cosine",
    tags=("retrieval",),
    oracle=f"""
WITH {_TOKS_CTE},
dt AS (
    SELECT doc_id, tok AS term, count(*) AS tf
    FROM t, unnest(toks) AS u(tok)
    GROUP BY 1, 2
),
dfd AS (SELECT term, count(*) AS df FROM dt GROUP BY 1),
stats AS (SELECT count(*) AS n_docs FROM documents),
tw AS (
    SELECT doc_id, term,
           (1.0 + ln(CAST(tf AS DOUBLE))) * {_IN07_IDF} AS w_td,
           {_IN07_IDF} AS idf
    FROM dt JOIN dfd USING (term) CROSS JOIN stats
),
norms AS (
    SELECT doc_id, sum({quantize_sql('w_td * w_td', 6)}) AS nsq_ppm
    FROM tw GROUP BY 1
),
q(query_id, term) AS (VALUES {_Q_VALUES}),
qw AS (
    SELECT term, {_IN07_IDF} AS idf
    FROM dfd CROSS JOIN stats WHERE term IN ({_Q_TERMS})
),
qn AS (
    SELECT query_id, sum({quantize_sql('idf * idf', 6)}) AS qn_ppm
    FROM q JOIN qw USING (term) GROUP BY 1
),
dots AS (
    SELECT q.query_id, tw.doc_id, sum({quantize_sql('w_td * idf', 6)}) AS dot_ppm
    FROM tw JOIN q USING (term) GROUP BY 1, 2
),
sc AS (
    SELECT query_id, doc_id, {quantize_sql(_IN07_SCORE, 6)} AS score_ppm
    FROM dots JOIN norms USING (doc_id) JOIN qn USING (query_id)
)
SELECT query_id, rank, doc_id, score_ppm FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score_ppm DESC, doc_id ASC
    ) AS rank FROM sc
) WHERE rank <= 10
""",
)
def in07_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full tf-idf cosine top-10 per query — the length-normalized
    classic next to bm01's BM25 saturation model. The cosine needs
    ||d|| over ALL of a doc's terms, so this is the honest
    three-exchange plan (vocab df aggregate, terms⋈df on the same
    key, doc-keyed norm aggregate); scoring then touches only
    query-term postings. Dot/norm sums ride as exact integer
    millionths (functions/portable.py); the rank cut is taken on the
    quantized BIGINT score_ppm so it is cross-engine deterministic."""
    return retrieval.tfidf_cosine_topk(
        table(spark, sf_dir, "documents"), BM25_QUERIES, k=10
    )


_IN08_PROBES = ", ".join(f"('{p}')" for p in retrieval.FUZZY_PROBES)


@register(
    "in08_fuzzy_probe",
    tags=("retrieval",),
    oracle=f"""
WITH {_TOKS_CTE},
dt AS (
    SELECT doc_id, tok AS term, count(*) AS tf
    FROM t, unnest(toks) AS u(tok)
    GROUP BY 1, 2
),
vocab AS (SELECT term, count(*) AS df FROM dt GROUP BY 1),
p(probe) AS (VALUES {_IN08_PROBES}),
cand AS (
    SELECT p.probe, v.term, v.df, levenshtein(p.probe, v.term) AS distance
    FROM p JOIN vocab v
      ON abs(length(v.term) - length(p.probe)) <= 2
     AND (substr(v.term, 1, 1) = substr(p.probe, 1, 1)
          OR substr(v.term, length(v.term), 1) = substr(p.probe, length(p.probe), 1))
    WHERE levenshtein(p.probe, v.term) <= 2
)
SELECT probe, rank, term AS suggestion, distance, CAST(df AS BIGINT) AS df
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY probe ORDER BY distance ASC, df DESC, term ASC
    ) AS rank FROM cand
) WHERE rank <= 3
""",
)
def in08_fuzzy_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Did-you-mean' suggestions: top-3 vocabulary terms within edit
    distance 2 of each probe, ranked by (distance, df desc, term) —
    the typo-tolerant query-rewrite step in front of the exact posting
    probes. Length-band + shared-end-character blocking keeps the JVM
    levenshtein off the all-pairs space (er01's discipline applied to
    the vocab)."""
    return retrieval.fuzzy_probe(table(spark, sf_dir, "documents"))


# rc03 rides a HARDER query set than bm01: query 4 demands six terms in
# one doc (first hit deep or absent), query 5 contains a term outside
# the corpus vocabulary (never fully relevant -> RR 0 leg exercised).
MRR_QUERIES = BM25_QUERIES + [
    (4, ["hash", "join", "merge", "stream", "window", "vector"]),
    (5, ["scan", "zzznotaword"]),
]
_M_VALUES = ", ".join(
    f"({qid}, '{t}')" for qid, ts in MRR_QUERIES for t in ts
)
_M_TERMS = ", ".join(sorted({f"'{t}'" for _, ts in MRR_QUERIES for t in ts}))


@register(
    "rc03_mrr_eval",
    tags=("retrieval",),
    oracle=f"""
WITH {_TOKS_CTE},
stats AS (SELECT count(*) AS n_docs, avg(len(toks)) AS avgdl FROM t),
dt AS (
    SELECT doc_id, tok AS term, count(*) AS tf, min(len(toks)) AS doc_len
    FROM t, unnest(toks) AS u(tok)
    WHERE tok IN ({_M_TERMS})
    GROUP BY 1, 2
),
dfd AS (SELECT term, count(*) AS df FROM dt GROUP BY 1),
q(query_id, term) AS (VALUES {_M_VALUES}),
sc AS (
    SELECT q.query_id, dt.doc_id,
           round(sum(
               ln(1 + (stats.n_docs - dfd.df + 0.5) / (dfd.df + 0.5))
               * (dt.tf * (1.2 + 1))
               / (dt.tf + 1.2 * (0.25 + 0.75 * dt.doc_len / stats.avgdl))
           ), 6) AS score
    FROM dt JOIN dfd USING (term) JOIN q USING (term) CROSS JOIN stats
    GROUP BY 1, 2
),
ranked AS (
    SELECT query_id, doc_id, rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY score DESC, doc_id ASC
        ) AS rank FROM sc
    ) WHERE rank <= 10
),
nq AS (SELECT query_id, count(*) AS n_terms FROM q GROUP BY 1),
rel AS (
    SELECT q.query_id, dt.doc_id, count(DISTINCT dt.term) AS rel
    FROM dt JOIN q USING (term) GROUP BY 1, 2
),
fullrel AS (
    SELECT rel.query_id, rel.doc_id
    FROM rel JOIN nq USING (query_id) WHERE rel.rel = nq.n_terms
),
hit AS (
    SELECT r.query_id, CAST(min(r.rank) AS INT) AS first_rank
    FROM ranked r JOIN fullrel f
      ON f.query_id = r.query_id AND f.doc_id = r.doc_id
    GROUP BY 1
)
SELECT nq.query_id, hit.first_rank,
       coalesce({quantize_sql('1.0 / CAST(hit.first_rank AS DOUBLE)', 6)},
                CAST(0 AS BIGINT)) AS rr_ppm
FROM nq LEFT JOIN hit USING (query_id)
""",
)
def rc03_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-reciprocal-rank of the BM25 leg per query (first doc in
    the top-10 containing ALL query terms; RR 0 when none) — the
    first-hit metric completing the eval family next to rc02's graded
    nDCG. Uses a harder query set than bm01 (a six-term conjunction and
    an out-of-vocabulary term) so the deep-hit and zero-RR legs are
    exercised; rides the same filtered posting scan shape as bm01;
    O(queries x k) rows past it; the reciprocal is quantized portably."""
    return retrieval.mrr_eval(table(spark, sf_dir, "documents"), MRR_QUERIES, k=10)


@register(
    "in09_maxscore_bound",
    tags=("retrieval",),
    oracle=f"""
WITH {_TOKS_CTE},
dt AS (
    SELECT doc_id, tok AS term, count(*) AS tf
    FROM t, unnest(toks) AS u(tok)
    GROUP BY 1, 2
),
dfd AS (SELECT term, count(*) AS df FROM dt GROUP BY 1),
stats AS (SELECT count(*) AS n_docs FROM documents),
tw AS (
    SELECT doc_id, term,
           (1.0 + ln(CAST(tf AS DOUBLE))) * {_IN07_IDF} AS w_td,
           {_IN07_IDF} AS idf
    FROM dt JOIN dfd USING (term) CROSS JOIN stats
    WHERE term IN ({_Q_TERMS})
),
c AS (SELECT doc_id, term, {quantize_sql('w_td * idf', 6)} AS c_ppm FROM tw),
ub AS (SELECT term, max(c_ppm) AS ub_ppm FROM c GROUP BY 1),
q(query_id, term) AS (VALUES {_Q_VALUES}),
th AS (
    SELECT query_id, CAST(count(*) AS BIGINT) AS n_terms,
           CAST(sum(ub_ppm) AS BIGINT) AS theta_ppm
    FROM q JOIN ub USING (term) GROUP BY 1
),
cand AS (
    SELECT q.query_id, c.doc_id,
           CAST(sum(c.c_ppm) AS BIGINT) AS score_ppm,
           CAST(sum(ub.ub_ppm) AS BIGINT) AS bound_ppm
    FROM c JOIN q USING (term) JOIN ub USING (term)
    GROUP BY 1, 2
),
t1 AS (SELECT query_id, max(score_ppm) AS top1_ppm FROM cand GROUP BY 1)
SELECT th.query_id, th.n_terms,
       CAST(count(*) AS BIGINT) AS n_candidates,
       th.theta_ppm,
       CAST(t1.top1_ppm AS BIGINT) AS top1_ppm,
       CAST(sum(CASE WHEN cand.bound_ppm < t1.top1_ppm THEN 1 ELSE 0 END) AS BIGINT) AS n_prunable
FROM th JOIN t1 USING (query_id) JOIN cand USING (query_id)
GROUP BY 1, 2, 4, 5
""",
)
def in09_maxscore_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MaxScore/WAND pruning audit per BM25 query: per-term max
    single-doc contribution, the summed theta ceiling, the true top-1
    additive tf-idf score, and the count of candidates whose
    matched-term bound sum can never beat it — exactly the documents a
    bound-skipping traversal never scores. Certifies (or refutes) that
    the index is upper-bound-skippable before deploying WAND at scale.
    Contributions quantize to integer millionths once; every maximum,
    sum and count after that is exact BIGINT arithmetic. Query-term
    postings only past the amortizable df build (the in07 shape).
    The registered form materializes the bounded |queries|-row report
    eagerly and releases the persisted contribution relation (round-10
    ADVICE), so its audited plan is a LocalTableScan — audit the real
    plan via maxscore_bound(..., eager_release=False); the shape
    (≤2 bounded-key exchanges) is documented in SCALE.md §6t."""
    return retrieval.maxscore_bound(
        table(spark, sf_dir, "documents"), BM25_QUERIES
    )

"""Streaming incremental FUZZY decontamination: `dc04`'s MinHash-LSH
corpus-vs-benchmark scoring in its production topology.

Documents arrive as a stream; the benchmark (eval-suite) signature
table is FIXED state computed from a static eval DataFrame — it is
eval-suite-sized, so its signatures and bands broadcast into every
micro-batch. Per batch: sign the batch (one scan), band it, join the
broadcast benchmark bands, score candidates by signature slot
agreement, and land per-doc contamination rows with
``streaming.pipeline.write_batch`` (a replayed batch overwrites its own
``batch_id=N`` partition, so restart cannot double-write).

Equivalence with the batch operator is pinned in
tests/test_round9_ops.py over a multi-trigger replay — the streaming
path produces the same per-doc (n_pairs, max_slot_matches, flagged)
rows as one batch `bench_match_scores` over the full corpus, because
scoring is per-doc against fixed benchmark state (no cross-batch
interaction at all).

Reference framing: the reference has no decontamination surface; this
is the continuous-ingest shape a training-corpus pipeline needs so
eval leakage is flagged AT ARRIVAL, not in a nightly sweep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ntripmonitor_spark.operators.dedup import (
    bench_match_scores,
    minhash_signatures,
)
from ntripmonitor_spark.streaming.pipeline import write_batch


def fuzzy_decontam_sink(bench_docs: DataFrame, scores_path: str,
                        n: int = 3, min_matches: int = 5):
    """foreachBatch body: score the batch against ``bench_docs`` (the
    static eval set, doc_id + text) and land its per-doc rows."""

    def write(batch: DataFrame, batch_id: int) -> None:
        # Benchmark signatures: tiny (eval-suite-sized) and
        # deterministic — recomputed per batch for simplicity; a
        # long-lived deployment would pin them as a silver table.
        bsig = minhash_signatures(bench_docs, n)
        csig = minhash_signatures(batch, n)
        scores = bench_match_scores(csig, bsig).select(
            F.col("corpus_id").alias("doc_id"),
            "n_pairs",
            F.col("max_m").alias("max_slot_matches"),
            (F.col("max_m") >= min_matches).alias("flagged"),
        )
        write_batch(scores, scores_path, batch_id)

    return write


def start_fuzzy_decontam_stream(doc_stream: DataFrame, bench_docs: DataFrame,
                                scores_path: str, checkpoint: str,
                                n: int = 3, min_matches: int = 5):
    """Wire fuzzy decontamination into foreachBatch; returns the
    started streaming query. Per-doc contamination rows land at
    ``scores_path`` (batch_id partitions). ``bench_docs`` is the
    static eval set (doc_id + text)."""
    return (
        doc_stream.writeStream
        .foreachBatch(fuzzy_decontam_sink(bench_docs, scores_path, n, min_matches))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )

"""Streaming incremental dedup: `dedup.minhash_lsh_delta` in its
production topology.

Documents arrive as a stream; per micro-batch, the batch is signed and
delta-deduped against the accumulated corpus SIGNATURE table (a
parquet silver table — the only dedup state, K×32 B per document,
never the text). Both outputs land through
``streaming.pipeline.write_batch`` (a replayed batch overwrites its own
``batch_id=N`` partition, so restart cannot double-write), the
signature table grows by exactly the batch's rows, and a batch reads
only the signatures of the batches before it — so a replayed batch
never matches its documents against their own first-attempt
signatures.

Equivalence with a single full-corpus LSH run is pinned in
tests/test_streaming.py over a multi-trigger replay — the streaming
path produces the same pair set with the same estimated Jaccard.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ntripmonitor_spark.operators.dedup import MINHASH_PERMS, minhash_lsh_delta
from ntripmonitor_spark.streaming.pipeline import write_batch

SIG_SCHEMA = "doc_id long, " + ", ".join(f"mh{i} string" for i in range(MINHASH_PERMS))


def _existing_sigs(spark: SparkSession, sig_path: str, batch_id: int) -> DataFrame:
    """The signature table as it stood before batch ``batch_id``."""
    if not os.path.isdir(sig_path):  # first batch: no silver table yet
        return spark.createDataFrame([], SIG_SCHEMA)
    return (
        spark.read.schema(SIG_SCHEMA + ", batch_id long").parquet(sig_path)
        .where(f"batch_id < {batch_id}").drop("batch_id")
    )


def incremental_dedup_sink(sig_path: str, pairs_path: str):
    """foreachBatch body: delta-dedup the batch against the earlier
    batches' signatures; land its pairs and its signatures."""

    def write(batch: DataFrame, batch_id: int) -> None:
        existing = _existing_sigs(batch.sparkSession, sig_path, batch_id)
        pairs, new_sigs = minhash_lsh_delta(existing, batch)
        try:
            write_batch(pairs, pairs_path, batch_id)
            write_batch(new_sigs, sig_path, batch_id)
        finally:
            new_sigs.unpersist()

    return write


def start_incremental_dedup(doc_stream: DataFrame, sig_path: str,
                            pairs_path: str, checkpoint: str):
    """Wire the delta dedup into foreachBatch; returns the started
    streaming query. Pairs land at ``pairs_path`` (batch_id
    partitions), signatures accumulate at ``sig_path``."""
    return (
        doc_stream.writeStream.foreachBatch(incremental_dedup_sink(sig_path, pairs_path))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )

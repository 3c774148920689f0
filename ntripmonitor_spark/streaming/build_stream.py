"""Continuous corpus build: the streaming topology of build.py — a
JSONL drop directory watched as a file stream, curated micro-batch by
micro-batch, landing trainer-ready split/shard parquet incrementally.

    file stream (declared schema, corrupt → quarantine path)
      → quality gate (stateless)
      → cross-batch exact dedup (watermark-bounded state)
      → [optional broadcast mix rates]
      → foreachBatch: deterministic (split, shard) staging +
        idempotent batch_id-partitioned append

Exactly-once discipline: every output file lives under
batch_id=N/split=S/shard=K, landed by ``streaming.pipeline.write_batch``;
a checkpoint replay overwrites its own batch_id partition and cannot
double-write. Trainer-side reads
aggregate across batch_id (a directory-listing-free manifest can be
maintained by compaction, as in streaming/rollup.py).

The deterministic placement (hash split/shard — export.py) is what
makes incremental build composable: a document always lands in the
same (split, shard) no matter which micro-batch carried it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ntripmonitor_spark.export import stage_training_shards
from ntripmonitor_spark.sources.corpus import DOCUMENT_SCHEMA
from ntripmonitor_spark.streaming.pipeline import stream_curation_gate, write_batch


def corpus_file_stream(spark: SparkSession, jsonl_dir: str,
                       max_files_per_trigger: int = 1) -> DataFrame:
    """JSONL drop directory as a stream: one micro-batch per arriving
    file (tunable), declared schema, PERMISSIVE corrupt capture, and a
    processing-time ``ingest_time`` for the dedup watermark."""
    return (
        spark.readStream.schema(DOCUMENT_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(jsonl_dir)
        .withColumn("ingest_time", F.current_timestamp())
    )


def shard_append_sink(out_path: str, quarantine_path: str, n_shards: int = 16):
    """foreachBatch body: quarantine corrupt lines, stage deterministic
    (split, shard) placement, land both with `write_batch`."""

    def write(batch: DataFrame, batch_id: int) -> None:
        bad = batch.filter(F.col("_corrupt_record").isNotNull())
        write_batch(bad.select(F.col("_corrupt_record").alias("raw_line")),
                    quarantine_path, batch_id)
        good = batch.filter(F.col("_corrupt_record").isNull()).drop(
            "_corrupt_record", "ingest_time", "quality_score"
        )
        staged = stage_training_shards(good, n_shards=n_shards)
        write_batch(staged.repartition("split", "shard"), out_path, batch_id,
                    "split", "shard")

    return write


def start_corpus_build_stream(spark: SparkSession, jsonl_dir: str,
                              out_path: str, quarantine_path: str,
                              checkpoint: str, quality_min: float = 0.5,
                              rates: DataFrame | None = None,
                              available_now: bool = True):
    """Wire the full topology and start it. With ``available_now`` the
    query drains the directory and stops (the batch-equivalence mode
    the tests use); without, it keeps watching for new drops."""
    raw = corpus_file_stream(spark, jsonl_dir)
    # corrupt rows must bypass the quality gate (their columns are all
    # null) and reach the sink for quarantine: union the two paths
    gated = stream_curation_gate(
        raw.filter(F.col("_corrupt_record").isNull()),
        quality_min=quality_min, rates=rates,
    )
    bad = raw.filter(F.col("_corrupt_record").isNotNull()).withColumn(
        "quality_score", F.lit(None).cast("double")
    )
    out = gated.unionByName(bad)
    return (
        out.writeStream.foreachBatch(shard_append_sink(out_path, quarantine_path))
        .option("checkpointLocation", checkpoint)
        .trigger(**({"availableNow": True} if available_now else {"processingTime": "10 seconds"}))
        .start()
    )

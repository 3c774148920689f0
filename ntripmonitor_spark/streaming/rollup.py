"""Incremental rollup maintenance — the Structured-Streaming analog of
TimescaleDB continuous aggregates (the reference's dashboards read
hypertable rollups; initdb/01-rtcm_packages.sql + Grafana $__interval
buckets).

Pattern: each micro-batch reduces to PARTIAL aggregates per (bucket,
mountpoint) and lands them with ``streaming.pipeline.write_batch``
under its own ``batch_id=N`` partition (idempotent overwrite on
replay). Readers merge partials with a second
aggregation — count/sum are mergeable, so merge-on-read equals the
batch aggregate exactly. State never lives in the stream (no
watermark bound on rollup age), appends are blind (no read-modify-
write races), and compaction is an optional background rewrite of old
batch partitions into one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ntripmonitor_spark.streaming.pipeline import write_batch


def rollup_partials(packages: DataFrame, window: str = "1 hour") -> DataFrame:
    """Per-(bucket, mountpoint) partial aggregates of one micro-batch
    (or any packages slice): mergeable measures only."""
    return (
        packages.groupBy(F.window("receive_time", window).alias("w"), "mountpoint")
        .agg(
            F.count(F.lit(1)).alias("n_msgs"),
            F.sum("msg_size").alias("total_bytes"),
        )
        .select(F.col("w.start").alias("bucket"), "mountpoint", "n_msgs", "total_bytes")
    )


def rollup_sink(base_path: str, window: str = "1 hour"):
    """foreachBatch body maintaining the incremental rollup from a
    DECODED stream."""
    from ntripmonitor_spark.operators import rtcm

    def write(decoded: DataFrame, batch_id: int) -> None:
        write_batch(rollup_partials(rtcm.packages(decoded), window), base_path, batch_id)

    return write


def read_rollup(spark, base_path: str) -> DataFrame:
    """Merge-on-read: second-stage aggregation over the partials —
    exactly the batch rollup, at the cost of |buckets × mountpoints ×
    batches| rows, not the raw stream."""
    return (
        spark.read.parquet(base_path)
        .groupBy("bucket", "mountpoint")
        .agg(
            F.sum("n_msgs").alias("n_msgs"),
            F.sum("total_bytes").alias("total_bytes"),
        )
    )


def compact_rollup(spark, base_path: str, out_path: str) -> None:
    """Optional maintenance: rewrite all batch partitions into one
    merged snapshot (readers of ``out_path`` skip the merge work)."""
    read_rollup(spark, base_path).write.mode("overwrite").parquet(out_path)

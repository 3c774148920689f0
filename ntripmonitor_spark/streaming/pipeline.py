"""Streaming decode pipeline + windowed analytics + idempotent sinks.

The SAME operators run in batch and streaming plans (SURVEY.md §7.3
100-TB rule #5): ``rtcm.decode_frames`` / ``rtcm.packages`` /
``rtcm.observations`` are plain DataFrame transforms, so applying them
to a streaming frames DataFrame yields the streaming ingest path of
SURVEY.md §3.1 — replay/NTRIP source → mapInArrow decode → derived
packages/observations → foreachBatch sinks.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ntripmonitor_spark.operators import rtcm


def stream_packages(frames: DataFrame) -> DataFrame:
    return rtcm.packages(rtcm.decode_frames(frames))


_UNIT_SECONDS = {
    "second": 1, "seconds": 1, "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600, "day": 86400, "days": 86400,
}


def window_seconds(window: str) -> float:
    """'15 seconds' / '1 minute' / '2 hours' → seconds (the subset of
    Spark's window-duration grammar the rates panel uses)."""
    n, unit = window.strip().split()
    return float(n) * _UNIT_SECONDS[unit.lower()]


def windowed_rates(packages: DataFrame, window: str = "1 minute",
                   watermark: str = "2 minutes") -> DataFrame:
    """Streaming Q1+Q2+Q5: tumbling event-time window per mountpoint
    with byte-rate normalization (the flagship dashboard panel, RTCM
    monitor.json:645), late data bounded by the watermark. The rate
    divisor derives from the window length, whatever it is."""
    w_s = window_seconds(window)
    return (
        packages.withWatermark("receive_time", watermark)
        .groupBy(F.window("receive_time", window).alias("w"), "mountpoint")
        .agg(
            F.count(F.lit(1)).alias("n_msgs"),
            F.sum("msg_size").alias("total_bytes"),
        )
        .select(
            F.col("w.start").alias("bucket"),
            "mountpoint",
            "n_msgs",
            "total_bytes",
            (F.col("total_bytes") / F.lit(w_s) / 1024.0).alias("kb_per_s"),
        )
    )


def stream_frame_dedup(frames: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Cross-batch frame dedup: a reconnect replays the tail of the
    caster's buffer, so the same frame can arrive twice in adjacent
    micro-batches (the reference simply double-inserts — at-least-once,
    SURVEY.md §2.6). Key = (mountpoint, 8-byte frame fingerprint);
    ``dropDuplicatesWithinWatermark`` bounds the dedup state by the
    watermark horizon instead of growing forever, which is what makes
    this safe on an unbounded stream."""
    keyed = frames.withColumn("frame_fp", F.xxhash64("frame"))
    return (
        keyed.withWatermark("receive_time", watermark)
        .dropDuplicatesWithinWatermark(["mountpoint", "frame_fp"])
        .drop("frame_fp")
    )


def stream_curation_gate(docs: DataFrame, quality_min: float = 0.5,
                         watermark: str = "1 hour",
                         rates: DataFrame | None = None) -> DataFrame:
    """Streaming slice of the curation funnel (operators/curation.py):
    the cuts that are per-row or watermark-bounded run on the live
    document stream; the global ones ride in as broadcast state.

    1. quality gate — stateless column predicate;
    2. cross-batch exact dedup — ``dropDuplicatesWithinWatermark`` on
       md5(text), state bounded by the watermark horizon (survivor =
       FIRST arrival, the streaming analog of the batch min-doc_id
       winner — identical when docs arrive in id order);
    3. optional temperature mix — a (source, rate) table from a prior
       batch stats job, broadcast onto the stream and applied as the
       same deterministic hash coin as the batch funnel.

    Expects an ``ingest_time`` event-time column. At 100 TB the same
    plan runs continuously on the ingest firehose; the rates table
    refreshes from the nightly stats job.
    """
    from ntripmonitor_spark.operators.sampling import hash_bucket
    from ntripmonitor_spark.operators.text import quality_score_col

    d = docs.withColumn("quality_score", quality_score_col(F.col("text"))).filter(
        F.col("quality_score") >= quality_min
    )
    d = (
        d.withColumn("fp", F.md5(F.col("text")))
        .withWatermark("ingest_time", watermark)
        .dropDuplicatesWithinWatermark(["fp"])
        .drop("fp")
    )
    if rates is not None:
        d = d.join(F.broadcast(rates), "source").filter(
            hash_bucket(F.col("doc_id")) < F.col("rate")
        ).drop("rate")
    return d


def write_batch(df: DataFrame, base_path: str, batch_id: int,
                *partition_by: str) -> None:
    """Land one micro-batch under ``<base_path>/batch_id=<N>`` with
    overwrite (optionally sub-partitioned by ``partition_by``), so a
    replayed batch id (restart-from-checkpoint) rewrites its own output
    instead of adding to it — the exactly-once-discipline upgrade over
    the reference's at-least-once inserts (SURVEY.md §2.6). Every
    foreachBatch sink writes through here; readers see ``batch_id`` as
    a partition column."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(os.path.join(base_path, f"batch_id={batch_id}"))


def idempotent_parquet_sink(base_path: str):
    """foreachBatch body: the micro-batch as it is, via ``write_batch``."""

    def write(df: DataFrame, batch_id: int) -> None:
        write_batch(df, base_path, batch_id)

    return write


def decoded_parquet_sink(out_path: str, obs_path: str):
    """foreachBatch body over a DECODED stream: the envelope and the
    routed observations (the K7 gate's on state; envelope-only runs
    keep the projection in the streaming plan, see
    ``start_archive_stream``), each landed by ``write_batch``. One
    decode feeds both projections (the batch is persisted across the
    two writes).

    The body rebuilds the projections on every batch, before any job
    runs. As SQL text that costs 11 (``packages``) + 31
    (``observations``) py4j round trips and ~0.15-0.3 s of driver-side
    analysis per batch (4-core VM); the former ``F.*``-built forms took
    ~2300 round trips and ~0.45-0.7 s."""
    from ntripmonitor_spark.operators import rtcm as rtcm_ops

    def write(decoded: DataFrame, batch_id: int) -> None:
        decoded.persist()
        try:
            write_batch(rtcm_ops.packages(decoded), out_path, batch_id)
            write_batch(rtcm_ops.observations(decoded), obs_path, batch_id)
        finally:
            decoded.unpersist()

    return write


def graceful_stop(query, drain: bool = True) -> None:
    """D8: drain buffered micro-batches, then stop and wait for
    termination. Safe to call on an already-stopped query."""
    if drain and query.isActive:
        query.processAllAvailable()
    if query.isActive:
        query.stop()
    query.awaitTermination()


def start_archive_stream(spark, archive_path: str, out_path: str,
                         checkpoint: str, batch_rows: int = 1000,
                         store_observations: bool = False,
                         obs_path: str | None = None):
    """Start (but don't drain) the replay→decode→sink streaming query —
    the restart-from-checkpoint tests drive stop/resume themselves."""
    from ntripmonitor_spark.streaming.replay import frames_stream

    decoded = rtcm.decode_frames(
        frames_stream(spark, archive_path, batch_rows, checkpoint=checkpoint)
    )
    # Python DataSources don't support Trigger.AvailableNow (Spark
    # falls back to ONE batch); drive with processAllAvailable instead.
    if not (store_observations and obs_path):
        # Envelope-only mode (reference DB_STORE_OBSERVATIONS=false):
        # the envelope projection lives IN the streaming plan, built
        # once at stream start, so each micro-batch's foreachBatch body
        # is a bare idempotent write — the per-batch plan construction
        # (11 py4j round trips and ~30-60 ms of analysis for the SQL-text
        # ``packages``) stays out of the trigger loop (per-batch driver
        # work is a fixed tax on every micro-batch of a long-lived ingest).
        # Output files are byte-identical to the former in-sink
        # projection: same columns, same values, same batch_id layout.
        return (
            rtcm.packages(decoded).writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint)
            .foreachBatch(idempotent_parquet_sink(out_path))
            .trigger(processingTime="0 seconds")
            .start()
        )
    return (
        decoded.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(decoded_parquet_sink(out_path, obs_path))
        .trigger(processingTime="0 seconds")
        .start()
    )


def run_archive_to_parquet(spark, archive_path: str, out_path: str,
                           checkpoint: str, batch_rows: int = 1000,
                           store_observations: bool = False,
                           obs_path: str | None = None):
    """End-to-end streaming job: replay archive → decode → envelope
    (+observations behind the K7 gate) → idempotent parquet sink.
    Returns the finished StreamingQuery."""
    q = start_archive_stream(
        spark, archive_path, out_path, checkpoint, batch_rows,
        store_observations, obs_path,
    )
    graceful_stop(q)
    return q

"""Streaming table profiling — dq01's continuous twin: each
micro-batch reduces to a bounded PARTIAL profile row set (per column:
row/null counts, numeric min/max, and the column's KMV hash sketch for
distinct counting), landed by ``streaming.pipeline.write_batch``
under an idempotent ``batch_id=N`` partition; merge-on-read
reconstructs the exact whole-stream counts and ranges, plus a KMV distinct estimate whose state merged across
batches is IDENTICAL to the batch-computed sketch (k smallest of a
union is associative — the property that makes the sketch streamable).

Why this shape at 100 TB ingest: the stream never holds per-value
state (no state store, no watermark dependence) — a batch's profile
partial is O(|columns| × k) rows whatever the batch size, appends are
blind, and "profile of everything ingested so far" is a bounded
merge-on-read any monitoring query can afford.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ntripmonitor_spark.operators.sampling import KNUTH
from ntripmonitor_spark.streaming.pipeline import write_batch

KMV_K = 64


def _kmv_hashes(df: DataFrame, col: str, k: int = KMV_K) -> DataFrame:
    """The k smallest Knuth hashes of a column's distinct values —
    the mergeable distinct-count state (integer columns; the same
    portable hash as operators/sketch.py)."""
    d = (
        df.select(F.col(col).cast("long").alias("v"))
        .filter(F.col("v").isNotNull())
        .distinct()
        .withColumn("h", F.pmod(F.col("v") * F.lit(KNUTH), F.lit(1 << 32)))
    )
    # orderBy+limit compiles to TakeOrderedAndProject — each partition
    # keeps its own k smallest and the driver merges k-row partials, so
    # no global sort and no single-partition WindowExec ever runs
    # (round-12: replaced the unpartitioned row_number window).
    return (
        d.orderBy(F.col("h").asc(), F.col("v").asc())
        .limit(k)
        .select(F.lit(col).alias("column"), "h", "v")
    )


def profile_partial(batch: DataFrame, num_cols: list[str]) -> tuple[DataFrame, DataFrame]:
    """(stats, kmv): the batch's bounded profile state.

    stats — one row per column: n_rows, n_null, min/max;
    kmv — ≤ k hash rows per column.
    """
    stats_rows = []
    for c in num_cols:
        stats_rows.append(
            batch.agg(
                F.lit(c).alias("column"),
                F.count(F.lit(1)).alias("n_rows"),
                (F.count(F.lit(1)) - F.count(F.col(c))).alias("n_null"),
                F.min(F.col(c)).cast("double").alias("min_num"),
                F.max(F.col(c)).cast("double").alias("max_num"),
            )
        )
    stats = stats_rows[0]
    for extra in stats_rows[1:]:
        stats = stats.unionByName(extra)
    kmv = None
    for c in num_cols:
        part = _kmv_hashes(batch, c)
        kmv = part if kmv is None else kmv.unionByName(part)
    return stats, kmv


def profile_sink(base_path: str, num_cols: list[str]):
    """foreachBatch body: land both partial relations with
    `write_batch`, under ``stats/`` and ``kmv/``."""

    def write(batch: DataFrame, batch_id: int) -> None:
        stats, kmv = profile_partial(batch, num_cols)
        write_batch(stats, os.path.join(base_path, "stats"), batch_id)
        write_batch(kmv, os.path.join(base_path, "kmv"), batch_id)

    return write


def read_profile(spark, base_path: str, k: int = KMV_K) -> DataFrame:
    """Merge-on-read: exact counts/ranges by algebraic merge; distinct
    via KMV re-merge (k smallest of the union of batch sketches — equal
    to the sketch of the union). Output mirrors dq01's columns with
    ``kmv_distinct`` in place of the exact distinct count."""
    stats = (
        spark.read.parquet(os.path.join(base_path, "stats"))
        .groupBy("column")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("n_null").alias("n_null"),
            F.min("min_num").alias("min_num"),
            F.max("max_num").alias("max_num"),
        )
    )
    kmv = spark.read.parquet(os.path.join(base_path, "kmv")).select("column", "h", "v").distinct()
    w = Window.partitionBy("column").orderBy(F.col("h").asc(), F.col("v").asc())
    ranked = kmv.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)
    est = (
        ranked.groupBy("column")
        .agg(F.max(F.when(F.col("rk") == k, F.col("h"))).alias("hk"),
             F.count(F.lit(1)).alias("n_sk"))
        .select(
            "column",
            F.when(F.col("n_sk") < k, F.col("n_sk").cast("double"))
            .otherwise(F.round(F.lit(float(k - 1)) * F.lit(float(1 << 32)) / F.col("hk"), 4))
            .alias("kmv_distinct"),
        )
    )
    return stats.join(est, "column")

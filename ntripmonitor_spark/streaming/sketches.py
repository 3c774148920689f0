"""Streaming sketch maintenance — Count-Min counters kept incrementally
the same way `streaming/rollup.py` keeps continuous aggregates: each
micro-batch lands its own PARTIAL counter table with
``streaming.pipeline.write_batch`` (an idempotent ``batch_id=N``
partition), and readers merge with a per-(d, bkt) SUM
(`operators.sketch.countmin_merge`), which equals the batch sketch
exactly — the mergeability the deterministic hash family buys.

At 100 TB this is the shape that makes per-window heavy-hitter
tracking affordable: the stream never keeps per-key state (no
watermark bound, no state store growth — counters are bounded at
depth×width rows per batch regardless of key cardinality), appends are
blind, and compaction is an optional rewrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ntripmonitor_spark.operators.sketch import (
    CMS_DEPTH,
    CMS_WIDTH,
    _cms_bucket,
    countmin_counters,
    countmin_merge,
)
from ntripmonitor_spark.streaming.pipeline import write_batch


def countmin_sink(base_path: str, member_col: str = "user_id",
                  depth: int = CMS_DEPTH, width: int = CMS_WIDTH):
    """foreachBatch body: reduce the micro-batch to its ≤ depth×width
    partial counters and land them with `write_batch`."""

    def write(batch: DataFrame, batch_id: int) -> None:
        write_batch(countmin_counters(batch, member_col, depth=depth, width=width),
                    base_path, batch_id)

    return write


def read_countmin(spark, base_path: str) -> DataFrame:
    """Merge-on-read: per-(d, bkt) sum over all batch partials —
    exactly the batch `countmin_counters` of the full stream."""
    return countmin_merge(spark.read.parquet(base_path).select("d", "bkt", "cnt"))


def estimate(counters: DataFrame, members: DataFrame, member_col: str = "user_id",
             depth: int = CMS_DEPTH, width: int = CMS_WIDTH) -> DataFrame:
    """Point-query the merged counter table for the given members:
    min over the depth rows each member hashes to. ``members`` is
    expected tiny (the candidate heavy hitters) and broadcasts."""
    probes = members.select(
        member_col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(d).alias("d"),
                    _cms_bucket(F.col(member_col).cast("string"), d, width).alias("bkt"),
                )
                for d in range(depth)
            ])
        ).alias("c"),
    ).select(member_col, "c.d", "c.bkt")
    return (
        counters.join(F.broadcast(probes), ["d", "bkt"])
        .groupBy(member_col)
        .agg(F.min("cnt").alias("n_cms"))
    )

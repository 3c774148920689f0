"""Streaming distribution-drift monitoring — the ks01 monitor kept
incrementally the way `streaming/sketches.py` keeps Count-Min counters:
each micro-batch reduces to its per-(group, value) count PARTIALS and
lands them with ``streaming.pipeline.write_batch`` (an idempotent
``batch_id=N`` partition); readers merge with a per-(group, value)
SUM and run the bounded-grid KS plan
(`operators.stats.ks_from_counts`), which equals the batch `ks_drift`
of the full stream exactly — counts are trivially mergeable state.

At 100 TB this is what makes continuous drift monitoring affordable:
the stream keeps NO per-key state (no watermark bound, no state-store
growth — partials are bounded at groups × distinct-values rows per
batch), appends are blind, and the KS computation runs on aggregated
counts however much history has accumulated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ntripmonitor_spark.operators.stats import ks_from_counts
from ntripmonitor_spark.streaming.pipeline import write_batch


def drift_sink(base_path: str, value_col: str = "n_chars",
               group_col: str = "source"):
    """foreachBatch body: reduce the micro-batch to its (group, value)
    count partials and land them with `write_batch`."""

    def write(batch: DataFrame, batch_id: int) -> None:
        partials = batch.groupBy(group_col, value_col).agg(F.count(F.lit(1)).alias("c"))
        write_batch(partials, base_path, batch_id)

    return write


def read_drift(spark, base_path: str, value_col: str = "n_chars",
               group_col: str = "source") -> DataFrame:
    """Merge-on-read: sum the per-batch count partials and run the KS
    grid plan — exactly the batch `ks_drift` of everything ingested."""
    counts = spark.read.parquet(base_path).select(group_col, value_col, "c")
    return ks_from_counts(counts, value_col=value_col, group_col=group_col)

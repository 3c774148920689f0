"""Streaming ANN index maintenance — the arrival path of the IVF
serving stack (ss06/ss11): new embedding batches are assigned to their
nearest coarse-quantizer cell against a FROZEN centroid set and
appended under ``batch_id=<n>/cell=<c>`` partitions, so the serving
scan stays partition-pruned to the probed cells while the index grows.

Mergeable-state discipline (the sk01/cm01/drift.py family): appends
are blind and idempotent per batch; the accumulated assignment equals
the batch assignment of everything ingested EXACTLY (the quantizer is
frozen literals — assignment is a pure function of the vector).
Per-cell counts merge-on-read as the rebalance signal: when a cell's
share drifts past a bound, retrain (ss07's Lloyd loop) and rewrite —
the standard "freeze, serve, monitor, retrain" index lifecycle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ntripmonitor_spark.operators.simsearch import cell_assignments
from ntripmonitor_spark.streaming.pipeline import write_batch


def cell_assign_sink(base_path: str, seeds: list[tuple[int, list[float]]]):
    """foreachBatch body: assign the micro-batch against the frozen
    quantizer and land it with `write_batch`, sub-partitioned by cell
    (serving reads prune to cell=K dirs)."""

    def write(batch: DataFrame, batch_id: int) -> None:
        write_batch(cell_assignments(batch, seeds), base_path, batch_id, "cell")

    return write


def read_assignments(spark, base_path: str) -> DataFrame:
    """The accumulated (vec_id, cell) index across all batches."""
    return spark.read.parquet(base_path).select("vec_id", "cell")


def cell_stats(spark, base_path: str) -> DataFrame:
    """Merge-on-read per-cell population with corpus share — the
    rebalance monitor (a cell far above 1/k share means the frozen
    quantizer no longer fits the data distribution)."""
    idx = read_assignments(spark, base_path)
    counts = idx.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vecs"))
    total = counts.agg(F.sum("n_vecs").alias("n_total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "cell", "n_vecs",
            F.round(F.col("n_vecs") / F.col("n_total"), 6).alias("share"),
        )
    )

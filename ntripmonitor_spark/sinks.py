"""Sinks (SURVEY.md §2.4): JDBC append / upsert / point-update plus
constellation routing, for ``foreachBatch`` bodies.

Postgres/TimescaleDB stays external (§7.0); the engine produces
byte-compatible rows. Plain appends use Spark's JDBC writer (typed
rows, batched inserts — the stored-procedure JSON shredding of
`initdb/99-stored_procedures.sql` becomes unnecessary, §4). Upserts
and point updates (K3-K5) need hand-built SQL because the JDBC writer
only appends/overwrites; builders below emit the exact
``INSERT … ON CONFLICT`` / ``UPDATE`` statements of the reference's
procedures (`initdb/99-stored_procedures.sql:154-231`).

FK linkage: the reference round-trips to the DB for
``rtcm_package_id`` (`src/databasehandling.py:143-145`); Spark-side we
mint a deterministic ``package_uid`` (§7.3) so packages and
observations link without a synchronous round-trip and a replayed
batch mints the same ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Constellation → observation table name (src/databasehandling.py:60-129).
OBS_TABLES = {
    "GPS": "gps_observations",
    "GLONASS": "glonass_observations",
    "GALILEO": "galileo_observations",
    "SBAS": "sbas_observations",
    "QZSS": "qzss_observations",
    "BEIDOU": "beidou_observations",
}


def with_package_uid(packages: DataFrame) -> DataFrame:
    """Deterministic 64-bit package id from the natural key — replaces
    the INSERT…RETURNING round-trip (K1) with a replay-stable hash."""
    return packages.withColumn(
        "package_uid",
        F.xxhash64("mountpoint", "receive_time", "msg_type", "msg_size"),
    )


def upsert_sql(table: str, cols: list[str], conflict_cols: list[str],
               update_cols: list[str] | None = None) -> str:
    """INSERT … ON CONFLICT … DO UPDATE (K3/K4 semantics,
    initdb/99-stored_procedures.sql:170-176, 223-229)."""
    update_cols = update_cols or [c for c in cols if c not in conflict_cols]
    placeholders = ", ".join(["%s"] * len(cols))
    sets = ", ".join(f"{c} = EXCLUDED.{c}" for c in update_cols)
    return (
        f"INSERT INTO {table} ({', '.join(cols)}) VALUES ({placeholders}) "
        f"ON CONFLICT ({', '.join(conflict_cols)}) DO UPDATE SET {sets}"
    )


def sourcetable_upsert_sql() -> str:
    """K4 (initdb/99:154-178)."""
    return upsert_sql(
        "sourcetable_constants",
        ["mountpoint", "identifier", "format", "countrycode", "latitude",
         "longitude", "generator", "casterprovider"],
        ["mountpoint", "countrycode", "casterprovider"],
    )


def reconnect_update_sql() -> str:
    """K5 point update (initdb/99:195-206)."""
    return "UPDATE connection_logger SET reconnect_time = %s WHERE connection_id = %s"


def dedupe_last_writer(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Pre-upsert batch dedupe: keep the newest row per key so a batch
    can't race itself (K3 mapping, SURVEY.md §2.4)."""
    w = Window.partitionBy(*key_cols).orderBy(F.desc(order_col))
    return df.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") == 1).drop("_rk")


def route_observations(obs: DataFrame) -> dict[str, DataFrame]:
    """D9/K2: constellation column → per-table DataFrames. One pass,
    six filtered writers (at the JDBC boundary each filter pushes to
    the same scan; no shuffle)."""
    return {
        table: obs.filter(F.col("constellation") == const).drop("constellation")
        for const, table in OBS_TABLES.items()
    }


def write_jdbc_append(df: DataFrame, url: str, table: str,
                      options: dict[str, str] | None = None) -> None:
    """K1/K2 typed batch append via the JDBC writer. Live-tested
    in-container against embedded Derby (tests/test_sinks.py — Spark
    ships the driver jar); production targets Postgres via the same
    options dict (driver/user/password)."""
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in (options or {}).items():
        writer = writer.option(k, v)
    writer.option("batchsize", (options or {}).get("batchsize", "10000"))
    writer.mode("append").save()


def jdbc_sink(url: str, packages_table: str = "rtcm_packages",
              options: dict[str, str] | None = None,
              store_observations: bool = True):
    """foreachBatch body for the streaming ingest path: takes ONE
    decoded micro-batch DataFrame (DECODED_SCHEMA — the foreachBatch
    contract passes a single DataFrame) and derives envelope +
    observations inside, appending each. ``store_observations=False``
    is the K7 envelope-only gate (reference
    ``DB_STORE_OBSERVATIONS=false``, src/ingestion.py:944).
    At-least-once: a replayed batch id appends its rows again. The
    exactly-once forms keep batch-id bookkeeping — ``sinks_sql``'s
    ledger, ``streaming.pipeline.write_batch`` for parquet.
    """
    from ntripmonitor_spark.operators import rtcm

    def write(decoded: DataFrame, batch_id: int) -> None:
        decoded.persist()
        try:
            write_jdbc_append(
                with_package_uid(rtcm.packages(decoded)), url, packages_table, options
            )
            if store_observations:
                for table, part in route_observations(rtcm.observations(decoded)).items():
                    write_jdbc_append(part, url, table, options)
        finally:
            decoded.unpersist()

    return write


# ---------------------------------------------------------------------------
# Parquet silver layout (SCALE.md §1): event-time + mountpoint
# partitioned mirror — the Spark analog of the reference's hypertable
# layout (time range + 2 hash partitions on mountpoint,
# initdb/01-rtcm_packages.sql:11). Time-range dashboard predicates
# (SURVEY Q11) become partition pruning, the analog of TimescaleDB
# chunk exclusion.
# ---------------------------------------------------------------------------

MOUNTPOINT_BUCKETS = 2  # matches create_hypertable(…, 'mountpoint', 2)


def with_layout_columns(df: DataFrame, time_col: str = "receive_time") -> DataFrame:
    """Add the physical layout keys: event date + mountpoint hash
    bucket (small fixed fan-out so partition counts stay bounded —
    date × bucket, not date × mountpoint-cardinality)."""
    return df.withColumn("p_date", F.to_date(F.col(time_col))).withColumn(
        "p_bucket", F.pmod(F.xxhash64("mountpoint"), F.lit(MOUNTPOINT_BUCKETS)).cast("int")
    )


def write_silver(df: DataFrame, path: str, time_col: str = "receive_time") -> None:
    """Land a packages/observations DataFrame in the partitioned silver
    layout (append — micro-batches add files, never rewrite)."""
    (
        with_layout_columns(df, time_col)
        .write.mode("append")
        .partitionBy("p_date", "p_bucket")
        .parquet(path)
    )


def read_silver(spark, path: str) -> DataFrame:
    """Read the silver mirror; time/mountpoint predicates prune
    partitions (assert via PartitionFilters in the scan plan)."""
    return spark.read.parquet(path)


def retention_sweep(path: str, keep_days: int, today: "dt.date | str") -> list[str]:
    """Drop silver date-partitions older than ``keep_days`` — the
    partition-drop maintenance job standing in for the reference's
    TimescaleDB retention policies (add_retention_policy 2 months on
    every hypertable, initdb/01-rtcm_packages.sql:16-17 /
    11-gps_observations.sql:20-21).

    Partition-drop is O(#expired-partitions) directory removals — no
    data is read or rewritten (the same property drop_chunks has), so
    it is safe to run as a scheduled job at any corpus size. Returns
    the dropped partition directory names. ``today`` is explicit (no
    wall-clock read) so sweeps are deterministic and testable."""
    import datetime as dt
    import os
    import re as _re
    import shutil

    if isinstance(today, str):
        today = dt.date.fromisoformat(today)
    cutoff = today - dt.timedelta(days=keep_days)
    dropped = []
    if not os.path.isdir(path):
        return dropped
    for entry in sorted(os.listdir(path)):
        m = _re.match(r"p_date=(\d{4}-\d{2}-\d{2})$", entry)
        if m and dt.date.fromisoformat(m.group(1)) < cutoff:
            shutil.rmtree(os.path.join(path, entry))
            dropped.append(entry)
    return dropped

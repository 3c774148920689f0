"""Frame stream source — a custom PySpark ``DataSource`` over the
bronze frame archive.

Replays an archived frame table (parquet written by
``write_frame_archive``) as a rate-limited micro-batch stream with
real offset tracking (SURVEY.md §2.1 S1; offsets are archive row
positions, the durable analog of the reference's
connection-relative byte positions — §7.3 "bronze first").

The archive is a directory of immutable parquet segments read in file
name order; a single-file archive is a spool with one segment. The
live NTRIP source (``sources.ntrip_live``) is this same reader with a
feeder attached: each ``latestOffset()`` drains the frames its caster
receivers hold into one new segment, and the batch reads that range
back like any archive range. A replayable source plus the idempotent
sinks is what makes live ingest exactly-once.
"""

from __future__ import annotations

import bisect
import functools
import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

ARCHIVE_SCHEMA = StructType(
    [
        StructField("mountpoint", StringType()),
        StructField("receive_time_us", LongType()),
        StructField("frame", BinaryType()),
    ]
)
_COLUMNS = [f.name for f in ARCHIVE_SCHEMA.fields]


def write_frame_archive(frames_df, path: str) -> None:
    """Persist (mountpoint, receive_time, frame) rows as a replayable
    archive, ordered-stable via a row index."""
    from ntripmonitor_spark.functions.timeutil import epoch_us

    (
        frames_df.select(
            "mountpoint", epoch_us("receive_time").alias("receive_time_us"), "frame"
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(path)
    )


class _ReplayPartition(InputPartition):
    """One micro-batch: ``slices`` are (segment file, first row in the
    file, row count), in archive order."""

    def __init__(self, slices: list[tuple[str, int, int]]):
        self.slices = slices


# Segment tables cached per Python WORKER, keyed by segment file:
# executor workers are reused across tasks (spark.python.worker.reuse),
# so a replay opens/decodes each segment once per worker, not once per
# micro-batch (guide §4.5 heavyweight-init-once). Segments are
# immutable, so the file name is the whole key; LRU-bounded so an
# unbounded live spool keeps only the last few segments.
@functools.lru_cache(maxsize=4)
def _segment_table(path: str):
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=_COLUMNS).combine_chunks()


class _ReplayReader(DataSourceStreamReader):
    """Partition-based stream reader: offsets are archive row
    positions; the DATA is read executor-side (the driver handles only
    integer offsets and segment row counts, and each batch's task
    slices worker-cached Arrow tables zero-copy).

    ``feeder`` (the live source's caster receivers) turns the archive
    into a spool: every ``latestOffset()`` appends what the feeder
    received as one new segment and offers the whole spool, and
    ``stop()`` appends the rest."""

    def __init__(self, options, feeder=None):
        self.path = options.get("path")
        self.feeder = feeder
        self.batch_rows = int(options.get("batchrows", "1000"))
        # Restart safety: latestOffset() has no access to the engine's
        # restored position, so a restarted query would otherwise
        # re-plan from row 0 (duplicates). The checkpoint location is
        # passed down as an option and the cursor recovers from the
        # query's OWN offset log (the last planned batch's end offset).
        # Local-filesystem checkpoints only.
        self.ckpt = options.get("checkpoint")
        self._files: list[str] | None = None  # segments, archive order
        self._starts: list[int] = [0]  # first row of each segment, then the total
        self._cur: int | None = None  # replay cursor (row position)

    def _open(self) -> None:
        """Open the feeder, then list the archive's segments once (row
        counts from parquet footers); later segments are only ever
        appended by this reader."""
        if self._files is not None:
            return
        import pyarrow.dataset as ds

        if self.feeder is not None:
            self.path = self.feeder.open(self.path)
        self._files = []
        for frag in ds.dataset(self.path, format="parquet").get_fragments():
            self._files.append(frag.path)
            self._starts.append(self._starts[-1] + frag.count_rows())

    def _append(self, rows: list[tuple[str, int, bytes]]) -> None:
        """Write ``rows`` as the next immutable segment: a temporary
        (listing-invisible) name, then an atomic rename, so a crash
        never leaves a partial segment that a restart would count."""
        if not rows:
            return
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pa.table(dict(zip(_COLUMNS, zip(*rows))))
        first = self._starts[-1]
        name = os.path.join(self.path, f"part-{first:020d}.parquet")
        tmp = os.path.join(self.path, f".part-{first:020d}.parquet.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, name)
        self._files.append(name)
        self._starts.append(first + len(rows))

    def _recovered_cursor(self) -> int:
        if not self.ckpt:
            return 0
        offsets_dir = os.path.join(self.ckpt, "offsets")
        try:
            batches = [n for n in os.listdir(offsets_dir) if n.isdigit()]
        except OSError:
            return 0
        if not batches:
            return 0
        latest = os.path.join(offsets_dir, max(batches, key=int))
        try:
            with open(latest) as f:
                lines = [ln.strip() for ln in f if ln.strip()]
            # OffsetSeqLog layout: "v1", metadata JSON, then one offset
            # line per source (single source here).
            return int(json.loads(lines[-1])["row"])
        except (OSError, ValueError, KeyError):
            return 0

    def initialOffset(self) -> dict:
        return {"row": 0}

    def latestOffset(self) -> dict:
        self._open()
        if self.feeder is not None:
            # A live batch takes the whole spool, so ingest keeps up
            # with any feed; the spool only grows, so its end is never
            # behind a restarted query's recovered offset.
            self._append(self.feeder.drain())
            return {"row": self._starts[-1]}
        # Rate-limited replay: advance at most batch_rows per trigger,
        # starting from the recovered WAL position on restart. The
        # engine replays any uncommitted tail from its own offset log;
        # this cursor only governs NEW batches.
        if self._cur is None:
            self._cur = self._recovered_cursor()
        self._cur = min(self._cur + self.batch_rows, self._starts[-1])
        return {"row": self._cur}

    def partitions(self, start: dict, end: dict):
        # One partition per micro-batch: preserves the one-file-per-
        # batch sink layout.
        self._open()
        lo, hi = start["row"], min(end["row"], self._starts[-1])
        i = bisect.bisect_right(self._starts, lo) - 1
        slices = []
        while lo < hi:
            n = min(hi, self._starts[i + 1]) - lo
            slices.append((self._files[i], lo - self._starts[i], n))
            lo, i = lo + n, i + 1
        return [_ReplayPartition(slices)]

    def read(self, partition: _ReplayPartition):
        # zero-copy slices of worker-cached tables — no per-row Python
        for path, lo, n in partition.slices:
            yield from _segment_table(path).slice(lo, n).to_batches()

    def commit(self, end: dict) -> None:
        # Belt-and-braces restart sync: committed batches can only move
        # the cursor forward (covers a hard-stop replay where the first
        # engine callback is a commit of the recovered batch).
        if self._cur is None or end["row"] > self._cur:
            self._cur = end["row"]

    def stop(self) -> None:
        if self.feeder is not None and self._files is not None:
            self.feeder.close(self._append)


class NtripReplayDataSource(DataSource):
    """``spark.readStream.format("ntrip_replay").option("path", …)``."""

    @classmethod
    def name(cls) -> str:
        return "ntrip_replay"

    def schema(self):
        return ARCHIVE_SCHEMA

    def streamReader(self, schema):
        if not self.options.get("path"):
            raise ValueError("ntrip_replay requires option 'path'")
        return _ReplayReader(self.options)


def register_replay_source(spark) -> None:
    spark.dataSource.register(NtripReplayDataSource)


def frames_stream(spark, archive_path: str, batch_rows: int = 1000,
                  checkpoint: str | None = None):
    """readStream over an archive → (mountpoint, receive_time, frame).
    Pass the query's ``checkpoint`` so a restarted stream recovers its
    replay cursor from the offset log (see ``_ReplayReader``)."""
    from pyspark.sql import functions as F

    register_replay_source(spark)
    reader = (
        spark.readStream.format("ntrip_replay")
        .option("path", archive_path)
        .option("batchrows", str(batch_rows))
    )
    if checkpoint:
        reader = reader.option("checkpoint", checkpoint)
    raw = reader.load()
    return raw.select(
        "mountpoint",
        F.timestamp_micros(F.col("receive_time_us")).alias("receive_time"),
        "frame",
    )

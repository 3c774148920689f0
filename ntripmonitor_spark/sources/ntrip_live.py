"""Live NTRIP streaming DataSource (S1): caster receivers feeding the
bronze frame spool.

The stream reader is the replay reader (``streaming.replay``) with a
feeder attached. It runs in Spark's long-lived driver-side Python
process; on its first offset call it starts one receiver thread per
``casters`` entry. Each receiver holds ONE TCP/SSL connection to its
mountpoint (HTTP GET /{mountpoint}, Basic auth —
``sources.ntrip_client``), runs the chunked-transfer decoder and the
frame aligner incrementally, and queues CRC-valid frames as
(mountpoint, receive_time_us, frame) rows.

Design notes (SURVEY.md §7.3 "bronze first"):

* A caster stream is not replayable, so every ``latestOffset()``
  writes what the receivers hold as one new immutable parquet segment
  of the spool, and offsets are spool row positions; each batch takes
  everything spooled so far. Batches read spool ranges exactly as a
  replay reads the archive, so a replayed batch reads the same frames:
  with the idempotent sinks, every frame a caster sends reaches the
  sink exactly once.
* The spool IS the bronze archive: ``replay.frames_stream`` over the
  ``path`` option re-reads it. Restart durability needs ``path`` (the
  restarted query resumes from its checkpoint's offset into the same
  spool); without ``path`` the spool is a fresh temporary directory.
* Reconnect-with-backoff mirrors D7 (fixed 5 s,
  src/databasehandling.py:287-307).

The protocol/alignment state machine (``MountpointStreamState``) is
sans-IO and unit-tested; only ``_Receivers`` touches the network.
"""

from __future__ import annotations

import fcntl
import json
import os
import shutil
import signal
import tempfile
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql.datasource import DataSource

from ntripmonitor_spark.sources.framing import scan_frames
from ntripmonitor_spark.sources.ntrip_client import (
    ChunkedDecoder,
    build_request,
    parse_response_head,
)
from ntripmonitor_spark.streaming.replay import ARCHIVE_SCHEMA, _ReplayReader

RECONNECT_DELAY_S = 5.0  # D7: fixed NTRIP retry cadence
_POLL_S = 0.2  # receive timeout: how often a receiver checks for stop()


@dataclass
class MountpointStreamState:
    """Sans-IO per-connection state: HTTP head parse → optional chunk
    decode → frame alignment with carry-over."""

    mountpoint: str
    head_parsed: bool = False
    chunked: bool = False
    _raw: bytearray = field(default_factory=bytearray)
    _chunker: ChunkedDecoder = field(default_factory=ChunkedDecoder)
    _buf: bytes = b""

    def feed(self, data: bytes) -> list[bytes]:
        """Raw socket bytes in → complete CRC-valid frames out."""
        if not self.head_parsed:
            self._raw.extend(data)
            if b"\r\n\r\n" not in self._raw:
                return []  # header still incomplete
            # a malformed complete header raises ValueError: reconnect
            head, rest = parse_response_head(bytes(self._raw))
            if head.status != 200:
                raise ConnectionError(f"{self.mountpoint}: caster answered {head.status}")
            self.head_parsed = True
            self.chunked = head.chunked
            self._raw.clear()
            data = rest
        body = self._chunker.feed(data) if self.chunked else data
        self._buf += body
        frames, self._buf = scan_frames(self._buf, final=False)
        return frames


def _connect(caster: dict):
    import socket
    import ssl

    url = caster["url"]
    scheme, rest = url.split("://", 1) if "://" in url else ("http", url)
    hostport = rest.rstrip("/")
    host, _, port = hostport.partition(":")
    port = int(port or (443 if scheme == "https" else 2101))
    sock = socket.create_connection((host, port), timeout=10.0)
    if scheme == "https":
        sock = ssl.create_default_context().wrap_socket(sock, server_hostname=host)
    sock.sendall(
        build_request(caster["mountpoint"], hostport,
                      caster.get("user", ""), caster.get("password", ""))
    )
    return sock


class _Receivers:
    """The live source's feeder: one receiver thread per caster entry,
    all appending to one inbox, plus the spool's process lifecycle
    (its writer lock, SIGTERM, removing a temporary spool). Nothing
    starts before ``open()``, so an unopened feeder pickles with its
    reader."""

    def __init__(self, casters: list[dict]):
        self.casters = casters

    def open(self, path: str | None) -> str:
        """Take the spool at ``path`` (a fresh temporary directory when
        None), start the receivers and return the spool directory."""
        self._tmp = not path
        self.path = path or tempfile.mkdtemp(prefix="ntrip-spool-")
        os.makedirs(self.path, exist_ok=True)
        # One writer per spool: a restarted query waits here for the
        # previous query's process to flush and exit.
        self._lock_file = open(os.path.join(self.path, ".lock"), "w")
        fcntl.flock(self._lock_file, fcntl.LOCK_EX)
        # Spark stops this process with SIGTERM and then closes its
        # socket; the runner's read then fails and its ``finally:
        # reader.stop()`` calls close(). Ignoring the signal means the
        # process never exits halfway through writing a segment.
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        self.start()
        return self.path

    def close(self, append) -> None:
        """Stop the receivers and ``append`` what they still hold as
        the last segment; a temporary spool is removed instead, as
        nothing can resume from it."""
        rows = self.stop()
        if self._tmp:
            shutil.rmtree(self.path, ignore_errors=True)
        else:
            append(rows)
        self._lock_file.close()

    def start(self) -> None:
        self._inbox: list[tuple[str, int, bytes]] = []
        self._lock = threading.Lock()
        self._stopping = threading.Event()
        self._threads = [threading.Thread(target=self._receive, args=(c,), daemon=True)
                         for c in self.casters]
        for t in self._threads:
            t.start()

    def drain(self) -> list[tuple[str, int, bytes]]:
        with self._lock:
            rows = self._inbox[:]
            self._inbox.clear()
        return rows

    def stop(self) -> list[tuple[str, int, bytes]]:
        """Close the connections, join the threads, return the rest."""
        self._stopping.set()
        for t in self._threads:
            t.join()
        return self.drain()

    def _receive(self, caster: dict) -> None:
        """Thread body: hold one connection to the mountpoint and queue
        its frames until ``stop()``. A refused connect, an EOF, a
        non-200 answer, a malformed status line or a malformed chunked body
        closes the connection and retries after ``RECONNECT_DELAY_S``."""
        mp = caster["mountpoint"]
        sock = state = None
        try:
            while not self._stopping.is_set():
                if sock is None:
                    try:
                        sock = _connect(caster)
                    except OSError:
                        self._stopping.wait(RECONNECT_DELAY_S)
                        continue
                    sock.settimeout(_POLL_S)
                    state = MountpointStreamState(mp)
                try:
                    data = sock.recv(65536)
                    if not data:
                        raise ConnectionError("EOF")
                    frames = state.feed(data)
                # TimeoutError ⊂ OSError: the timeout arm must come FIRST
                # or every idle poll drops the connection; everything else
                # (graceful EOF, reset, non-200, a bad status line, a bad
                # chunk framing from ChunkedDecoder) reconnects (D7).
                except TimeoutError:  # poll the stop flag
                    continue
                except (OSError, ValueError):
                    sock.close()
                    sock = None
                    self._stopping.wait(RECONNECT_DELAY_S)
                    continue
                if frames:
                    now_us = time.time_ns() // 1000
                    with self._lock:
                        self._inbox.extend((mp, now_us, f) for f in frames)
        finally:
            if sock is not None:
                sock.close()


class NtripLiveDataSource(DataSource):
    """``spark.readStream.format("ntrip_live").option("casters", json)
    .option("path", spool_dir)`` — ``path`` is the deployment's bronze
    spool (optional; needed for restart durability)."""

    @classmethod
    def name(cls) -> str:
        return "ntrip_live"

    def schema(self):
        return ARCHIVE_SCHEMA

    def streamReader(self, schema):
        casters = self.options.get("casters")
        if not casters:
            raise ValueError(
                'ntrip_live requires option casters=\'[{"url":…,"mountpoint":…,…}]\''
            )
        return _ReplayReader(self.options, feeder=_Receivers(json.loads(casters)))


def register_live_source(spark) -> None:
    spark.dataSource.register(NtripLiveDataSource)

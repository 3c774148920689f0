"""Frame splitter / aligner (S3) + CRC gate (S4).

Batch form of the reference's stream-alignment state machine
(`src/ntripclient.py:505-558`): scan a byte blob for the 0xD3 preamble
(byte-aligned), peek the 10-bit payload length, emit the frame if its
CRC-24Q validates, otherwise slide ONE byte and rescan (realign,
`src/ntripclient.py:546-552`). Incomplete trailing bytes are returned
as the carry-over buffer (streaming) or dropped (batch).

Spark-side this runs as a ``mapInPandas`` stage over
(mountpoint, receive_time, blob) rows — Arrow-batched, one Python pass
per blob, no per-frame Python round-trips.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ntripmonitor_spark.functions.crc24q import frame_crc_ok
from ntripmonitor_spark.schema import FRAMES_SCHEMA

PREAMBLE = 0xD3
MIN_FRAME = 6  # 3-byte header + 3-byte CRC


def scan_frames(buf: bytes, final: bool = True) -> tuple[list[bytes], bytes]:
    """Extract all complete CRC-valid frames from ``buf``.

    Returns (frames, remainder). With ``final=False`` (stream
    carry-over mode) a candidate whose claimed length runs past the end
    of the buffer holds the tail for the next chunk — the reference's
    wait-for-more-bytes behavior (`src/ntripclient.py:543-544`) —
    unless a complete valid frame follows it in the buffer. With
    ``final=True`` (batch blobs) nothing more is coming, so the scan
    slides one byte and keeps searching instead of parking on a
    spurious preamble byte.
    """
    frames: list[bytes] = []
    pos = 0
    n = len(buf)
    while True:
        # Byte-aligned preamble scan.
        idx = buf.find(b"\xd3", pos)
        if idx < 0:
            return frames, b""
        if n - idx < MIN_FRAME:
            if final:
                pos = idx + 1
                continue
            return frames, buf[idx:]
        length = ((buf[idx + 1] & 0x03) << 8) | buf[idx + 2]
        end = idx + 3 + length + 3
        if end > n:
            # Frames never overlap, so a complete CRC-valid frame later
            # in the buffer proves this preamble spurious: slide past it
            # instead of parking on it until ``length`` more bytes come
            # (at the end of a stream they never do).
            if final or scan_frames(buf[idx + 1:])[0]:
                pos = idx + 1
                continue
            return frames, buf[idx:]
        candidate = buf[idx:end]
        if frame_crc_ok(candidate):
            frames.append(candidate)
            pos = end
        else:
            pos = idx + 1  # realign by one byte


def scan_frames_batch(blobs: list[bytes]) -> tuple[list[bytes], list[int]]:
    """Batch aligner: returns (frames, blob_index) over many blobs.

    Fast path: candidates are sliced optimistically (preamble + length,
    no CRC) and validated with ONE vectorized CRC-24Q pass
    (`crc24q_batch`). Only blobs containing a CRC failure — i.e. where
    the realign-by-one-byte state machine actually engages — are
    re-scanned with the exact scalar ``scan_frames``. Identical output
    to per-blob ``scan_frames``; the per-byte Python CRC loop is gone
    from the common case.
    """
    import numpy as np

    from ntripmonitor_spark.functions.bitvec import frames_matrix
    from ntripmonitor_spark.functions.crc24q import frame_crc_ok_batch

    cands: list[bytes] = []
    cand_blob: list[int] = []
    for bi, buf in enumerate(blobs):
        pos, n = 0, len(buf)
        while True:
            idx = buf.find(b"\xd3", pos)
            if idx < 0 or n - idx < MIN_FRAME:
                break
            length = ((buf[idx + 1] & 0x03) << 8) | buf[idx + 2]
            end = idx + 3 + length + 3
            if end > n:
                pos = idx + 1
                continue
            cands.append(buf[idx:end])
            cand_blob.append(bi)
            pos = end
    if not cands:
        return [], []
    m, lens = frames_matrix(cands)
    ok = frame_crc_ok_batch(m, lens)
    bad_blobs = {cand_blob[i] for i in np.flatnonzero(~ok)}
    frames: list[bytes] = []
    out_idx: list[int] = []
    rescanned: set[int] = set()
    for i, c in enumerate(cands):
        bi = cand_blob[i]
        if bi in bad_blobs:
            if bi not in rescanned:
                rescanned.add(bi)
                fs, _rest = scan_frames(blobs[bi])
                frames.extend(fs)
                out_idx.extend([bi] * len(fs))
            continue
        frames.append(c)
        out_idx.append(bi)
    return frames, out_idx


def split_frames(blobs: DataFrame) -> DataFrame:
    """(mountpoint, receive_time, blob) → (mountpoint, receive_time,
    frame) with one row per CRC-valid frame, order-preserving within a
    blob. Partial tails are dropped (batch semantics)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mps, rts, frs = [], [], []
            for mp, rt, blob in zip(pdf["mountpoint"], pdf["receive_time"], pdf["blob"]):
                if blob is None:
                    continue
                frames, _rest = scan_frames(bytes(blob))
                for f in frames:
                    mps.append(mp)
                    rts.append(rt)
                    frs.append(f)
            yield pd.DataFrame({"mountpoint": mps, "receive_time": rts, "frame": frs})

    return blobs.mapInPandas(gen, schema=FRAMES_SCHEMA)

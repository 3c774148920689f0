"""RTCM v3 decode: frames → nested IR → packages / observations.

Split of labor (SURVEY.md §2.2, §3.1):

* **Bit-level decode** (sub-byte fields — P1, P2, P7-P9, P5, P11) runs
  in ONE Arrow-batched ``mapInArrow`` stage producing the nested
  ``DECODED_SCHEMA`` IR. This is the only Python in the path; a bad
  frame yields a null-typed row instead of failing the batch
  (error-tolerant decode, cf. src/decoderclasses.py:59-69).
* **Everything downstream is JVM-side Spark SQL**: epoch
  reconstruction (P15), envelope projection (P16), mask explosion +
  satellite-id synthesis (P13-P14), field-major→row-major transpose
  (P10 — ``arrays_zip`` over the already-columnar IR), observable
  scaling (P17), constellation classification (P12).

Layouts follow RTCM 10403 as transcribed by the reference
(src/rtcm3.py:316-391); observable semantics mirror
DecoderMSM.decode (src/decoderclasses.py:177-254). The reference's
quirks (SURVEY.md §7.3) are NOT reproduced: MSM1-4/6 frames — whose
observations the reference routes (src/databasehandling.py:60-129) but
whose decode crashes/short-circuits (DecoderMSM scales only levels
5/7) — decode gracefully here per spec, with level-appropriate scale
factors (MSM1-5: 2^-24/2^-29 fine fields, 1 dB CNR; MSM6/7:
2^-29/2^-31, 2^-4 CNR; MSM1-3: mod-1-ms rough range only, absent
fields null). Legacy 1001-1012 per-satellite records decode too
("decoded-but-optional", SURVEY.md §7.3).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame

from ntripmonitor_spark.functions.bitio import BitReader
from ntripmonitor_spark.functions.crc24q import frame_crc_ok
from ntripmonitor_spark.functions.fastlit import string_map_sql
from ntripmonitor_spark.schema import (
    CONSTELLATION_IDS,
    DECODED_SCHEMA,
    MSM_SIGNAL_TYPES,
    constellation_sql,
)

_MSM_RANGES = ((1071, 1077), (1081, 1087), (1091, 1097), (1101, 1107), (1111, 1117), (1121, 1127))

# Legacy observation record layouts (src/rtcm3.py:320-339 / RTCM
# 10403): ordered (field, width, signed) per type. The reference
# decodes these but never STORES them (no DECODER_MAP entry,
# SURVEY.md §7.3); here they decode into the IR's `legacy` list
# ("decoded-but-optional", SURVEY.md §7.3).
def _legacy_layout(t: int) -> tuple[tuple[str, int, bool], ...]:
    base: list[tuple[str, int, bool]] = [("sat_id_raw", 6, False), ("l1_code", 1, False)]
    if t >= 1009:
        base.append(("fcn", 5, False))
    base += [("l1_pr", 24, False), ("l1_phr_diff", 20, True), ("l1_lock", 7, False)]
    amb = [("l1_amb", 8, False), ("l1_cnr", 8, False)]
    l2 = [("l2_code", 1, False), ("l2_pr", 24, False),
          ("l2_phr_diff", 20, True), ("l2_lock", 7, False)]
    sub = t - (1000 if t <= 1004 else 1008)
    if sub == 1:
        fields = base
    elif sub == 2:
        fields = base + amb
    elif sub == 3:
        fields = base + l2
    else:  # 1004 / 1012
        fields = base + amb + l2 + [("l2_cnr", 8, False)]
    return tuple(fields)


LEGACY_LAYOUTS = {t: _legacy_layout(t) for t in (1001, 1002, 1003, 1004, 1009, 1010, 1011, 1012)}
LEGACY_FIELDS = (
    "sat_id_raw", "l1_code", "fcn", "l1_pr", "l1_phr_diff", "l1_lock",
    "l1_amb", "l1_cnr", "l2_code", "l2_pr", "l2_phr_diff", "l2_lock", "l2_cnr",
)

# Record widths in bits (1001:58 .. 1004:134, 1009:63 .. 1012:139).
_LEGACY_OBS_BITS = {t: sum(w for _, w, _ in lay) for t, lay in LEGACY_LAYOUTS.items()}


def _is_msm(t: int) -> bool:
    return any(lo <= t <= hi for lo, hi in _MSM_RANGES)


def _decode_one(frame: bytes) -> dict:
    """One frame → one DECODED_SCHEMA dict (nulls where not applicable)."""
    out: dict = {
        "msg_type": None, "msg_size": len(frame), "crc_ok": frame_crc_ok(frame),
        "station_id": None, "epoch_ms": None, "glonass_dow": None,
        "sat_mask": None, "sig_mask": None, "cell_mask": None,
        "sat_slots": None, "sig_slots": None, "cell_slots": None,
        "sats": None, "cells": None, "legacy": None,
        "ecef_x": None, "ecef_y": None, "ecef_z": None, "ant_height": None,
        "text": None,
    }
    if not out["crc_ok"] or len(frame) < 8:
        return out
    r = BitReader(frame[3:-3])  # strip envelope header + CRC (P1)
    t = r.uint(12)
    out["msg_type"] = t
    try:
        if _is_msm(t):
            out["station_id"] = r.uint(12)
            epoch30 = r.uint(30)
            if 1081 <= t <= 1087:
                # GLONASS epoch: DOW(3) | TOD(27) ms (src/rtcm3.py:106-109)
                out["glonass_dow"] = epoch30 >> 27
                out["epoch_ms"] = epoch30 & ((1 << 27) - 1)
            else:
                out["epoch_ms"] = epoch30
            r.bit()          # multiple-message flag
            r.uint(3)        # IODS
            r.pad(7)         # reserved
            r.uint(2)        # clock steering
            r.uint(2)        # external clock
            r.bit()          # smoothing
            r.uint(3)        # smoothing interval
            sat_mask = r.bin(64)
            sig_mask = r.bin(32)
            nsat = sat_mask.count("1")
            nsig = sig_mask.count("1")
            if nsat * nsig > 64:
                # RTCM DF396 caps the cell mask at 64 bits; frames
                # violating that (impossible per spec) get
                # envelope-only treatment — same as the vectorized
                # decoder (rtcm_vec._decode_msm).
                return out
            cell_mask = r.bin(nsat * nsig) if nsat * nsig else ""
            ncells = cell_mask.count("1")
            out["sat_mask"], out["sig_mask"], out["cell_mask"] = sat_mask, sig_mask, cell_mask
            # set-bit positions, so the JVM flatten never parses strings
            out["sat_slots"] = [i for i, ch in enumerate(sat_mask) if ch == "1"]
            out["sig_slots"] = [i for i, ch in enumerate(sig_mask) if ch == "1"]
            out["cell_slots"] = [i for i, ch in enumerate(cell_mask) if ch == "1"]
            level = t % 10
            if level in (4, 5, 6, 7):
                # Field-major read (src/rtcm3.py:161-167); stored
                # row-major in the IR — the transpose is free here.
                # MSM4/6 have no ext_info / rough rate and no fine
                # rate: decoded gracefully (doppler later null), NOT
                # reproducing the reference's MSM4/6 crash
                # (SURVEY.md §7.3).
                has_rate = level in (5, 7)
                int_ms = [r.uint(8) for _ in range(nsat)]
                ext = [r.uint(4) for _ in range(nsat)] if has_rate else [None] * nsat
                mod1ms = [r.uint(10) for _ in range(nsat)]
                rate = [r.sint(14) for _ in range(nsat)] if has_rate else [None] * nsat
                out["sats"] = [
                    {"int_ms": a, "ext_info": b, "mod1ms": c, "rough_rate": d}
                    for a, b, c, d in zip(int_ms, ext, mod1ms, rate)
                ]
                if level in (4, 5):
                    widths = [(15, True), (22, True), (4, False), (1, False), (6, False)]
                else:
                    widths = [(20, True), (24, True), (10, False), (1, False), (10, False)]
                if has_rate:
                    widths.append((15, True))
                cols = []
                for nbits, signed in widths:
                    cols.append([r.sint(nbits) if signed else r.uint(nbits) for _ in range(ncells)])
                if not has_rate:
                    cols.append([None] * ncells)
                out["cells"] = [
                    {
                        "fine_code": fc, "fine_phase": fp, "lock": lk,
                        "half_cycle": bool(hc), "cnr": cn, "fine_rate": fr,
                    }
                    for fc, fp, lk, hc, cn, fr in zip(*cols)
                ]
            else:
                # MSM1-3 (RTCM 10403): satellite block is the 10-bit
                # rough-range mod 1 ms alone (no int_ms/ext/rate);
                # cells carry level subsets — MSM1: fine code; MSM2:
                # fine phase + lock + half-cycle; MSM3: both. The
                # reference's DecoderMSM defines scaling only for
                # 5/7 (src/decoderclasses.py:206-214 — others die in
                # its except), so like MSM4/6 these decode gracefully
                # per spec rather than reproducing the crash.
                mod1ms = [r.uint(10) for _ in range(nsat)]
                out["sats"] = [
                    {"int_ms": None, "ext_info": None, "mod1ms": v, "rough_rate": None}
                    for v in mod1ms
                ]
                if level == 1:
                    widths = [("fine_code", 15, True)]
                elif level == 2:
                    widths = [("fine_phase", 22, True), ("lock", 4, False),
                              ("half_cycle", 1, False)]
                else:
                    widths = [("fine_code", 15, True), ("fine_phase", 22, True),
                              ("lock", 4, False), ("half_cycle", 1, False)]
                data = {
                    name: [r.sint(nbits) if signed else r.uint(nbits) for _ in range(ncells)]
                    for name, nbits, signed in widths
                }
                none = [None] * ncells
                out["cells"] = [
                    {
                        "fine_code": fc, "fine_phase": fp, "lock": lk,
                        "half_cycle": None if hc is None else bool(hc),
                        "cnr": None, "fine_rate": None,
                    }
                    for fc, fp, lk, hc in zip(
                        data.get("fine_code", none), data.get("fine_phase", none),
                        data.get("lock", none), data.get("half_cycle", none),
                    )
                ]
        elif t in _LEGACY_OBS_BITS:
            out["station_id"] = r.uint(12)
            out["epoch_ms"] = r.uint(30 if t <= 1004 else 27)
            r.bit()          # synchronous GNSS flag
            nsat = r.uint(5)
            r.bit()          # divergence-free smoothing
            r.uint(3)        # smoothing interval
            out["sats"] = [
                {"int_ms": None, "ext_info": None, "mod1ms": None, "rough_rate": None}
            ] * nsat
            # Per-sat records decode only when ALL nsat records are on
            # the wire (truncated → envelope-only, like the MSM path).
            if r.remaining >= nsat * _LEGACY_OBS_BITS[t]:
                layout = LEGACY_LAYOUTS[t]
                recs = []
                for _ in range(nsat):
                    rec = dict.fromkeys(LEGACY_FIELDS)
                    for name, nbits, signed in layout:
                        v = r.sint(nbits) if signed else r.uint(nbits)
                        rec[name] = bool(v) if name in ("l1_code", "l2_code") else v
                    recs.append(rec)
                out["legacy"] = recs
        elif t in (1005, 1006):
            out["station_id"] = r.uint(12)
            r.uint(6)        # ITRF year
            r.bit(); r.bit(); r.bit()  # GPS/GLONASS/Galileo flags
            r.bit()          # reference-station indicator
            out["ecef_x"] = r.sint(38)
            r.bit()          # oscillator indicator
            r.pad(1)
            out["ecef_y"] = r.sint(38)
            r.pad(2)
            out["ecef_z"] = r.sint(38)
            if t == 1006:
                out["ant_height"] = r.uint(16)
        elif t == 1029:
            out["station_id"] = r.uint(12)
            r.uint(16)       # MJD
            r.uint(17)       # UTC seconds of day
            r.uint(7)        # number of characters
            nbytes = r.uint(8)
            raw = bytes(r.uint(8) for _ in range(nbytes))
            out["text"] = raw.decode("utf-8", errors="replace")
        # other types: metadata-only row ("not implemented",
        # src/rtcm3.py:171-172)
    except (EOFError, ValueError):
        # Truncated/corrupt payload behind a valid CRC: envelope only.
        pass
    return out


def decode_frames(frames: DataFrame) -> DataFrame:
    """(mountpoint, receive_time, frame) → nested DECODED_SCHEMA rows.

    Arrow-native vectorized decode (operators/rtcm_vec.py): per-field
    NumPy extraction over a frame matrix, output assembled directly as
    Arrow list<struct> buffers — no per-row Python in the hot path.
    """
    import pyarrow as pa

    from ntripmonitor_spark.operators.rtcm_vec import decoded_record_batch

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            # the Arrow binary column feeds frames_matrix buffer-
            # directly — no per-row bytes() materialization
            yield decoded_record_batch(
                batch.column("mountpoint"), batch.column("receive_time"),
                batch.column("frame"),
            )

    return frames.mapInArrow(gen, schema=DECODED_SCHEMA)


def decode_blobs(blobs: DataFrame) -> DataFrame:
    """Fused align(S3) + CRC(S4) + decode stage: (mountpoint,
    receive_time, blob) → DECODED_SCHEMA, one Arrow round-trip instead
    of two (the frame bytes never travel back through the JVM between
    alignment and decode)."""
    import pyarrow as pa

    from ntripmonitor_spark.operators.rtcm_vec import decoded_record_batch
    from ntripmonitor_spark.sources.framing import scan_frames_batch

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            raw = batch.column("blob").to_pylist()
            orig = [i for i, b in enumerate(raw) if b is not None]
            frames_out, idx = scan_frames_batch([raw[i] for i in orig])
            take = pa.array([orig[i] for i in idx], type=pa.int64())
            yield decoded_record_batch(
                batch.column("mountpoint").take(take),
                batch.column("receive_time").take(take),
                frames_out,
            )

    return blobs.mapInArrow(gen, schema=DECODED_SCHEMA)


# ---------------------------------------------------------------------------
# Epoch reconstruction (P15) and the projections (P12-P17), written as
# Spark SQL text: one selectExpr/where call per plan step. Every F.* call
# or Column operator is a py4j round trip, and the foreachBatch sinks
# rebuild these projections on every micro-batch; as text each costs a
# few dozen round trips at most (pinned by
# tests/test_rtcm_sql_projections.py). Double literals carry a ``D``
# suffix: a bare ``1024.0`` in Spark SQL is DECIMAL(5,1).
# ---------------------------------------------------------------------------

_US_DAY = 86_400_000_000
_US_5H = 5 * 3600 * 1_000_000
_US_3H = 3 * 3600 * 1_000_000


def obs_epoch_sql(receive_time: str, epoch_ms: str, msg_type: str) -> str:
    """Deterministic gnssEpochStr (src/decoderclasses.py:17-52) with
    ``receive_time`` playing the wall clock, in exact integer µs, as a
    SQL expression over the three named columns:

      obsSec = (epoch_ms/1000) % 86400 ; us = (epoch_ms%1000)*1000
      if obsSec - nowSecOfDay < -5h: next day
      GLONASS types (1009-1012, 1081-1087): −3 h
    """
    # The explicit TIMESTAMP_LTZ cast (functions.timeutil.epoch_us):
    # receive_time is LTZ on every in-repo path, but an NTZ-typed source
    # must degrade to a no-op cast, not an AnalysisException from
    # unix_micros.
    now_us = f"unix_micros(CAST({receive_time} AS TIMESTAMP_LTZ))"
    obs_sec = f"(CAST({epoch_ms} / 1000 AS BIGINT) % 86400)"
    candidate = (
        f"CAST({now_us} / {_US_DAY}L AS BIGINT) * {_US_DAY}L"
        f" + {obs_sec} * 1000000 + ({epoch_ms} % 1000) * 1000"
    )
    rollover = (
        f"CASE WHEN {obs_sec} * 1000000 - ({now_us} % {_US_DAY}L) < -{_US_5H}L"
        f" THEN {_US_DAY}L ELSE 0L END"
    )
    glonass = (
        f"CASE WHEN {msg_type} BETWEEN 1009 AND 1012 OR {msg_type} BETWEEN 1081 AND 1087"
        f" THEN {_US_3H}L ELSE 0L END"
    )
    return f"timestamp_micros({candidate} + {rollover} - {glonass})"


_OBS_EPOCH = obs_epoch_sql("receive_time", "epoch_ms", "msg_type")
_IS_MSM = "msg_type BETWEEN 1071 AND 1127"


def packages(decoded: DataFrame) -> DataFrame:
    """Envelope projection (src/decoderclasses.py:100-122): obs_epoch
    and sat_count only for MSM types."""
    return decoded.selectExpr(
        "mountpoint",
        "receive_time",
        f"CASE WHEN {_IS_MSM} THEN {_OBS_EPOCH} END AS obs_epoch",
        "msg_type",
        "msg_size",
        f"CASE WHEN {_IS_MSM} THEN size(sats) END AS sat_count",
    )


def _signal_name_map() -> str:
    """map<'CONST|slot', name> SQL literal for the P13 lookup (tiny,
    constant-folded; the join-free alternative to signal_dim)."""
    return string_map_sql({
        f"{const}|{slot}": name
        for const, names in MSM_SIGNAL_TYPES.items()
        for slot, name in enumerate(names)
    })


def observations(decoded: DataFrame) -> DataFrame:
    """MSM1-7 observation flattening + scaling, entirely JVM-side.

    Mirrors DecoderMSM.decode (src/decoderclasses.py:177-254): for the
    k-th '1' in the cell mask at position p, satNo = p div nsig indexes
    the satellite block, sigNo = p mod nsig indexes the masked signal
    list, and the k-th cell record carries the fine values.
    """
    # k-th cell ↔ k-th set position: zip then explode (P10's transpose
    # analog — one generator, no Python). The slot/position arrays are
    # decoder-precomputed integers (DECODED_SCHEMA), so no mask-string
    # parsing happens JVM-side.
    d = decoded.where(f"{_IS_MSM} AND cells IS NOT NULL").selectExpr(
        "mountpoint",
        f"{_OBS_EPOCH} AS obs_epoch",
        "msg_type",
        f"{constellation_sql('msg_type')} AS constellation",
        "sat_slots",
        "sig_slots",
        "size(sig_slots) AS nsig",
        "explode(arrays_zip(cell_slots, cells)) AS cz",
        "sats",
    )
    sat_no = "CAST(cz.cell_slots / nsig AS INT)"
    sig_no = "cz.cell_slots % nsig"
    sat = f"element_at(sats, {sat_no} + 1)"
    cell = "cz.cells"

    # MSM1-5 carry the 15/22-bit fine fields (2^-24 / 2^-29, CNR 1 dB);
    # MSM6/7 the high-res 20/24-bit ones (2^-29 / 2^-31, CNR 2^-4).
    # MSM1-3 satellites have no int_ms: their ranges are rough-range
    # mod 1 ms only (RTCM DF398), so `rough` is the fractional term
    # alone and absent fine fields null out code/phase/snr/doppler.
    lvl = "msg_type % 10"
    code_fine = f"CASE WHEN {lvl} <= 5 THEN pow(2.0D, -24) ELSE pow(2.0D, -29) END"
    phase_fine = f"CASE WHEN {lvl} <= 5 THEN pow(2.0D, -29) ELSE pow(2.0D, -31) END"
    snr_scale = f"CASE WHEN {lvl} IN (4, 5) THEN 1.0D ELSE pow(2.0D, -4) END"
    frac = f"{sat}.mod1ms / 1024.0D"
    rough = f"CASE WHEN {lvl} <= 3 THEN {frac} ELSE {sat}.int_ms + {frac} END"
    const_id = f"element_at({string_map_sql(CONSTELLATION_IDS)}, constellation)"
    return d.selectExpr(
        "mountpoint",
        "obs_epoch",
        "msg_type",
        f"format_string('%s%02d', {const_id}, element_at(sat_slots, {sat_no} + 1) + 1)"
        " AS sat_id",
        f"element_at({_signal_name_map()},"
        f" concat_ws('|', constellation, element_at(sig_slots, {sig_no} + 1))) AS sat_signal",
        f"{rough} + {cell}.fine_code * {code_fine} AS code",
        f"{rough} + {cell}.fine_phase * {phase_fine} AS phase",
        f"{sat}.rough_rate + {cell}.fine_rate * 0.0001D AS doppler",
        f"{cell}.cnr * {snr_scale} AS snr",
        f"{cell}.lock AS lock",
        "constellation",
    )


def legacy_observations(decoded: DataFrame) -> DataFrame:
    """Legacy 1001-1012 observation flattening + RTCM scaling, JVM-side.

    The reference decodes these records but never stores them
    (src/rtcm3.py:320-339 read loop :128-131; no DECODER_MAP entry) —
    SURVEY.md §7.3 scopes them "decoded-but-optional". Scaling follows
    the published RTCM 10403 data fields: pseudorange = amb·299792.458
    + pr·0.02 m (ambiguity only on the full messages 1002/1004/1010/
    1012), phaserange = pseudorange + diff·0.0005 m, CNR in 0.25 dB-Hz
    steps, GLONASS frequency channel = fcn − 7.
    """
    d = decoded.where(
        "(msg_type BETWEEN 1001 AND 1004 OR msg_type BETWEEN 1009 AND 1012)"
        " AND legacy IS NOT NULL"
    ).selectExpr(
        "mountpoint",
        f"{_OBS_EPOCH} AS obs_epoch",
        "msg_type",
        "station_id",
        f"{constellation_sql('msg_type')} AS constellation",
        "explode(legacy) AS rec",
    )
    amb_m = "coalesce(rec.l1_amb, 0) * 299792.458D"
    l1_pr_m = f"({amb_m} + rec.l1_pr * 0.02D)"
    l2_pr_m = f"({amb_m} + rec.l2_pr * 0.02D)"
    return d.selectExpr(
        "mountpoint",
        "obs_epoch",
        "msg_type",
        "station_id",
        "format_string('%s%02d', CASE WHEN constellation = 'GLONASS' THEN 'R' ELSE 'G' END,"
        " rec.sat_id_raw) AS sat_id",
        "rec.fcn - 7 AS freq_channel",
        "rec.l1_code AS l1_code",
        f"{l1_pr_m} AS l1_pseudorange_m",
        f"{l1_pr_m} + rec.l1_phr_diff * 0.0005D AS l1_phaserange_m",
        "rec.l1_lock AS l1_lock",
        "rec.l1_cnr * 0.25D AS l1_cnr_dbhz",
        "rec.l2_code AS l2_code",
        f"CASE WHEN rec.l2_pr IS NOT NULL THEN {l2_pr_m} END AS l2_pseudorange_m",
        f"CASE WHEN rec.l2_pr IS NOT NULL THEN {l2_pr_m} + rec.l2_phr_diff * 0.0005D END"
        " AS l2_phaserange_m",
        "rec.l2_lock AS l2_lock",
        "rec.l2_cnr * 0.25D AS l2_cnr_dbhz",
        "constellation",
    )


def coordinates(decoded: DataFrame) -> DataFrame:
    """1005/1006 ARP decode + 1e-4 scaling (P5-P6,
    src/decoderclasses.py:142-158)."""
    return decoded.where("msg_type IN (1005, 1006)").selectExpr(
        "mountpoint",
        "receive_time",
        "msg_type",
        "station_id",
        "ecef_x / 10000.0D AS ecef_x_m",
        "ecef_y / 10000.0D AS ecef_y_m",
        "ecef_z / 10000.0D AS ecef_z_m",
        "ant_height / 10000.0D AS ant_height_m",
    )

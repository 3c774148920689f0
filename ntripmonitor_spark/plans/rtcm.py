"""GNSS decode-path queries (rt*) — driver-checked end-to-end.

Each query runs the REAL pipeline: deterministic RTCM frames are
encoded from the ``events`` table (fixture encoder), wrapped in blobs
with junk bytes and CRC-corrupted decoys, then frame-aligned (S3),
CRC-gated (S4), bit-decoded (P1-P11) and flattened/scaled (P12-P17) by
the engine. Because every encoded field is an integer function of
(event_id, user_id, ts), the DuckDB oracle can recompute the expected
DECODED output analytically — so the whole
encode→align→CRC→decode→flatten→scale path is value-checked, not
rows-only.

Frame assignment per event (precedence order):
  e%7==0 → 1029 text | e%11==0 → 1006 ARP | e%5==0 → 1087 GLONASS MSM7
  | e%2==0 → 1077 GPS MSM7 | else → 1075 GPS MSM5

Deviation from the reference (documented, deliberate): obs_epoch is
µs-exact integer arithmetic; the reference's float ``obsEpoch % 1``
truncation (src/decoderclasses.py:27) can lose 1 µs.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ntripmonitor_spark.operators import rtcm
from ntripmonitor_spark.plans.registry import register
from ntripmonitor_spark.schema import BLOBS_SCHEMA, message_catalog_dim
from ntripmonitor_spark.sources import encoder
from ntripmonitor_spark.sources.framing import split_frames
from ntripmonitor_spark.tables import table

_US_DAY = 86_400_000_000


def _msg_type(e: int) -> int:
    if e % 7 == 0:
        return 1029
    if e % 11 == 0:
        return 1006
    if e % 5 == 0:
        return 1087
    return 1077 if e % 2 == 0 else 1075


def _encode_event(e: int, u: int, ts_us: int, props: str) -> bytes:
    t = _msg_type(e)
    station = u % 4096
    if t == 1029:
        mjd = ts_us // _US_DAY + 40587
        utc_s = (ts_us // 1_000_000) % 86400
        return encoder.encode_1029(station, mjd, utc_s, props)
    if t == 1006:
        x = ((e * 9973 + 123) % (1 << 38)) - (1 << 37)
        y = ((e * 31337 + 7) % (1 << 38)) - (1 << 37)
        z = ((e * 271 + 99) % (1 << 38)) - (1 << 37)
        ant = (e * 13) % 65536
        return encoder.encode_1005(station, x, y, z, ant_height=ant)
    # MSM5/7
    level = t % 10
    nsat = 1 + e % 3
    sat_slots = [(e % 50) + j for j in range(nsat)]
    sig_slots = [1, 7]
    sats = [
        {
            "int_ms": (e + j) % 128,
            "ext_info": j % 16,
            "mod1ms": (e * 31 + j * 7) % 1024,
            "rough_rate": ((e * 13 + j * 101) % 16384) - 8192,
        }
        for j in range(nsat)
    ]
    ncell_pos = nsat * 2
    drop_last = e % 4 == 1
    cell_mask = "".join(
        "0" if (drop_last and c == ncell_pos - 1) else "1" for c in range(ncell_pos)
    )
    cells = []
    for c in range(ncell_pos):
        if cell_mask[c] != "1":
            continue
        if level == 7:
            cells.append(
                {
                    "fine_code": ((e * 7919 + c * 131) % (1 << 20)) - (1 << 19),
                    "fine_phase": ((e * 104729 + c * 7919) % (1 << 24)) - (1 << 23),
                    "lock": (e + c) % 1024,
                    "half_cycle": (e + c) % 2,
                    "cnr": (e * 3 + c) % 1024,
                    "fine_rate": ((e * 17 + c * 29) % (1 << 15)) - (1 << 14),
                }
            )
        else:
            cells.append(
                {
                    "fine_code": ((e * 7919 + c * 131) % (1 << 15)) - (1 << 14),
                    "fine_phase": ((e * 104729 + c * 7919) % (1 << 22)) - (1 << 21),
                    "lock": (e + c) % 16,
                    "half_cycle": (e + c) % 2,
                    "cnr": (e * 3 + c) % 64,
                    "fine_rate": ((e * 17 + c * 29) % (1 << 15)) - (1 << 14),
                }
            )
    epoch_ms = (ts_us % _US_DAY) // 1000
    dow = (ts_us // _US_DAY + 4) % 7
    return encoder.encode_msm(
        t, station, epoch_ms, sat_slots, sig_slots, sats, cells,
        cell_mask=cell_mask, glonass_dow=dow if 1081 <= t <= 1087 else 0,
    )


def event_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → (mountpoint, receive_time, blob): one frame per event,
    prefixed with junk bytes (e%3 × 0xAA) and, every 13th event, a
    CRC-corrupted decoy copy the aligner must skip."""
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "props")
    # The encode/decode stages are Python-compute-bound; a small parquet
    # arrives as ONE input split, which would serialize the whole
    # pipeline onto one core. Spread rows across the cluster first
    # (cheap shuffle of tiny rows vs 32x loss of parallelism).
    ev = ev.repartition(spark.sparkContext.defaultParallelism)

    def gen(batches):
        import numpy as np
        import pyarrow as pa

        from ntripmonitor_spark.sources.encoder_vec import encode_event_blobs

        for batch in batches:
            e = batch.column("event_id").to_numpy().astype(np.int64)
            u = batch.column("user_id").to_numpy().astype(np.int64)
            ts_col = batch.column("ts")
            ts_us = ts_col.cast(pa.int64()).to_numpy().astype(np.int64)
            props = [str(p) for p in batch.column("props").to_pylist()]
            data, offs = encode_event_blobs(e, u, ts_us, props)
            blob = pa.Array.from_buffers(
                pa.binary(), len(e),
                [None, pa.py_buffer(offs.astype(np.int32).tobytes()),
                 pa.py_buffer(data.tobytes())],
            )
            mp = pa.array(np.char.add("MP", (u % 8).astype(str)))
            rt = pa.array(ts_us + ((e % 200) + 40) * 1000, type=pa.int64()).cast(ts_col.type)
            yield pa.RecordBatch.from_arrays([mp, rt, blob],
                                             names=["mountpoint", "receive_time", "blob"])

    return ev.mapInArrow(gen, schema=BLOBS_SCHEMA)


def decoded_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fused align+CRC+decode (one Arrow round-trip, vectorized decode).
    return rtcm.decode_blobs(event_blobs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Shared oracle CTE: re-derive every per-event parameter in SQL.
# ---------------------------------------------------------------------------

_EV_CTE = """
ev AS (
    SELECT event_id AS e, user_id AS u, props,
           'MP' || CAST(user_id % 8 AS VARCHAR) AS mountpoint,
           epoch_us(ts) AS ts_us,
           epoch_us(ts) + ((event_id % 200) + 40) * 1000 AS now_us,
           CASE WHEN event_id % 7 = 0 THEN 1029
                WHEN event_id % 11 = 0 THEN 1006
                WHEN event_id % 5 = 0 THEN 1087
                WHEN event_id % 2 = 0 THEN 1077
                ELSE 1075 END AS msg_type,
           CAST(1 + event_id % 3 AS INT) AS nsat
    FROM events
),
m AS (
    SELECT *,
           make_timestamp(now_us) AS receive_time,
           (ts_us % 86400000000) // 1000 AS epoch_ms,
           CAST(CASE WHEN e % 4 = 1 THEN nsat * 2 - 1 ELSE nsat * 2 END AS INT) AS ncells
    FROM ev
),
t AS (
    SELECT *,
           CASE WHEN msg_type >= 1071 THEN make_timestamp(
               (now_us // 86400000000) * 86400000000
               + (epoch_ms // 1000) * 1000000 + (epoch_ms % 1000) * 1000
               + CASE WHEN (epoch_ms // 1000) * 1000000 - (now_us % 86400000000)
                           < -18000000000 THEN 86400000000 ELSE 0 END
               - CASE WHEN msg_type BETWEEN 1081 AND 1087 THEN 10800000000 ELSE 0 END)
           END AS obs_epoch
    FROM m
)
"""


@register(
    "rt01_packages",
    tags=("rtcm",),
    oracle=f"""
WITH {_EV_CTE}
SELECT mountpoint, receive_time, obs_epoch, msg_type,
       CAST(CASE WHEN msg_type = 1029 THEN 15 + strlen(props)
                 WHEN msg_type = 1006 THEN 27
                 ELSE (169 + nsat * 2 + nsat * 36
                       + ncells * (CASE WHEN msg_type % 10 = 5 THEN 63 ELSE 80 END)
                       + 7) // 8 + 6 END AS INT) AS msg_size,
       CASE WHEN msg_type >= 1071 THEN nsat END AS sat_count
FROM t
""",
)
def rt01_packages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Envelope table (P16 + P15 epoch reconstruction; frame sizes
    prove the decoder consumed exactly the real frames). The CRC gate
    and decoy rejection run at archive-BUILD time: split_frames emits
    only CRC-valid frames, so the archive holds no decoys. The timed
    path still recomputes per-frame CRC inside decode_frames, but only
    over already-valid frames.

    Timed path reads the cached frame archive (same as rt09) so the
    bench measures engine CRC+decode, not the Python fixture encoder:
    the r5 driver recorded rt01 at 1.85 s vs rt09's 0.86 s on the SAME
    decode because rt01 re-encoded fixtures per run. The full
    encode→align→CRC path stays driver-proven via rt02 and the
    archive-producing run itself."""
    from ntripmonitor_spark.tables import ensure_parallelism

    frames = ensure_parallelism(
        spark.read.parquet(_frame_archive_path(spark, sf_dir))
    )
    return rtcm.packages(rtcm.decode_frames(frames))


_RT02_ORACLE = f"""
WITH {_EV_CTE},
grid AS (
    SELECT t.*, j, s, CAST(j * 2 + s AS INT) AS c
    FROM t
    CROSS JOIN (SELECT CAST(unnest(range(0, 3)) AS INT) AS j)
    CROSS JOIN (SELECT CAST(unnest(range(0, 2)) AS INT) AS s)
    WHERE msg_type >= 1071 AND j < nsat
      AND NOT (e % 4 = 1 AND j * 2 + s = nsat * 2 - 1)
),
f AS (
    SELECT *,
           CASE WHEN msg_type BETWEEN 1081 AND 1087 THEN 'GLONASS' ELSE 'GPS' END AS constellation,
           (e + j) % 128 + CAST((e * 31 + j * 7) % 1024 AS DOUBLE) / 1024 AS rough,
           ((e * 13 + j * 101) % 16384) - 8192 AS rough_rate,
           CASE WHEN msg_type % 10 = 7
                THEN (((e * 7919 + c * 131) % 1048576) - 524288) / 536870912.0
                ELSE (((e * 7919 + c * 131) % 32768) - 16384) / 16777216.0 END AS code_fine,
           CASE WHEN msg_type % 10 = 7
                THEN (((e * 104729 + c * 7919) % 16777216) - 8388608) / 2147483648.0
                ELSE (((e * 104729 + c * 7919) % 4194304) - 2097152) / 536870912.0 END AS phase_fine,
           CASE WHEN msg_type % 10 = 7 THEN (e + c) % 1024 ELSE (e + c) % 16 END AS lck,
           CASE WHEN msg_type % 10 = 7 THEN CAST((e * 3 + c) % 1024 AS DOUBLE) / 16
                ELSE CAST((e * 3 + c) % 64 AS DOUBLE) END AS snr,
           ((e * 17 + c * 29) % 32768) - 16384 AS fine_rate
    FROM grid
)
SELECT mountpoint, obs_epoch, msg_type,
       printf('%s%02d', CASE WHEN constellation = 'GLONASS' THEN 'R' ELSE 'G' END,
              e % 50 + j + 1) AS sat_id,
       CASE WHEN constellation = 'GLONASS' THEN (CASE WHEN s = 0 THEN 'G1C' ELSE 'G2C' END)
            ELSE (CASE WHEN s = 0 THEN 'L1C' ELSE 'L2C' END) END AS sat_signal,
       rough + code_fine AS code,
       rough + phase_fine AS phase,
       rough_rate + fine_rate * CAST(0.0001 AS DOUBLE) AS doppler,
       snr,
       CAST(lck AS INT) AS lock,
       constellation
FROM f
"""


@register(
    "rt02_observations",
    tags=("rtcm",),
    oracle=_RT02_ORACLE,
)
def rt02_observations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flattened, scaled MSM5/7 observations (P7-P10, P12-P14, P17) —
    value-parity on code/phase/doppler/snr against analytic recompute."""
    return rtcm.observations(decoded_events(spark, sf_dir))


def _frame_archive_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the rt-fixture frames ONCE per sf_dir as a parquet
    archive under /tmp (deterministic content — safe to cache). The
    decode-throughput queries read this so their timed runs measure the
    ENGINE decode, not the Python fixture encoder. Salted on the
    fixture-defining sources so an encoder change invalidates stale
    archives (data/sf_dir invalidation handled by silver_archive)."""
    from ntripmonitor_spark.sources import encoder_vec, framing
    from ntripmonitor_spark.tables import silver_archive

    salt = "|".join(
        str(os.path.getmtime(m.__file__))
        for m in (encoder, encoder_vec, framing)
        if getattr(m, "__file__", None)
    ) + f"|{__file__}|{os.path.getmtime(__file__)}"
    return silver_archive(
        spark, sf_dir, "frames",
        lambda: split_frames(event_blobs(spark, sf_dir)),
        salt=salt,
    )


@register(
    "rt09_decode_throughput",
    tags=("rtcm",),
    oracle=_RT02_ORACLE,
)
def rt09_decode_throughput(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rt02's decode isolated from fixture-encode cost: aligned frames
    come from a cached parquet archive, so the timed path is
    scan → vectorized decode → flatten only (the BENCH entry that
    tracks engine decode throughput across rounds). Same oracle as
    rt02 — the archive is the same frame set."""
    from ntripmonitor_spark.tables import ensure_parallelism

    frames = ensure_parallelism(spark.read.parquet(_frame_archive_path(spark, sf_dir)))
    return rtcm.observations(rtcm.decode_frames(frames))


@register(
    "rt03_coordinates",
    tags=("rtcm",),
    oracle=f"""
WITH {_EV_CTE}
SELECT mountpoint, receive_time, msg_type,
       CAST(u % 4096 AS INT) AS station_id,
       (((e * 9973 + 123) % 274877906944) - 137438953472) / 10000.0 AS ecef_x_m,
       (((e * 31337 + 7) % 274877906944) - 137438953472) / 10000.0 AS ecef_y_m,
       (((e * 271 + 99) % 274877906944) - 137438953472) / 10000.0 AS ecef_z_m,
       ((e * 13) % 65536) / 10000.0 AS ant_height_m
FROM t WHERE msg_type = 1006
""",
)
def rt03_coordinates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Station ARP decode + 1e-4 m scaling (P5-P6)."""
    return rtcm.coordinates(decoded_events(spark, sf_dir))


@register(
    "rt04_text_messages",
    tags=("rtcm",),
    oracle=f"""
WITH {_EV_CTE}
SELECT mountpoint, CAST(u % 4096 AS INT) AS station_id, props AS text
FROM t WHERE msg_type = 1029
""",
)
def rt04_text_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1029 text decode round-trip (P11 — the one type the reference
    can also encode, src/rtcm3.py:80-96)."""
    return (
        decoded_events(spark, sf_dir)
        .filter(F.col("msg_type") == 1029)
        .select("mountpoint", "station_id", "text")
    )


@register(
    "rt05_message_catalog",
    tags=("rtcm",),
    oracle=f"""
WITH {_EV_CTE}
SELECT CASE WHEN msg_type = 1029 THEN 'Unicode Text String'
            WHEN msg_type = 1006 THEN 'Stationary RTK Reference Station ARP with Antenna Height'
            WHEN msg_type = 1077 THEN 'GPS MSM7'
            WHEN msg_type = 1075 THEN 'GPS MSM5'
            ELSE 'GLONASS MSM7' END AS description,
       CAST(count(*) AS BIGINT) AS n_msgs,
       CAST(sum(CASE WHEN msg_type = 1029 THEN 15 + strlen(props)
                WHEN msg_type = 1006 THEN 27
                ELSE (169 + nsat * 2 + nsat * 36
                      + ncells * (CASE WHEN msg_type % 10 = 5 THEN 63 ELSE 80 END)
                      + 7) // 8 + 6 END) AS BIGINT) AS total_bytes
FROM t
GROUP BY 1
""",
)
def rt05_message_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Envelope ⋈ broadcast message-catalog dim (P22 + Q6-style
    broadcast join on decode output). Per-type descriptions (126-entry
    catalog parity, src/rtcm3.py:183-313): GPS MSM5 vs MSM7 and the
    1006-vs-1005 ARP variant come out as distinct rows."""
    pk = rtcm.packages(decoded_events(spark, sf_dir))
    cat = message_catalog_dim(spark)
    return (
        pk.join(F.broadcast(cat), "msg_type")
        .groupBy("description")
        .agg(
            F.count(F.lit(1)).alias("n_msgs"),
            F.sum("msg_size").alias("total_bytes"),
        )
    )


# ---------------------------------------------------------------------------
# rt06 — MSM4/MSM6 graceful decode (the frames that CRASH the
# reference, SURVEY §7.3): no ext_info / rates on the wire → doppler
# null, level-correct fine/CNR scale factors.
# ---------------------------------------------------------------------------


def _msm46_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → MSM4 (GPS 1074, even ids) / MSM6 (GLONASS 1086, odd)
    frames, every field an integer function of (event_id, user_id, ts)
    so the oracle recomputes the decoded output analytically."""
    from ntripmonitor_spark.schema import FRAMES_SCHEMA

    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    ev = ev.repartition(spark.sparkContext.defaultParallelism)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mps, rts, frs = [], [], []
            for e, u, ts in zip(pdf["event_id"], pdf["user_id"], pdf["ts"]):
                e, u = int(e), int(u)
                ts_us = ts.value // 1000
                t = 1074 if e % 2 == 0 else 1086
                hi = t == 1086
                nsat = 1 + e % 3
                ncell_pos = nsat * 2
                drop = e % 4 == 1
                cell_mask = "".join(
                    "0" if (drop and c == ncell_pos - 1) else "1" for c in range(ncell_pos)
                )
                sats = [
                    {"int_ms": (e + j) % 128, "mod1ms": (e * 31 + j * 7) % 1024}
                    for j in range(nsat)
                ]
                cells = [
                    {
                        "fine_code": ((e * 7919 + c * 131) % (1 << (20 if hi else 15)))
                        - (1 << (19 if hi else 14)),
                        "fine_phase": ((e * 104729 + c * 7919) % (1 << (24 if hi else 22)))
                        - (1 << (23 if hi else 21)),
                        "lock": (e + c) % (1024 if hi else 16),
                        "half_cycle": (e + c) % 2,
                        "cnr": (e * 3 + c) % (1024 if hi else 64),
                    }
                    for c in range(ncell_pos)
                    if cell_mask[c] == "1"
                ]
                epoch_ms = (ts_us % _US_DAY) // 1000
                dow = (ts_us // _US_DAY + 4) % 7
                frs.append(
                    encoder.encode_msm(
                        t, u % 4096, epoch_ms, [(e % 50) + j for j in range(nsat)],
                        [1, 7], sats, cells, cell_mask=cell_mask,
                        glonass_dow=dow if hi else 0,
                    )
                )
                mps.append(f"MP{u % 8}")
                rts.append(pd.Timestamp((ts_us + ((e % 200) + 40) * 1000) * 1000))
            yield pd.DataFrame({"mountpoint": mps, "receive_time": rts, "frame": frs})

    return ev.mapInPandas(gen, schema=FRAMES_SCHEMA)


@register(
    "rt06_msm46_observations",
    tags=("rtcm",),
    oracle="""
WITH ev AS (
    SELECT event_id AS e, user_id AS u,
           'MP' || CAST(user_id % 8 AS VARCHAR) AS mountpoint,
           epoch_us(ts) AS ts_us,
           epoch_us(ts) + ((event_id % 200) + 40) * 1000 AS now_us,
           CASE WHEN event_id % 2 = 0 THEN 1074 ELSE 1086 END AS msg_type,
           CAST(1 + event_id % 3 AS INT) AS nsat
    FROM events
),
m AS (SELECT *, (ts_us % 86400000000) // 1000 AS epoch_ms FROM ev),
t AS (
    SELECT *, make_timestamp(
        (now_us // 86400000000) * 86400000000
        + (epoch_ms // 1000) * 1000000 + (epoch_ms % 1000) * 1000
        + CASE WHEN (epoch_ms // 1000) * 1000000 - (now_us % 86400000000)
                    < -18000000000 THEN 86400000000 ELSE 0 END
        - CASE WHEN msg_type = 1086 THEN 10800000000 ELSE 0 END) AS obs_epoch
    FROM m
),
grid AS (
    SELECT t.*, j, s, CAST(j * 2 + s AS INT) AS c
    FROM t
    CROSS JOIN (SELECT CAST(unnest(range(0, 3)) AS INT) AS j)
    CROSS JOIN (SELECT CAST(unnest(range(0, 2)) AS INT) AS s)
    WHERE j < nsat AND NOT (e % 4 = 1 AND j * 2 + s = nsat * 2 - 1)
),
f AS (
    SELECT *,
           CASE WHEN msg_type = 1086 THEN 'GLONASS' ELSE 'GPS' END AS constellation,
           (e + j) % 128 + CAST((e * 31 + j * 7) % 1024 AS DOUBLE) / 1024 AS rough,
           CASE WHEN msg_type = 1086
                THEN (((e * 7919 + c * 131) % 1048576) - 524288) / 536870912.0
                ELSE (((e * 7919 + c * 131) % 32768) - 16384) / 16777216.0 END AS code_fine,
           CASE WHEN msg_type = 1086
                THEN (((e * 104729 + c * 7919) % 16777216) - 8388608) / 2147483648.0
                ELSE (((e * 104729 + c * 7919) % 4194304) - 2097152) / 536870912.0 END AS phase_fine,
           CASE WHEN msg_type = 1086 THEN (e + c) % 1024 ELSE (e + c) % 16 END AS lck,
           CASE WHEN msg_type = 1086 THEN CAST((e * 3 + c) % 1024 AS DOUBLE) / 16
                ELSE CAST((e * 3 + c) % 64 AS DOUBLE) END AS snr
    FROM grid
)
SELECT mountpoint, obs_epoch, msg_type,
       printf('%s%02d', CASE WHEN msg_type = 1086 THEN 'R' ELSE 'G' END,
              e % 50 + j + 1) AS sat_id,
       CASE WHEN msg_type = 1086 THEN (CASE WHEN s = 0 THEN 'G1C' ELSE 'G2C' END)
            ELSE (CASE WHEN s = 0 THEN 'L1C' ELSE 'L2C' END) END AS sat_signal,
       rough + code_fine AS code,
       rough + phase_fine AS phase,
       CAST(NULL AS DOUBLE) AS doppler,
       snr,
       CAST(lck AS INT) AS lock,
       constellation
FROM f
""",
)
def rt06_msm46_observations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MSM4/6 observations end-to-end (encode→decode→flatten): doppler
    null (no rate fields on the wire), MSM4 lo-res / MSM6 hi-res
    scaling — the spec-correct behavior the reference's decoder
    crashes on (src/decoderclasses.py:220-221 vs src/rtcm3.py:368)."""
    return rtcm.observations(rtcm.decode_frames(_msm46_frames(spark, sf_dir)))


# ---------------------------------------------------------------------------
# rt07 — all six constellations end-to-end. The reference routes
# GPS/GLONASS/Galileo/SBAS/QZSS/BeiDou to six obs tables
# (src/databasehandling.py:60-129, signal tables src/rtcm3.py:394-599);
# this fixture emits MSM frames for every constellation so sat-id
# prefixes (G/R/E/S/J/C), per-constellation signal names, and the
# GLONASS-only −3 h epoch shift are all value-checked.
# ---------------------------------------------------------------------------

# e%6 → (msg_type, signal-mask slots). MSM7 for GPS/GLONASS/Galileo
# (rates on the wire), MSM4 for SBAS/QZSS/BeiDou (doppler null).
_CONST_MIX = [
    (1077, (1, 7)),   # GPS MSM7      → L1C, L2C
    (1087, (1, 7)),   # GLONASS MSM7  → G1C, G2C
    (1097, (1, 7)),   # Galileo MSM7  → E1C, E6C
    (1104, (1, 21)),  # SBAS MSM4     → L1C, L5I
    (1114, (1, 21)),  # QZSS MSM4     → L1C, L5I
    (1124, (1, 7)),   # BeiDou MSM4   → B2I, B6I
]


def _all_const_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → one MSM frame per event cycling the six constellations,
    every field an integer function of (event_id, user_id, ts)."""
    from ntripmonitor_spark.schema import FRAMES_SCHEMA

    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    ev = ev.repartition(spark.sparkContext.defaultParallelism)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mps, rts, frs = [], [], []
            for e, u, ts in zip(pdf["event_id"], pdf["user_id"], pdf["ts"]):
                e, u = int(e), int(u)
                ts_us = ts.value // 1000
                t, sig_slots = _CONST_MIX[e % 6]
                hi = t % 10 == 7
                nsat = 1 + e % 3
                ncell_pos = nsat * 2
                drop = e % 4 == 1
                cell_mask = "".join(
                    "0" if (drop and c == ncell_pos - 1) else "1" for c in range(ncell_pos)
                )
                sats = [
                    {
                        "int_ms": (e + j) % 128,
                        "ext_info": j % 16,
                        "mod1ms": (e * 31 + j * 7) % 1024,
                        "rough_rate": ((e * 13 + j * 101) % 16384) - 8192,
                    }
                    for j in range(nsat)
                ]
                cells = [
                    {
                        "fine_code": ((e * 7919 + c * 131) % (1 << (20 if hi else 15)))
                        - (1 << (19 if hi else 14)),
                        "fine_phase": ((e * 104729 + c * 7919) % (1 << (24 if hi else 22)))
                        - (1 << (23 if hi else 21)),
                        "lock": (e + c) % (1024 if hi else 16),
                        "half_cycle": (e + c) % 2,
                        "cnr": (e * 3 + c) % (1024 if hi else 64),
                        "fine_rate": ((e * 17 + c * 29) % (1 << 15)) - (1 << 14),
                    }
                    for c in range(ncell_pos)
                    if cell_mask[c] == "1"
                ]
                epoch_ms = (ts_us % _US_DAY) // 1000
                dow = (ts_us // _US_DAY + 4) % 7
                frs.append(
                    encoder.encode_msm(
                        t, u % 4096, epoch_ms, [(e % 50) + j for j in range(nsat)],
                        list(sig_slots), sats, cells, cell_mask=cell_mask,
                        glonass_dow=dow if t == 1087 else 0,
                    )
                )
                mps.append(f"MP{u % 8}")
                rts.append(pd.Timestamp((ts_us + ((e % 200) + 40) * 1000) * 1000))
            yield pd.DataFrame({"mountpoint": mps, "receive_time": rts, "frame": frs})

    return ev.mapInPandas(gen, schema=FRAMES_SCHEMA)


@register(
    "rt07_all_constellations",
    tags=("rtcm",),
    oracle="""
WITH ev AS (
    SELECT event_id AS e, user_id AS u,
           'MP' || CAST(user_id % 8 AS VARCHAR) AS mountpoint,
           epoch_us(ts) AS ts_us,
           epoch_us(ts) + ((event_id % 200) + 40) * 1000 AS now_us,
           CASE event_id % 6 WHEN 0 THEN 1077 WHEN 1 THEN 1087 WHEN 2 THEN 1097
                WHEN 3 THEN 1104 WHEN 4 THEN 1114 ELSE 1124 END AS msg_type,
           CAST(1 + event_id % 3 AS INT) AS nsat
    FROM events
),
m AS (
    SELECT *, (ts_us % 86400000000) // 1000 AS epoch_ms,
           msg_type % 10 = 7 AS hi,
           CASE msg_type // 10 WHEN 107 THEN 'GPS' WHEN 108 THEN 'GLONASS'
                WHEN 109 THEN 'GALILEO' WHEN 110 THEN 'SBAS'
                WHEN 111 THEN 'QZSS' ELSE 'BEIDOU' END AS constellation,
           CASE msg_type // 10 WHEN 107 THEN 'G' WHEN 108 THEN 'R'
                WHEN 109 THEN 'E' WHEN 110 THEN 'S'
                WHEN 111 THEN 'J' ELSE 'C' END AS prefix
    FROM ev
),
t AS (
    SELECT *, make_timestamp(
        (now_us // 86400000000) * 86400000000
        + (epoch_ms // 1000) * 1000000 + (epoch_ms % 1000) * 1000
        + CASE WHEN (epoch_ms // 1000) * 1000000 - (now_us % 86400000000)
                    < -18000000000 THEN 86400000000 ELSE 0 END
        - CASE WHEN msg_type = 1087 THEN 10800000000 ELSE 0 END) AS obs_epoch
    FROM m
),
grid AS (
    SELECT t.*, j, s, CAST(j * 2 + s AS INT) AS c
    FROM t
    CROSS JOIN (SELECT CAST(unnest(range(0, 3)) AS INT) AS j)
    CROSS JOIN (SELECT CAST(unnest(range(0, 2)) AS INT) AS s)
    WHERE j < nsat AND NOT (e % 4 = 1 AND j * 2 + s = nsat * 2 - 1)
),
f AS (
    SELECT *,
           (e + j) % 128 + CAST((e * 31 + j * 7) % 1024 AS DOUBLE) / 1024 AS rough,
           ((e * 13 + j * 101) % 16384) - 8192 AS rough_rate,
           CASE WHEN hi
                THEN (((e * 7919 + c * 131) % 1048576) - 524288) / 536870912.0
                ELSE (((e * 7919 + c * 131) % 32768) - 16384) / 16777216.0 END AS code_fine,
           CASE WHEN hi
                THEN (((e * 104729 + c * 7919) % 16777216) - 8388608) / 2147483648.0
                ELSE (((e * 104729 + c * 7919) % 4194304) - 2097152) / 536870912.0 END AS phase_fine,
           CASE WHEN hi THEN (e + c) % 1024 ELSE (e + c) % 16 END AS lck,
           CASE WHEN hi THEN CAST((e * 3 + c) % 1024 AS DOUBLE) / 16
                ELSE CAST((e * 3 + c) % 64 AS DOUBLE) END AS snr,
           ((e * 17 + c * 29) % 32768) - 16384 AS fine_rate
    FROM grid
)
SELECT mountpoint, obs_epoch, msg_type,
       printf('%s%02d', prefix, e % 50 + j + 1) AS sat_id,
       CASE constellation
            WHEN 'GPS'     THEN (CASE WHEN s = 0 THEN 'L1C' ELSE 'L2C' END)
            WHEN 'GLONASS' THEN (CASE WHEN s = 0 THEN 'G1C' ELSE 'G2C' END)
            WHEN 'GALILEO' THEN (CASE WHEN s = 0 THEN 'E1C' ELSE 'E6C' END)
            WHEN 'SBAS'    THEN (CASE WHEN s = 0 THEN 'L1C' ELSE 'L5I' END)
            WHEN 'QZSS'    THEN (CASE WHEN s = 0 THEN 'L1C' ELSE 'L5I' END)
            ELSE                (CASE WHEN s = 0 THEN 'B2I' ELSE 'B6I' END) END AS sat_signal,
       rough + code_fine AS code,
       rough + phase_fine AS phase,
       CASE WHEN hi THEN rough_rate + fine_rate * CAST(0.0001 AS DOUBLE) END AS doppler,
       snr,
       CAST(lck AS INT) AS lock,
       constellation
FROM f
""",
)
def rt07_all_constellations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-six-constellation observations end-to-end: G/R/E/S/J/C sat-id
    prefixes, per-constellation signal-name tables (P12/P13,
    src/rtcm3.py:394-599), GLONASS-only −3 h epoch shift, MSM7 doppler
    vs MSM4 null — matching the reference's six-table routing
    (src/databasehandling.py:60-129)."""
    return rtcm.observations(rtcm.decode_frames(_all_const_frames(spark, sf_dir)))


# ---------------------------------------------------------------------------
# rt08 — legacy 1001-1012 per-satellite observation decode (P3/P4).
# The reference reads these records (src/rtcm3.py:320-339, loop
# :128-131) but never stores them; SURVEY §7.3 scopes them
# "decoded-but-optional" — here they are decoded AND value-checked.
# ---------------------------------------------------------------------------


def _legacy_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → legacy observable frames cycling 1002/1010/1004/1012,
    every record field an integer function of (event_id, sat index)."""
    from ntripmonitor_spark.schema import FRAMES_SCHEMA

    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    ev = ev.repartition(spark.sparkContext.defaultParallelism)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mps, rts, frs = [], [], []
            for e, u, ts in zip(pdf["event_id"], pdf["user_id"], pdf["ts"]):
                e, u = int(e), int(u)
                ts_us = ts.value // 1000
                t = (1002, 1010, 1004, 1012)[e % 4]
                nsat = 1 + e % 3
                recs = []
                for k in range(nsat):
                    rec = {
                        "sat_id_raw": (e + 3 * k) % 32 + 1,
                        "l1_code": (e + k) % 2,
                        "l1_pr": (e * 9973 + k * 131) % (1 << 24),
                        "l1_phr_diff": ((e * 104729 + k * 7919) % (1 << 20)) - (1 << 19),
                        "l1_lock": (e + k) % 128,
                        "l1_amb": (e * 3 + k) % 256,
                        "l1_cnr": (e * 5 + k) % 256,
                    }
                    if t >= 1009:
                        rec["fcn"] = (e * 3 + k) % 21
                    if t in (1004, 1012):
                        rec.update(
                            l2_code=(e + k + 1) % 2,
                            l2_pr=(e * 31337 + k * 271) % (1 << 24),
                            l2_phr_diff=((e * 271 + k * 17) % (1 << 20)) - (1 << 19),
                            l2_lock=(e + k + 3) % 128,
                            l2_cnr=(e * 7 + k) % 256,
                        )
                    recs.append(rec)
                epoch_ms = (ts_us % _US_DAY) // 1000
                frs.append(encoder.encode_legacy(t, u % 4096, epoch_ms, nsat, records=recs))
                mps.append(f"MP{u % 8}")
                rts.append(pd.Timestamp((ts_us + ((e % 200) + 40) * 1000) * 1000))
            yield pd.DataFrame({"mountpoint": mps, "receive_time": rts, "frame": frs})

    return ev.mapInPandas(gen, schema=FRAMES_SCHEMA)


@register(
    "rt08_legacy_observations",
    tags=("rtcm",),
    oracle="""
WITH ev AS (
    SELECT event_id AS e, user_id AS u,
           'MP' || CAST(user_id % 8 AS VARCHAR) AS mountpoint,
           epoch_us(ts) AS ts_us,
           epoch_us(ts) + ((event_id % 200) + 40) * 1000 AS now_us,
           CASE event_id % 4 WHEN 0 THEN 1002 WHEN 1 THEN 1010
                WHEN 2 THEN 1004 ELSE 1012 END AS msg_type,
           CAST(1 + event_id % 3 AS INT) AS nsat
    FROM events
),
m AS (
    SELECT *, (ts_us % 86400000000) // 1000 AS epoch_ms,
           msg_type >= 1009 AS glo, msg_type IN (1004, 1012) AS has_l2
    FROM ev
),
t AS (
    SELECT *, make_timestamp(
        (now_us // 86400000000) * 86400000000
        + (epoch_ms // 1000) * 1000000 + (epoch_ms % 1000) * 1000
        + CASE WHEN (epoch_ms // 1000) * 1000000 - (now_us % 86400000000)
                    < -18000000000 THEN 86400000000 ELSE 0 END
        - CASE WHEN glo THEN 10800000000 ELSE 0 END) AS obs_epoch
    FROM m
),
g AS (
    SELECT t.*, k,
           (e * 3 + k) % 256 AS amb,
           (e * 9973 + k * 131) % 16777216 AS l1_pr,
           ((e * 104729 + k * 7919) % 1048576) - 524288 AS l1_phr,
           (e * 31337 + k * 271) % 16777216 AS l2_pr,
           ((e * 271 + k * 17) % 1048576) - 524288 AS l2_phr
    FROM t
    CROSS JOIN (SELECT CAST(unnest(range(0, 3)) AS INT) AS k)
    WHERE k < nsat
)
SELECT mountpoint, obs_epoch, msg_type, CAST(u % 4096 AS INT) AS station_id,
       printf('%s%02d', CASE WHEN glo THEN 'R' ELSE 'G' END,
              (e + 3 * k) % 32 + 1) AS sat_id,
       CASE WHEN glo THEN CAST((e * 3 + k) % 21 - 7 AS INT) END AS freq_channel,
       (e + k) % 2 = 1 AS l1_code,
       amb * CAST(299792.458 AS DOUBLE) + l1_pr * CAST(0.02 AS DOUBLE) AS l1_pseudorange_m,
       (amb * CAST(299792.458 AS DOUBLE) + l1_pr * CAST(0.02 AS DOUBLE)) + l1_phr * CAST(0.0005 AS DOUBLE) AS l1_phaserange_m,
       CAST((e + k) % 128 AS INT) AS l1_lock,
       (e * 5 + k) % 256 * CAST(0.25 AS DOUBLE) AS l1_cnr_dbhz,
       CASE WHEN has_l2 THEN (e + k + 1) % 2 = 1 END AS l2_code,
       CASE WHEN has_l2 THEN amb * CAST(299792.458 AS DOUBLE) + l2_pr * CAST(0.02 AS DOUBLE) END AS l2_pseudorange_m,
       CASE WHEN has_l2 THEN (amb * CAST(299792.458 AS DOUBLE) + l2_pr * CAST(0.02 AS DOUBLE)) + l2_phr * CAST(0.0005 AS DOUBLE) END AS l2_phaserange_m,
       CASE WHEN has_l2 THEN CAST((e + k + 3) % 128 AS INT) END AS l2_lock,
       CASE WHEN has_l2 THEN (e * 7 + k) % 256 * CAST(0.25 AS DOUBLE) END AS l2_cnr_dbhz,
       CASE WHEN glo THEN 'GLONASS' ELSE 'GPS' END AS constellation
FROM g
""",
)
def rt08_legacy_observations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Legacy GPS/GLONASS observables end-to-end (encode→decode→
    flatten→scale): per-band pseudorange/phaserange with the published
    RTCM scalings, ambiguity stitching, GLONASS freq channel and −3 h
    epoch shift (P3/P4/P15)."""
    return rtcm.legacy_observations(rtcm.decode_frames(_legacy_frames(spark, sf_dir)))


# ---------------------------------------------------------------------------
# rt10 — MSM1/2/3 observation decode. The reference routes 1071-1073
# etc. to its obs tables (src/databasehandling.py:72-78) but its
# DecoderMSM defines scaling only for levels 5/7
# (src/decoderclasses.py:206-214 — lower levels die in its except and
# store nothing); here the low-level messages decode per RTCM 10403:
# the 10-bit rough-range mod 1 ms alone (no int-ms ambiguity term) plus
# the level's fine-field subset — MSM1: code; MSM2: phase+lock; MSM3:
# both. CNR/doppler are null at every low level.
# ---------------------------------------------------------------------------


def _msm123_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → MSM1/2/3 frames cycling GPS 1071 / GLONASS 1082 /
    Galileo 1093, every field an integer function of (event_id, ts)."""
    from ntripmonitor_spark.schema import FRAMES_SCHEMA

    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    ev = ev.repartition(spark.sparkContext.defaultParallelism)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mps, rts, frs = [], [], []
            for e, u, ts in zip(pdf["event_id"], pdf["user_id"], pdf["ts"]):
                e, u = int(e), int(u)
                ts_us = ts.value // 1000
                t = (1071, 1082, 1093)[e % 3]
                nsat = 1 + e % 3
                ncell_pos = nsat * 2
                drop = e % 4 == 1
                cell_mask = "".join(
                    "0" if (drop and c == ncell_pos - 1) else "1" for c in range(ncell_pos)
                )
                sats = [{"mod1ms": (e * 31 + j * 7) % 1024} for j in range(nsat)]
                cells = [
                    {
                        "fine_code": ((e * 7919 + c * 131) % (1 << 15)) - (1 << 14),
                        "fine_phase": ((e * 104729 + c * 7919) % (1 << 22)) - (1 << 21),
                        "lock": (e + c) % 16,
                        "half_cycle": (e + c) % 2,
                    }
                    for c in range(ncell_pos)
                    if cell_mask[c] == "1"
                ]
                epoch_ms = (ts_us % _US_DAY) // 1000
                dow = (ts_us // _US_DAY + 4) % 7
                frs.append(
                    encoder.encode_msm(
                        t, u % 4096, epoch_ms, [(e % 50) + j for j in range(nsat)],
                        [1, 7], sats, cells, cell_mask=cell_mask,
                        glonass_dow=dow if t == 1082 else 0,
                    )
                )
                mps.append(f"MP{u % 8}")
                rts.append(pd.Timestamp((ts_us + ((e % 200) + 40) * 1000) * 1000))
            yield pd.DataFrame({"mountpoint": mps, "receive_time": rts, "frame": frs})

    return ev.mapInPandas(gen, schema=FRAMES_SCHEMA)


@register(
    "rt10_msm123_observations",
    tags=("rtcm",),
    oracle="""
WITH ev AS (
    SELECT event_id AS e, user_id AS u,
           'MP' || CAST(user_id % 8 AS VARCHAR) AS mountpoint,
           epoch_us(ts) AS ts_us,
           epoch_us(ts) + ((event_id % 200) + 40) * 1000 AS now_us,
           CASE event_id % 3 WHEN 0 THEN 1071 WHEN 1 THEN 1082 ELSE 1093 END AS msg_type,
           CAST(1 + event_id % 3 AS INT) AS nsat
    FROM events
),
m AS (
    SELECT *, (ts_us % 86400000000) // 1000 AS epoch_ms,
           msg_type % 10 AS lvl,
           CASE msg_type // 10 WHEN 107 THEN 'GPS' WHEN 108 THEN 'GLONASS'
                ELSE 'GALILEO' END AS constellation,
           CASE msg_type // 10 WHEN 107 THEN 'G' WHEN 108 THEN 'R'
                ELSE 'E' END AS prefix
    FROM ev
),
t AS (
    SELECT *, make_timestamp(
        (now_us // 86400000000) * 86400000000
        + (epoch_ms // 1000) * 1000000 + (epoch_ms % 1000) * 1000
        + CASE WHEN (epoch_ms // 1000) * 1000000 - (now_us % 86400000000)
                    < -18000000000 THEN 86400000000 ELSE 0 END
        - CASE WHEN msg_type = 1082 THEN 10800000000 ELSE 0 END) AS obs_epoch
    FROM m
),
grid AS (
    SELECT t.*, j, s, CAST(j * 2 + s AS INT) AS c
    FROM t
    CROSS JOIN (SELECT CAST(unnest(range(0, 3)) AS INT) AS j)
    CROSS JOIN (SELECT CAST(unnest(range(0, 2)) AS INT) AS s)
    WHERE j < nsat AND NOT (e % 4 = 1 AND j * 2 + s = nsat * 2 - 1)
),
f AS (
    SELECT *,
           CAST((e * 31 + j * 7) % 1024 AS DOUBLE) / 1024 AS rough,
           (((e * 7919 + c * 131) % 32768) - 16384) / 16777216.0 AS code_fine,
           (((e * 104729 + c * 7919) % 4194304) - 2097152) / 536870912.0 AS phase_fine
    FROM grid
)
SELECT mountpoint, obs_epoch, msg_type,
       printf('%s%02d', prefix, e % 50 + j + 1) AS sat_id,
       CASE constellation
            WHEN 'GPS'     THEN (CASE WHEN s = 0 THEN 'L1C' ELSE 'L2C' END)
            WHEN 'GLONASS' THEN (CASE WHEN s = 0 THEN 'G1C' ELSE 'G2C' END)
            ELSE                (CASE WHEN s = 0 THEN 'E1C' ELSE 'E6C' END) END AS sat_signal,
       CASE WHEN lvl IN (1, 3) THEN rough + code_fine END AS code,
       CASE WHEN lvl IN (2, 3) THEN rough + phase_fine END AS phase,
       CAST(NULL AS DOUBLE) AS doppler,
       CAST(NULL AS DOUBLE) AS snr,
       CASE WHEN lvl IN (2, 3) THEN CAST((e + c) % 16 AS INT) END AS lock,
       constellation
FROM f
""",
)
def rt10_msm123_observations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MSM1/2/3 observations end-to-end: mod-1-ms rough ranges, per-
    level fine-field subsets (code-only / phase-only / both), null
    CNR/doppler, GLONASS −3 h shift — spec-correct decode of the
    low-rate MSM levels the reference routes but cannot scale."""
    return rtcm.observations(rtcm.decode_frames(_msm123_frames(spark, sf_dir)))


# ---------------------------------------------------------------------------
# rt11 — the K1 package ledger as a batch query: deterministic ids +
# replay-idempotent insert accounting (round 8).
# ---------------------------------------------------------------------------


@register(
    "rt11_package_ledger",
    tags=("rtcm", "sink"),
    oracle=f"""
WITH {_EV_CTE},
pk AS (
    SELECT mountpoint, receive_time, msg_type,
           CAST(CASE WHEN msg_type = 1029 THEN 15 + strlen(props)
                     WHEN msg_type = 1006 THEN 27
                     ELSE (169 + nsat * 2 + nsat * 36
                           + ncells * (CASE WHEN msg_type % 10 = 5 THEN 63 ELSE 80 END)
                           + 7) // 8 + 6 END AS INT) AS msg_size
    FROM t
)
SELECT mountpoint,
       2 * count(*) AS n_delivered,
       count(DISTINCT (receive_time, msg_type, msg_size)) AS n_inserted,
       2 * count(*) - count(DISTINCT (receive_time, msg_type, msg_size)) AS n_replays_dropped
FROM pk GROUP BY mountpoint
""",
)
def rt11_package_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1's exactly-once package ledger (reference
    src/databasehandling.py:175-190 calls
    initdb/99-stored_procedures.sql:5-18 — INSERT ... RETURNING
    rtcm_package_id ties each batch to serial package ids; the engine
    replaces the round-trip with a replay-stable hash,
    sinks.with_package_uid) proven as a batch query: the decoded package envelope is delivered TWICE (a
    replayed micro-batch after a watchdog restart — D6's failure mode)
    and the ledger dedup must insert each package exactly once. Output
    per mountpoint: rows delivered (2x), rows inserted (distinct
    package_uid), and replays dropped. The oracle counts distinct
    NATURAL keys — equal to distinct 64-bit uids absent an xxhash64
    collision, so the value parity also pins collision-freedom on the
    fixture corpus.

    Scale shape: uid assignment is a pure column hash inside the scan;
    the dedup is one map-side-combined aggregate keyed by
    (mountpoint, uid) then a mountpoint-count-sized rollup — the same
    two-exchange shape at any corpus size, and the first exchange
    carries 8-byte uids, never payloads."""
    from ntripmonitor_spark.sinks import with_package_uid
    from ntripmonitor_spark.tables import ensure_parallelism

    frames = ensure_parallelism(
        spark.read.parquet(_frame_archive_path(spark, sf_dir))
    )
    pkgs = with_package_uid(rtcm.packages(rtcm.decode_frames(frames))).select(
        "mountpoint", "package_uid"
    )
    delivered = pkgs.unionByName(pkgs)  # the replayed batch, re-delivered whole
    ledger = delivered.groupBy("mountpoint", "package_uid").agg(
        F.count(F.lit(1)).alias("n_dlv")
    )
    return ledger.groupBy("mountpoint").agg(
        F.sum("n_dlv").alias("n_delivered"),
        F.count(F.lit(1)).alias("n_inserted"),
        (F.sum("n_dlv") - F.count(F.lit(1))).alias("n_replays_dropped"),
    )

"""Logical schemas + static dimension data for the GNSS engine.

Relational schemas mirror the reference's DDL (`initdb/*.sql`); the six
per-constellation observation tables share one schema and become ONE
DataFrame with a ``constellation`` column (SURVEY.md §1.4). Static
dimensions (constellation ranges, MSM signal-name tables per RTCM
10403, message catalog) are the broadcast-join side of every lookup —
they are tiny, immutable, and derived from the published standard
(name parity with `src/rtcm3.py:394-609`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# --------------------------------------------------------------------------
# Core row schemas
# --------------------------------------------------------------------------

# Raw byte blobs entering the framer: one row per (mountpoint, chunk).
BLOBS_SCHEMA = StructType(
    [
        StructField("mountpoint", StringType()),
        StructField("receive_time", TimestampType()),
        StructField("blob", BinaryType()),
    ]
)

# Aligned, CRC-valid frames leaving the framer (S3/S4).
FRAMES_SCHEMA = StructType(
    [
        StructField("mountpoint", StringType()),
        StructField("receive_time", TimestampType()),
        StructField("frame", BinaryType()),
    ]
)

_SAT_STRUCT = StructType(
    [
        StructField("int_ms", IntegerType()),      # uint:8  rough range integer ms (MSM4-7)
        StructField("ext_info", IntegerType()),    # uint:4  extended info (MSM5/7)
        StructField("mod1ms", IntegerType()),      # uint:10 rough range mod 1 ms
        StructField("rough_rate", IntegerType()),  # int:14  rough phase-range rate (MSM5/7)
    ]
)

_CELL_STRUCT = StructType(
    [
        StructField("fine_code", IntegerType()),   # int:15 (MSM5) / int:20 (MSM7)
        StructField("fine_phase", IntegerType()),  # int:22 (MSM5) / int:24 (MSM7)
        StructField("lock", IntegerType()),        # uint:4 / uint:10
        StructField("half_cycle", BooleanType()),  # bool
        StructField("cnr", IntegerType()),         # uint:6 / uint:10
        StructField("fine_rate", IntegerType()),   # int:15
    ]
)

# Legacy 1001-1012 per-satellite observation record (layouts
# src/rtcm3.py:320-339; field superset across the eight types, nulls
# where a type doesn't carry the field).
_LEGACY_STRUCT = StructType(
    [
        StructField("sat_id_raw", IntegerType()),   # uint:6
        StructField("l1_code", BooleanType()),      # bool  C/A vs P
        StructField("fcn", IntegerType()),          # uint:5 GLONASS freq channel
        StructField("l1_pr", IntegerType()),        # uint:24 pseudorange (0.02 m)
        StructField("l1_phr_diff", IntegerType()),  # int:20  phr−pr (0.0005 m)
        StructField("l1_lock", IntegerType()),      # uint:7
        StructField("l1_amb", IntegerType()),       # uint:8  (1002/1004/1010/1012)
        StructField("l1_cnr", IntegerType()),       # uint:8  (0.25 dB-Hz)
        StructField("l2_code", BooleanType()),      # bool    (1003/1004/1011/1012)
        StructField("l2_pr", IntegerType()),        # uint:24
        StructField("l2_phr_diff", IntegerType()),  # int:20
        StructField("l2_lock", IntegerType()),      # uint:7
        StructField("l2_cnr", IntegerType()),       # uint:8  (1004/1012)
    ]
)

# One row per decoded frame — the engine's nested IR (decode stage
# output; cf. the reference's [head, satData, signalData] lists,
# src/rtcm3.py:114-175). Flattening to observations is pure Spark SQL.
DECODED_SCHEMA = StructType(
    [
        StructField("mountpoint", StringType()),
        StructField("receive_time", TimestampType()),
        StructField("msg_type", IntegerType()),
        StructField("msg_size", IntegerType()),
        StructField("crc_ok", BooleanType()),
        StructField("station_id", IntegerType()),
        StructField("epoch_ms", LongType()),        # MSM: GPS TOW-of-day / GLONASS TOD ms
        StructField("glonass_dow", IntegerType()),  # 1081-1087 only
        StructField("sat_mask", StringType()),      # bin:64
        StructField("sig_mask", StringType()),      # bin:32
        StructField("cell_mask", StringType()),     # bin:(nsat*nsig)
        # Set-bit positions of the three masks (ascending, 0-based in
        # string order) — precomputed in the decoder so the JVM-side
        # flatten never parses mask strings (SCALE.md §4).
        StructField("sat_slots", ArrayType(IntegerType())),
        StructField("sig_slots", ArrayType(IntegerType())),
        StructField("cell_slots", ArrayType(IntegerType())),
        StructField("sats", ArrayType(_SAT_STRUCT)),
        StructField("cells", ArrayType(_CELL_STRUCT)),
        StructField("legacy", ArrayType(_LEGACY_STRUCT)),
        StructField("ecef_x", LongType()),          # 1005/1006 int:38 (1e-4 m)
        StructField("ecef_y", LongType()),
        StructField("ecef_z", LongType()),
        StructField("ant_height", LongType()),      # 1006 uint:16 (1e-4 m)
        StructField("text", StringType()),          # 1029
    ]
)

# Envelope table (initdb/01-rtcm_packages.sql; row shape
# src/decoderclasses.py:109-119).
PACKAGES_SCHEMA = StructType(
    [
        StructField("mountpoint", StringType()),
        StructField("receive_time", TimestampType()),
        StructField("obs_epoch", TimestampType()),
        StructField("msg_type", IntegerType()),
        StructField("msg_size", IntegerType()),
        StructField("sat_count", IntegerType()),
    ]
)

# Observation table (initdb/11-16-*.sql; row shape
# src/decoderclasses.py:238-249) + constellation routing column.
OBSERVATIONS_SCHEMA = StructType(
    [
        StructField("mountpoint", StringType()),
        StructField("obs_epoch", TimestampType()),
        StructField("msg_type", IntegerType()),
        StructField("sat_id", StringType()),
        StructField("sat_signal", StringType()),
        StructField("code", DoubleType()),
        StructField("phase", DoubleType()),
        StructField("doppler", DoubleType()),
        StructField("snr", DoubleType()),
        StructField("lock", IntegerType()),
        StructField("constellation", StringType()),
    ]
)

# --------------------------------------------------------------------------
# Static dimensions (RTCM 10403 facts)
# --------------------------------------------------------------------------

# MSM hundreds-digit → constellation (src/rtcm3.py:602-609).
MSM_CONSTELLATIONS = {
    107: "GPS",
    108: "GLONASS",
    109: "GALILEO",
    110: "SBAS",
    111: "QZSS",
    112: "BEIDOU",
}

CONSTELLATION_IDS = {
    "GPS": "G",
    "GLONASS": "R",
    "GALILEO": "E",
    "SBAS": "S",
    "QZSS": "J",
    "BEIDOU": "C",
}

# MSM signal-mask slot (0-based bit index in DF395) → signal name.
# Sparse form of the 32-entry tables; unlisted slots are reserved
# ("Res"). Names follow RTCM 10403 / the reference's tables
# (src/rtcm3.py:394-599).
_SIGNAL_SLOTS = {
    "GPS": {1: "L1C", 2: "L1P", 3: "L1W", 7: "L2C", 8: "L2P", 9: "L2W",
            14: "L2S", 15: "L2L", 16: "L2X", 21: "L5I", 22: "L5Q",
            23: "L5X", 29: "L1S", 30: "L1L", 31: "L1X"},
    "GLONASS": {1: "G1C", 2: "G1P", 7: "G2C", 8: "G2P"},
    "GALILEO": {1: "E1C", 2: "E1A", 3: "E1B", 4: "E1X", 5: "E1Z",
                7: "E6C", 8: "E6A", 9: "E6B", 10: "E6X", 11: "E6Z",
                13: "E7I", 14: "E7Q", 15: "E7X", 17: "E8I", 18: "E8Q",
                19: "E8X", 21: "E5I", 22: "E5Q", 23: "E5X"},
    "BEIDOU": {1: "B2I", 2: "B2Q", 3: "B2X", 7: "B6I", 8: "B6Q",
               9: "B6X", 13: "B7I", 14: "B7Q", 15: "B7X"},
    "QZSS": {1: "L1C", 8: "L6S", 9: "L6L", 10: "L6X", 14: "L2S",
             15: "L2L", 16: "L2X", 21: "L5I", 22: "L5Q", 23: "L5X",
             29: "L1S", 30: "L1L", 31: "L1X"},
    "SBAS": {1: "L1C", 21: "L5I", 22: "L5Q", 23: "L5X"},
}

MSM_SIGNAL_TYPES = {
    const: [slots.get(i, "Res") for i in range(32)] for const, slots in _SIGNAL_SLOTS.items()
}

# Per-type message catalog (P22) — the published RTCM 10403 message
# names, parity with the reference's 126-entry dict
# (src/rtcm3.py:183-313). Non-MSM types listed explicitly; the
# regular MSM block (1070-1140) is generated.
_CATALOG_NON_MSM = {
    1001: "L1-Only GPS RTK Observables",
    1002: "Extended L1-Only GPS RTK Observables",
    1003: "L1 & L2 GPS RTK Observables",
    1004: "Extended L1 & L2 GPS RTK Observables",
    1005: "Stationary RTK Reference Station ARP",
    1006: "Stationary RTK Reference Station ARP with Antenna Height",
    1007: "Antenna Descriptor",
    1008: "Antenna Descriptor & Serial Number",
    1009: "L1-Only GLONASS RTK Observables",
    1010: "Extended L1-Only GLONASS RTK Observables",
    1011: "L1 & L2 GLONASS RTK Observables",
    1012: "Extended L1 & L2 GLONASS RTK Observables",
    1013: "System Parameters",
    1014: "Network Auxiliary Station Data",
    1015: "GPS Ionospheric Correction Differences",
    1016: "GPS Geometric Correction Differences",
    1017: "GPS Combined Geometric and Ionospheric Correction Differences",
    1018: "RESERVED for Alternative Ionospheric Correction Difference Message",
    1019: "GPS Ephemerides",
    1020: "GLONASS Ephemerides",
    1021: "Helmert / Abridged Molodenski Transformation Parameters",
    1022: "Molodenski-Badekas Transformation Parameters",
    1023: "Residuals, Ellipsoidal Grid Representation",
    1024: "Residuals, Plane Grid Representation",
    1025: "Projection Parameters, Projection Types other than "
    "Lambert Conic Conformal (2 SP) and Oblique Mercator",
    1026: "Projection Parameters, Projection Type LCC2SP "
    "(Lambert Conic Conformal (2 SP))",
    1027: "Projection Parameters, Projection Type OM (Oblique Mercator)",
    1028: "(Reserved for Global to Plate-Fixed Transformation)",
    1029: "Unicode Text String",
    1030: "GPS Network RTK Residual Message",
    1031: "GLONASS Network RTK Residual Message",
    1032: "Physical Reference Station Position Message",
    1033: "Receiver and Antenna Descriptors",
    1034: "GPS Network FKP Gradient",
    1035: "GLONASS Network FKP Gradient",
    1037: "GLONASS Ionospheric Correction Differences",
    1038: "GLONASS Geometric Correction Differences",
    1039: "GLONASS Combined Geometric and Ionospheric Correction Differences",
    1042: "BDS Satellite Ephemeris Data",
    1044: "QZSS Ephemerides",
    1045: "Galileo F/NAV Satellite Ephemeris Data",
    1046: "Galileo I/NAV Satellite Ephemeris Data",
    1057: "SSR GPS Orbit Correction",
    1058: "SSR GPS Clock Correction",
    1059: "SSR GPS Code Bias",
    1060: "SSR GPS Combined Orbit and Clock Corrections",
    1061: "SSR GPS URA",
    1062: "SSR GPS High Rate Clock Correction",
    1063: "SSR GLONASS Orbit Correction",
    1064: "SSR GLONASS Clock Correction",
    1065: "SSR GLONASS Code Bias",
    1066: "SSR GLONASS Combined Orbit and Clock Corrections",
    1067: "SSR GLONASS URA",
    1068: "SSR GLONASS High Rate Clock Correction",
    1230: "GLONASS L1 and L2 Code-Phase Biases",
}

_MSM_CATALOG_NAMES = {
    107: "GPS", 108: "GLONASS", 109: "Galileo",
    110: "SBAS", 111: "QZSS", 112: "BeiDou",
}


def _msm_catalog() -> dict[int, str]:
    cat = {1070: "Reserved MSM"}
    for hundreds, name in _MSM_CATALOG_NAMES.items():
        for n in range(1, 8):
            cat[hundreds * 10 + n] = f"{name} MSM{n}"
        for n in range(8, 11):
            cat[hundreds * 10 + n] = "Reserved MSM"
    for n in range(1, 8):
        cat[1130 + n] = f"IRNSS MSM{n} (Experimental, not implemented)"
    for n in range(8, 11):
        cat[1130 + n] = "Reserved MSM (Experimental)"
    return cat


MESSAGE_CATALOG = {**_CATALOG_NON_MSM, **_msm_catalog()}


def message_description(msg_type: int) -> str:
    """Catalog lookup with the reference's fallback text
    (src/rtcm3.py:177-181)."""
    return MESSAGE_CATALOG.get(
        msg_type, f"Message type {msg_type} currently not implemented"
    )


def constellation_of(msg_type: int) -> str:
    """msg type → constellation name (src/rtcm3.py:47-60)."""
    if 1001 <= msg_type <= 1004:
        return "GPS"
    if 1009 <= msg_type <= 1012:
        return "GLONASS"
    if 1071 <= msg_type <= 1127:
        return MSM_CONSTELLATIONS.get(msg_type // 10, "GNSS")
    return "GNSS"


def constellation_sql(msg_type: str) -> str:
    """SQL text form of ``constellation_of`` (P12) over the named
    column — a CASE chain, so it stays inside whole-stage codegen."""
    msm = " ".join(
        f"WHEN {msg_type} BETWEEN {h * 10 + 1} AND {h * 10 + 7} THEN '{name}'"
        for h, name in MSM_CONSTELLATIONS.items()
    )
    return (
        f"CASE WHEN {msg_type} BETWEEN 1001 AND 1004 THEN 'GPS'"
        f" WHEN {msg_type} BETWEEN 1009 AND 1012 THEN 'GLONASS' {msm} ELSE 'GNSS' END"
    )


def signal_dim(spark: SparkSession) -> DataFrame:
    """(constellation, slot, signal_name) dimension — the broadcast
    side of the P13 signal lookup join."""
    rows = [
        (const, slot, name)
        for const, names in MSM_SIGNAL_TYPES.items()
        for slot, name in enumerate(names)
    ]
    return spark.createDataFrame(rows, "constellation string, slot int, signal_name string")


def message_catalog_dim(spark: SparkSession) -> DataFrame:
    """(msg_type, description) dimension — one row per catalogued type
    (P22, parity with src/rtcm3.py:183-313)."""
    rows = sorted(MESSAGE_CATALOG.items())
    return spark.createDataFrame(rows, "msg_type int, description string")

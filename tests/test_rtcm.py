"""Unit tests for the RTCM stack: CRC, bit IO, framing edge cases,
encode→decode round-trips, epoch reconstruction (SURVEY.md §5.1-5.2).
The end-to-end decode parity runs via test_parity.py (rt* queries)."""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ntripmonitor_spark.functions.bitio import BitReader, BitWriter
from ntripmonitor_spark.functions.crc24q import append_crc, crc24q, frame_crc_ok
from ntripmonitor_spark.operators.rtcm import _decode_one
from ntripmonitor_spark.sources.encoder import (
    encode_1005,
    encode_1029,
    encode_msm,
    msm_payload_bits,
)
from ntripmonitor_spark.sources.framing import scan_frames


def test_crc24q_known_vector():
    # Self-consistency + distributivity checks of the table-driven CRC.
    assert crc24q(b"") == 0
    body = b"\xd3\x00\x13" + bytes(range(19))
    f = append_crc(body)
    assert frame_crc_ok(f)
    assert not frame_crc_ok(f[:-1] + bytes([f[-1] ^ 1]))


@given(st.binary(min_size=0, max_size=64))
@settings(max_examples=200, deadline=None)
def test_crc_roundtrip_property(body):
    assert frame_crc_ok(append_crc(body)) if len(body) >= 3 else True


@given(st.integers(0, 2**30 - 1), st.integers(-(2**13), 2**13 - 1))
@settings(max_examples=200, deadline=None)
def test_bitio_roundtrip(u30, s14):
    w = BitWriter().uint(u30, 30).sint(s14, 14).bin("1011").pad(3)
    r = BitReader(w.to_bytes())
    assert r.uint(30) == u30
    assert r.sint(14) == s14
    assert r.bin(4) == "1011"


def _msm_frame(t=1077, epoch=123456, nsat=2):
    sats = [
        {"int_ms": 10 + j, "ext_info": j, "mod1ms": 100 * j + 5, "rough_rate": -50 + j}
        for j in range(nsat)
    ]
    cells = [
        {"fine_code": 1000 + c, "fine_phase": -2000 + c, "lock": c % 16,
         "half_cycle": c % 2, "cnr": 30 + (c % 30), "fine_rate": -100 + c}
        for c in range(nsat * 2)
    ]
    return encode_msm(t, 42, epoch, [3 * j + 1 for j in range(nsat)], [1, 7], sats, cells), sats, cells


def test_msm_roundtrip_msm7_and_msm5():
    for t in (1077, 1075):
        f, sats, cells = _msm_frame(t=t)
        d = _decode_one(f)
        assert d["msg_type"] == t
        assert d["station_id"] == 42
        assert d["epoch_ms"] == 123456
        assert d["sats"] == sats
        assert [c["fine_code"] for c in d["cells"]] == [c["fine_code"] for c in cells]
        assert d["msg_size"] == (msm_payload_bits(t % 10, 2, 2, 4) + 7) // 8 + 6


def test_glonass_epoch_dow_split():
    f, _, _ = _msm_frame(t=1087)
    # re-encode with dow
    sats = [{"int_ms": 1, "ext_info": 0, "mod1ms": 2, "rough_rate": 3}]
    cells = [{"fine_code": 4, "fine_phase": 5, "lock": 6, "half_cycle": 0, "cnr": 7, "fine_rate": 8}] * 2
    f = encode_msm(1087, 9, 86_399_999, [0], [1, 7], sats, cells, glonass_dow=6)
    d = _decode_one(f)
    assert d["glonass_dow"] == 6
    assert d["epoch_ms"] == 86_399_999


def test_1029_unicode_roundtrip():
    f = encode_1029(7, 60310, 86399, "blåbærgrød 北京")
    d = _decode_one(f)
    assert d["text"] == "blåbærgrød 北京"


def test_1005_1006_roundtrip():
    d5 = _decode_one(encode_1005(1, -(2**37), 2**37 - 1, 0))
    assert (d5["msg_type"], d5["ecef_x"], d5["ecef_y"], d5["ecef_z"], d5["ant_height"]) == (
        1005, -(2**37), 2**37 - 1, 0, None)
    d6 = _decode_one(encode_1005(1, 1, 2, 3, ant_height=65535))
    assert (d6["msg_type"], d6["ant_height"]) == (1006, 65535)


def test_legacy_observable_envelope_decode():
    from ntripmonitor_spark.sources.encoder import encode_legacy

    for t, epoch in ((1004, 3_600_000), (1012, 86_000_000)):
        d = _decode_one(encode_legacy(t, 321, epoch, nsat=7))
        assert d["msg_type"] == t and d["crc_ok"]
        assert d["station_id"] == 321
        assert d["epoch_ms"] == epoch
        assert len(d["sats"]) == 7
        assert d["cells"] is None  # legacy observations are not stored


def test_unknown_type_is_envelope_only():
    body = BitWriter().uint(1019, 12).uint(0xABC, 12).to_bytes()
    f = append_crc(b"\xd3" + bytes([0, len(body)]) + body)
    d = _decode_one(f)
    assert d["msg_type"] == 1019 and d["crc_ok"] and d["cells"] is None


def test_framing_junk_decoy_truncation():
    f1 = encode_1029(1, 1, 1, "one")
    f2, _, _ = _msm_frame()
    decoy = f2[:-1] + bytes([f2[-1] ^ 0x55])
    blob = b"\xaa\xaa" + f1 + b"\xd3\x01" + decoy + f2 + f1[:8]
    frames, rest = scan_frames(blob)
    assert frames == [f1, f2]
    assert rest == b""


def test_framing_stream_carryover():
    f1 = encode_1029(1, 1, 1, "hello")
    f2, _, _ = _msm_frame()
    stream = b"\x00" + f1 + f2
    got, buf = [], b""
    for i in range(0, len(stream), 7):
        buf += stream[i : i + 7]
        fs, buf = scan_frames(buf, final=False)
        got.extend(fs)
    assert got == [f1, f2]


def test_framing_stream_spurious_preamble_does_not_park():
    """A junk 0xD3 whose claimed length runs past the received bytes
    must not hold back the complete frame behind it: at the end of a
    caster's stream the claimed bytes never arrive."""
    f1 = encode_1029(1, 1, 1, "hello")
    f2, _, _ = _msm_frame()
    stream = f1 + b"\xd3\x03\xff\x00" + f2  # junk preamble claims 1023 bytes
    got, buf = [], b""
    for i in range(0, len(stream), 7):
        buf += stream[i : i + 7]
        fs, buf = scan_frames(buf, final=False)
        got.extend(fs)
    assert got == [f1, f2]
    assert buf == b""


_EPOCH_ROWS = [
    # (receive_time, epoch_ms, msg_type) → expected obs_epoch
    # plain same-day GPS
    (dt.datetime(2024, 1, 2, 12, 0, 1), 43_200_123, 1077,
     dt.datetime(2024, 1, 2, 12, 0, 0, 123000)),
    # rollover: obs 6 h behind wall clock → bumped to next day
    (dt.datetime(2024, 1, 2, 23, 30, 0), 63_000_000, 1077,  # 17:30
     dt.datetime(2024, 1, 3, 17, 30, 0)),
    # GLONASS −3 h
    (dt.datetime(2024, 1, 2, 12, 0, 1), 43_200_000, 1087,
     dt.datetime(2024, 1, 2, 9, 0, 0)),
    # non-GLONASS legacy range untouched
    (dt.datetime(2024, 1, 2, 12, 0, 1), 43_200_000, 1009,
     dt.datetime(2024, 1, 2, 9, 0, 0)),
]


def _epoch_frame(spark):
    return spark.createDataFrame(
        [(r, e, t) for r, e, t, _ in _EPOCH_ROWS],
        "receive_time timestamp, epoch_ms long, msg_type int",
    )


def test_obs_epoch_reconstruction(spark):
    from ntripmonitor_spark.operators.rtcm import obs_epoch_sql

    rows = _EPOCH_ROWS
    df = _epoch_frame(spark).selectExpr(
        "*", f"{obs_epoch_sql('receive_time', 'epoch_ms', 'msg_type')} AS obs"
    )
    got = [r["obs"] for r in df.orderBy("msg_type").collect()]
    want = [rows[3][3], rows[0][3], rows[1][3], rows[2][3]]
    assert got == want


def test_obs_epoch_over_ntz_receive_time(spark):
    """An NTZ-typed receive_time gives the same epochs as LTZ (the
    guard cast in obs_epoch_sql), not an AnalysisException."""
    from ntripmonitor_spark.operators.rtcm import obs_epoch_sql

    obs = f"{obs_epoch_sql('receive_time', 'epoch_ms', 'msg_type')} AS obs"
    ltz = _epoch_frame(spark)
    ntz = ltz.selectExpr("CAST(receive_time AS TIMESTAMP_NTZ) AS receive_time",
                         "epoch_ms", "msg_type")
    assert dict(ntz.dtypes)["receive_time"] == "timestamp_ntz"
    got = [r["obs"] for r in ntz.selectExpr("msg_type", obs).orderBy("msg_type").collect()]
    want = [r["obs"] for r in ltz.selectExpr("msg_type", obs).orderBy("msg_type").collect()]
    assert got == want and None not in got


def test_signal_tables_shape():
    from ntripmonitor_spark.schema import MSM_SIGNAL_TYPES

    assert set(MSM_SIGNAL_TYPES) == {"GPS", "GLONASS", "GALILEO", "BEIDOU", "QZSS", "SBAS"}
    for names in MSM_SIGNAL_TYPES.values():
        assert len(names) == 32
    assert MSM_SIGNAL_TYPES["GPS"][1] == "L1C"
    assert MSM_SIGNAL_TYPES["GLONASS"][7] == "G2C"


def test_message_catalog_per_type():
    """P22: per-type catalog (parity with the reference's 126-entry
    dict, src/rtcm3.py:183-313) — adjacent types must be distinct."""
    from ntripmonitor_spark.schema import MESSAGE_CATALOG, message_description

    assert len(MESSAGE_CATALOG) == 126
    assert MESSAGE_CATALOG[1019] == "GPS Ephemerides"
    assert MESSAGE_CATALOG[1020] == "GLONASS Ephemerides"
    assert MESSAGE_CATALOG[1007] == "Antenna Descriptor"
    assert MESSAGE_CATALOG[1008] == "Antenna Descriptor & Serial Number"
    assert MESSAGE_CATALOG[1094] == "Galileo MSM4"
    assert MESSAGE_CATALOG[1127] == "BeiDou MSM7"
    assert MESSAGE_CATALOG[1070] == "Reserved MSM"
    assert message_description(4001) == "Message type 4001 currently not implemented"


@given(
    st.lists(
        st.tuples(st.binary(min_size=0, max_size=12), st.integers(0, 5)),
        min_size=1, max_size=8,
    )
)
@settings(max_examples=100, deadline=None)
def test_aligner_recovers_planted_frames_property(segments):
    """Fuzz S3/S4: arbitrary junk (which may contain 0xD3 decoy bytes
    and even truncated frame prefixes) interleaved with real frames —
    the aligner must return exactly the planted frames, in order."""
    from ntripmonitor_spark.sources.framing import scan_frames

    planted = []
    blob = b""
    for junk, nsat in segments:
        # junk that cannot contain a full valid frame (max 12 bytes
        # cannot hold the 1005 frame below; CRC makes random 0xD3
        # prefixes fail validation)
        blob += junk
        f = encode_1005(nsat, 1000 + nsat, -2000, 3000)
        planted.append(f)
        blob += f
    frames, rest = scan_frames(blob)
    assert frames == planted

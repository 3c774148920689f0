"""The RTCM projections are Spark SQL text (operators/rtcm.py). Pinned
here against their former ``F.*``-built forms, copied below as the
oracle: same schema (a bare ``1.0`` in SQL text would surface as a
DECIMAL column) and the same multiset of rows, over every frame set the
rt* plans build. A py4j budget keeps a future Column rewrite from
putting thousands of round trips back into each ingest micro-batch."""

from __future__ import annotations

import pytest
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ntripmonitor_spark.functions.fastlit import string_map_lit
from ntripmonitor_spark.functions.timeutil import epoch_us
from ntripmonitor_spark.operators import rtcm
from ntripmonitor_spark.schema import MSM_CONSTELLATIONS, MSM_SIGNAL_TYPES

# ---------------------------------------------------------------------------
# Oracle: the former Column-built projections, verbatim.
# ---------------------------------------------------------------------------

_US_DAY = 86_400_000_000
_US_5H = 5 * 3600 * 1_000_000
_US_3H = 3 * 3600 * 1_000_000


def _constellation_col(msg_type) -> Column:
    c = msg_type
    expr = F.when(c.between(1001, 1004), F.lit("GPS")).when(c.between(1009, 1012), F.lit("GLONASS"))
    for hundreds, name in MSM_CONSTELLATIONS.items():
        expr = expr.when((c >= hundreds * 10 + 1) & (c <= hundreds * 10 + 7), F.lit(name))
    return expr.otherwise(F.lit("GNSS"))


def _obs_epoch_col(receive_time: Column, epoch_ms: Column, msg_type: Column) -> Column:
    now_us = epoch_us(receive_time)
    day_start_us = (now_us / _US_DAY).cast("long") * _US_DAY
    obs_sec = (epoch_ms / 1000).cast("long") % 86400
    frac_us = (epoch_ms % 1000) * 1000
    candidate = day_start_us + obs_sec * 1_000_000 + frac_us
    rolled = F.when(
        obs_sec * 1_000_000 - (now_us % _US_DAY) < -_US_5H, candidate + _US_DAY
    ).otherwise(candidate)
    is_glonass = msg_type.between(1009, 1012) | msg_type.between(1081, 1087)
    adjusted = F.when(is_glonass, rolled - _US_3H).otherwise(rolled)
    return F.timestamp_micros(adjusted)


def _obs_epoch() -> Column:
    return _obs_epoch_col(F.col("receive_time"), F.col("epoch_ms"), F.col("msg_type"))


def _packages(decoded: DataFrame) -> DataFrame:
    is_msm = F.col("msg_type").between(1071, 1127)
    return decoded.select(
        "mountpoint",
        "receive_time",
        F.when(is_msm, _obs_epoch()).alias("obs_epoch"),
        "msg_type",
        "msg_size",
        F.when(is_msm, F.size("sats")).cast("int").alias("sat_count"),
    )


def _observations(decoded: DataFrame) -> DataFrame:
    d = (
        decoded.filter(F.col("msg_type").between(1071, 1127) & F.col("cells").isNotNull())
        .withColumn("constellation", _constellation_col(F.col("msg_type")))
        .withColumn("constellation_id", F.element_at(
            string_map_lit({
                "GPS": "G", "GLONASS": "R", "GALILEO": "E",
                "SBAS": "S", "QZSS": "J", "BEIDOU": "C",
            }),
            F.col("constellation"),
        ))
        .withColumn("nsig", F.size("sig_slots"))
        .withColumn("obs_epoch", _obs_epoch())
    )
    d = d.withColumn("cellz", F.arrays_zip("cell_slots", "cells")).select(
        "mountpoint", "obs_epoch", "msg_type", "constellation", "constellation_id",
        "sat_slots", "sig_slots", "nsig", F.explode("cellz").alias("cz"), "sats",
    )
    pos = F.col("cz.cell_slots")
    cell = F.col("cz.cells")
    sat_no = (pos / F.col("nsig")).cast("int")
    sig_no = (pos % F.col("nsig")).cast("int")
    sat = F.element_at(F.col("sats"), sat_no + 1)
    lvl = F.col("msg_type") % 10
    lo_res = lvl <= 5
    code_fine = F.when(lo_res, F.pow(2.0, -24)).otherwise(F.pow(2.0, -29))
    phase_fine = F.when(lo_res, F.pow(2.0, -29)).otherwise(F.pow(2.0, -31))
    snr_scale = F.when(lvl.isin(4, 5), F.lit(1.0)).otherwise(F.pow(2.0, -4))
    frac = sat.getField("mod1ms") / F.lit(1024.0)
    rough = F.when(lvl <= 3, frac).otherwise(sat.getField("int_ms") + frac)
    sig_map = string_map_lit({
        f"{const}|{slot}": name
        for const, names in MSM_SIGNAL_TYPES.items()
        for slot, name in enumerate(names)
    })
    return d.select(
        "mountpoint",
        "obs_epoch",
        "msg_type",
        F.format_string(
            "%s%02d", F.col("constellation_id"), F.element_at(F.col("sat_slots"), sat_no + 1) + 1
        ).alias("sat_id"),
        F.element_at(
            sig_map,
            F.concat_ws("|", F.col("constellation"), F.element_at(F.col("sig_slots"), sig_no + 1)),
        ).alias("sat_signal"),
        (rough + cell.getField("fine_code") * code_fine).alias("code"),
        (rough + cell.getField("fine_phase") * phase_fine).alias("phase"),
        (sat.getField("rough_rate") + cell.getField("fine_rate") * F.lit(0.0001)).alias("doppler"),
        (cell.getField("cnr") * snr_scale).alias("snr"),
        cell.getField("lock").alias("lock"),
        "constellation",
    )


def _legacy_observations(decoded: DataFrame) -> DataFrame:
    d = (
        decoded.filter(
            (F.col("msg_type").between(1001, 1004) | F.col("msg_type").between(1009, 1012))
            & F.col("legacy").isNotNull()
        )
        .withColumn("constellation", _constellation_col(F.col("msg_type")))
        .withColumn("obs_epoch", _obs_epoch())
        .select(
            "mountpoint", "obs_epoch", "msg_type", "station_id", "constellation",
            F.explode("legacy").alias("rec"),
        )
    )
    rec = F.col("rec")
    amb_m = F.coalesce(rec.getField("l1_amb"), F.lit(0)) * F.lit(299792.458)
    l1_pr_m = amb_m + rec.getField("l1_pr") * F.lit(0.02)
    l2_pr_m = amb_m + rec.getField("l2_pr") * F.lit(0.02)
    return d.select(
        "mountpoint",
        "obs_epoch",
        "msg_type",
        "station_id",
        F.format_string(
            "%s%02d",
            F.when(F.col("constellation") == "GLONASS", F.lit("R")).otherwise(F.lit("G")),
            rec.getField("sat_id_raw"),
        ).alias("sat_id"),
        (rec.getField("fcn") - 7).alias("freq_channel"),
        rec.getField("l1_code").alias("l1_code"),
        l1_pr_m.alias("l1_pseudorange_m"),
        (l1_pr_m + rec.getField("l1_phr_diff") * F.lit(0.0005)).alias("l1_phaserange_m"),
        rec.getField("l1_lock").alias("l1_lock"),
        (rec.getField("l1_cnr") * F.lit(0.25)).alias("l1_cnr_dbhz"),
        rec.getField("l2_code").alias("l2_code"),
        F.when(rec.getField("l2_pr").isNotNull(), l2_pr_m).alias("l2_pseudorange_m"),
        F.when(
            rec.getField("l2_pr").isNotNull(),
            l2_pr_m + rec.getField("l2_phr_diff") * F.lit(0.0005),
        ).alias("l2_phaserange_m"),
        rec.getField("l2_lock").alias("l2_lock"),
        (rec.getField("l2_cnr") * F.lit(0.25)).alias("l2_cnr_dbhz"),
        "constellation",
    )


def _coordinates(decoded: DataFrame) -> DataFrame:
    return decoded.filter(F.col("msg_type").isin(1005, 1006)).select(
        "mountpoint",
        "receive_time",
        "msg_type",
        "station_id",
        (F.col("ecef_x") / 1e4).alias("ecef_x_m"),
        (F.col("ecef_y") / 1e4).alias("ecef_y_m"),
        (F.col("ecef_z") / 1e4).alias("ecef_z_m"),
        (F.col("ant_height") / 1e4).alias("ant_height_m"),
    )


PROJECTIONS = {
    "packages": (rtcm.packages, _packages),
    "observations": (rtcm.observations, _observations),
    "legacy_observations": (rtcm.legacy_observations, _legacy_observations),
    "coordinates": (rtcm.coordinates, _coordinates),
}


@pytest.fixture(scope="module")
def decoded(spark, sf_dir):
    """Every frame set the rt* plans decode, in one persisted frame:
    MSM5/7 + 1006 + 1029 events, MSM1-3, MSM4/6, all six
    constellations, legacy 1002/1004/1010/1012."""
    from ntripmonitor_spark.plans import rtcm as plans

    parts = [plans.decoded_events(spark, sf_dir)] + [
        rtcm.decode_frames(frames(spark, sf_dir))
        for frames in (plans._msm123_frames, plans._msm46_frames,
                       plans._all_const_frames, plans._legacy_frames)
    ]
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    df = df.persist()
    yield df
    df.unpersist()


@pytest.mark.parametrize("name", sorted(PROJECTIONS))
def test_sql_projection_matches_column_form(decoded, name):
    new_fn, old_fn = PROJECTIONS[name]
    new, old = new_fn(decoded), old_fn(decoded)
    assert new.schema == old.schema
    assert new.count() > 0
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


@pytest.mark.parametrize("name", sorted(PROJECTIONS))
def test_projection_py4j_budget(decoded, name, monkeypatch):
    """Building a projection (no job) stays at a handful of py4j round
    trips; the Column-built forms took ~500 (packages) and ~1800
    (observations). Proxy-release commands sent when Python drops
    earlier JVM references are not part of the build and not counted."""
    from py4j.java_gateway import GatewayClient
    from py4j.protocol import MEMORY_COMMAND_NAME

    calls = []
    send = GatewayClient.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith(MEMORY_COMMAND_NAME):
            calls.append(command)
        return send(self, command, *args, **kwargs)

    new_fn = PROJECTIONS[name][0]
    monkeypatch.setattr(GatewayClient, "send_command", counting)
    new_fn(decoded)
    monkeypatch.undo()
    assert len(calls) <= 50, f"{name}: {len(calls)} py4j round trips"


def test_packages_over_ntz_receive_time(decoded):
    """A TIMESTAMP_NTZ receive_time degrades to a no-op cast inside the
    epoch reconstruction: same envelope rows as over LTZ."""
    ntz = decoded.withColumn("receive_time", F.col("receive_time").cast("timestamp_ntz"))
    got = rtcm.packages(ntz)
    assert dict(got.dtypes)["receive_time"] == "timestamp_ntz"
    got = got.withColumn("receive_time", F.col("receive_time").cast("timestamp_ltz"))
    want = rtcm.packages(decoded)
    assert got.where("obs_epoch IS NOT NULL").count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

"""ingest_bulk — drain a seeded frame archive through the streaming
decode pipeline with observations on:

    streaming.pipeline.run_archive_to_parquet(store_observations=True)
      = streaming.replay -> operators.rtcm.decode_frames
        -> packages + observations -> batch_id=N parquet sinks

The archive is written once per seed (untimed). Each drain is a
fresh query over the whole archive, checked against the generator's
ground truth (envelope rows, observation rows, envelope content
checksum); drains repeat while the next one still ends within the
run's time, at least MIN_DRAINS times. A drain is the unit of rate
and failure; its micro-batches are the unit of latency (several per
drain, so the median outlasts a stretch of outside load that spoils
a drain). A JVM garbage collection runs before each drain, untimed.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np

import gen
from context import Ctx, common_metrics
from harness import Metric, median, nproc, note, tail

ARCHIVE_FRAMES = 12_000
BATCH_ROWS = 3_000
N_MOUNTPOINTS = 4
MIN_DRAINS = 2  # a median of one drain would take a slow drain at face value
LIVE_PROBE_S = 6.0


def _check(out: str, obs: str, truth: dict) -> tuple[bool, str]:
    import pyarrow as pa
    import pyarrow.dataset as ds

    env = ds.dataset(out, format="parquet", partitioning="hive").to_table(
        columns=["mountpoint", "receive_time", "obs_epoch", "msg_type", "msg_size", "sat_count"])
    n_obs = ds.dataset(obs, format="parquet", partitioning="hive").count_rows()

    def ints(name):
        col = env.column(name)
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.timestamp("us")).cast(pa.int64())
        return col.fill_null(-1).to_numpy().astype(np.int64)

    idx = {n: i for i, n in enumerate(truth["mountpoints"])}
    mp = np.array([idx.get(m, -1) for m in env.column("mountpoint").to_pylist()], dtype=np.int64)
    checksum = gen.envelope_checksum(mp, ints("receive_time"), ints("obs_epoch"), ints("msg_type"),
                                     ints("msg_size"), ints("sat_count"))
    got = (env.num_rows, n_obs, checksum)
    want = (truth["n_frames"], truth["n_obs"], truth["checksum"])
    return got == want, f"rows/obs/checksum got={got} want={want}"


def streaming_layers(progress, sink_s: list[float], cpu_util: float) -> dict[str, Metric]:
    """Per-batch medians from the query's progress events, the time spent
    in the sink, and the process tree's CPU use while the query ran."""
    def pmed(key):
        vals = [p.durationMs.get(key, 0) for p in progress if p.durationMs]
        return float(median(vals)) if vals else 0.0

    return {
        **{f"streaming.{k}_ms": Metric(pmed(k), "ms")
           for k in ("latestOffset", "queryPlanning", "walCommit", "commitOffsets", "addBatch")},
        "streaming.batches": Metric(len(progress), "count"),
        "streaming.pipeline.sink.s": Metric(sum(sink_s), "s"),
        "proc.cpu_util": Metric(cpu_util, "ratio"),
    }


def _frames(spark, archive: str):
    """The archive as the (mountpoint, receive_time, frame) rows the
    decoder takes."""
    from pyspark.sql import functions as F

    return spark.read.parquet(archive).select(
        "mountpoint", F.timestamp_micros("receive_time_us").alias("receive_time"), "frame")


def layer_probes(spark, archive: str, batch_rows: int, tracer) -> dict:
    """Time each decode layer on the archive's frames: the vector
    decoder in this process on one thread, then the Spark operators as
    batch jobs into the no-op sink."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    from ntripmonitor_spark.operators import rtcm
    from ntripmonitor_spark.operators.rtcm_vec import decoded_record_batch

    t = ds.dataset(archive, format="parquet").to_table()
    recv = t.column("receive_time_us").cast(pa.timestamp("us", tz="UTC"))
    t0 = time.perf_counter()
    for lo in range(0, t.num_rows, batch_rows):
        n = min(batch_rows, t.num_rows - lo)
        with tracer.span("operators.rtcm_vec.decoded_record_batch"):
            decoded_record_batch(t.column("mountpoint").slice(lo, n).combine_chunks(),
                                 recv.slice(lo, n).combine_chunks(),
                                 t.column("frame").slice(lo, n).combine_chunks())
    vec_s = time.perf_counter() - t0

    frames = _frames(spark, archive)
    t0 = time.perf_counter()
    with tracer.span("operators.rtcm.decode_frames"):
        rtcm.decode_frames(frames).write.format("noop").mode("overwrite").save()
    dec_s = time.perf_counter() - t0
    decoded = rtcm.decode_frames(frames).persist()
    try:
        decoded.count()
        t0 = time.perf_counter()
        with tracer.span("operators.rtcm.observations"):
            rtcm.observations(decoded).write.format("noop").mode("overwrite").save()
        obs_s = time.perf_counter() - t0
    finally:
        decoded.unpersist()
    return {"vec_s": vec_s, "fps_1core": t.num_rows / vec_s, "decode_s": dec_s, "obs_s": obs_s}


def _live_probe(ctx: Ctx, spark) -> dict[str, Metric]:
    """The live-source layers, traced on a short ``ingest_live``
    session in this run's session (ingest_live itself is not listed in
    BENCHMARK.json: see README.md)."""
    import wl_live
    from ntripmonitor_spark.sources.ntrip_live import register_live_source

    register_live_source(spark)
    s = wl_live.session(ctx, spark, LIVE_PROBE_S, os.path.join(ctx.run_dir, "live"))
    return wl_live.source_layers(ctx, s)


def run(ctx: Ctx):
    from ntripmonitor_spark.streaming import pipeline

    tr = ctx.tracer

    def build(d):
        gen.write_archive(ctx.seed, ARCHIVE_FRAMES, N_MOUNTPOINTS, os.path.join(d, "archive"))

    cache = ctx.cached("ingest_bulk", build, {"seed": ctx.seed, "frames": ARCHIVE_FRAMES,
                                               "mountpoints": N_MOUNTPOINTS})
    archive = os.path.join(cache, "archive")
    with open(os.path.join(cache, "truth.json")) as f:
        truth = json.load(f)
    spark, setup_s = ctx.setup()

    # warm-up (untimed, untraced): one drain of the archive (Python
    # workers, JIT and codegen of the streaming query and its sinks)
    traced, tr.enabled = tr.enabled, False
    t0 = time.perf_counter()
    w = os.path.join(ctx.run_dir, "warm")
    pipeline.run_archive_to_parquet(
        spark, archive, os.path.join(w, "packages"),
        os.path.join(w, "ckpt"), batch_rows=BATCH_ROWS, store_observations=True,
        obs_path=os.path.join(w, "observations"))
    shutil.rmtree(w, ignore_errors=True)
    note(f"warm-up: {time.perf_counter() - t0:.1f} s")
    tr.enabled = traced

    sink_s: list[float] = []
    if ctx.traced:
        # time every call into the sink layer (the foreachBatch body)
        inner = pipeline.decoded_parquet_sink

        def traced_sink(*a, **kw):
            write = inner(*a, **kw)

            def timed(df, batch_id):
                t0 = time.perf_counter()
                with tr.span("streaming.pipeline.sink"):
                    write(df, batch_id)
                sink_s.append(time.perf_counter() - t0)
            return timed
        pipeline.decoded_parquet_sink = traced_sink

    drains: list[float] = []
    progress = []
    failed = 0
    end = time.monotonic() + ctx.seconds
    cpu0, wall0 = ctx.sampler.cpu_seconds(), time.monotonic()
    # drains until the next one would end after the run's time
    while len(drains) < MIN_DRAINS or time.monotonic() + median(drains) <= end:
        d = os.path.join(ctx.run_dir, f"drain{len(drains)}")
        out, obs = os.path.join(d, "packages"), os.path.join(d, "observations")
        ctx.start_op(spark)
        t0 = time.perf_counter()
        with tr.span("streaming.pipeline.run_archive_to_parquet"):
            q = pipeline.run_archive_to_parquet(
                spark, archive, out, os.path.join(d, "ckpt"), batch_rows=BATCH_ROWS,
                store_observations=True, obs_path=obs)
        drains.append(time.perf_counter() - t0)
        ctx.end_op()
        progress.extend(q.recentProgress)
        ok, why = _check(out, obs, truth)
        if not ok:
            failed += 1
            note(f"bulk drain {len(drains) - 1} FAILED: {why}")
        shutil.rmtree(d, ignore_errors=True)
    cpu_s = ctx.sampler.cpu_seconds() - cpu0
    cpu_util = cpu_s / (time.monotonic() - wall0) / nproc()

    batch_s = [p.durationMs["triggerExecution"] / 1000.0 for p in progress
               if p.durationMs and p.numInputRows > 0]
    fps = median([ARCHIVE_FRAMES / d for d in drains])
    tp, tv, n = tail(drains)
    bp, bv, bn = tail(batch_s)
    metrics = common_metrics(ctx, setup_s)
    metrics["op_p50_s"] = Metric(median(batch_s), "s")
    metrics["ops_per_s"] = Metric(fps, "1/s")
    ctx.report("bulk_frames_per_s", f"{fps:.1f}", f"1/s (median of {len(drains)} drains "
               f"of {ARCHIVE_FRAMES} frames, {truth['n_obs']} observations)")
    ctx.report("drain_s_p50", f"{median(drains):.4f}", f"s (n={len(drains)})")
    ctx.report("drain_s_tail", f"{tv:.4f}", f"s (p{tp:g}, n={n})")
    ctx.report("bulk_batch_s_p50", f"{median(batch_s):.4f}", f"s (n={len(batch_s)})")
    ctx.report("bulk_batch_s_tail", f"{bv:.4f}", f"s (p{bp:g}, n={bn})")
    ctx.report("drain_s", [round(x, 3) for x in drains], "s")
    ctx.report("bulk_cpu_s_per_drain", f"{cpu_s / len(drains):.3f}", "s (process tree)")
    ctx.report("bulk_batch_s", [round(x, 3) for x in batch_s], "s")

    layers = {}
    if ctx.traced:
        rep = layer_probes(spark, archive, BATCH_ROWS, tr)
        live = _live_probe(ctx, spark)

        layers = {
            **streaming_layers(progress, sink_s, cpu_util),
            "operators.rtcm_vec.decoded_record_batch.s": Metric(rep["vec_s"], "s"),
            "operators.rtcm_vec.frames_per_s_1core": Metric(rep["fps_1core"], "1/s"),
            "operators.rtcm.decode_frames.s": Metric(rep["decode_s"], "s"),
            "operators.rtcm.observations.s": Metric(rep["obs_s"], "s"),
            **live,
        }
    return {"correct": failed == 0, "attempted": len(drains), "failed": failed,
            "metrics": metrics, "layers": layers}

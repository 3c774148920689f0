"""ingest_live — open-loop live ingest over a loopback NTRIP caster.

Composition (``start_archive_stream`` with the live source in place of
the replay source):

    sources.ntrip_live -> operators.rtcm.decode_frames
      -> operators.rtcm.packages -> streaming.pipeline.idempotent_parquet_sink

The caster sends a seeded frame mix at a fixed aggregate rate; each
MSM frame carries its scheduled send time in its epoch field, so the
sink's own ``obs_epoch`` column identifies the frame and gives its
creation time. A frame's latency runs from its scheduled send time to
the commit of the micro-batch that wrote it (the mtime of the batch's
entry in the checkpoint commit log). Gate: every frame sent is
committed exactly once.
"""

from __future__ import annotations

import json
import os
import time
from collections import Counter

import numpy as np

import gen
import wl_bulk
from caster import LoopbackCaster
from context import Ctx, common_metrics
from harness import Metric, median, nproc, note, tail

RATE_PER_S = 200.0          # aggregate frames/s over all mountpoints
DRAIN_S = 5.0               # wait after the last frame is due
CONNECT_TIMEOUT_S = 60.0


def _sink_rows(sink: str):
    import pyarrow.dataset as ds

    if not os.path.isdir(sink) or not any(n.startswith("batch_id=") for n in os.listdir(sink)):
        return None
    import pyarrow as pa

    t = ds.dataset(sink, format="parquet", partitioning="hive").to_table(
        columns=["mountpoint", "obs_epoch", "msg_type", "msg_size", "batch_id"])
    ep = t.column("obs_epoch").cast(pa.timestamp("us")).cast(pa.int64())
    return {
        "n": t.num_rows,
        "mountpoint": t.column("mountpoint").to_pylist(),
        "obs_epoch": ep.to_pylist(),
        "msg_type": t.column("msg_type").to_pylist(),
        "msg_size": t.column("msg_size").to_pylist(),
        "batch_id": t.column("batch_id").to_pylist(),
    }


def _commit_times(ckpt: str) -> dict[int, float]:
    d = os.path.join(ckpt, "commits")
    out = {}
    for n in os.listdir(d) if os.path.isdir(d) else ():
        if n.isdigit():
            out[int(n)] = os.stat(os.path.join(d, n)).st_mtime_ns / 1e9
    return out


def _expected(mps: list[dict]):
    """MSM identity keys -> scheduled send time (epoch s); per
    (mountpoint, type, size) counts of the frames without an epoch."""
    keys: dict[tuple, float] = {}
    other: Counter = Counter()
    for m in mps:
        for k, (t, ts) in enumerate(zip(m["msg_type"], m["ts_us"])):
            if 1071 <= t <= 1127:
                obs = int(ts) - (gen.US_3H if t == 1087 else 0)
                keys[gen.frame_key(m["name"], int(t), obs)] = int(ts) / 1e6
            else:
                other[(m["name"], int(t), len(_frame_of(m, k)))] += 1
    return keys, other


def _frame_of(m: dict, k: int) -> bytes:
    """The real frame inside blob k: junk bytes, optional decoy, frame."""
    from ntripmonitor_spark.sources.framing import scan_frames

    frames, _ = scan_frames(m["blobs"][k], final=True)
    return frames[-1]


def _account(table, expected_keys, expected_other, commits):
    """Exact accounting: missing frames, extra copies, latencies."""
    got: Counter = Counter()
    first_commit: dict[tuple, float] = {}
    other: Counter = Counter()
    if table is not None:
        for mp, ep, t, size, b in zip(table["mountpoint"], table["obs_epoch"], table["msg_type"],
                                      table["msg_size"], table["batch_id"]):
            if ep is None:
                other[(mp, t, size)] += 1
                continue
            key = gen.frame_key(mp, t, ep)
            got[key] += 1
            c = commits.get(int(b))
            if c is not None:
                first_commit[key] = min(first_commit.get(key, c), c)
    missing = sum(1 for k in expected_keys if got[k] == 0)
    extra = sum(max(0, n - 1) for k, n in got.items() if k in expected_keys)
    unknown = sum(n for k, n in got.items() if k not in expected_keys)
    failed = sum(1 for k in expected_keys if got[k] != 1)
    for g in set(expected_other) | set(other):
        e, n = expected_other.get(g, 0), other.get(g, 0)
        missing += max(0, e - n)
        extra += max(0, n - e)
        failed += abs(n - e) if g in expected_other else 0
    failed = min(failed + unknown, len(expected_keys) + sum(expected_other.values()))
    lat = [first_commit[k] - ts for k, ts in expected_keys.items() if k in first_commit]
    return missing, extra, unknown, failed, lat


def _layer_replay(mps: list[dict], tracer) -> dict:
    """Replay the exact byte stream the caster sent on one connection
    per mountpoint through the executor-side layers, in this process
    on one thread, timing each call into the layer."""
    from ntripmonitor_spark.functions.crc24q import frame_crc_ok_batch
    from ntripmonitor_spark.sources.framing import scan_frames
    from ntripmonitor_spark.sources.ntrip_client import ChunkedDecoder

    t_chunk = t_scan = 0.0
    n_frames = 0
    candidates: list[bytes] = []
    for m in mps:
        dec = ChunkedDecoder()
        buf = b""
        for blob in m["blobs"]:
            data = b"%x\r\n" % len(blob) + blob + b"\r\n" if m["chunked"] else blob
            if m["chunked"]:
                t0 = time.perf_counter()
                with tracer.span("sources.ntrip_client.ChunkedDecoder.feed"):
                    data = dec.feed(data)
                t_chunk += time.perf_counter() - t0
            t0 = time.perf_counter()
            with tracer.span("sources.framing.scan_frames"):
                frames, buf = scan_frames(buf + data, final=False)
            t_scan += time.perf_counter() - t0
            n_frames += len(frames)
            # every preamble-aligned candidate the aligner had to test
            i = blob.find(b"\xd3")
            while i >= 0 and i + 6 <= len(blob):
                ln = ((blob[i + 1] & 3) << 8) | blob[i + 2]
                if i + ln + 6 <= len(blob):
                    candidates.append(blob[i:i + ln + 6])
                    i = blob.find(b"\xd3", i + ln + 6)
                else:
                    break
    lens = np.fromiter((len(c) for c in candidates), dtype=np.int64, count=len(candidates))
    mat = np.zeros((len(candidates), int(lens.max())), dtype=np.uint8)
    for r, c in enumerate(candidates):
        mat[r, :len(c)] = np.frombuffer(c, dtype=np.uint8)
    t0 = time.perf_counter()
    with tracer.span("functions.crc24q.frame_crc_ok_batch"):
        ok = frame_crc_ok_batch(mat, lens)
    t_crc = time.perf_counter() - t0
    return {"chunk_s": t_chunk, "scan_s": t_scan, "crc_s": t_crc,
            "frames_aligned": n_frames, "rejected": int((~ok).sum())}


def _frames_archive(mps: list[dict], run_dir: str) -> str:
    """The frames the caster sent, as a replay archive (one copy each),
    for the decode-layer probes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ntripmonitor_spark.sources.framing import scan_frames

    mp, ts, fr = [], [], []
    for m in mps:
        for blob, t in zip(m["blobs"], m["ts_us"]):
            frame = scan_frames(blob, final=True)[0][-1]
            mp.append(m["name"])
            ts.append(int(t))
            fr.append(frame)
    path = os.path.join(run_dir, "sent_frames")
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({"mountpoint": pa.array(mp, pa.string()),
                             "receive_time_us": pa.array(ts, pa.int64()),
                             "frame": pa.array(fr, pa.binary())}),
                   os.path.join(path, "part-0.parquet"))
    return path


def session(ctx: Ctx, spark, seconds: float, out_dir: str) -> dict:
    """One live ingest session: start the caster and the query, wait
    until every mountpoint has a client, send the seeded schedule for
    ``seconds`` (open loop), drain, stop, and account for every frame."""
    from pyspark.sql import functions as F

    from ntripmonitor_spark.operators import rtcm
    from ntripmonitor_spark.streaming.pipeline import graceful_stop, idempotent_parquet_sink

    tr = ctx.tracer
    n_mp = max(2, min(4, nproc()))
    sched = gen.live_schedule(ctx.seed, n_mp, RATE_PER_S, seconds)
    mps = [dict(m, blobs=[]) for m in sched["mountpoints"]]
    caster = LoopbackCaster(mps)
    caster.start()
    sink = os.path.join(out_dir, "sink")
    ckpt = os.path.join(out_dir, "ckpt")
    sink_s: list[float] = []
    writer = idempotent_parquet_sink(sink)

    def timed_writer(df, batch_id):
        t0 = time.perf_counter()
        with tr.span("streaming.pipeline.sink"):
            writer(df, batch_id)
        sink_s.append(time.perf_counter() - t0)

    t_start = time.monotonic()
    query = None
    try:
        frames = (
            spark.readStream.format("ntrip_live")
            .option("casters", json.dumps(caster.casters_option()))
            .load()
            .select("mountpoint", F.timestamp_micros("receive_time_us").alias("receive_time"), "frame")
        )
        query = (
            rtcm.packages(rtcm.decode_frames(frames)).writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(timed_writer)
            .trigger(processingTime="0 seconds")
            .start()
        )
        deadline = time.monotonic() + CONNECT_TIMEOUT_S
        while min(caster.open_connections().values()) == 0:
            if time.monotonic() > deadline or not query.isActive:
                raise RuntimeError(f"mountpoints never connected: {caster.open_connections()}")
            time.sleep(0.05)
        # anchor the schedule shortly ahead and encode the frames with
        # their send times (untimed: the program has not seen them yet)
        start_wall = time.time() + 0.5
        enc = gen.encode_live(sched, int(start_wall * 1e6))
        for m, e in zip(mps, enc):
            m.update(blobs=e["blobs"], ts_us=e["ts_us"], msg_type=e["msg_type"])
        expected_keys, expected_other = _expected(mps)
        n_expected = len(expected_keys) + sum(expected_other.values())
        t_connected = time.monotonic()
        cpu0, wall0 = ctx.sampler.cpu_seconds(), time.monotonic()
        caster.start_schedule(time.monotonic() + (start_wall - time.time()))
        while not caster.schedule_done():
            time.sleep(0.05)
        drain_end = time.monotonic() + DRAIN_S
        while time.monotonic() < drain_end:
            table = _sink_rows(sink)
            if table is not None and table["n"] >= n_expected:
                miss = _account(table, expected_keys, expected_other, _commit_times(ckpt))[0]
                if miss == 0:
                    break
            time.sleep(0.25)
        cpu_util = (ctx.sampler.cpu_seconds() - cpu0) / (time.monotonic() - wall0) / nproc()
        progress = list(query.recentProgress)
        t_drained = time.monotonic()
    finally:
        if query is not None:
            graceful_stop(query, drain=False)
        caster.close()
    note(f"live phases: connect {t_connected - t_start:.2f}s, send+drain {t_drained - t_connected:.2f}s, "
         f"stop {time.monotonic() - t_drained:.2f}s")
    missing, extra, unknown, failed, lat = _account(
        _sink_rows(sink), expected_keys, expected_other, _commit_times(ckpt))
    note(f"live: sent={n_expected} missing={missing} extra_copies={extra} unknown={unknown} "
         f"connections={caster.connections_opened} undelivered={caster.frames_undelivered} "
         f"max_late={caster.max_late_s:.4f}s batches={len(progress)}")
    return {"mps": mps, "n_mp": n_mp, "n_expected": n_expected, "missing": missing, "extra": extra,
            "failed": failed, "lat": lat, "progress": progress, "sink_s": sink_s,
            "cpu_util": cpu_util, "connections": dict(caster.connections_opened),
            "max_late_s": caster.max_late_s, "window_s": seconds + DRAIN_S}


def source_layers(ctx: Ctx, s: dict) -> dict[str, Metric]:
    """Per-layer metrics of the live source and the executor-side
    layers it runs (framing, chunked decoding, CRC)."""
    rep = _layer_replay(s["mps"], ctx.tracer)
    return {
        "sources.ntrip_live.connections_per_mountpoint": Metric(
            sum(s["connections"].values()) / s["n_mp"], "count"),
        "sources.ntrip_live.frames_missing": Metric(s["missing"], "count"),
        "sources.ntrip_live.frames_duplicated": Metric(s["extra"], "count"),
        "sources.framing.scan_frames.s": Metric(rep["scan_s"], "s"),
        "sources.framing.frames_rejected": Metric(rep["rejected"], "count"),
        "sources.ntrip_client.ChunkedDecoder.feed.s": Metric(rep["chunk_s"], "s"),
        "functions.crc24q.frame_crc_ok_batch.s": Metric(rep["crc_s"], "s"),
    }


def run(ctx: Ctx):
    from ntripmonitor_spark.sources.ntrip_live import register_live_source

    spark, setup_s = ctx.setup(prepare=register_live_source)
    ctx.start_op(spark)
    s = session(ctx, spark, ctx.seconds, ctx.run_dir)
    ctx.end_op()
    lat, window = s["lat"], s["window_s"]

    metrics = common_metrics(ctx, setup_s)
    thr = (s["n_expected"] - s["missing"]) / window  # distinct frames committed
    if lat:
        lat50 = median(lat)
        tp, tv, n = tail(lat)
    else:  # nothing committed: every frame is at least the whole window late
        lat50 = tv = window
        tp, n = 100.0, 0
    metrics["op_p50_s"] = Metric(lat50, "s")
    metrics["ops_per_s"] = Metric(thr, "1/s")
    ctx.report("live_latency_p50_s", f"{lat50:.4f}", "s")
    ctx.report(f"live_latency_p{tp:g}_s", f"{tv:.4f}", f"s (n={n})")
    ctx.report("live_committed_frames_per_s", f"{thr:.2f}", "1/s")
    ctx.report("generator_max_late_s", f"{s['max_late_s']:.4f}", "s")
    ctx.report("frames_sent", s["n_expected"])
    ctx.report("frames_missing", s["missing"])
    ctx.report("frames_duplicated", s["extra"])

    layers = {}
    if ctx.traced:
        progress = s["progress"]
        per_batch = max(1, s["n_expected"] // max(1, len(progress)))  # the live batch size
        dec = wl_bulk.layer_probes(spark, _frames_archive(s["mps"], ctx.run_dir), per_batch, ctx.tracer)
        layers = {
            **wl_bulk.streaming_layers(progress, s["sink_s"], s["cpu_util"]),
            **source_layers(ctx, s),
            "operators.rtcm_vec.decoded_record_batch.s": Metric(dec["vec_s"], "s"),
            "operators.rtcm_vec.frames_per_s_1core": Metric(dec["fps_1core"], "1/s"),
            "operators.rtcm.decode_frames.s": Metric(dec["decode_s"], "s"),
            "operators.rtcm.observations.s": Metric(dec["obs_s"], "s"),
        }
    return {"correct": s["failed"] == 0, "attempted": s["n_expected"], "failed": s["failed"],
            "metrics": metrics, "layers": layers}

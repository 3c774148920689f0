"""Streaming e2e smoke (SURVEY.md §5.4): replay source → decode →
sinks must equal the batch-computed expectation; stateful streaming
sessionization must equal the batch closed-sessions plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ntripmonitor_spark.plans.rtcm import decoded_events, event_blobs
from ntripmonitor_spark.operators import rtcm
from ntripmonitor_spark.sources.framing import split_frames
from ntripmonitor_spark.streaming import pipeline as sp
from ntripmonitor_spark.streaming import sessions
from ntripmonitor_spark.streaming.replay import frames_stream, write_frame_archive
from ntripmonitor_spark.tables import table


def _canon(df):
    cols = sorted(df.columns)
    return sorted(tuple(str(v) for v in row) for row in df.select(cols).collect())


@pytest.fixture(scope="module")
def archive(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("arch") / "frames")
    frames = split_frames(event_blobs(spark, sf_dir))
    write_frame_archive(frames, path)
    return path


def test_replay_stream_decode_matches_batch(spark, sf_dir, archive, tmp_path):
    out = str(tmp_path / "pk")
    ckpt = str(tmp_path / "ckpt")
    sp.run_archive_to_parquet(spark, archive, out, ckpt, batch_rows=300)
    got = spark.read.parquet(out).drop("batch_id")
    want = rtcm.packages(decoded_events(spark, sf_dir))
    assert _canon(got) == _canon(want)


def test_streaming_windowed_rates_matches_batch(spark, sf_dir, archive):
    import pyspark.sql.functions as F

    frames = frames_stream(spark, archive, batch_rows=500)
    agg = sp.windowed_rates(sp.stream_packages(frames))
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("rates_out")
        .trigger(processingTime="0 seconds")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT * FROM rates_out")

    # withWatermark is a no-op on a batch plan — same operator, both modes.
    want = sp.windowed_rates(rtcm.packages(decoded_events(spark, sf_dir)))
    assert _canon(got) == _canon(want)


def test_stateful_sessionization_matches_batch(spark, sf_dir, tmp_path):
    ev = table(spark, sf_dir, "events").select("user_id", "ts")
    staged = str(tmp_path / "events_staged")
    ev.coalesce(1).write.mode("overwrite").parquet(staged)

    stream = spark.readStream.schema(ev.schema).parquet(staged)
    out = sessions.sessionize_stream(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT * FROM sess_out")
    want = sessions.closed_sessions_batch(table(spark, sf_dir, "events"))
    assert _canon(got) == _canon(want)


def test_ntrip_protocol_parsers():
    from ntripmonitor_spark.sources import ntrip_client as nc

    req = nc.build_request("MP1", "caster.example:2101", "user", "pw")
    assert b"GET /MP1 HTTP/1.1" in req and b"Authorization: Basic " in req

    head, rest = nc.parse_response_head(
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\nBODY"
    )
    assert head.status == 200 and head.chunked and rest == b"BODY"

    dec = nc.ChunkedDecoder()
    payload = b""
    # "5\r\nhello\r\n6\r\n world\r\n0\r\n\r\n" fed in dribbles
    wire = b"5\r\nhello\r\n6\r\n world\r\n0\r\n\r\n"
    for i in range(0, len(wire), 3):
        payload += dec.feed(wire[i : i + 3])
    assert payload == b"hello world" and dec.done

    st = "CAS;x\nSTR;MP1;Name;RTCM3;;;;;DK;55.7;12.5;;;gen\nSTR;MP1;Dup;;;;;;;;;;;\nSTR;MP2;B;RTCM3;;;;;SE;1;2;;;g2\nENDSOURCETABLE\nSTR;MP3;after-end;;;;;;;;;;;"
    rows = nc.parse_sourcetable(st, "casterA")
    assert [r["mountpoint"] for r in rows] == ["MP1", "MP2"]
    assert rows[0]["countrycode"] == "DK" and rows[0]["casterprovider"] == "casterA"
    assert nc.live_casters({"a": rows, "b": None, "c": []}) == {"a": rows}


def test_restart_from_checkpoint_no_duplicates(spark, sf_dir, archive, tmp_path):
    """D6/D8: hard-stop the streaming query mid-run, resume from the
    same checkpoint — the idempotent batch_id=N sink must yield exactly
    the batch expectation (no duplicates from the replayed batch, no
    gaps)."""
    import time

    out = str(tmp_path / "pk")
    ckpt = str(tmp_path / "ckpt")
    q = sp.start_archive_stream(spark, archive, out, ckpt, batch_rows=200)
    deadline = time.time() + 120
    while time.time() < deadline and len(q.recentProgress) < 2:
        time.sleep(0.2)
    assert len(q.recentProgress) >= 2, "stream produced no progress to interrupt"
    q.stop()  # hard stop: do NOT drain — leaves unprocessed tail
    q.awaitTermination()

    q2 = sp.start_archive_stream(spark, archive, out, ckpt, batch_rows=200)
    sp.graceful_stop(q2)

    got = spark.read.parquet(out).drop("batch_id")
    want = rtcm.packages(decoded_events(spark, sf_dir))
    assert _canon(got) == _canon(want)


def test_store_observations_gate(spark, sf_dir, archive, tmp_path):
    """K7: with the gate on, routed observations land next to the
    envelope and match the batch plan; with it off (the reference's
    DB_STORE_OBSERVATIONS=false), only the envelope is written."""
    import os

    out = str(tmp_path / "pk")
    obs = str(tmp_path / "obs")
    sp.run_archive_to_parquet(
        spark, archive, out, str(tmp_path / "c1"), batch_rows=5000,
        store_observations=True, obs_path=obs,
    )
    got_obs = spark.read.parquet(obs).drop("batch_id")
    want_obs = rtcm.observations(decoded_events(spark, sf_dir))
    assert _canon(got_obs) == _canon(want_obs)

    out2 = str(tmp_path / "pk2")
    obs2 = str(tmp_path / "obs2")
    sp.run_archive_to_parquet(
        spark, archive, out2, str(tmp_path / "c2"), batch_rows=5000,
        store_observations=False, obs_path=obs2,
    )
    assert spark.read.parquet(out2).count() > 0
    assert not os.path.exists(obs2), "envelope-only mode still wrote observations"


def test_windowed_rates_divisor_follows_window(spark, sf_dir):
    """The kb_per_s divisor must track the window argument, not assume
    60 s."""
    import pyspark.sql.functions as F

    assert sp.window_seconds("15 seconds") == 15.0
    assert sp.window_seconds("2 hours") == 7200.0
    pk = rtcm.packages(decoded_events(spark, sf_dir))
    r30 = sp.windowed_rates(pk, window="30 seconds")
    row = r30.orderBy("bucket", "mountpoint").first()
    assert abs(row["kb_per_s"] - row["total_bytes"] / 30.0 / 1024.0) < 1e-12


def test_stream_frame_dedup_across_batches(spark, sf_dir, tmp_path):
    """A replayed buffer tail (same mountpoint + identical frame bytes,
    arriving again in a later micro-batch) must be dropped by the
    watermarked dedup; distinct frames all survive."""
    import pyspark.sql.functions as F

    frames = split_frames(event_blobs(spark, sf_dir)).limit(200).cache()
    n_distinct = frames.select("mountpoint", "frame").distinct().count()

    # duplicate every frame once (same receive_time — inside any
    # watermark) and interleave; write as one archive the replay
    # source will chop into several micro-batches
    doubled = frames.union(frames)
    path = str(tmp_path / "dup_frames")
    write_frame_archive(doubled, path)

    deduped = sp.stream_frame_dedup(frames_stream(spark, path, batch_rows=100))
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT mountpoint, frame FROM dedup_out")
    assert got.count() == n_distinct, "duplicate frames leaked through"
    assert got.distinct().count() == n_distinct
    frames.unpersist()


def test_incremental_rollup_matches_batch(spark, sf_dir, archive, tmp_path):
    """Continuous-aggregate analog: streaming per-batch PARTIAL rollup
    appends + merge-on-read must equal the one-shot batch rollup, and
    a compacted snapshot must equal both."""
    from ntripmonitor_spark.streaming import rollup as ru

    base = str(tmp_path / "rollup")
    decoded = rtcm.decode_frames(frames_stream(spark, archive, batch_rows=300))
    q = (
        decoded.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(ru.rollup_sink(base, window="1 hour"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    q.processAllAvailable()
    q.stop()

    want = ru.rollup_partials(rtcm.packages(decoded_events(spark, sf_dir)), "1 hour")
    got = ru.read_rollup(spark, base)
    assert _canon(got) == _canon(want)

    out = str(tmp_path / "rollup_compact")
    ru.compact_rollup(spark, base, out)
    assert _canon(spark.read.parquet(out)) == _canon(want)


def test_stream_curation_gate_matches_batch(spark, sf_dir, tmp_path):
    """The streaming curation slice (quality gate + watermarked exact
    dedup + broadcast temperature mix) must select the same survivor
    set as the batch funnel's first three cuts when docs arrive in
    doc_id order (first-arrival winner == min-doc_id winner)."""
    import pyspark.sql.functions as F

    from ntripmonitor_spark.operators.sampling import BUCKETS, hash_bucket
    from ntripmonitor_spark.operators.text import quality_score_col

    docs = table(spark, sf_dir, "documents")

    # batch expectation: gate -> min-doc_id dedup -> mix over survivors
    from pyspark.sql import Window

    g = docs.withColumn("q", quality_score_col(F.col("text"))).filter(F.col("q") >= 0.5)
    g = g.withColumn("win", F.min("doc_id").over(Window.partitionBy(F.md5("text")))).filter(
        F.col("doc_id") == F.col("win")
    )
    counts = g.groupBy("source").agg(F.count(F.lit(1)).alias("n_src"))
    rate = F.floor(
        F.lit(BUCKETS) * F.least(F.lit(1.0), F.lit(5.0) / F.sqrt(F.col("n_src").cast("double")))
    ).cast("int")
    rates = counts.select("source", rate.alias("rate"))
    expected = {
        r["doc_id"]
        for r in g.join(F.broadcast(rates), "source")
        .filter(hash_bucket(F.col("doc_id")) < F.col("rate"))
        .select("doc_id")
        .collect()
    }

    # stream the same docs (plus exact duplicates of every doc, which
    # the watermarked dedup must drop) in doc_id order across batches
    src_path = str(tmp_path / "doc_stream")
    # offset away from epoch 0: a row AT the initial watermark (0) is
    # treated as late and dropped
    stamped = docs.withColumn(
        "ingest_time", F.timestamp_micros((F.col("doc_id") + 1) * 1_000_000)
    )
    dup = stamped.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    stamped.union(dup).orderBy("doc_id").coalesce(1).write.parquet(src_path)

    stream = (
        spark.readStream.schema(spark.read.parquet(src_path).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_path)
    )
    out = sp.stream_curation_gate(stream, rates=rates)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("cur_gate")
        .option("checkpointLocation", str(tmp_path / "cur_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.sql("SELECT doc_id FROM cur_gate").collect()}
    assert got == expected, (
        f"streaming survivors diverge: extra={sorted(got - expected)[:5]} "
        f"missing={sorted(expected - got)[:5]}"
    )


def test_streaming_kmv_matches_batch(spark, sf_dir, tmp_path):
    """Mergeable-sketch proof: per-micro-batch KMV partials (blind
    batch_id appends, same discipline as the incremental rollup) merged
    on read must give EXACTLY the batch kmv_distinct estimates."""
    import os

    import pyspark.sql.functions as F

    from ntripmonitor_spark.operators import sketch

    ev = table(spark, sf_dir, "events")
    expected = {
        r["event_type"]: r["kmv_estimate"]
        for r in sketch.kmv_distinct(ev, k=16).collect()
    }

    src = str(tmp_path / "kmv_src")
    ev.select("event_type", "user_id").repartition(4).write.parquet(src)
    state = str(tmp_path / "kmv_state")

    def write(batch_df, batch_id):
        sp.write_batch(sketch.kmv_partial(batch_df, k=16), state, batch_id)

    q = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(write)
        .option("checkpointLocation", str(tmp_path / "kmv_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n_batches = len([p for p in os.listdir(state) if p.startswith("batch_id=")])
    assert n_batches > 1, "stream collapsed into one batch; merge path untested"

    got = {
        r["event_type"]: r["kmv_estimate"]
        for r in sketch.kmv_merge_estimate(spark.read.parquet(state), k=16).collect()
    }
    assert got == expected, f"merged sketch diverged: {got} vs {expected}"


def test_streaming_countmin_matches_batch(spark, sf_dir, tmp_path):
    """The incrementally-maintained CMS (per-batch partials +
    merge-on-read) must equal the batch sketch of the full stream —
    counters AND the heavy-hitter estimates derived from them."""
    from pyspark.sql import functions as F

    from ntripmonitor_spark.operators import sketch
    from ntripmonitor_spark.streaming import sketches

    ev = table(spark, sf_dir, "events").select("event_id", "user_id")
    src = str(tmp_path / "cms_src")
    # several files + one file per trigger → a genuinely multi-batch stream
    ev.repartition(4).write.mode("overwrite").parquet(src)

    sink = str(tmp_path / "cms_sink")
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(sketches.countmin_sink(sink, "user_id"))
        .option("checkpointLocation", str(tmp_path / "cms_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    merged = {
        (r.d, r.bkt): r.cnt for r in sketches.read_countmin(spark, sink).collect()
    }
    batch = {
        (r.d, r.bkt): r.cnt for r in sketch.countmin_counters(ev, "user_id").collect()
    }
    assert merged == batch

    members = ev.select("user_id").distinct().limit(20)
    est = {
        r.user_id: r.n_cms
        for r in sketches.estimate(
            sketches.read_countmin(spark, sink), members
        ).collect()
    }
    exact = {
        r.user_id: r.c
        for r in ev.join(members, "user_id")
        .groupBy("user_id").agg(F.count("*").alias("c")).collect()
    }
    assert set(est) == set(exact)
    assert all(est[u] >= exact[u] for u in exact)


def test_streaming_scd2_matches_batch_closed_intervals(spark, sf_dir, tmp_path):
    """Incremental SCD2 over a multi-trigger time-ordered replay must
    emit exactly the batch plan's CLOSED intervals (open runs stay in
    state — the batch is_current rows). Three time-range batch files
    force genuine cross-trigger state carry."""
    from pyspark.sql import functions as F

    from ntripmonitor_spark.operators.joins import scd2_history
    from ntripmonitor_spark.streaming import scd

    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    staged = str(tmp_path / "scd_staged")
    span = (hi - lo) / 3
    for i in range(3):
        part = ev.filter(
            (F.col("ts") >= F.lit(lo + i * span))
            & (F.col("ts") < F.lit(lo + (i + 1) * span) if i < 2 else F.lit(True))
        )
        part.coalesce(1).write.mode("append").parquet(staged)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    out = scd.scd2_stream(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("scd_out")
        .option("checkpointLocation", str(tmp_path / "scd_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT * FROM scd_out")
    want = (
        scd2_history(table(spark, sf_dir, "events"))
        .filter(~F.col("is_current"))
        .select("user_id", "attr_value", "valid_from", "valid_to")
    )
    assert _canon(got) == _canon(want)


def test_streaming_incremental_dedup_matches_full_lsh(spark, sf_dir, tmp_path):
    """Documents streamed across three triggers through the
    foreachBatch delta-dedup must accumulate EXACTLY the full-corpus
    MinHash-LSH pair set (same est_jaccard), with the signature silver
    table holding one row per document."""
    from pyspark.sql import functions as F

    from ntripmonitor_spark.operators.dedup import minhash_lsh_pairs
    from ntripmonitor_spark.streaming.dedup_stream import start_incremental_dedup

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "docs_src")
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_incremental_dedup(
        stream,
        sig_path=str(tmp_path / "sigs"),
        pairs_path=str(tmp_path / "pairs"),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    got = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in spark.read.parquet(str(tmp_path / "pairs")).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(docs).collect()
    }
    assert got == want and len(want) > 0
    assert spark.read.parquet(str(tmp_path / "sigs")).count() == docs.count()


def test_streaming_drift_matches_batch(spark, sf_dir, tmp_path):
    """The incrementally-maintained KS monitor (per-batch count
    partials + merge-on-read) must equal the batch ks_drift of the
    full stream exactly — counts are mergeable state, so no
    approximation is involved."""
    from ntripmonitor_spark.operators import stats
    from ntripmonitor_spark.streaming import drift

    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    src = str(tmp_path / "drift_src")
    docs.repartition(4).write.mode("overwrite").parquet(src)

    sink = str(tmp_path / "drift_sink")
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(drift.drift_sink(sink))
        .option("checkpointLocation", str(tmp_path / "drift_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    merged = {
        r.source: (r.n_rows, r.ks_stat)
        for r in drift.read_drift(spark, sink).collect()
    }
    batch = {
        r.source: (r.n_rows, r.ks_stat)
        for r in stats.ks_drift(docs).collect()
    }
    assert merged == batch


def test_streaming_ann_index_matches_batch(spark, sf_dir, tmp_path):
    """Streaming IVF maintenance: batch-by-batch cell assignment
    against a frozen quantizer must equal the batch assignment of the
    full table (assignment is a pure function of the vector), the
    on-disk layout must be cell-partitioned (serving prunes to probed
    cells), and the merged cell stats must sum to the corpus."""
    from ntripmonitor_spark.operators import simsearch
    from ntripmonitor_spark.streaming import ann

    emb = table(spark, sf_dir, "embeddings")
    seeds = simsearch._collect_seed_vectors(emb, simsearch.IVF_K)

    src = str(tmp_path / "ann_src")
    emb.repartition(4).write.mode("overwrite").parquet(src)
    sink = str(tmp_path / "ann_sink")
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(ann.cell_assign_sink(sink, seeds))
        .option("checkpointLocation", str(tmp_path / "ann_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    merged = {r.vec_id: r.cell for r in ann.read_assignments(spark, sink).collect()}
    batch = {r.vec_id: r.cell for r in simsearch.cell_assignments(emb, seeds).collect()}
    assert merged == batch

    import glob
    import os

    cell_dirs = glob.glob(os.path.join(sink, "batch_id=*", "cell=*"))
    assert cell_dirs, "index not cell-partitioned on disk"

    stats = ann.cell_stats(spark, sink).collect()
    assert sum(r.n_vecs for r in stats) == emb.count()
    assert abs(sum(r.share for r in stats) - 1.0) < 1e-4


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, tmp_path):
    """Stream-stream watermarked interval join across MULTIPLE
    micro-batches (3 files, one per trigger: error anchors buffered in
    join state must meet probe rows arriving in later batches) must
    equal the batch inner interval join on the same data."""
    from ntripmonitor_spark.streaming import joins as sj

    import time as _time

    ev = table(spark, sf_dir, "events")
    src = str(tmp_path / "ev_src")
    # 3 files -> 3 micro-batches with maxFilesPerTrigger=1, appended in
    # ascending event-time order with distinct mtimes: the file source
    # replays them oldest-first, so each batch advances the watermark
    # instead of starting at the stream's max and dropping everything
    sliced = ev.orderBy("ts", "event_id").limit(3000).collect()
    for i in range(3):
        chunk = spark.createDataFrame(sliced[i * 1000:(i + 1) * 1000], ev.schema)
        chunk.coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    anchors = stream.filter("event_type = 'error'")
    probes = stream
    joined = sj.stream_interval_join(anchors, probes, horizon_s=600)
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    static = spark.read.parquet(src)
    want = sj.batch_interval_join(
        static.filter("event_type = 'error'"), static, horizon_s=600
    )
    got = spark.sql("SELECT * FROM ssj_out")
    assert _canon(got) == _canon(want)
    assert got.count() > 0, "join produced no rows — fixture too sparse"


def test_stream_stream_left_outer_emits_proven_negatives(spark, tmp_path):
    """left_outer: an anchor with no probe in its horizon must emit a
    NULL-probe row — but only once the watermark PROVES the negative
    (advanced past a_ts + horizon by later batches). user 1's error has
    recovery activity inside 10 min (match row); user 2's has none
    (null row, emitted when batch 2/3 push the watermark past it)."""
    import datetime as dt

    from ntripmonitor_spark.streaming import joins as sj

    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)

    def ev(eid, minutes, uid, etype):
        return (eid, t0 + dt.timedelta(minutes=minutes), uid, etype, 0.0, "{}")

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    # The global watermark is the MIN across both sides' watermarks
    # (multipleWatermarkPolicy=min), so later batches must carry BOTH
    # late errors (anchor side) and late non-errors (probe side) or the
    # lagging side pins the watermark and nothing is ever evicted.
    batches = [
        [ev(1, 0, 1, "error"), ev(2, 0, 2, "error")],
        [ev(3, 1, 1, "click"), ev(4, 120, 4, "view"), ev(5, 120, 5, "error")],
        [ev(6, 240, 4, "view"), ev(7, 240, 5, "error")],
    ]
    src = str(tmp_path / "ev_src")
    import time as _time

    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    joined = sj.stream_interval_join(
        stream.filter("event_type = 'error'"), stream.filter("event_type <> 'error'"),
        horizon_s=600, how="left_outer",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_outer")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["anchor_id"]: r for r in spark.sql("SELECT * FROM ssj_outer").collect()}
    assert rows[1]["probe_id"] == 3 and rows[1]["gap_us"] == 60_000_000
    assert rows[2]["probe_id"] is None and rows[2]["gap_us"] is None
    # u1's matched anchor must NOT also emit a null row
    assert sum(1 for r in spark.sql("SELECT * FROM ssj_outer").collect()
               if r["anchor_id"] == 1) == 1


def test_stream_interval_join_accepts_ntz_source(spark, tmp_path):
    """The r3 driver errors came from TIMESTAMP_NTZ inputs hitting raw
    unix_micros. The streaming join surface must accept a stream whose
    ts column is NTZ end-to-end (cast + epoch_us discipline): same
    rows, same gap_us as the batch twin on the same NTZ frame."""
    from ntripmonitor_spark.streaming import joins as sj

    base = 1_700_000_000_000_000  # µs; naive wall time == UTC epoch
    rows = [
        (1, 10, "error", base),
        (2, 10, "click", base + 60_000_000),
        (3, 20, "error", base + 5_000_000),
        (4, 20, "view", base + 700_000_000),  # outside the 600 s horizon
    ]
    ntz = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, us long"
    ).select(
        "event_id", "user_id", "event_type",
        F.timestamp_micros(F.col("us")).cast("timestamp_ntz").alias("ts"),
    )
    assert dict(ntz.dtypes)["ts"] == "timestamp_ntz"
    src = str(tmp_path / "ntz_src")
    ntz.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(ntz.schema).parquet(src)
    assert dict(stream.dtypes)["ts"] == "timestamp_ntz"
    joined = sj.stream_interval_join(
        stream.filter("event_type = 'error'"),
        stream.filter("event_type <> 'error'"),
        horizon_s=600,
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_ntz")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM ssj_ntz")
    static = spark.read.parquet(src)
    assert dict(static.dtypes)["ts"] == "timestamp_ntz"
    want = sj.batch_interval_join(
        static.filter("event_type = 'error'"),
        static.filter("event_type <> 'error'"),
        horizon_s=600,
    )
    assert _canon(got) == _canon(want)
    by_anchor = {r["anchor_id"]: r for r in got.collect()}
    assert by_anchor[1]["gap_us"] == 60_000_000
    assert 3 not in {r["probe_id"] for r in got.collect() if r["probe_id"]}


def test_native_session_window_streams_closed_sessions(spark, sf_dir, tmp_path):
    """sessionize_native run AS A STREAM (watermark + session_window,
    append mode): every emitted session must be exactly a session the
    batch plan produces (same start/end/count), and all sessions that
    closed well inside the final watermark must have been emitted."""
    import time as _time

    from ntripmonitor_spark.streaming import sessions

    ev = table(spark, sf_dir, "events")
    src = str(tmp_path / "ev_src")
    sliced = ev.orderBy("ts", "event_id").limit(3000).collect()
    for i in range(3):
        spark.createDataFrame(sliced[i * 1000:(i + 1) * 1000], ev.schema) \
            .coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    wm = stream.withColumn("ts", stream["ts"].cast("timestamp_ltz")).withWatermark("ts", "30 minutes")
    out = sessions.sessionize_native(wm)
    q = (
        out.writeStream.format("memory")
        .queryName("native_sess")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["user_id"], str(r["session_start"]), str(r["session_end"]), r["n_events"])
        for r in spark.sql("SELECT * FROM native_sess").collect()
    }
    static = spark.createDataFrame(sliced, ev.schema)
    batch = sessions.sessionize_native(static)
    want_all = {
        (r["user_id"], str(r["session_start"]), str(r["session_end"]), r["n_events"])
        for r in batch.collect()
    }
    assert got, "stream emitted no closed sessions"
    assert got <= want_all, f"stream emitted sessions batch doesn't have: {sorted(got - want_all)[:3]}"
    # sessions that closed >1 watermark before the stream's end must all be out
    import datetime as dt

    max_ts = max(r["ts"] for r in sliced)
    horizon = max_ts - dt.timedelta(minutes=90)  # watermark + gap + slack
    must_emit = {s for s in want_all if dt.datetime.fromisoformat(s[2]) < horizon}
    assert must_emit <= got, f"missing closed sessions: {sorted(must_emit - got)[:3]}"


def test_streaming_profile_merge_equals_batch(spark, sf_dir, tmp_path):
    """dq01's streaming twin: per-batch profile partials merged on
    read must equal the batch profile exactly on counts/nulls/ranges,
    and the merged KMV sketch must equal the batch-computed sketch
    (same estimate — k-smallest-of-union associativity)."""
    from ntripmonitor_spark.streaming import profile_stream as ps

    ev = table(spark, sf_dir, "events")
    src = str(tmp_path / "ev_src")
    ev.limit(3000).repartition(3).write.parquet(src)

    cols = ["event_id", "user_id", "value"]
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    base = str(tmp_path / "prof")
    q = (
        stream.writeStream.foreachBatch(ps.profile_sink(base, cols))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    merged = {r["column"]: r for r in ps.read_profile(spark, base).collect()}
    static = spark.read.parquet(src)
    stats_b, kmv_b = ps.profile_partial(static, cols)
    batch_stats = {r["column"]: r for r in stats_b.collect()}
    import pyspark.sql.functions as F2
    from pyspark.sql import Window as W2

    w = W2.partitionBy("column").orderBy(F2.col("h").asc(), F2.col("v").asc())
    batch_kmv = {
        r["column"]: r
        for r in kmv_b.withColumn("rk", F2.row_number().over(w))
        .groupBy("column")
        .agg(F2.max(F2.when(F2.col("rk") == ps.KMV_K, F2.col("h"))).alias("hk"),
             F2.count(F2.lit(1)).alias("n_sk"))
        .collect()
    }
    for c in cols:
        m, b = merged[c], batch_stats[c]
        assert (m["n_rows"], m["n_null"], m["min_num"], m["max_num"]) == (
            b["n_rows"], b["n_null"], b["min_num"], b["max_num"]
        )
        bk = batch_kmv[c]
        if bk["n_sk"] < ps.KMV_K:
            assert m["kmv_distinct"] == float(bk["n_sk"])
        else:
            assert m["kmv_distinct"] == round(63.0 * float(1 << 32) / bk["hk"], 4)


def test_streaming_bucket_series_matches_batch(spark, sf_dir, tmp_path):
    """The monitoring family's shared input (the per-(type, hour)
    bucket-mean series an06/an08/an09 collapse the corpus into) is
    incrementally maintainable: per-micro-batch DECIMAL (sum, count)
    partials appended blindly per batch_id, merged on read, must
    reproduce the batch series EXACTLY — decimal partials are what
    make the merge order-free (double partials would drift)."""
    import os

    import pyspark.sql.functions as F

    from ntripmonitor_spark.functions.timeutil import epoch_us

    ev = table(spark, sf_dir, "events")
    bkt = F.floor(epoch_us("ts") / F.lit(3_600_000_000)).cast("long")
    batch_series = {
        (r["event_type"], r["bkt"]): r["x"]
        for r in ev.select("event_type", bkt.alias("bkt"), "value")
        .groupBy("event_type", "bkt")
        .agg(F.round(
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1)), 6).alias("x"))
        .collect()
    }

    src = str(tmp_path / "series_src")
    ev.select("event_type", "ts", "value").repartition(4).write.parquet(src)
    state = str(tmp_path / "series_state")

    def write(batch_df, batch_id):
        partials = (
            batch_df.select("event_type",
                            F.floor(epoch_us("ts") / F.lit(3_600_000_000))
                            .cast("long").alias("bkt"), "value")
            .groupBy("event_type", "bkt")
            .agg(F.sum(F.col("value").cast("decimal(38,6)")).alias("s"),
                 F.count(F.lit(1)).alias("n"))
        )
        sp.write_batch(partials, state, batch_id)

    q = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(write)
        .option("checkpointLocation", str(tmp_path / "series_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n_batches = len([p for p in os.listdir(state) if p.startswith("batch_id=")])
    assert n_batches > 1, "stream collapsed into one batch; merge path untested"

    merged = {
        (r["event_type"], r["bkt"]): r["x"]
        for r in spark.read.parquet(state)
        .groupBy("event_type", "bkt")
        .agg(F.round(F.sum("s").cast("double") / F.sum("n"), 6).alias("x"))
        .collect()
    }
    assert merged == batch_series

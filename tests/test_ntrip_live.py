"""Live-source tests: sans-IO stream state machine (HTTP head →
chunked decode → frame alignment), the spool's row offsets and
partitions, loopback-socket receivers, and exactly-once ingest across
a query restart."""

from __future__ import annotations

import json
import os
import socket
import threading
import time

from ntripmonitor_spark.sources.encoder import encode_1029, encode_msm
from ntripmonitor_spark.sources.ntrip_live import (
    MountpointStreamState,
    NtripLiveDataSource,
    _Receivers,
)
from ntripmonitor_spark.streaming import replay
from ntripmonitor_spark.streaming.replay import ARCHIVE_SCHEMA


def _frames():
    f1 = encode_1029(1, 100, 200, "live test")
    sats = [{"int_ms": 5, "ext_info": 1, "mod1ms": 7, "rough_rate": -3}]
    cells = [{"fine_code": 11, "fine_phase": -12, "lock": 13, "half_cycle": 0,
              "cnr": 14, "fine_rate": 15},
             {"fine_code": 21, "fine_phase": -22, "lock": 23, "half_cycle": 1,
              "cnr": 24, "fine_rate": 25}]
    f2 = encode_msm(1077, 2, 999, [4], [1, 7], sats, cells)
    return f1, f2


def test_stream_state_plain_body():
    f1, f2 = _frames()
    st = MountpointStreamState("MP1")
    wire = b"ICY 200 OK\r\n\r\n" + b"\xaa" + f1 + f2
    got = []
    for i in range(0, len(wire), 11):
        got.extend(st.feed(wire[i : i + 11]))
    assert got == [f1, f2]
    assert not st.chunked


def test_stream_state_chunked_body():
    f1, f2 = _frames()
    body = f1 + f2
    chunks = b""
    for i in range(0, len(body), 20):
        part = body[i : i + 20]
        chunks += f"{len(part):x}\r\n".encode() + part + b"\r\n"
    wire = (
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n" + chunks + b"0\r\n\r\n"
    )
    st = MountpointStreamState("MP1")
    got = []
    for i in range(0, len(wire), 7):
        got.extend(st.feed(wire[i : i + 7]))
    assert got == [f1, f2]
    assert st.chunked


def test_stream_state_rejects_non_200():
    st = MountpointStreamState("MP1")
    try:
        st.feed(b"HTTP/1.1 401 Unauthorized\r\n\r\n")
        raised = False
    except ConnectionError:
        raised = True
    assert raised


class _ScriptedReceivers(_Receivers):
    """Caster receivers without sockets: each drain() hands over the
    next scripted list of received rows; stop() hands over a tail."""

    def __init__(self, drains, tail):
        super().__init__([])
        self.drains, self.tail = list(drains), tail

    def start(self):
        pass

    def drain(self):
        return self.drains.pop(0) if self.drains else []

    def stop(self):
        return self.tail


def _read_rows(reader, start, end):
    (part,) = reader.partitions(start, end)  # one partition per micro-batch
    return [(r["mountpoint"], r["receive_time_us"], r["frame"])
            for b in reader.read(part) for r in b.to_pylist()]


def test_reader_offsets_and_partitions(tmp_path, monkeypatch):
    """Live offsets are spool row positions: every latestOffset()
    spools what the receivers hold as one segment and offers the whole
    spool, partitions slice row ranges across segments, stop() spools
    the tail, a restarted reader lists the same rows in the same order,
    and a spool without ``path`` is removed at stop()."""
    import signal

    monkeypatch.setattr(signal, "signal", lambda *a: None)  # keep pytest's SIGTERM
    casters = [
        {"url": "http://caster:2101", "mountpoint": "MP1"},
        {"url": "http://caster:2101", "mountpoint": "MP2"},
    ]
    spool = str(tmp_path / "spool")
    r = NtripLiveDataSource(
        {"casters": json.dumps(casters), "path": spool}
    ).streamReader(ARCHIVE_SCHEMA)
    assert [c["mountpoint"] for c in r.feeder.casters] == ["MP1", "MP2"]
    segments = [[("MP1", 10 * i, b"a%d" % i), ("MP2", 10 * i + 1, b"b%d" % i)]
                for i in range(6)]
    r.feeder = _ScriptedReceivers(segments, tail=[("MP2", 99, b"tail")])
    assert r.initialOffset() == {"row": 0}
    o1, o2 = r.latestOffset(), r.latestOffset()
    assert (o1, o2) == ({"row": 2}, {"row": 4})
    rows = _read_rows(r, o1, o2)
    assert [m for m, _, _ in rows] == ["MP1", "MP2"]
    assert [f for _, _, f in rows] == [b"a1", b"b1"]
    # a range that starts and ends inside segments slices both ends
    mid = _read_rows(r, {"row": 1}, {"row": 3})
    assert [f for _, _, f in mid] == [b"b0", b"a1"]

    offsets = [r.latestOffset() for _ in range(5)]
    assert offsets[-1] == offsets[-2] == {"row": 12}  # nothing new received
    everything = _read_rows(r, r.initialOffset(), offsets[-1])
    assert everything == [row for seg in segments for row in seg]
    # the worker cache holds a bounded number of segment tables
    assert replay._segment_table.cache_info().currsize <= 4
    # no per-batch row cap: a burst is one batch however large
    burst = [("MP1", 1000 + k, b"c%d" % k) for k in range(1500)]
    r.feeder.drains = [burst]
    assert r.latestOffset() == {"row": 1512}
    everything += burst

    r.stop()
    restarted = replay._ReplayReader({"path": spool, "batchrows": "5"})
    assert restarted.latestOffset() == {"row": 5}
    assert (_read_rows(restarted, {"row": 0}, {"row": 1513})
            == everything + [("MP2", 99, b"tail")])

    t = NtripLiveDataSource({"casters": json.dumps(casters)}).streamReader(ARCHIVE_SCHEMA)
    t.feeder = _ScriptedReceivers([[("MP1", 1, b"x")]], tail=[("MP1", 2, b"y")])
    assert t.latestOffset() == {"row": 1}
    assert sorted(os.listdir(t.path)) == [".lock", "part-00000000000000000000.parquet"]
    t.stop()
    assert not os.path.exists(t.path)


def test_read_socket_window_loopback():
    """Serve two frames over a real loopback socket and read them
    through the full connect→HTTP→align path of one receiver."""
    f1, f2 = _frames()
    srv = socket.socket()
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]

    def serve():
        conn, _ = srv.accept()
        conn.recv(4096)  # the GET request
        conn.sendall(b"ICY 200 OK\r\n\r\n" + b"\xff\xff" + f1 + f2)
        conn.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    receivers = _Receivers([{"url": f"http://127.0.0.1:{port}", "mountpoint": "LOOP"}])
    receivers.start()
    rows = []
    deadline = time.monotonic() + 10
    while len(rows) < 2 and time.monotonic() < deadline:
        rows += receivers.drain()
        time.sleep(0.05)
    rows += receivers.stop()
    t.join(timeout=2)
    srv.close()
    assert [r[2] for r in rows] == [f1, f2]
    assert all(r[0] == "LOOP" for r in rows)


def test_receiver_reconnects_after_bad_chunk(monkeypatch):
    """A chunked body with a malformed chunk-length line (the decoder's
    ValueError) drops that connection and the receiver reconnects (D7)
    instead of its thread ending with the mountpoint left silent."""
    from ntripmonitor_spark.sources import ntrip_live

    monkeypatch.setattr(ntrip_live, "RECONNECT_DELAY_S", 0.05)
    f1, f2 = _frames()
    head = b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
    srv = socket.create_server(("127.0.0.1", 0))
    port = srv.getsockname()[1]
    first_closed_by_client = []

    def serve():
        conn, _ = srv.accept()
        conn.recv(4096)
        conn.sendall(head + b"zz\r\n")  # not a hex chunk length
        conn.settimeout(10)
        first_closed_by_client.append(conn.recv(4096) == b"")
        conn.close()
        conn2, _ = srv.accept()
        conn2.recv(4096)
        body = f1 + f2
        conn2.sendall(head + b"%x\r\n" % len(body) + body + b"\r\n")
        conn2.settimeout(10)
        conn2.recv(4096)  # hold the connection until the receiver stops
        conn2.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    receivers = _Receivers([{"url": f"http://127.0.0.1:{port}", "mountpoint": "BAD"}])
    receivers.start()
    rows = []
    deadline = time.monotonic() + 10
    while len(rows) < 2 and time.monotonic() < deadline:
        rows += receivers.drain()
        time.sleep(0.05)
    rows += receivers.stop()
    t.join(timeout=2)
    srv.close()
    assert first_closed_by_client == [True]
    assert [r[2] for r in rows] == [f1, f2]


def test_live_source_through_readstream(spark, tmp_path):
    """Full Structured Streaming path: spark.readStream against a live
    loopback caster → memory sink; frames arrive CRC-valid with the
    mountpoint column attached."""
    from ntripmonitor_spark.sources.ntrip_live import register_live_source

    f1, f2 = _frames()
    srv = socket.socket()
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(4)
    port = srv.getsockname()[1]
    stop = threading.Event()

    def serve():
        while not stop.is_set():
            try:
                srv.settimeout(0.5)
                conn, _ = srv.accept()
            except TimeoutError:
                continue
            except OSError:
                return
            try:
                conn.recv(4096)
                conn.sendall(b"ICY 200 OK\r\n\r\n" + f1 + f2)
                # hold the connection briefly before the caster drops it
                time.sleep(1.0)
                conn.close()
            except OSError:
                pass

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    try:
        register_live_source(spark)
        casters = [{"url": f"http://127.0.0.1:{port}", "mountpoint": "LOOPS"}]
        q = (
            spark.readStream.format("ntrip_live")
            .option("casters", json.dumps(casters))
            .option("path", str(tmp_path / "spool"))
            .load()
            .writeStream.format("memory")
            .queryName("live_rs")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            deadline = time.monotonic() + 60
            while time.monotonic() < deadline:
                if spark.sql("SELECT * FROM live_rs").count() >= 2:
                    break
                time.sleep(0.5)
            rows = spark.sql("SELECT mountpoint, frame FROM live_rs").collect()
        finally:
            q.stop()
    finally:
        stop.set()
        srv.close()
    assert len(rows) >= 2
    assert {bytes(r.frame) for r in rows} >= {f1, f2}
    assert all(r.mountpoint == "LOOPS" for r in rows)


def test_chaos_drop_replay_exactly_once(spark, tmp_path, monkeypatch):
    """D7 + frame-dedup + K5 tied together (reference behavior:
    src/databasehandling.py:220-261): a caster that dies mid-frame and
    replays its buffer tail after reconnect must yield (a) a reconnect
    on graceful EOF — regression pin for the ConnectionError/OSError
    handler ordering, (b) exactly-once packages after the watermarked
    stream dedup, and (c) a closed first session plus a reopened one
    at the connection gap."""
    import time as _time

    import pyspark.sql.functions as F

    from ntripmonitor_spark.sources import ntrip_live
    from ntripmonitor_spark.streaming import pipeline as sp
    from ntripmonitor_spark.streaming import sessions
    from ntripmonitor_spark.streaming.replay import frames_stream, write_frame_archive

    monkeypatch.setattr(ntrip_live, "RECONNECT_DELAY_S", 0.05)

    fa = encode_1029(1, 100, 200, "frame A")
    fb = encode_1029(1, 101, 201, "frame B")
    fc = encode_1029(1, 102, 202, "frame C")
    fd = encode_1029(1, 103, 203, "frame D")

    srv = socket.socket()
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(4)
    port = srv.getsockname()[1]

    def serve():
        # connection 1: two frames + a truncated third, then hard close
        conn, _ = srv.accept()
        conn.recv(4096)
        conn.sendall(b"ICY 200 OK\r\n\r\n" + fa + fb + fc[:10])
        conn.close()
        # the client must reconnect on its own; delay the second accept
        # so the two connections are cleanly separated in receive time
        _time.sleep(1.0)
        conn2, _ = srv.accept()
        conn2.recv(4096)
        # buffer-tail replay (fb again, fc complete) + fresh frame
        conn2.sendall(b"ICY 200 OK\r\n\r\n" + fb + fc + fd)
        _time.sleep(1.2)
        conn2.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    receivers = _Receivers([{"url": f"http://127.0.0.1:{port}", "mountpoint": "CHAOS"}])
    receivers.start()
    try:
        t.join(timeout=10)
    finally:
        rows = receivers.stop()
        srv.close()

    got = [r[2] for r in rows]
    assert got.count(fb) >= 2, "no buffer-tail replay observed (reconnect failed?)"
    assert set(got) == {fa, fb, fc, fd}, "frames lost or corrupted across reconnect"

    # replay the captured at-least-once feed through the watermarked
    # stream dedup in small micro-batches
    frames_df = spark.createDataFrame(
        [(mp, ts_us, bytearray(fr)) for mp, ts_us, fr in rows],
        "mountpoint string, receive_time_us long, frame binary",
    ).withColumn("receive_time", F.timestamp_micros("receive_time_us")).drop("receive_time_us")
    path = str(tmp_path / "chaos_frames")
    write_frame_archive(frames_df, path)

    deduped = sp.stream_frame_dedup(frames_stream(spark, path, batch_rows=2))
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("chaos_dedup")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    q.processAllAvailable()
    q.stop()

    surv = spark.sql("SELECT mountpoint, receive_time, frame FROM chaos_dedup")
    pk = sp.stream_packages(surv)
    from ntripmonitor_spark.operators import rtcm

    texts = [r["text"] for r in
             rtcm.decode_frames(surv).filter(F.col("msg_type") == 1029)
             .select("text").collect()]
    assert surv.count() == 4, "replayed tail leaked through the dedup"
    assert pk.count() == 4, "packages not exactly-once"
    assert sorted(texts) == ["frame A", "frame B", "frame C", "frame D"]

    # K5 semantics on the deduped feed: the ≥1 s connection gap closes
    # the first session and opens a second — one reconnect pair
    sess = sessions.sessionize_batch(
        surv.select(F.col("mountpoint").alias("user_id"),
                    F.col("receive_time").alias("ts"),
                    F.monotonically_increasing_id().alias("event_id")),
        gap_s=0.5,
    )
    assert sess.count() == 2, "connection drop did not split the session"
    s1, s2 = sess.orderBy("session_start").collect()
    gap_s = (s2["session_start"] - s1["session_end"]).total_seconds()
    assert gap_s >= 0.5, f"reconnect gap missing ({gap_s}s)"


class _LoopbackCaster:
    """Threaded loopback caster: ``send`` copies frames to every open
    connection of a mountpoint (plain ICY body or chunked transfer, per
    mountpoint) and records them as served; connections opened and
    still open are counted per mountpoint."""

    def __init__(self, chunked: dict[str, bool]):
        self.chunked = chunked
        self.srv = socket.create_server(("127.0.0.1", 0))
        self.port = self.srv.getsockname()[1]
        self.lock = threading.Lock()
        self.conns: dict[str, list] = {mp: [] for mp in chunked}
        self.opened = dict.fromkeys(chunked, 0)
        self.served: list[tuple[str, bytes]] = []
        threading.Thread(target=self._accept, daemon=True).start()

    def casters(self):
        return [{"url": f"http://127.0.0.1:{self.port}", "mountpoint": mp}
                for mp in self.chunked]

    def _accept(self):
        while True:
            try:
                conn, _ = self.srv.accept()
            except OSError:
                return
            threading.Thread(target=self._serve, args=(conn,), daemon=True).start()

    def _serve(self, conn):
        mp = conn.recv(4096).split(b" ")[1].decode().lstrip("/")
        conn.sendall(b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
                     if self.chunked[mp] else b"ICY 200 OK\r\n\r\n")
        with self.lock:
            self.conns[mp].append(conn)
            self.opened[mp] += 1
        try:
            while conn.recv(4096):  # clients send nothing after the GET
                pass
        except OSError:
            pass
        with self.lock:
            self.conns[mp].remove(conn)
        conn.close()

    def open_connections(self) -> int:
        with self.lock:
            return sum(len(c) for c in self.conns.values())

    def send(self, mp: str, frames: list[bytes]) -> None:
        body = b"".join(frames)
        with self.lock:
            assert self.conns[mp], f"{mp} has no client"
            for conn in self.conns[mp]:
                if self.chunked[mp]:  # two chunks, split mid-frame
                    h = len(body) // 2
                    for part in (body[:h], body[h:]):
                        conn.sendall(b"%x\r\n" % len(part) + part + b"\r\n")
                else:
                    conn.sendall(body)
            self.served += [(mp, f) for f in frames]

    def close(self):
        self.srv.close()


def _wait(cond, what: str, timeout: float = 60.0):
    deadline = time.monotonic() + timeout
    while not cond():
        assert time.monotonic() < deadline, f"timed out waiting for {what}"
        time.sleep(0.1)


def test_live_restart_exactly_once(spark, tmp_path):
    """Stop the live query mid-stream and restart it on the same spool
    ``path`` and checkpoint location, twice: every served frame reaches the
    idempotent sink exactly once, each run holds one connection per
    mountpoint, stopping closes every connection and spools what the
    receivers hold, and the spool replays as the bronze archive of
    exactly what the sink holds."""
    import pyarrow.dataset as ds

    from ntripmonitor_spark.sources.ntrip_live import register_live_source
    from ntripmonitor_spark.streaming.pipeline import idempotent_parquet_sink
    from ntripmonitor_spark.streaming.replay import frames_stream

    caster = _LoopbackCaster({"PLAIN": False, "CHUNKED": True})
    spool, sink = str(tmp_path / "spool"), str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    register_live_source(spark)

    def start(interval: str):
        return (
            spark.readStream.format("ntrip_live")
            .option("casters", json.dumps(caster.casters()))
            .option("path", spool)
            .load()
            .writeStream.option("checkpointLocation", ckpt)
            .foreachBatch(idempotent_parquet_sink(sink))
            .trigger(processingTime=interval)
            .start()
        )

    def rows(path: str, **kw):
        if not os.path.isdir(path):
            return []
        t = ds.dataset(path, format="parquet", **kw).to_table()
        if t.num_rows == 0:  # nothing written yet
            return []
        return list(zip(t.column("mountpoint").to_pylist(),
                        t.column("receive_time_us").to_pylist(),
                        t.column("frame").to_pylist()))

    def sink_rows():
        return rows(sink, partitioning="hive")

    def serve_round(tag: str):
        for mp in caster.chunked:
            caster.send(mp, [encode_1029(1, 100, k, f"{tag} {mp} {k}") for k in range(5)])

    def run(tags: list[str], n_run: int, interval: str = "0 seconds", drain: bool = True):
        q = start(interval)
        try:
            _wait(lambda: min(caster.opened.values()) == n_run, "connections")
            if interval != "0 seconds":  # serve only once the trigger idles
                _wait(lambda: q.recentProgress and not q.status["isTriggerActive"],
                      "the first trigger")
            for i, tag in enumerate(tags):
                serve_round(tag)
                if i + 1 < len(tags) or drain:
                    n = len(caster.served)
                    _wait(lambda: len(sink_rows()) >= n, "the sink")
            if not drain:
                time.sleep(1.0)  # received, perhaps not yet spooled or committed
        finally:
            q.stop()
        assert caster.opened == {"PLAIN": n_run, "CHUNKED": n_run}
        _wait(lambda: caster.open_connections() == 0, "connections to close", 10)

    try:
        run(["r1a", "r1b"], n_run=1, drain=False)
        # no trigger after the first: only stop() can spool round r2
        run(["r2"], n_run=2, interval="1 hour", drain=False)
        _wait(lambda: len(rows(spool)) == 30, "stop() to spool the received frames")
        assert not any(b"r2 " in f for _, _, f in sink_rows())
        run(["r3"], n_run=3)  # same path and checkpoint
        got = sink_rows()
    finally:
        caster.close()
    served = sorted(caster.served)
    assert len(served) == 40
    assert sorted((m, f) for m, _, f in got) == served  # exactly once

    q = (frames_stream(spark, spool, batch_rows=7).writeStream.format("memory")
         .queryName("live_spool_replay")
         .option("checkpointLocation", str(tmp_path / "ckpt_replay")).start())
    q.processAllAvailable()
    q.stop()
    replayed = spark.sql(
        "SELECT mountpoint, unix_micros(receive_time) AS t, frame FROM live_spool_replay"
    ).collect()
    assert sorted((r.mountpoint, r.t, bytes(r.frame)) for r in replayed) == sorted(got)

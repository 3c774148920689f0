"""Self-tests of the benchmark (not of the engine). Run from the root
of a source checkout:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import json
import os
import socket
import sys
import time

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import catalog  # noqa: E402
import gen  # noqa: E402
from caster import LoopbackCaster  # noqa: E402
from harness import percentile, tail  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# -- the percentile rule --------------------------------------------------

def test_tail_reports_highest_percentile_with_ten_samples_beyond():
    vals = list(range(1, 1001))  # 1000 samples
    p, v, n = tail(vals)
    assert (p, v, n) == (99.0, 990, 1000)  # 10 beyond rank 990; p99.9 has 1
    p, v, n = tail(list(range(1, 1000)))  # 999: p99 rank 990 leaves 9 -> p95
    assert (p, n) == (95.0, 999)
    assert v == 950


def test_tail_small_samples():
    assert tail(list(range(1, 21))) == (50.0, 10, 20)   # 10 beyond the median
    assert tail([3.0, 1.0, 2.0]) == (100.0, 3.0, 3)     # nothing qualifies: max


def test_percentile_nearest_rank():
    s = [1.0, 2.0, 3.0, 4.0]
    assert percentile(s, 50) == (2.0, 2)
    assert percentile(s, 100) == (4.0, 0)


# -- seed determinism of every generator ----------------------------------

def _digest(path: str) -> str:
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            with open(os.path.join(dirpath, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    return h.hexdigest()


def test_live_schedule_is_seeded():
    a, b, c = (gen.live_schedule(s, 3, 60.0, 1.0) for s in (7, 7, 8))
    for ma, mb in zip(a["mountpoints"], b["mountpoints"]):
        assert np.array_equal(ma["offsets"], mb["offsets"]) and np.array_equal(ma["e"], mb["e"])
        assert ma["texts"] == mb["texts"]
    assert not np.array_equal(a["mountpoints"][0]["e"], c["mountpoints"][0]["e"])
    ea, eb = gen.encode_live(a, 10**15), gen.encode_live(b, 10**15)
    assert [m["blobs"] for m in ea] == [m["blobs"] for m in eb]


def test_archive_is_seeded(tmp_path):
    t1 = gen.write_archive(5, 300, 2, str(tmp_path / "a" / "archive"))
    t2 = gen.write_archive(5, 300, 2, str(tmp_path / "b" / "archive"))
    t3 = gen.write_archive(6, 300, 2, str(tmp_path / "c" / "archive"))
    assert t1 == t2 and t1 != t3
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))


def test_tables_are_seeded(tmp_path):
    for d, s in (("a", 1), ("b", 1), ("c", 2)):
        gen.write_tables(s, 0.0005, str(tmp_path / d))
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))


def test_jsonl_drop_is_seeded(tmp_path):
    r = [gen.write_jsonl_drop(s, 300, 10, str(tmp_path / d / "docs.jsonl"))
         for d, s in (("a", 3), ("b", 3), ("c", 4))]
    assert r[0] == r[1] and r[0] != r[2]
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert r[0]["n_ingested"] == 300 + r[0]["n_corrupt"]
    assert sum(r[0]["drop_stages"].values()) == 300


# -- exact frame accounting of the loopback caster ------------------------

def _client(port: int, mountpoint: str):
    from ntripmonitor_spark.sources.ntrip_client import build_request
    from ntripmonitor_spark.sources.ntrip_live import MountpointStreamState

    s = socket.create_connection(("127.0.0.1", port), timeout=5)
    s.sendall(build_request(mountpoint, f"127.0.0.1:{port}", "bench", "bench"))
    return s, MountpointStreamState(mountpoint)


def test_caster_copies_every_frame_exactly_once_per_connection():
    pytest.importorskip("ntripmonitor_spark")
    sched = gen.live_schedule(11, 2, 40.0, 0.5)  # 10 frames per mountpoint
    enc = gen.encode_live(sched, int(time.time() * 1e6))
    expected = {m["name"]: [gen_frame(b) for b in m["blobs"]] for m in enc}
    caster = LoopbackCaster(enc)
    caster.start()
    try:
        clients = [(m["name"], *_client(caster.port, m["name"])) for m in enc for _ in range(2)]
        deadline = time.monotonic() + 5
        while sum(caster.open_connections().values()) < 4:
            assert time.monotonic() < deadline, "clients never registered"
            time.sleep(0.01)
        caster.start_schedule(time.monotonic() + 0.05)
        while not caster.schedule_done():
            time.sleep(0.01)
        received = {}
        for i, (name, sock, state) in enumerate(clients):
            got: list[bytes] = []
            end = time.monotonic() + 5
            while len(got) < len(expected[name]) and time.monotonic() < end:
                data = sock.recv(65536)
                if not data:
                    break
                got.extend(state.feed(data))
            sock.close()
            received[i] = (name, got)
    finally:
        caster.close()
    for name, got in received.values():
        assert got == expected[name]  # every frame, once, in order
    assert caster.frames_sent == {m["name"]: len(m["blobs"]) for m in enc}
    assert caster.connections_opened == {m["name"]: 2 for m in enc}
    assert caster.frames_undelivered == {m["name"]: 0 for m in enc}


def gen_frame(blob: bytes) -> bytes:
    from ntripmonitor_spark.sources.framing import scan_frames

    return scan_frames(blob, final=True)[0][-1]


# -- exchange count of an executed plan ---------------------------------

def test_exchanges_counts_the_final_adaptive_plan_once(tmp_path):
    pytest.importorskip("pyspark")
    import harness

    harness.prepare_env(ROOT, str(tmp_path / "work"))
    from pyspark.sql import functions as F

    import wl_dashboard
    from ntripmonitor_spark.session import get_spark

    spark = get_spark("perfbench-selftest")
    try:
        facts = spark.range(0, 20_000).withColumn("k", F.col("id") % 10)
        dim = spark.range(0, 10).withColumnRenamed("id", "k")
        # hand-checked final plan: BroadcastExchange (dim) + hash Exchange (groupBy)
        df = facts.join(F.broadcast(dim), "k").groupBy("k").count()
        df.collect()
        text = df._jdf.queryExecution().executedPlan().toString()
        assert "== Initial Plan ==" in text  # the string form prints both trees
        assert wl_dashboard.exchanges(df) == 2
        # a scalar subquery: SinglePartition Exchange of its avg + the outer groupBy
        facts.createOrReplaceTempView("facts")
        sq = spark.sql("SELECT k, count(*) AS c FROM facts "
                       "WHERE id > (SELECT avg(id) FROM facts) GROUP BY k")
        sq.collect()
        assert wl_dashboard.exchanges(sq) == 2
    finally:
        spark.stop()


# -- the catalog matches BENCHMARK.json -----------------------------------

def test_benchmark_json_matches_catalog():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    assert [w["name"] for w in b["workloads"]] == list(catalog.LISTED_WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in b["end_to_end"]} == catalog.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]} == catalog.PER_LAYER

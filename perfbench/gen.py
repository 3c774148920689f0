"""Seeded input generators and their ground truth.

Every generator is a pure function of its seed (plus, for the live
schedule, the wall-clock start it is anchored to). The program only
ever sees the generated files/bytes; the ground truth is computed here
from the generator's own parameters, independently of the program.

RTCM frames are built with the program's vector encoder
(``sources.encoder_vec``), whose message mix is a function of the event
number ``e``:

    e % 7 == 0  -> 1029 text            e % 11 == 0 -> 1006 station
    e % 5 == 0  -> 1087 GLONASS MSM7    e % 2 == 0  -> 1077 GPS MSM7
    otherwise   -> 1075 GPS MSM5
    MSM: nsat = 1 + e % 3, last cell dropped when e % 4 == 1
    blobs: e % 3 junk bytes, a CRC-corrupted decoy copy when e % 13 == 0
"""

from __future__ import annotations

import json
import os

import numpy as np

US_DAY = 86_400_000_000
US_3H = 3 * 3600 * 1_000_000


def msg_type_of(e: np.ndarray) -> np.ndarray:
    return np.where(e % 7 == 0, 1029,
           np.where(e % 11 == 0, 1006,
           np.where(e % 5 == 0, 1087, np.where(e % 2 == 0, 1077, 1075))))


def is_msm(t: np.ndarray) -> np.ndarray:
    return (t >= 1071) & (t <= 1127)


def n_cells(e: np.ndarray) -> np.ndarray:
    """Observation cells of an MSM frame (2 signals per satellite)."""
    return (1 + e % 3) * 2 - (e % 4 == 1)


def texts_for(rng: np.random.Generator, n: int) -> list[str]:
    """1029 text payloads of varying length (ASCII, <= 60 chars)."""
    lens = rng.integers(4, 61, n)
    alphabet = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789 .,-", dtype=np.uint8)
    out = []
    for k in lens:
        out.append(alphabet[rng.integers(0, len(alphabet), int(k))].tobytes().decode())
    return out


def _mix64(*cols: np.ndarray) -> np.ndarray:
    """Order-independent row fingerprint: a splitmix-style hash of the
    given int64 columns, as uint64."""
    h = np.full(len(cols[0]), 0x9E3779B97F4A7C15, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for c in cols:
            h ^= c.astype(np.int64).view(np.uint64)
            h *= np.uint64(0xBF58476D1CE4E5B9)
            h ^= h >> np.uint64(31)
            h *= np.uint64(0x94D049BB133111EB)
            h ^= h >> np.uint64(29)
    return h


def envelope_checksum(mp_idx: np.ndarray, recv_us: np.ndarray, obs_epoch_us: np.ndarray,
                      msg_type: np.ndarray, msg_size: np.ndarray, sat_count: np.ndarray) -> int:
    """Content checksum of envelope rows (nulls encoded as -1)."""
    with np.errstate(over="ignore"):
        return int(_mix64(mp_idx, recv_us, obs_epoch_us, msg_type, msg_size, sat_count).sum(
            dtype=np.uint64))


# ---------------------------------------------------------------------------
# ingest_live: the open-loop caster schedule
# ---------------------------------------------------------------------------


def live_schedule(seed: int, n_mountpoints: int, rate_per_s: float, seconds: float) -> dict:
    """Per mountpoint: send offsets (s after start) and event numbers.
    The aggregate rate is fixed; each mountpoint sends at rate/M with a
    seeded phase, one frame per slot."""
    rng = np.random.default_rng([seed, 1])
    per_mp = rate_per_s / n_mountpoints
    n = int(round(per_mp * seconds))
    mps = []
    for i in range(n_mountpoints):
        phase = rng.uniform(0, 1.0 / per_mp)
        offs = phase + np.arange(n) / per_mp
        e = rng.integers(1, 1_000_000, n)
        mps.append({
            "name": f"BENCH{i:02d}",
            "chunked": i % 2 == 0,
            "station": 100 + i,
            "offsets": offs,
            "e": e,
            "texts": texts_for(rng, n),
        })
    return {"mountpoints": mps, "rate_per_s": rate_per_s, "seconds": seconds}


def encode_live(schedule: dict, start_us: int) -> list[dict]:
    """Anchor the schedule at ``start_us``: each frame carries its
    scheduled send time in the RTCM epoch field (ms of day), and its
    blob (junk + decoy + frame) bytes. Returns per mountpoint the
    blob list, send times and the frame identity keys."""
    from ntripmonitor_spark.sources.encoder_vec import encode_event_blobs

    out = []
    for mp in schedule["mountpoints"]:
        ts_us = start_us + (mp["offsets"] * 1e6).astype(np.int64)
        ts_us = ts_us - ts_us % 1000  # the epoch field has ms resolution
        e = mp["e"]
        data, offs = encode_event_blobs(e, np.full(len(e), mp["station"]), ts_us, mp["texts"])
        blobs = [data[offs[i]:offs[i + 1]].tobytes() for i in range(len(e))]
        t = msg_type_of(e)
        out.append({**mp, "ts_us": ts_us, "blobs": blobs, "msg_type": t})
    return out


def frame_key(mountpoint: str, msg_type: int, obs_epoch_us: int) -> tuple:
    """Identity of an MSM frame in the sink: its epoch (ms of day; the
    GLONASS 3 h shift undone) is unique per mountpoint."""
    us = obs_epoch_us + (US_3H if 1081 <= msg_type <= 1087 else 0)
    return (mountpoint, int(msg_type), (us // 1000) % (US_DAY // 1000))


# ---------------------------------------------------------------------------
# ingest_bulk: the replay archive
# ---------------------------------------------------------------------------


def write_archive(seed: int, n_frames: int, n_mountpoints: int, path: str) -> dict:
    """A pre-aligned frame archive (ARCHIVE_SCHEMA parquet, one file)
    plus its ground truth: envelope/observation row counts and the
    envelope content checksum."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ntripmonitor_spark.sources.encoder_vec import encode_event_frames

    rng = np.random.default_rng([seed, 2])
    e = rng.integers(1, 1_000_000, n_frames)
    mp_idx = rng.integers(0, n_mountpoints, n_frames)
    # mid-day UTC epochs, ms-aligned, so no day-rollover rule applies
    day0 = 19_783 * US_DAY  # 2024-03-01
    ts_us = day0 + 6 * 3600 * 1_000_000 + np.sort(rng.integers(0, 6 * 3600 * 1000, n_frames)) * 1000
    recv_us = ts_us + rng.integers(0, 500_000, n_frames)
    frames = encode_event_frames(e, 100 + mp_idx, ts_us, texts_for(rng, n_frames))
    names = np.array([f"ARCH{i:02d}" for i in range(n_mountpoints)])
    os.makedirs(path, exist_ok=True)
    table = pa.table({
        "mountpoint": pa.array(names[mp_idx], type=pa.string()),
        "receive_time_us": pa.array(recv_us, type=pa.int64()),
        "frame": pa.array(frames, type=pa.binary()),
    })
    pq.write_table(table, os.path.join(path, "part-0.parquet"))

    t = msg_type_of(e)
    msm = is_msm(t)
    obs_epoch = np.where(msm, np.where(t == 1087, ts_us - US_3H, ts_us), -1)
    sats = np.where(msm, 1 + e % 3, -1)
    sizes = np.fromiter((len(f) for f in frames), dtype=np.int64, count=n_frames)
    truth = {
        "n_frames": n_frames,
        "n_obs": int(n_cells(e)[msm].sum()),
        "checksum": envelope_checksum(mp_idx, recv_us, obs_epoch, t, sizes, sats),
        "mountpoints": names.tolist(),
    }
    with open(os.path.join(path, "..", "truth.json"), "w") as f:
        json.dump(truth, f)
    return truth


# ---------------------------------------------------------------------------
# dashboard: the star schema + events table
# ---------------------------------------------------------------------------


def write_tables(seed: int, sf: float, out_dir: str) -> None:
    """The TPC-H-ish star schema + events stream the panels read, with
    the value domains of the engine's reference tables, at scale ``sf``
    (customer = 150000*sf rows, orders 10x, lineitem 40x, events
    1000000*sf)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def money(lo, hi, n):
        return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0

    def days(start, n_days, n):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")

    put("region", {"r_regionkey": pa.array(np.arange(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(np.arange(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    n_c = max(10, int(150_000 * sf))
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    put("customer", {
        "c_custkey": pa.array(np.arange(n_c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_c),
        "c_mktsegment": segs[rng.integers(0, 5, n_c)],
    })
    n_s = max(10, int(10_000 * sf))
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_s),
    })
    n_p = max(10, int(200_000 * sf))
    adj = np.array(["large", "small", "hot", "cold", "shiny", "matte"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve"])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    put("part", {
        "p_partkey": pa.array(np.arange(n_p), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 6, n_p)], " "), noun[rng.integers(0, 6, n_p)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_p).astype(str)),
        "p_type": ptypes[rng.integers(0, 6, n_p)],
        "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": 900.0 + (np.arange(n_p) % 2000) / 10.0,
    })
    n_o = n_c * 10
    status = np.array(["F", "O", "P"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": status[rng.integers(0, 3, n_o)],
        "o_totalprice": money(1000, 500000, n_o),
        "o_orderdate": pa.array(days("1995-01-01", 2405, n_o), pa.timestamp("us")),
        "o_orderpriority": prio[rng.integers(0, 5, n_o)],
    })
    n_l = n_o * 4
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_o, n_l), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_p, n_l), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * money(900, 2100, n_l), 2),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_l)],
        "l_shipdate": pa.array(days("1995-01-02", 2498, n_l), pa.timestamp("us")),
    })
    n_e = max(100, int(1_000_000 * sf))
    ts = np.datetime64("2024-01-01", "us") + np.sort(rng.integers(0, 30 * 86_400_000_000, n_e)).astype(
        "timedelta64[us]")
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    put("events", {
        "event_id": pa.array(np.arange(n_e), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, int(15_000 * sf)), n_e), pa.int64()),
        "event_type": etypes[rng.integers(0, 5, n_e)],
        "value": money(0.01, 490.0, n_e),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
    })


# ---------------------------------------------------------------------------
# corpus_build: the JSONL drop and the BuildReport it implies
# ---------------------------------------------------------------------------

KNUTH = 2654435761
STOPWORDS = ("the", "a", "of", "and", "is")
GOOD_WORDS = ("spark", "stream", "frame", "signal", "station", "epoch", "orbit", "clock",
              "phase", "code", "range", "carrier", "network", "monitor", "caster", "window")
CORRUPT_SHARE = 0.02  # truncated JSON lines
DUP_SHARE = 0.10      # exact copies of an earlier doc's text
BAD_SHARE = 0.20      # docs below the quality gate
BAD_TOKENS = ("1234", "5678", "90", "!!!", "###", "0x00", "$$", "777", "%%", "42")


def _hash_bucket(ids: np.ndarray, buckets: int) -> np.ndarray:
    return (ids.astype(np.int64) * KNUTH) % (1 << 32) % buckets


def write_jsonl_drop(seed: int, n_docs: int, n_sources: int, path: str) -> dict:
    """A JSONL document drop with known shares of corrupt lines, exact
    duplicates and low-quality docs, and the BuildReport it implies
    under the build's documented rules (quality gate 0.5, min-doc_id
    dedup winner, per-source keep rate min(1, 5/sqrt(survivors)) as a
    Knuth-hash coin, greedy 512-token packing per (source, shard))."""
    rng = np.random.default_rng([seed, 4])
    ids = np.arange(n_docs, dtype=np.int64) * 7 + 3  # sparse, non-contiguous ids
    bad = rng.random(n_docs) < BAD_SHARE
    src = rng.integers(0, n_sources, n_docs)
    words = np.array(GOOD_WORDS + STOPWORDS)
    texts: list[str] = []
    for i in range(n_docs):
        k = int(rng.integers(20, 200))
        if bad[i]:
            texts.append(" ".join(np.array(BAD_TOKENS)[rng.integers(0, len(BAD_TOKENS), k)]))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    # exact duplicates: copy an earlier doc's text (and its quality)
    dup = rng.random(n_docs) < DUP_SHARE
    dup[0] = False
    for i in np.flatnonzero(dup):
        j = int(rng.integers(0, i))
        texts[i] = texts[j]
        bad[i] = bad[j]
    corrupt = rng.random(n_docs) < CORRUPT_SHARE

    os.makedirs(os.path.dirname(path), exist_ok=True)
    n_corrupt = 0
    with open(path, "w") as f:
        for i in range(n_docs):
            if corrupt[i]:
                f.write('{"doc_id": ' + str(int(ids[i])) + ', "text": "truncated\n')
                n_corrupt += 1
            f.write(json.dumps({"doc_id": int(ids[i]), "text": texts[i], "lang": "en",
                                "source": f"src{int(src[i]):03d}",
                                "n_chars": len(texts[i])}) + "\n")

    # --- the report these docs imply --------------------------------------
    gate = bad
    first_good: dict[str, int] = {}
    stage = np.empty(n_docs, dtype=object)
    for i in range(n_docs):  # ids ascend with i: first good copy wins
        if gate[i]:
            stage[i] = "gate"
        elif texts[i] in first_good:
            stage[i] = "duplicate"
        else:
            first_good[texts[i]] = i
            stage[i] = "survivor"
    surv = stage == "survivor"
    n_src = np.bincount(src[surv], minlength=n_sources)
    rate = np.floor(1000 * np.minimum(1.0, 5.0 / np.sqrt(np.maximum(n_src, 1)))).astype(np.int64)
    coin = _hash_bucket(ids, 1000)
    kept = surv & (coin < rate[src])
    stage[surv & ~kept] = "mix"
    stage[kept] = "kept"
    drop_stages = {s: int((stage == s).sum()) for s in ("gate", "duplicate", "mix", "kept")}
    drop_stages = {k: v for k, v in drop_stages.items() if v}

    n_tok = np.array([t.count(" ") + 1 for t in texts], dtype=np.int64)
    shard = _hash_bucket(ids, 16)
    packs: set[tuple[int, int]] = set()
    running: dict[tuple[int, int], int] = {}
    for i in np.flatnonzero(kept):  # ascending doc_id within every group
        g = (int(src[i]), int(shard[i]))
        before = running.get(g, 0)
        packs.add((g[1], before // 512))
        running[g] = before + int(n_tok[i])
    h = (ids[kept] * KNUTH) % (1 << 32)
    split = np.where(h < int(0.90 * (1 << 32)), 0, np.where(h < int(0.95 * (1 << 32)), 1, 2))
    ex_shard = ((ids[kept] * KNUTH + 7919) % (1 << 32)) % 16
    return {
        "n_ingested": n_docs + n_corrupt,
        "n_corrupt": n_corrupt,
        "n_kept": int(kept.sum()),
        "drop_stages": drop_stages,
        "n_packs": len(packs),
        "manifest_rows": len(set(zip(split.tolist(), ex_shard.tolist()))),
    }

"""Every foreachBatch sink is idempotent under replay: running a sink's
body for batch 0, batch 0 again (a restart replaying an uncommitted
batch id) and batch 1 must leave exactly what batch 0 and batch 1 once
each leave. All of them land their output through
``streaming.pipeline.write_batch``; the last test pins that it is the
only place a ``batch_id=`` path is formatted."""

from __future__ import annotations

import os
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from ntripmonitor_spark.tables import table


def _halves(df, key):
    """Two disjoint micro-batches of ``df``, split on a hash of ``key``."""
    return (df.where(f"pmod(xxhash64({key}), 2) = 0"),
            df.where(f"pmod(xxhash64({key}), 2) = 1"))


def _rows(*dfs):
    out = []
    for df in dfs:
        cols = sorted(df.columns)
        out.append(sorted(tuple(str(v) for v in r) for r in df.select(cols).collect()))
    return out


@pytest.fixture(scope="module")
def decoded(spark, sf_dir, tmp_path_factory):
    from ntripmonitor_spark.plans.rtcm import decoded_events

    path = str(tmp_path_factory.mktemp("decoded") / "d")
    decoded_events(spark, sf_dir).write.parquet(path)
    return spark.read.parquet(path)


def _packages(spark, sf_dir, decoded):
    from ntripmonitor_spark.streaming import pipeline

    batches = _halves(table(spark, sf_dir, "events").select("event_id", "user_id", "value"),
                      "event_id")
    return (pipeline.idempotent_parquet_sink, batches,
            lambda base: _rows(spark.read.parquet(base)))


def _decoded(spark, sf_dir, decoded):
    from ntripmonitor_spark.streaming import pipeline

    return (
        lambda base: pipeline.decoded_parquet_sink(f"{base}/pk", f"{base}/obs"),
        _halves(decoded, "receive_time"),
        lambda base: _rows(spark.read.parquet(f"{base}/pk"), spark.read.parquet(f"{base}/obs")),
    )


def _rollup(spark, sf_dir, decoded):
    from ntripmonitor_spark.streaming import rollup

    return (rollup.rollup_sink, _halves(decoded, "receive_time"),
            lambda base: _rows(spark.read.parquet(base), rollup.read_rollup(spark, base)))


def _countmin(spark, sf_dir, decoded):
    from ntripmonitor_spark.streaming import sketches

    batches = _halves(table(spark, sf_dir, "events").select("event_id", "user_id"), "event_id")
    return (lambda base: sketches.countmin_sink(base, "user_id"), batches,
            lambda base: _rows(spark.read.parquet(base), sketches.read_countmin(spark, base)))


def _drift(spark, sf_dir, decoded):
    from ntripmonitor_spark.streaming import drift

    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return (drift.drift_sink, _halves(docs, "doc_id"),
            lambda base: _rows(spark.read.parquet(base), drift.read_drift(spark, base)))


def _ann(spark, sf_dir, decoded):
    from ntripmonitor_spark.operators import simsearch
    from ntripmonitor_spark.streaming import ann

    emb = table(spark, sf_dir, "embeddings")
    seeds = simsearch._collect_seed_vectors(emb, simsearch.IVF_K)
    return (lambda base: ann.cell_assign_sink(base, seeds), _halves(emb, "vec_id"),
            lambda base: _rows(spark.read.parquet(base)))


def _profile(spark, sf_dir, decoded):
    from ntripmonitor_spark.streaming import profile_stream

    cols = ["user_id", "value"]
    ev = table(spark, sf_dir, "events").select("event_id", *cols)
    return (
        lambda base: profile_stream.profile_sink(base, cols),
        _halves(ev, "event_id"),
        lambda base: _rows(spark.read.parquet(f"{base}/stats"), spark.read.parquet(f"{base}/kmv"),
                           profile_stream.read_profile(spark, base)),
    )


def _shards(spark, sf_dir, decoded):
    from ntripmonitor_spark.streaming import build_stream

    docs = (
        table(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source", "n_chars")
        .withColumn("_corrupt_record",
                    F.when(F.col("doc_id") % 50 == 0, F.concat(F.lit("raw "), "text")))
        .withColumn("ingest_time", F.current_timestamp())
        .withColumn("quality_score", F.lit(None).cast("double"))
    )
    return (
        lambda base: build_stream.shard_append_sink(f"{base}/shards", f"{base}/quarantine"),
        _halves(docs, "doc_id"),
        lambda base: _rows(spark.read.parquet(f"{base}/shards"),
                           spark.read.parquet(f"{base}/quarantine")),
    )


def _dedup(spark, sf_dir, decoded):
    from ntripmonitor_spark.streaming import dedup_stream

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")

    def read(base):
        pairs = spark.read.parquet(f"{base}/pairs")
        assert pairs.where("doc_a = doc_b").count() == 0, "self-pairs"
        return _rows(pairs, spark.read.parquet(f"{base}/sigs"))

    return (
        lambda base: dedup_stream.incremental_dedup_sink(f"{base}/sigs", f"{base}/pairs"),
        (docs.where("doc_id % 3 = 0"), docs.where("doc_id % 3 = 1")),
        read,
    )


def _decontam(spark, sf_dir, decoded):
    from ntripmonitor_spark.streaming import decontam_stream

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.where("doc_id < 20")
    return (
        lambda base: decontam_stream.fuzzy_decontam_sink(bench, base),
        _halves(docs.where("doc_id >= 20"), "doc_id"),
        lambda base: _rows(spark.read.parquet(base)),
    )


SINKS = {
    "idempotent_parquet_sink": _packages,
    "decoded_parquet_sink": _decoded,
    "rollup_sink": _rollup,
    "countmin_sink": _countmin,
    "drift_sink": _drift,
    "cell_assign_sink": _ann,
    "profile_sink": _profile,
    "shard_append_sink": _shards,
    "incremental_dedup_sink": _dedup,
    "fuzzy_decontam_sink": _decontam,
}


@pytest.mark.parametrize("name", list(SINKS))
def test_sink_replay_is_idempotent(spark, sf_dir, decoded, tmp_path, name):
    make_sink, (b0, b1), read = SINKS[name](spark, sf_dir, decoded)
    assert b0.count() > 0 and b1.count() > 0

    once = str(tmp_path / "once")
    sink = make_sink(once)
    sink(b0, 0)
    sink(b1, 1)

    replayed = str(tmp_path / "replayed")
    sink = make_sink(replayed)
    sink(b0, 0)
    sink(b0, 0)
    sink(b1, 1)

    want = read(once)
    assert any(want), "sink wrote nothing; replay untested"
    assert read(replayed) == want


def test_batch_id_path_is_formatted_once():
    """One writer: ``write_batch`` is the only place the package
    formats a ``batch_id=`` path, and no sink falls back to a
    ``batch_id`` column with dynamic partition overwrite."""
    pkg = Path(__file__).resolve().parents[1] / "ntripmonitor_spark"
    src = {str(p.relative_to(pkg)): p.read_text() for p in sorted(pkg.rglob("*.py"))}
    formatted = [name for name, text in src.items()
                 for _ in re.finditer(r"batch_id=\{", text)]
    assert formatted == [os.path.join("streaming", "pipeline.py")]
    for banned in ("partitionOverwriteMode", 'withColumn("batch_id"'):
        assert [name for name, text in src.items() if banned in text] == []

"""corpus_build — ``build.build_corpus`` on a seeded JSONL drop.

The drop has known shares of corrupt lines, exact duplicates and
low-quality documents; each build is one operation, gated on its
``BuildReport`` equalling the report the generator's parameters imply.
A corpus build is a one-shot batch job, so every run measures exactly
one build in a fresh session: the cold-JVM cost it pays is the cost a
user pays on every build.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import time

import gen
from context import Ctx, common_metrics
from harness import Metric, note

N_DOCS = 3_000
N_SOURCES = 150


def _layer_probes(spark, drop: str, out: str, tracer) -> dict:
    """The build's stages one at a time, each forced by an action, so
    each layer's time is measured where its work happens."""
    from pyspark.sql import functions as F

    from ntripmonitor_spark.export import write_training_shards
    from ntripmonitor_spark.operators import curation, profile
    from ntripmonitor_spark.sources import corpus

    times = {}

    def timed(name, fn):
        t0 = time.perf_counter()
        with tracer.span(name):
            r = fn()
        times[name] = time.perf_counter() - t0
        return r

    raw = corpus.read_documents_jsonl(spark, drop)
    clean, _ = timed("sources.corpus.split_corrupt", lambda: _count(corpus.split_corrupt(raw)))
    timed("operators.profile", lambda: profile.profile_table(
        clean, ["doc_id", "text", "lang", "source", "n_chars"], approx=True).collect())
    timed("operators.curation.drop_reasons", lambda: curation.drop_reasons(clean).groupBy("stage").agg(
        F.count(F.lit(1))).collect())
    packed = timed("operators.curation.curation_funnel", lambda: _noop(curation.curation_funnel(clean)))
    kept = clean.join(packed.select("doc_id", "pack_id"), "doc_id")
    timed("export.write_training_shards", lambda: write_training_shards(kept, out).collect())
    raw.unpersist()
    return times


def _count(pair):
    pair[0].count()
    return pair


def _noop(df):
    df.write.format("noop").mode("overwrite").save()
    return df


def _drop(ctx: Ctx) -> tuple[str, dict]:
    def build(d):
        truth = gen.write_jsonl_drop(ctx.seed, N_DOCS, N_SOURCES, os.path.join(d, "drop", "docs.jsonl"))
        with open(os.path.join(d, "truth.json"), "w") as f:
            json.dump(truth, f)

    cache = ctx.cached("corpus_build", build, {"seed": ctx.seed, "docs": N_DOCS, "sources": N_SOURCES})
    with open(os.path.join(cache, "truth.json")) as f:
        return os.path.join(cache, "drop", "docs.jsonl"), json.load(f)


def probe_layers(ctx: Ctx, spark) -> dict[str, Metric]:
    """The corpus-build layers, traced stage by stage on this seed's
    drop in the caller's session."""
    drop, _ = _drop(ctx)
    t = _layer_probes(spark, drop, os.path.join(ctx.run_dir, "corpus_probe"), ctx.tracer)
    return {f"{k}.s": Metric(v, "s") for k, v in t.items()}


def run(ctx: Ctx):
    from ntripmonitor_spark.build import build_corpus

    tr = ctx.tracer
    drop, truth = _drop(ctx)
    spark, setup_s = ctx.setup()

    out = os.path.join(ctx.run_dir, "build")
    ctx.start_op(spark)
    t0 = time.perf_counter()
    err = None
    try:
        with tr.span("build.build_corpus"):
            rep = build_corpus(spark, drop, os.path.join(out, "shards"),
                               quarantine_path=os.path.join(out, "quarantine"))
    except Exception as exc:  # a failed build is a counted failure, not an abort
        err = f"{type(exc).__name__}: {exc}"[:300]
    build_s = time.perf_counter() - t0
    ctx.end_op()
    got = None if err else json.loads(json.dumps(dataclasses.asdict(rep)))
    failed = int(got != truth)
    if failed:
        note(f"build FAILED: {err or f'report {got} != expected {truth}'}")
    spark.catalog.clearCache()
    shutil.rmtree(out, ignore_errors=True)

    docs = truth["n_ingested"]
    metrics = common_metrics(ctx, setup_s)
    metrics["op_p50_s"] = Metric(build_s, "s")
    metrics["ops_per_s"] = Metric(docs / build_s, "1/s")
    ctx.report("build_docs_per_s", f"{docs / build_s:.1f}", f"1/s ({docs} JSONL lines, one build)")
    ctx.report("build_s", f"{build_s:.3f}", "s")

    layers = probe_layers(ctx, spark) if ctx.traced else {}
    return {"correct": failed == 0, "attempted": 1, "failed": failed,
            "metrics": metrics, "layers": layers}

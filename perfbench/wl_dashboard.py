"""dashboard — closed loop, one client, refreshing the SURVEY §2.5
panel set (registered ``q01``..``q22``) over fixed sf0.1 tables.

The tables are generated once per checkout with a fixed data seed
(the engine's reference tables are read-only files outside the
checkout, so the benchmark writes tables of the same shape and size
itself); ``--seed`` drives only the panel order. Each refresh runs
every panel once, in a seeded order, and collects its full result;
only whole refreshes are run, so every run measures the same panel
mix. A panel's latency runs from the call to ``plans.REGISTRY[name].fn`` to
the end of ``collect()``. Gate: each panel's result hash equals the
hash of its registered DuckDB oracle on the same parquet files
(computed once, untimed).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
import time
from concurrent.futures import ThreadPoolExecutor
from decimal import Decimal

import numpy as np

import gen
from catalog import PANELS
from context import Ctx, common_metrics
from harness import Metric, median, note, nproc, tail

SF = 0.1
TABLES_SEED = 42
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")


def panel_names() -> list[str]:
    from ntripmonitor_spark.plans import REGISTRY

    names = list(PANELS)
    missing = [n for n in names if n not in REGISTRY]
    if missing:
        raise RuntimeError(f"panels not registered: {missing}")
    return names


def _canon(v) -> str:
    if v is None:
        return "\x00NULL"
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def result_hash(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive result hash: columns sorted by name, values
    canonicalized (floats to 9 significant digits), rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(tuple(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(json.dumps([sorted(columns), canon]).encode())
    return h.hexdigest()


def oracle_hashes(data_dir: str, names: list[str]) -> dict[str, str]:
    import duckdb

    from ntripmonitor_spark.plans import REGISTRY

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'")
        out = {}
        for n in names:
            cur = con.execute(REGISTRY[n].oracle)
            out[n] = result_hash([c[0] for c in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


EXCHANGE_NODES = ("ShuffleExchangeExec", "BroadcastExchangeExec", "ReusedExchangeExec")


def exchanges(df) -> int:
    """Exchange nodes in the executed plan of a collected DataFrame,
    subqueries included. Under AQE only the final plan counts (the
    plan's string form prints the initial plan as well)."""
    return _count_exchanges(df._jdf.queryExecution().executedPlan())


def _count_exchanges(node) -> int:
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return _count_exchanges(node.executedPlan())
    if cls.endswith("QueryStageExec"):  # a stage wraps the exchange it materialized
        return _count_exchanges(node.plan())
    if cls == "ReusedExchangeExec":
        return 1
    if cls == "ReusedSubqueryExec":  # counted where the subquery first runs
        return 0
    n = int(cls in EXCHANGE_NODES)
    for seq in (node.children(), node.subqueries()):
        for i in range(seq.size()):
            n += _count_exchanges(seq.apply(i))
    return n


def run(ctx: Ctx):
    from ntripmonitor_spark.plans import REGISTRY
    from ntripmonitor_spark.tables import table

    tr = ctx.tracer
    names = panel_names()

    def build(d):
        gen.write_tables(TABLES_SEED, SF, os.path.join(d, "tables"))
        with open(os.path.join(d, "oracle.json"), "w") as f:
            json.dump(oracle_hashes(os.path.join(d, "tables"), names), f)

    cache = ctx.cached("dashboard", build, {"sf": SF, "tables_seed": TABLES_SEED, "panels": names})
    data = os.path.join(cache, "tables")
    with open(os.path.join(cache, "oracle.json")) as f:
        oracle = json.load(f)
    # reading ``events`` sets the session's timestamp-inference options
    # (``tables.table``); do it in set-up so the warm-up and the measured
    # refreshes plan every panel under the same session state
    spark, setup_s = ctx.setup(prepare=lambda s: table(s, data, "events"))
    rng = np.random.default_rng([ctx.seed, 5])
    n_exchanges: dict[str, int] = {}

    def one_panel(n):
        t0 = time.perf_counter()
        err = None
        try:
            with tr.span(f"plans.{n}.build"):
                df = REGISTRY[n].fn(spark, data)
            t1 = time.perf_counter()
            with tr.span(f"plans.{n}.exec"):
                rows = [tuple(r) for r in df.collect()]
            t2 = time.perf_counter()
        except Exception as exc:  # a failed panel is a counted failure, not an abort
            err = f"{type(exc).__name__}: {exc}"[:300]
            t1 = t2 = time.perf_counter()
        ok = err is None and result_hash(df.columns, rows) == oracle[n]
        if not ok:
            note(f"panel {n} FAILED: {err or 'hash differs from the DuckDB oracle'}")
        if tr.enabled and err is None and n not in n_exchanges:
            n_exchanges[n] = exchanges(df)
        return n, t1 - t0, t2 - t1, t2 - t0, ok

    # warm-up (untimed, untraced): every panel once, on nproc threads,
    # so the JIT and the code generator have seen every plan. Compiling
    # runs on the thread that plans the query, so threads shorten the
    # warm-up (19 s against 27-30 s for a sequential cold refresh, 4 cores)
    traced, tr.enabled = tr.enabled, False
    t0 = time.perf_counter()
    with ThreadPoolExecutor(nproc()) as pool:
        list(pool.map(one_panel, names))
    note(f"warm-up: {time.perf_counter() - t0:.1f} s")
    tr.enabled = traced
    # whole refreshes in seeded order until the next one would end after
    # the run's time (at least one)
    refreshes: list[list[tuple]] = []
    refresh_s: list[float] = []
    end = time.monotonic() + ctx.seconds
    while not refreshes or time.monotonic() + median(refresh_s) <= end:
        ref = []
        for i in rng.permutation(len(names)):
            ctx.start_op(spark)
            ref.append(one_panel(names[i]))
            ctx.end_op()
        refreshes.append(ref)
        refresh_s.append(sum(r[3] for r in ref))

    panel_s = [r[3] for ref in refreshes for r in ref]
    attempted = len(panel_s)
    failed = sum(1 for ref in refreshes for r in ref if not r[4])
    tp, tv, n = tail(panel_s)
    metrics = common_metrics(ctx, setup_s)
    metrics["op_p50_s"] = Metric(median(panel_s), "s")
    metrics["ops_per_s"] = Metric(median([len(names) / s for s in refresh_s]), "1/s")
    ctx.report("panel_s_p50", f"{median(panel_s):.4f}", f"s (n={attempted})")
    ctx.report("panel_s_tail", f"{tv:.4f}", f"s (p{tp:g}, n={n})")
    ctx.report("refresh_s_p50", f"{median(refresh_s):.4f}",
               f"s (n={len(refreshes)} refreshes of {len(names)} panels)")
    ctx.report("refresh_s", [round(x, 3) for x in refresh_s], "s")

    layers = {}
    if ctx.traced:
        for name in names:
            rows = [r for ref in refreshes for r in ref if r[0] == name]
            layers[f"plans.{name}.build_s"] = Metric(median([r[1] for r in rows]), "s")
            layers[f"plans.{name}.exec_s"] = Metric(median([r[2] for r in rows]), "s")
            layers[f"plans.{name}.exchanges"] = Metric(n_exchanges.get(name, 0), "count")
        # the batch-job layers are traced here too (corpus_build is not
        # listed in BENCHMARK.json: see README.md)
        import wl_corpus

        layers.update(wl_corpus.probe_layers(ctx, spark))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics, "layers": layers}

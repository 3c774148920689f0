"""Engine benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --all [--seed n] [--seconds s]

Run from the root of a source checkout. One run prints human-readable
``name = value unit`` report lines, then, as its last stdout line, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics (spans are written to ``.perfbench/traces/``). ``--all`` runs
every workload untraced and traced in child processes and prints one
table with each workload's verdict, ``ops_failed_ratio``, every
end-to-end metric and the tracing overhead.

Workloads: see README.md beside this file.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import catalog  # noqa: E402
import harness  # noqa: E402

WORKLOADS = {
    "ingest_live": "wl_live",
    "ingest_bulk": "wl_bulk",
    "dashboard": "wl_dashboard",
    "corpus_build": "wl_corpus",
}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true", help="run every workload, untraced and traced")
    args = ap.parse_args(argv)
    if not args.all and args.workload is None:
        ap.error("--workload is required (or --all)")
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    return args


def _root_or_exit() -> str:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "ntripmonitor_spark", "__init__.py")):
        harness.note("perfbench: no ntripmonitor_spark package in the current directory; "
                     "run from the root of a source checkout")
        sys.exit(2)
    return root


def run_one(args) -> int:
    root = _root_or_exit()
    work = os.path.join(root, ".perfbench")
    harness.prepare_env(root, work)
    from context import Ctx

    run_dir = os.path.join(work, "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    mod = importlib.import_module(WORKLOADS[args.workload])
    tracer = harness.Tracer(enabled=bool(args.trace))
    t0 = time.perf_counter()
    steal0, total0 = harness.cpu_jiffies()
    try:
        with harness.TreeSampler() as sampler:
            ctx = Ctx(seed=args.seed, seconds=args.seconds, tracer=tracer, sampler=sampler,
                      work=work, run_dir=run_dir)
            res = mod.run(ctx)
    finally:
        _stop_spark()
        shutil.rmtree(run_dir, ignore_errors=True)
    wall = time.perf_counter() - t0
    steal1, total1 = harness.cpu_jiffies()

    info = dict(harness.platform_info(), **ctx.info, workload=args.workload, seed=args.seed,
                seconds=args.seconds, trace=args.trace, wall_s=round(wall, 3),
                steal_share=round((steal1 - steal0) / max(1, total1 - total0), 4))
    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")
    print(f"# platform {json.dumps(info, default=str)}")
    for line in ctx.lines:
        print(line)
    ratio = res["failed"] / max(1, res["attempted"])
    print(f"ops_failed_ratio = {ratio:.6f} ({res['failed']}/{res['attempted']})")
    layers = dict(res["layers"], **{"session.get_spark.s": harness.Metric(
        harness.median(ctx.info["get_spark_s"]), "s")})
    stray = (set(catalog.END_TO_END) ^ set(res["metrics"])) | (set(layers) - set(catalog.PER_LAYER))
    if stray:
        raise RuntimeError(f"metric names outside the catalog: {sorted(stray)}")
    if args.trace:
        trace_path = os.path.join(work, "traces", f"{args.workload}-seed{args.seed}.json")
        tracer.write(trace_path)
        print(f"# spans: {len(tracer.spans)} -> {os.path.relpath(trace_path, root)}")
        for name, s in sorted(tracer.self_times().items(), key=lambda kv: -kv[1]):
            print(f"self_s[{name}] = {s:.6f} s")
        # every per-layer metric; a layer this workload does not run did no work
        metrics = {n: layers.get(n, harness.Metric(0.0, unit)) for n, (unit, _) in catalog.PER_LAYER.items()}
    else:
        metrics = res["metrics"]
    print("# e2e " + json.dumps({k: m.value for k, m in res["metrics"].items()}))
    for k, m in metrics.items():
        if not args.trace or k in layers:
            print(f"{k} = {m.value:.6g} {m.unit}")
    harness.emit(res["correct"], res["attempted"], res["failed"], metrics)
    return 0


def _stop_spark() -> None:
    """Stop the session, end the JVM, and wait until every process this
    run started has exited."""
    mod = sys.modules.get("pyspark.sql")
    if mod is None:
        return
    from pyspark import SparkContext

    spark = mod.SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF on its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    harness.reap_children(timeout=15.0)


def run_all(args) -> int:
    """Every workload untraced then traced, each in a child process;
    one summary table at the end."""
    _root_or_exit()
    rows = []
    for wl in WORKLOADS:
        out = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl, "--seed",
                   str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
            p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            sys.stdout.write(p.stdout)
            if p.returncode != 0:
                sys.stderr.write(p.stderr[-4000:])
                out[trace] = None
                continue
            out[trace] = json.loads(p.stdout.strip().splitlines()[-1])
            out[f"e2e{trace}"] = _e2e(p.stdout)
        rows.append((wl, out))
    print("\n# summary (end-to-end metrics untraced; tracing overhead = traced - untraced)")
    for wl, out in rows:
        r = out.get(0)
        if r is None:
            print(f"{wl}: ERROR")
            continue
        ratio = r["failed"] / max(1, r["attempted"])
        print(f"{wl}: correct={r['correct']} ops_failed_ratio={ratio:.6f} "
              f"({r['failed']}/{r['attempted']})")
        traced = out.get("e2e1") or {}
        for k, m in r["metrics"].items():
            extra = ""
            if k in traced:
                extra = f"   (tracing overhead {traced[k] - m['value']:+.6g})"
            print(f"  {k} = {m['value']:.6g} {m['unit']}{extra}")
    return 0


def _e2e(stdout: str) -> dict:
    for line in stdout.splitlines():
        if line.startswith("# e2e "):
            return json.loads(line[len("# e2e "):])
    return {}


def main(argv=None) -> int:
    args = _parse(sys.argv[1:] if argv is None else argv)
    return run_all(args) if args.all else run_one(args)


if __name__ == "__main__":
    sys.exit(main())

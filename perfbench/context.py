"""Run context shared by the workloads: arguments, directories, the
tracer, the process-tree sampler, and the timed set-up loop."""

from __future__ import annotations

import gc
import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field

import gen
from harness import Metric, Tracer, TreeSampler, median, note

SETUP_REPEATS = 9


@dataclass
class Ctx:
    seed: int
    seconds: float
    tracer: Tracer
    sampler: TreeSampler
    work: str
    run_dir: str
    lines: list[str] = field(default_factory=list)   # human-readable report lines
    info: dict = field(default_factory=dict)
    rss_peaks: list[int] = field(default_factory=list)  # one per measured operation

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def cached(self, workload: str, build, params: dict) -> str:
        """Generate a workload's inputs once, outside any timed window:
        ``build(tmp_dir)`` fills a fresh directory that is then renamed
        into place, so an interrupted build is never reused. The key
        covers the generator's source and ``params`` (which hold the
        seed when the inputs depend on it), so a changed generator,
        size or seed never reads a stale cache."""
        with open(gen.__file__, "rb") as f:
            key = hashlib.sha256(f.read() + json.dumps(params, sort_keys=True).encode()).hexdigest()[:12]
        d = os.path.join(self.work, "cache", f"{workload}-{key}")
        if os.path.isdir(d):
            return d
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        t0 = time.perf_counter()
        build(tmp)
        os.rename(tmp, d)
        note(f"{workload} inputs generated: {time.perf_counter() - t0:.1f} s")
        return d

    def start_op(self, spark) -> None:
        """Before each measured operation, untimed: a Python and a JVM
        garbage collection, so a collection the previous operation made
        due does not land in this one's time and dead shuffle and
        broadcast state is released (Spark's context cleaner acts on JVM
        collections only); then a fresh RSS peak."""
        gc.collect()
        spark._jvm.System.gc()
        self.sampler.reset_peak()

    def end_op(self) -> None:
        """After each measured operation: keep the process tree's RSS
        peak during it. ``peak_rss_mb`` is the median of these peaks, so
        an operation during which the JVM happened to grow its heap (and
        the warm-up before the first one) does not set the figure."""
        self.sampler.sample()
        self.rss_peaks.append(self.sampler.peak_rss)

    def report(self, name: str, value, unit: str = "") -> None:
        self.lines.append(f"{name} = {value} {unit}".rstrip())

    def setup(self, prepare=None):
        """Set the program up SETUP_REPEATS times and return the last
        session with the median set-up time. A set-up is
        ``session.get_spark``, the workload's own preparation and a first
        trivial job. The first one also starts the JVM (a cold start,
        reported on its own as ``setup_cold_s``); the later ones stop
        the session and build a new one in the same JVM, so the median
        is the time of a warm session restart."""
        from ntripmonitor_spark.session import get_spark

        spark = None
        times, gs = [], []
        for _ in range(SETUP_REPEATS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            with self.tracer.span("session.get_spark"):
                spark = get_spark("perfbench")
            gs.append(time.perf_counter() - t0)
            if prepare is not None:
                prepare(spark)
            spark.range(1).collect()
            times.append(time.perf_counter() - t0)
        note(f"setup runs: {[round(t, 3) for t in times]}")
        self.report("setup_cold_s", f"{times[0]:.4f}", "s (the first set-up, which starts the JVM)")
        self.info.update(setup_runs_s=times, get_spark_s=gs, spark=spark.version,
                         java=spark._jvm.java.lang.System.getProperty("java.version"))
        return spark, median(times)


def common_metrics(ctx: Ctx, setup_s: float) -> dict[str, Metric]:
    return {
        "setup_s": Metric(setup_s, "s"),
        "peak_rss_mb": Metric(median(ctx.rss_peaks) / 1e6, "MB"),
    }

"""Shared benchmark plumbing: environment sizing, percentile rule,
span tracer, process-tree RSS/CPU sampler and the result line.

Nothing here imports pyspark; ``prepare_env`` must run before the
first pyspark import so the JVM and the Python workers inherit the
machine sizing and the in-checkout temp directories.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

# Percentile ladder for tail reporting: the highest rung that still has
# at least TAIL_MIN_BEYOND samples strictly beyond it is reported.
PCT_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_MIN_BEYOND = 10


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem() -> str:
    """A quarter of physical RAM, capped at 4 GiB: the JVM heap stays
    well below the machine even with the Python workers beside it."""
    gib = max(1, min(4, ram_bytes() // (4 << 30)))
    return f"{gib}g"


def prepare_env(root: str, work: str) -> None:
    """Size Spark for this machine and keep every temp file inside
    ``work`` (the benchmark reads and writes only inside its checkout)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(nproc())
    env["SPARK_GRAFT_DRIVER_MEM"] = driver_mem()
    env["TZ"] = "UTC"
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    # no hsperfdata files in the system /tmp
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env["PYTHONPATH"] = os.pathsep.join(p for p in (root, env.get("PYTHONPATH", "")) if p)
    env.setdefault("PYARROW_IGNORE_TIMEZONE", "1")
    time.tzset()
    import tempfile

    tempfile.tempdir = tmp
    if root not in sys.path:
        sys.path.insert(0, root)


def platform_info() -> dict:
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {
        "nproc": nproc(),
        "ram_gib": round(ram_bytes() / (1 << 30), 1),
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "python": sys.version.split()[0],
        "loadavg": load,
    }


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine since boot: the share
    of CPU time the hypervisor gave to other guests shows outside load."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


# ---------------------------------------------------------------------------
# Statistics
# ---------------------------------------------------------------------------


def percentile(sorted_vals: list[float], p: float) -> tuple[float, int]:
    """Nearest-rank percentile of an ascending list; returns (value,
    number of samples strictly beyond that rank)."""
    n = len(sorted_vals)
    if n == 0:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * n))
    return sorted_vals[rank - 1], n - rank


def tail(values: list[float]) -> tuple[float, float, int]:
    """The percentile rule: the highest PCT_LADDER percentile that has at
    least TAIL_MIN_BEYOND samples beyond it. Returns (percentile, value,
    sample count). With too few samples for any rung the maximum is
    reported as percentile 100."""
    s = sorted(values)
    best = None
    for p in PCT_LADDER:
        v, beyond = percentile(s, p)
        if beyond >= TAIL_MIN_BEYOND:
            best = (p, v)
    if best is None:
        return 100.0, s[-1], len(s)
    return best[0], best[1], len(s)


def median(values: list[float]) -> float:
    return statistics.median(values)



# ---------------------------------------------------------------------------
# Tracing: spans kept in memory, written once at the end
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    sid: int


@dataclass
class Tracer:
    """Spans around the benchmark's calls into each layer. Disabled
    tracers record nothing and cost one attribute test per call."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def span(self, name: str):
        return _SpanCtx(self, name)

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part covered by
        direct children (children of one span never overlap here: the
        benchmark calls layers sequentially)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + max(0.0, (s.end - s.start) - child[s.sid])
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                [{"name": s.name, "start": s.start, "end": s.end, "parent": s.parent, "id": s.sid}
                 for s in self.spans],
                f,
            )


class _SpanCtx:
    __slots__ = ("t", "name", "start", "sid")

    def __init__(self, t: Tracer, name: str):
        self.t = t
        self.name = name

    def __enter__(self):
        if self.t.enabled:
            self.start = time.perf_counter()
            self.sid = len(self.t.spans)
            parent = self.t._stack[-1] if self.t._stack else None
            self.t.spans.append(Span(self.name, self.start, self.start, parent, self.sid))
            self.t._stack.append(self.sid)
        return self

    def __exit__(self, *exc):
        if self.t.enabled:
            self.t.spans[self.sid].end = time.perf_counter()
            self.t._stack.pop()
        return False


# ---------------------------------------------------------------------------
# Process-tree sampler (RSS peak, CPU time)
# ---------------------------------------------------------------------------

SAMPLE_INTERVAL_S = 0.2
_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, float, int]]:
    """pid -> (ppid, cpu seconds, rss bytes) for every readable process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        rest = raw[raw.rfind(")") + 2:].split()
        # fields after the command: state ppid ... utime(12) stime(13) ... rss(22)
        out[int(d)] = (int(rest[1]), (int(rest[11]) + int(rest[12])) / _CLK, int(rest[21]) * _PAGE)
    return out


def _tree(table: dict, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def reap_children(timeout: float) -> None:
    """Wait for every descendant of this process to exit; kill what is
    left after ``timeout`` seconds."""
    import signal

    deadline = time.monotonic() + timeout
    killed = False
    while True:
        table = _proc_table()
        kids = [p for p in _tree(table, os.getpid()) if p != os.getpid()]
        if not kids or (killed and time.monotonic() > deadline):
            return
        if not killed and time.monotonic() > deadline:
            for p in kids:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed, deadline = True, time.monotonic() + 5
        time.sleep(0.1)
        for p in kids:  # collect our own zombies
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass


class TreeSampler:
    """Samples the benchmark's process tree (this process, the JVM, the
    Python workers) on a background thread: peak summed RSS since the
    last ``reset_peak``, and CPU seconds per pid so a window's CPU time
    can be taken."""

    def __init__(self):
        self.peak_rss = 0
        self._cpu: dict[int, float] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="tree-sampler", daemon=True)

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False

    def _run(self) -> None:
        while not self._stop.wait(SAMPLE_INTERVAL_S):
            self.sample()

    def reset_peak(self) -> None:
        """Start a new RSS peak at the tree's current size."""
        with self._lock:
            self.peak_rss = 0
        self.sample()

    def sample(self) -> None:
        table = _proc_table()
        pids = _tree(table, os.getpid())
        rss = sum(table[p][2] for p in pids if p in table)
        with self._lock:
            self.peak_rss = max(self.peak_rss, rss)
            for p in pids:
                if p in table:
                    self._cpu[p] = table[p][1]

    def cpu_seconds(self) -> float:
        """CPU seconds of every process of the tree seen so far (a
        process that exits keeps its last sampled total)."""
        self.sample()
        with self._lock:
            return sum(self._cpu.values())


# ---------------------------------------------------------------------------
# Result line
# ---------------------------------------------------------------------------


@dataclass
class Metric:
    value: float
    unit: str


def emit(correct: bool, attempted: int, failed: int, metrics: dict[str, Metric]) -> None:
    """The last stdout line: one JSON object."""
    line = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(m.value), "unit": m.unit} for k, m in metrics.items()},
    }
    sys.stdout.flush()
    print(json.dumps(line), flush=True)


def note(msg: str) -> None:
    """Human-readable progress/diagnostics on stderr."""
    print(msg, file=sys.stderr, flush=True)

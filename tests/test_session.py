"""Session sizing: without overrides the session takes its core count
and driver heap from the machine, by the same rule the benchmark
harness applies (perfbench/harness.py). Starts no JVM."""

from __future__ import annotations

import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_session_sizes_itself_from_the_machine(monkeypatch):
    from ntripmonitor_spark import session

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.syspath_prepend(os.path.join(ROOT, "perfbench"))
    import harness

    assert session.cpu_count() == len(os.sched_getaffinity(0))
    gib = max(1, min(4, harness.ram_bytes() // (4 << 30)))
    assert session.driver_memory() == f"{gib}g" == harness.driver_mem()

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1500m")
    assert session.cpu_count() == 3
    assert session.driver_memory() == "1500m"

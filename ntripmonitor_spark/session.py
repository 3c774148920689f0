"""SparkSession factory.

Single-JVM local mode for tests/bench; the config is written so the same
logical plans scale to a real cluster: AQE on (runtime join selection +
skew handling), shuffle partitions sized to cores locally (on a cluster
this would be ~2-3x total cores), Arrow enabled for the few pandas-UDF
stages, UTC session time zone so results are comparable with the DuckDB
oracle (naive-UTC timestamps).

The session sizes itself to the machine: ``local[N]`` over the CPUs this
process may run on, and a driver heap of a quarter of physical RAM
capped at 4 GiB, so the JVM and the Python workers beside it stay well
inside the host. ``SPARK_GRAFT_CPUS`` and ``SPARK_GRAFT_DRIVER_MEM``
override either value.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def cpu_count() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def driver_memory() -> str:
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(4, ram // (4 << 30)))}g"


def get_spark(app_name: str = "ntripmonitor_spark", shuffle_partitions: int | None = None) -> SparkSession:
    import tempfile

    cpus = cpu_count()
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    # Keep JVM side-effect files (spark-warehouse/, Derby's derby.log +
    # metastore_db) out of the process CWD — test/bench runs must leave
    # a clean `git status` behind.
    scratch = os.path.join(
        tempfile.gettempdir(), f"spark_graft_jvm_{os.getuid() if hasattr(os, 'getuid') else 0}"
    )
    os.makedirs(scratch, exist_ok=True)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        # Console progress bars write to stderr; the harness archives only
        # a small output tail, and the bars would push the bench JSON line
        # out of it (BENCH_r04 "parsed: null").
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Allow shuffled-hash joins where the planner's size conditions
        # hold (guide §3.1): the corpus-keyed self-joins (shingle/band
        # buckets, graph propagation) then skip the per-partition sorts
        # of sort-merge — A/B at sf0.1: dd02 −5%, gr03 −11%, dc01 −11%.
        # Scale-safe by construction: the static planner only picks SHJ
        # when one side's estimated per-partition build fits memory
        # (corpus-scale sides fall back to sort-merge), and the AQE
        # rewrite is bounded by the 64 MB local-map threshold below —
        # both scale-independent rules, not tuned to one core count.
        # KNOWN RISK (round-13, ADVICE): the static rule works off size
        # ESTIMATES (canBuildLocalHashMap ≈ autoBroadcastJoinThreshold
        # × shuffle partitions), and a SHJ build-side hash map cannot
        # spill — a badly under-estimated post-aggregate/filter side
        # can OOM an executor where sort-merge degrades gracefully. The
        # mitigations here: the 64 MB AQE bound uses RUNTIME sizes, the
        # plan-audit assertions (tests/test_plans.py) reject SHJ where a
        # broadcast shape is sanctioned, and tools/scale10x.py re-audits
        # the corpus self-join strategies at 10× SF. Deployments that
        # prefer the conservative default can flip
        # spark.sql.join.preferSortMergeJoin back to true per-job.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        # The generated-class cache defaults to 100 entries; a session
        # serving 100+ distinct queries (this engine's whole point)
        # thrashes it and pays Janino recompiles of every whole-stage-
        # codegen stage on every run — measured 2x on codegen-heavy
        # queries in the full bench sweep (dd02 2.8 s -> 1.3 s, rt01
        # 1.2 s -> 0.5 s with the cache sized to the query set).
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        .config("spark.sql.warehouse.dir", os.path.join(scratch, "warehouse"))
        # The 10000-entry generated-class cache above keeps thousands of
        # compiled classes live; their JIT-compiled native code must fit
        # the JVM CODE cache, whose 240 MB default fills mid-sweep on a
        # 100+-query session — the compiler then disables itself and
        # codegen-heavy queries fall back to the interpreter (measured:
        # rt02 2.5 s -> 5.7 s after ONE full 114-query pass, compounding
        # to 30+ s over bench's five passes; flat at 3.8 s with a 1 GiB
        # code cache + flushing). A long-lived serving cluster runs with
        # exactly this pairing.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Dderby.system.home={scratch}"
            " -XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
    )
    spark = builder.getOrCreate()
    # extraJavaOptions only takes effect when THIS builder launches the
    # JVM; if a gateway already existed the -Dderby.system.home above is
    # ignored. Derby reads the property at boot (first JDBC connection),
    # which happens strictly after session creation, so setting it on the
    # live JVM keeps the clean-CWD guarantee for reused gateways too.
    try:
        spark._jvm.java.lang.System.setProperty("derby.system.home", scratch)  # type: ignore[union-attr]
    except Exception:  # pragma: no cover - py4j internals unavailable
        pass
    spark.sparkContext.setLogLevel("WARN")
    return spark

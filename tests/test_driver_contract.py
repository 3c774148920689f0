"""The library surface is a CONTRACT: __spark_entry__ exposes
entry()/queries()/oracle_sql() with exact shapes. These tests pin that
surface so a refactor cannot silently break what callers consume."""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def test_entry_contract(spark):
    sys.path.insert(0, str(ROOT))
    import __spark_entry__ as E

    df = E.entry(spark)
    rows = df.limit(2001).collect()
    assert len(rows) > 0
    assert df.columns, "entry() returned an empty schema"


def test_queries_and_oracles_contract(spark):
    sys.path.insert(0, str(ROOT))
    import __spark_entry__ as E

    from ntripmonitor_spark.plans import REGISTRY

    qs = E.queries()
    osql = E.oracle_sql()
    assert len(qs) >= 140
    # every registered query, under its registry name, with no aliases
    assert set(qs) == set(REGISTRY)
    # every oracle key maps to a registered query
    assert set(osql) <= set(qs)
    # callables take (spark, sf_dir) and return a DataFrame lazily
    df = qs[min(qs)](spark, "/root/testdata/sf0.001")
    assert df.columns


def test_queries_survive_non_utc_driver_session():
    """The harness driver builds its OWN SparkSession — nothing
    guarantees UTC. _pin_utc must make the contract hold anyway: run
    the most timezone-sensitive window queries against their oracles
    from a session pinned to America/New_York (subprocess: a second
    differently-configured session cannot coexist with the suite's).
    This is the r3 failure class (timestamp semantics diverging at the
    driver) pinned from the driver's side."""
    import subprocess

    code = """
import sys
sys.path[:0] = [sys.argv[1] + '/tests', sys.argv[1]]
from pyspark.sql import SparkSession
import __spark_entry__ as E
from tests.oracle import compare_query
spark = (SparkSession.builder.master('local[8]')
         .appName('ntz_driver_sim')
         .config('spark.sql.session.timeZone', 'America/New_York')
         .config('spark.ui.enabled', 'false')
         .config('spark.ui.showConsoleProgress', 'false')
         .getOrCreate())
spark.sparkContext.setLogLevel('ERROR')
qs = E.queries(); osql = E.oracle_sql()
sf = '/root/testdata/sf0.001'
for n in ['sn01_user_sessions', 'aj01_asof_join', 'ts01_gap_fill',
          'q02_tumbling_window', 'q13_mod_latency', 'q19_mjd_bucket',
          'rt01_packages',
          # round-7 waves 2-4 epoch-arithmetic members
          'fn05_window_funnel', 'fn06_linear_attribution',
          'fn07_rfm_segments', 'ts03_twap_locf', 'q27_pivot_daily',
          # round-7 waves 6-11: hourly/daily-bucket epoch arithmetic
          # and the RANGE frame over epoch microseconds
          'an06_cusum_shift', 'an08_autocorrelation', 'an09_theil_sen',
          'fn08_rolling_dau', 'q30_range_frame',
          # round-10: LTOB x-coordinates are epoch microseconds
          'ts07_lttb_downsample']:
    ok, msg = compare_query(spark, sf, n, qs[n], osql[n])
    assert ok, f'{n}: {msg[:500]}'
print('NONUTC_OK')
spark.stop()
"""
    out = subprocess.run(
        [sys.executable, "-c", code, str(ROOT)], capture_output=True, text=True,
        timeout=600, cwd=ROOT,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "NONUTC_OK" in out.stdout


def test_operator_index_is_current():
    """docs/OPERATORS.md must match the live registry (regenerate with
    tools/gen_operator_index.py after adding operators)."""
    import io
    import contextlib

    sys.path.insert(0, str(ROOT / "tools"))
    import gen_operator_index

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        gen_operator_index.main()
    want = buf.getvalue()
    got = (ROOT / "docs" / "OPERATORS.md").read_text()
    assert got == want, "docs/OPERATORS.md is stale — regenerate it"


def test_concurrent_queries_one_session(spark):
    """Serving reality: one long-lived session answers many queries at
    once. Eight different registered queries submitted from eight
    threads must all return their single-threaded answers — pinning
    session/plan thread-safety (broadcasts, literal folds, persisted
    relations included)."""
    from concurrent.futures import ThreadPoolExecutor

    from ntripmonitor_spark.plans import REGISTRY

    names = [
        "q01_pricing_summary", "q09_three_way_join", "sn01_user_sessions",
        "dd03_minhash_lsh", "tx02_quality_score", "sj01_salted_distinct",
        "ws01_weighted_sample", "an04_ewma_drift",
    ]
    sf = "/root/testdata/sf0.001"

    def run(name):
        rows = REGISTRY[name].fn(spark, sf).collect()
        return name, sorted(tuple(str(v) for v in r) for r in rows)

    serial = dict(run(n) for n in names)
    with ThreadPoolExecutor(max_workers=8) as pool:
        concurrent = dict(pool.map(run, names))
    assert concurrent == serial

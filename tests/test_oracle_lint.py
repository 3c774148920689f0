"""Registry-wide oracle OUTPUT-type lint (VERDICT r10 order #2).

DuckDB widens integer ``sum()``/window-sums to HUGEINT and keeps
DECIMAL typed; the driver's pandas/Arrow fetch renders both outside
int64, hash-mismatching value-identical rows (the entire round-10 red
class). These tests pin that no registered oracle ever emits those
classes again, and that the lint itself still catches them.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))

from oracle_type_lint import BANNED, lint_oracles  # noqa: E402

from tests.oracle import duck_connection  # noqa: E402


def test_no_registered_oracle_emits_hugeint_or_decimal(sf_dir):
    bad = lint_oracles(sf_dir)
    assert not bad, (
        "oracles emitting HUGEINT/DECIMAL output columns (driver "
        f"pandas path renders these as float64/object — hash red): {bad}"
    )


def test_lint_rejects_uncast_integer_sum(sf_dir):
    """Regression guard on the lint itself: an uncast integer sum MUST
    type as HUGEINT under this DuckDB, and the banned list must name it
    — if a DuckDB upgrade ever changes the widening, this fails loudly
    so the lint (and the oracle emission rules) get re-audited."""
    con = duck_connection(sf_dir)
    rows = con.execute(
        "DESCRIBE SELECT sum(n_chars) AS s FROM documents"
    ).fetchall()
    win = con.execute(
        "DESCRIBE SELECT sum(n_chars) OVER () AS s FROM documents"
    ).fetchall()
    con.close()
    assert any(b in rows[0][1].upper() for b in BANNED), rows
    assert any(b in win[0][1].upper() for b in BANNED), win


def test_pandas_leg_catches_uncast_sum(spark, sf_dir):
    """End-to-end proof the new fetchdf leg reproduces the driver red:
    a value-identical (Spark bigint) vs (oracle uncast HUGEINT sum)
    pair passes the legacy fetchall compare but FAILS driver-faithful
    mode with the dtype-drift message — exactly the round-10 class."""
    from pyspark.sql import functions as F

    from ntripmonitor_spark.tables import table
    from tests.oracle import compare_query

    def fn(sp, d):
        return (
            table(sp, d, "documents")
            .groupBy("source")
            .agg(F.sum("n_chars").alias("total_chars"))
        )

    bad_oracle = (
        "SELECT source, sum(n_chars) AS total_chars "
        "FROM documents GROUP BY source"
    )
    ok_legacy, _ = compare_query(
        spark, sf_dir, "synthetic_uncast", fn, bad_oracle,
        driver_faithful=False,
    )
    assert ok_legacy, "legacy leg should be blind to HUGEINT (it was)"
    ok_strict, msg = compare_query(
        spark, sf_dir, "synthetic_uncast", fn, bad_oracle,
        driver_faithful=True,
    )
    # The round-12 DESCRIBE gate catches the class before the dtype
    # probe (it also sees nullable HUGEINT the probe is blind to).
    assert not ok_strict and "banned output type" in msg, msg


def test_null_order_lint_rejects_unpinned_nullable_ordering(sf_dir):
    """Regression guard on the null-order lint (VERDICT r11 order #5):
    an ORDER BY on a nullable key feeding a LIMIT, with no explicit
    NULLS FIRST/LAST, MUST flag (DuckDB defaults nulls_last, Spark ASC
    defaults nulls first — the ts07 class); pinning the same key with
    NULLS LAST must pass."""
    from oracle_type_lint import null_order_diff

    # Synthesize a nullable sort key (the generated sf0.001 base
    # columns are NULL-free; real offenders are derived nullables —
    # lead/lag warm-ups, the ts07 class): top-LIMIT over an ASC sort
    # swaps between the NULL rows and the smallest values.
    unpinned = (
        "SELECT doc_id, nullif(lang, 'en') AS k FROM documents "
        "ORDER BY k, doc_id LIMIT 5"
    )
    assert null_order_diff(sf_dir, unpinned) is not None

    pinned = (
        "SELECT doc_id, nullif(lang, 'en') AS k FROM documents "
        "ORDER BY k NULLS LAST, doc_id LIMIT 5"
    )
    assert null_order_diff(sf_dir, pinned) is None


def test_null_order_lint_green_over_registry(sf_dir):
    """Every registered oracle's result must be invariant to the
    engine's default NULL order — sort keys over nullable expressions
    carry explicit NULLS FIRST/LAST (Spark side pinned with
    asc_nulls_*/desc_nulls_*)."""
    from oracle_type_lint import lint_null_order

    bad = lint_null_order(sf_dir)
    assert not bad, f"null-order-sensitive oracles: {bad}"

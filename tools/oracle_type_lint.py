#!/usr/bin/env python
"""Lint every registered oracle's OUTPUT column types through DuckDB.

Why (VERDICT r10 root cause): DuckDB widens integer ``sum()`` (and
window sums) to HUGEINT (int128), and DECIMAL stays DECIMAL. The
driver's correctness gate fetches oracle results through pandas/Arrow,
where HUGEINT renders as float64 (``3.0`` vs Spark's ``3``) and DECIMAL
as object — hash-mismatching rows that are value-identical. Sixteen
round-10 reds, zero exceptions, all fit this rule; the local harness's
``fetchall()`` leg hid it for three rounds because HUGEINT arrives as a
Python int there.

The lint binds (``DESCRIBE``) each oracle against the sf0.001 views and
fails on any output column whose declared type is HUGEINT, UHUGEINT or
DECIMAL — the two numeric classes the driver's pandas path cannot carry
losslessly. Interior CTE columns are free to be HUGEINT (a sum that a
later CTE consumes never reaches the driver); only the final SELECT's
types matter. Every registered oracle is checked; there are no
exemptions.

    PYTHONPATH=. python tools/oracle_type_lint.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

BANNED = ("HUGEINT", "UHUGEINT", "DECIMAL")


def lint_oracles(sf_dir: str) -> dict[str, list[tuple[str, str]]]:
    """Return {query_name: [(column, duckdb_type), ...]} for every
    registered oracle emitting a banned output type."""
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from ntripmonitor_spark.plans import REGISTRY
    from tests.oracle import duck_connection

    con = duck_connection(sf_dir)
    bad: dict[str, list[tuple[str, str]]] = {}
    for name, q in sorted(REGISTRY.items()):
        if q.oracle is None:
            continue
        rows = con.execute(f"DESCRIBE {q.oracle}").fetchall()
        hits = [
            (col, typ)
            for col, typ, *_ in rows
            if any(b in typ.upper() for b in BANNED)
        ]
        if hits:
            bad[name] = hits
    con.close()
    return bad


def lint_null_order(sf_dir: str) -> dict[str, str]:
    """Flag every oracle whose RESULT depends on the engine's default
    NULL sort order (round-11 verdict #5, generalizing the ts07 fix).

    Static "is this ORDER BY key nullable?" classification would need a
    SQL nullability analysis; instead this runs each oracle twice —
    under ``default_null_order='nulls_first'`` (Spark's ASC default)
    and ``'nulls_last'`` (DuckDB's default) — and compares the
    CANONICALIZED result sets (rows sorted, so pure output-order churn
    is invisible; only differences a LIMIT / row_number / top-k window
    can surface survive). Any difference means a nullable sort key is
    ordering rows without an explicit NULLS FIRST/LAST pin, i.e. the
    exact class that parities green locally and red on an engine with
    the other default. Precise by construction: non-null keys and
    pinned keys can never flag. Blind only where sf0.001 has no NULL
    in the key — the same blindness any dynamic leg has.

    Returns {query_name: first differing detail}.
    """
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from ntripmonitor_spark.plans import REGISTRY
    from tests.oracle import canonicalize, duck_connection

    bad: dict[str, str] = {}
    for name, q in sorted(REGISTRY.items()):
        if q.oracle is None:
            continue
        detail = null_order_diff(sf_dir, q.oracle)
        if detail is not None:
            bad[name] = detail
    return bad


def null_order_diff(sf_dir: str, sql: str) -> str | None:
    """Run ``sql`` under both default NULL orders; return a first-diff
    description if the canonicalized results differ, else None."""
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tests.oracle import canonicalize, duck_connection

    results = []
    for order in ("nulls_first", "nulls_last"):
        con = duck_connection(sf_dir)
        con.execute(f"SET default_null_order='{order}'")
        cur = con.execute(sql)
        cols = [c[0] for c in cur.description]
        results.append(canonicalize(cols, cur.fetchall()))
        con.close()
    if results[0] == results[1]:
        return None
    diff = next(
        (i for i, (a, b) in enumerate(zip(results[0], results[1])) if a != b),
        min(len(results[0]), len(results[1])),
    )
    first = results[0][diff] if diff < len(results[0]) else "<absent>"
    last = results[1][diff] if diff < len(results[1]) else "<absent>"
    return f"row {diff}: nulls_first={first} nulls_last={last}"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    bad = lint_oracles(sf_dir)
    if bad:
        print(f"{len(bad)} oracle(s) emit banned output types:")
        for name, hits in bad.items():
            cols = ", ".join(f"{c}:{t}" for c, t in hits)
            print(f"  {name}: {cols}")
        sys.exit(1)
    print("OK: no registered oracle emits HUGEINT/DECIMAL output columns")
    nbad = lint_null_order(sf_dir)
    if nbad:
        print(f"{len(nbad)} oracle(s) depend on the engine default NULL order:")
        for name, detail in nbad.items():
            print(f"  {name}: {detail}")
        sys.exit(1)
    print("OK: no registered oracle's result depends on default NULL order")


if __name__ == "__main__":
    main()

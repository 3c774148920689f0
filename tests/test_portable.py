"""functions/portable.py — the engine-version-portability layer the
round-8 driver-red fixes ride on. The guarantees pinned here:

1. The Spark column builders and their *_sql DuckDB twins produce
   byte-identical canonical values on randomized inputs (the property
   the driver's hash compare needs).
2. quantize() implements floor(x*10^s + 0.5) exactly (no engine
   round() semantics anywhere).
3. idiv_sql matches Python's // (and Spark's `div`) for non-negative
   operands across the magnitudes PageRank uses — including values
   whose quotients exceed the 9-significant-digit float-canonicalizer
   boundary, the exact class the r7 driver reds exposed.
"""

from __future__ import annotations

import math
from decimal import Decimal

import duckdb
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ntripmonitor_spark.functions.portable import (
    dec_fixed,
    dec_fixed_sql,
    idiv_sql,
    int_to_dec,
    int_to_dec_sql,
    quantize,
    quantize_sql,
    rational_rh,
    rational_rh_sql,
)


@pytest.fixture(scope="module")
def spark():
    from ntripmonitor_spark.session import get_spark

    return get_spark()


finite_doubles = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)


@settings(max_examples=30, deadline=None)
@given(st.lists(finite_doubles, min_size=1, max_size=8), st.sampled_from([3, 4, 6]))
def test_dec_fixed_spark_equals_duckdb(spark, xs, scale):
    sdf = spark.createDataFrame([(x,) for x in xs], "x double")
    srows = sorted(
        str(r[0]) for r in sdf.select(dec_fixed(F.col("x"), scale)).collect()
    )
    con = duckdb.connect()
    drows = sorted(
        str(r[0])
        for r in con.execute(
            f"SELECT {dec_fixed_sql('x', scale)} FROM (SELECT unnest(?) AS x)", [xs]
        ).fetchall()
    )
    con.close()
    assert srows == drows


# the pinned cases, on both engines: scale-0 ties (2.5 -> 3, -2.5 -> -2),
# a value whose x*10^6 lands next to the half boundary, and the
# tx19/sp10 magnitudes
_QUANTIZE_PINNED = [0.1, 2.5, -2.5, 1.0 / 3.0, 5e-07, 58407.4999999, 1000.0]


@settings(max_examples=30, deadline=None)
@given(st.lists(finite_doubles, min_size=1, max_size=8), st.sampled_from([3, 6]))
@example(xs=_QUANTIZE_PINNED, scale=0)
@example(xs=_QUANTIZE_PINNED, scale=6)
def test_quantize_is_floor_half_up(spark, xs, scale):
    sdf = spark.createDataFrame([(x,) for x in xs], "x double")
    got = [r[0] for r in sdf.select(quantize(F.col("x"), scale)).collect()]
    want = [math.floor(x * float(10 ** scale) + 0.5) for x in xs]
    assert got == want
    con = duckdb.connect()
    duck = [
        con.execute(f"SELECT {quantize_sql('CAST(? AS DOUBLE)', scale)}", [x]).fetchone()[0]
        for x in xs
    ]
    con.close()
    assert duck == want


@settings(max_examples=30, deadline=None)
@given(
    st.lists(st.integers(min_value=-(10 ** 12), max_value=10 ** 12), min_size=1, max_size=8),
    # scale 9 included deliberately: with a fixed 28-digit inner cast it
    # overflows Spark's 38-digit multiply and silently clamps the result
    # to scale 8 (zeroing the last digit) — _inner_precision prevents it
    st.sampled_from([4, 6, 9]),
)
def test_int_to_dec_exact_rescale(spark, qs, scale):
    sdf = spark.createDataFrame([(q,) for q in qs], "q long")
    got = [r[0] for r in sdf.select(int_to_dec(F.col("q"), scale)).collect()]
    want = [Decimal(q).scaleb(-scale).quantize(Decimal(1).scaleb(-scale)) for q in qs]
    assert got == want
    con = duckdb.connect()
    duck = [
        r[0]
        for r in con.execute(
            f"SELECT {int_to_dec_sql('q', scale)} FROM (SELECT unnest(?) AS q) ORDER BY q",
            [sorted(qs)],
        ).fetchall()
    ]
    con.close()
    assert sorted(duck) == sorted(want)


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=0, max_value=9 * 10 ** 13),
    st.integers(min_value=1, max_value=10 ** 6),
)
def test_idiv_sql_matches_python_floordiv(a, b):
    """Covers the PageRank magnitudes: a up to 9e13 (85 * a 1e12-scale
    message sum), quotients far past the 9-sig-digit float boundary."""
    con = duckdb.connect()
    (got,) = con.execute(f"SELECT {idiv_sql(str(a), str(b))}").fetchone()
    con.close()
    assert got == a // b
    assert isinstance(got, int)


def test_idiv_sql_matches_spark_div(spark):
    rows = [(150_000_000_000, 7), (10 ** 12, 3), (85 * 10 ** 12, 100), (0, 5)]
    sdf = spark.createDataFrame(rows, "a long, b long")
    got = [r[0] for r in sdf.select(F.expr("a div b")).collect()]
    con = duckdb.connect()
    duck = [
        con.execute(f"SELECT {idiv_sql(str(a), str(b))}").fetchone()[0]
        for a, b in rows
    ]
    con.close()
    assert got == duck == [a // b for a, b in rows]


def _rh_true(p: int, q: int) -> int:
    """Ground truth: floor(p/q + 1/2) in exact rational arithmetic."""
    from fractions import Fraction

    return math.floor(Fraction(p, q) + Fraction(1, 2))


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=-(10 ** 15), max_value=10 ** 15),
    st.integers(min_value=1, max_value=10 ** 14),
)
def test_rational_rh_sql_is_exact_round_half_up(p, q):
    """The DuckDB twin equals exact-rational floor(p/q + 1/2) across the
    full magnitude budget (|p| ≤ 1e15 < 2^53), including negatives and
    exact-tie inputs the double-based quantize() cannot decide portably."""
    con = duckdb.connect()
    (got,) = con.execute(f"SELECT {rational_rh_sql(str(p), str(q))}").fetchone()
    con.close()
    assert got == _rh_true(p, q)


def test_rational_rh_spark_matches_sql_on_ties(spark):
    """Spark and DuckDB agree on the adversarial tie/boundary cases:
    exact halves (2r == q), exact integers (r == 0), negatives, and the
    tx19/sp10/mx02 magnitude classes."""
    rows = [
        (7, 2),            # 3.5 -> 4 (tie, rounds up)
        (-7, 2),           # -3.5 -> -3 (floor(x+0.5) semantics)
        (-8, 2),           # -4 exactly
        (5, 2),            # 2.5 -> 3
        (-5, 2),           # -2.5 -> -2
        (58407500, 1000),  # the tx19 doc-16 class: exact half-thousandth
        (1_000_000_000, 553),          # sp10 HT share magnitude
        (2 * 10 ** 15 + 1, 4 * 10 ** 11),  # mx02 epochs magnitude
        (0, 7),
        (10 ** 15, 1),
    ]
    sdf = spark.createDataFrame(rows, "p long, q long")
    got = [r[0] for r in sdf.select(rational_rh(F.col("p"), F.col("q"))).collect()]
    con = duckdb.connect()
    duck = [
        con.execute(f"SELECT {rational_rh_sql(str(p), str(q))}").fetchone()[0]
        for p, q in rows
    ]
    con.close()
    want = [_rh_true(p, q) for p, q in rows]
    assert got == want
    assert duck == want


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(10 ** 12), max_value=10 ** 12),
            st.integers(min_value=1, max_value=10 ** 9),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_rational_rh_spark_is_exact_round_half_up(spark, pqs):
    sdf = spark.createDataFrame(pqs, "p long, q long")
    got = [r[0] for r in sdf.select(rational_rh(F.col("p"), F.col("q"))).collect()]
    assert got == [_rh_true(p, q) for p, q in pqs]


def test_dec_fixed_output_scale_is_stable(spark):
    """str() of the emitted decimal always carries the full scale —
    the property the canonicalizer's string compare relies on."""
    sdf = spark.createDataFrame([(0.5,), (1.0,), (0.0,)], "x double")
    vals = [str(r[0]) for r in sdf.select(dec_fixed(F.col("x"), 6)).collect()]
    assert vals == ["0.500000", "1.000000", "0.000000"]

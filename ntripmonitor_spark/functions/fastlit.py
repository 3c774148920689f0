"""Array-literal Columns built in ONE py4j round trip.

``F.array(*[F.lit(x) for x in xs])`` costs one driver↔JVM round trip
per element; the model-literal codebooks this engine folds into plans
(IVF seed centroids, PQ sub-codebooks, Bloom word arrays) carry
hundreds of elements, and profiling showed literal construction alone
at ~1.3 s of 6k+ py4j calls per plan build (round-12, guide §1 — the
"driver does almost no data work" rule applies to plan building too).

These helpers render the values into ONE SQL expression string and let
the JVM parse it: a single py4j call regardless of element count.

Exactness: doubles are rendered with ``repr`` (the shortest
round-trip decimal) and parsed back with ``CAST('…' AS DOUBLE)``
(Java ``Double.parseDouble``); both directions are correctly rounded,
so the resulting double literal is bit-identical to ``F.lit(x)``.
Longs render as SQL bigint literals (``…L``), exact by construction.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _render_double(x: float) -> str:
    return f"CAST('{x!r}' AS DOUBLE)"


def double_array_lit(values: list[float]) -> Column:
    """array<double> literal — one py4j call for any length."""
    return F.expr(f"array({','.join(_render_double(x) for x in values)})")


def double_matrix_lit(rows: list[list[float]]) -> Column:
    """array<array<double>> literal — one py4j call for any shape."""
    inner = ",".join(
        f"array({','.join(_render_double(x) for x in row)})" for row in rows
    )
    return F.expr(f"array({inner})")


def long_array_lit(values: list[int]) -> Column:
    """array<bigint> literal — one py4j call for any length."""
    return F.expr(f"array({','.join(f'{int(v)}L' for v in values)})")


def _render_string(s: str) -> str:
    # Spark's default parser processes backslash escapes inside single
    # quotes (escapedStringLiterals=false), so escape both.
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def string_array_lit(values: list[str]) -> Column:
    """array<string> literal — one py4j call for any length. The
    round-12 profile showed ``Column.isin(vocab)`` paying one py4j
    conversion per element (~40 ms per 64-word vocab call site);
    ``array_contains(string_array_lit(vocab), c)`` is the same
    predicate for non-null inputs at one call total."""
    return F.expr(f"array({','.join(_render_string(v) for v in values)})")


def string_map_sql(pairs: dict[str, str]) -> str:
    """map<string,string> literal as SQL text, for embedding in a
    larger expression string. Insertion order of ``pairs`` is
    preserved, matching create_map's argument order."""
    args = ",".join(
        f"{_render_string(k)},{_render_string(v)}" for k, v in pairs.items()
    )
    return f"map({args})"


def string_map_lit(pairs: dict[str, str]) -> Column:
    """map<string,string> literal — one py4j call for any size
    (vs 2·N ``F.lit`` round trips for ``F.create_map``)."""
    return F.expr(string_map_sql(pairs))


def string_double_map_lit(pairs: dict[str, float]) -> Column:
    """map<string,double> literal — one py4j call; doubles render via
    ``repr`` and parse back with CAST(...AS DOUBLE) (correctly rounded
    both ways), so each value is bit-identical to ``F.lit(x)``."""
    args = ",".join(
        f"{_render_string(k)},{_render_double(v)}" for k, v in pairs.items()
    )
    return F.expr(f"map({args})")

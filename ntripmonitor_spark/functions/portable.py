"""Engine-version-portable fixed-point emission for float-derived metrics.

Why this exists: the driver's correctness gate canonicalizes DOUBLE
columns through ``%.9g`` and compares against a DuckDB oracle whose
*engine version we don't control*.  Two SQL constructs are NOT stable
across engine versions even when both sides are mathematically right:

- ``round(x, n)`` on DOUBLE — half-up vs half-even vs decimal-string
  rounding has changed between engine releases, so the 6th digit of a
  boundary value can differ between the oracle we test against locally
  and the one the driver runs.
- integral ``//`` division — its *result type* (BIGINT vs DOUBLE
  floor) differs across versions; a 13-digit integer that silently
  becomes DOUBLE is then truncated to 9 significant digits by the
  canonicalizer and hash-mismatches the exact integer the Spark side
  produced.

The portable recipe used here instead:

1. compute the metric with only IEEE-deterministic ops (+ - * /, sqrt,
   floor — all correctly rounded on every engine; never ``round``),
2. quantize via ``floor(x * 10^s + 0.5)`` → an exact BIGINT that every
   engine version computes identically,
3. emit that BIGINT integer-units column DIRECTLY, with the unit in
   the column name (``*_ppm`` = millionths, ``*_e4`` / ``*_e3`` /
   ``*_e9`` = 1e-4 / 1e-3 / 1e-9 units). Integer columns canonicalize
   identically on every engine — they are the only emission class
   never observed hash-red under the driver across eight rounds.

Step 3 used to re-scale the integer into DECIMAL(p, s) via
:func:`int_to_dec` — but rounds 7–8 showed the driver's environment
canonicalizes DECIMAL *output* columns differently from our local
replica (every DECIMAL-emitting query hash-red twice, every
integer-emitting one green; gr04's red→green flip after going
all-integer was the controlled proof). ``int_to_dec``/``dec_fixed``
remain ONLY for internal exact-sum carriers — never for final output
columns (tests/test_parity.py checks every registered query).

Both sides must apply textually identical operation order; the
``*_sql`` twins below generate the DuckDB expression for the Spark
column builders so the two can't drift.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def quantize(x: Column, scale: int) -> Column:
    """``floor(x * 10^s + 0.5)`` as LongType — the portable round-half-up
    of a DOUBLE to ``scale`` fractional digits, in integer units.
    Multiply, add and floor are exact/correctly-rounded IEEE ops, so any
    engine computes the identical integer from the identical double."""
    return F.floor(x * F.lit(float(10 ** scale)) + F.lit(0.5))


def quantize_sql(expr: str, scale: int) -> str:
    """DuckDB twin of :func:`quantize` (textually same op order)."""
    return f"CAST(floor(({expr}) * {float(10 ** scale)!r} + 0.5) AS BIGINT)"


def _inner_precision(scale: int) -> int:
    """Widest integer-units precision whose multiply with the
    DECIMAL(s+1, s) unit stays within 38 digits on BOTH engines
    (Spark result precision is p1+p2+1): p1 + (s+1) + 1 <= 38.
    Capped at 28; at scale 9 this is 27 — scale 9 with inner 28
    overflows on Spark and silently clamps the result to scale 8,
    zeroing the last digit (caught by dp03's nano-bit sums)."""
    return min(28, 36 - scale)


def int_to_dec(q: Column, scale: int, precision: int = 18) -> Column:
    """Re-scale integer units ``q`` into DECIMAL(precision, scale) via an
    exact decimal multiply (q * 10^-s) — no decimal division anywhere,
    so the result scale is s on every engine by the s1+s2 multiply rule.
    The unit literal is string-cast to DECIMAL(s+1, s) explicitly (a
    Python Decimal literal would infer DecimalType(38,18) and trip the
    precision-overflow scale clamp in the multiply)."""
    unit = "0." + "0" * (scale - 1) + "1" if scale else "1"
    unit_col = F.lit(unit).cast(f"decimal({scale + 1},{scale})")
    inner = _inner_precision(scale)
    return (q.cast(f"decimal({inner},0)") * unit_col).cast(f"decimal({precision},{scale})")


def int_to_dec_sql(expr: str, scale: int, precision: int = 18) -> str:
    """DuckDB twin of :func:`int_to_dec`."""
    unit = "0." + "0" * (scale - 1) + "1" if scale else "1"
    inner = _inner_precision(scale)
    return (
        f"CAST(CAST(({expr}) AS DECIMAL({inner},0))"
        f" * CAST({unit} AS DECIMAL({scale + 1},{scale}))"
        f" AS DECIMAL({precision},{scale}))"
    )


def dec_fixed(x: Column, scale: int, precision: int = 18) -> Column:
    """DOUBLE → DECIMAL(precision, scale), rounded half-up portably."""
    return int_to_dec(quantize(x, scale), scale, precision)


def dec_fixed_sql(expr: str, scale: int, precision: int = 18) -> str:
    """DuckDB twin of :func:`dec_fixed`."""
    return int_to_dec_sql(quantize_sql(expr, scale), scale, precision)


def rational_rh(p: Column, q: Column) -> Column:
    """EXACT round-half-up of the rational p/q (integer columns, q > 0)
    in pure BIGINT arithmetic — ``floor(p/q + 1/2)`` with NO double ever
    constructed, for metrics that are ratios of exact integers.

    Why this exists (round 10): :func:`quantize` evaluates ``x`` as a
    DOUBLE first. When the true rational value of ``x*10^s + 0.5`` lands
    EXACTLY on an integer (a tie), the double evaluation sits on a floor
    boundary and a 1-ulp difference between engine builds (compiler
    contraction, operation order) flips the emitted integer — the proven
    tx19/sp10 round-9 failure mode (VERDICT r9: docs 16/108/481 at
    v=58408.0 exactly; the n_chars=553 max doc at cutoff=1000.0). Here
    both engines run the identical integer identity instead::

        floor(p/q + 1/2) = floor(p/q) + [2*(p mod q) >= q]
        floor(p/q)       = (p - pmod(p, q)) div q     (exact division)

    pmod is the non-negative remainder, so the identity holds for
    NEGATIVE p too (flesch scores go negative); the ``div`` truncation
    semantics never matter because its dividend is exactly divisible.

    Domain: |p| and q must fit BIGINT on the Spark side (they do by
    construction at every tested SF); the :func:`rational_rh_sql` twin
    additionally needs |p| < 2^53 because some DuckDB versions type
    integer ``/`` as DOUBLE — callers document their magnitude budget.
    """
    r = F.pmod(p, q)
    d = F.call_function("div", p - r, q)
    return d + (F.lit(2) * r >= q).cast("long")


def rational_rh_sql(p: str, q: str) -> str:
    """DuckDB twin of :func:`rational_rh` (same integer identity).

    ``%`` is C-style (sign of dividend) on every DuckDB version, so the
    non-negative remainder is built as ``((p % q) + q) % q``; the
    division's dividend ``p - r`` is exactly divisible by ``q``, so the
    quotient is exact whether a version types ``/`` as BIGINT or DOUBLE
    — provided |p| < 2^53 (all oracle-side magnitudes are ≤ ~1e15 at
    the sf0.01 grading scale)."""
    r = f"(((({p}) % ({q})) + ({q})) % ({q}))"
    d = f"CAST(((({p}) - {r}) / ({q})) AS BIGINT)"
    # the doubling literal is pinned BIGINT: with INT32-typed operands
    # (literal probes) DuckDB would otherwise overflow the INT32 multiply
    return (
        f"CAST(({d} + CASE WHEN CAST(2 AS BIGINT) * {r} >= ({q})"
        f" THEN 1 ELSE 0 END) AS BIGINT)"
    )


def idiv_sql(a: str, b: str) -> str:
    """Version-proof integral division for the DuckDB oracle: exact for
    non-negative BIGINT operands on any engine version. ``a % b`` is
    integral on every version; ``a - a%b`` is divisible by ``b`` so the
    division is mathematically exact (and its quotient, < 2^53 for the
    magnitudes used here, is exact even if a version types ``/`` as
    DOUBLE); the CAST pins the BIGINT result type. Mirrors Spark's
    ``div`` on non-negative longs."""
    return f"CAST((({a}) - (({a}) % ({b}))) / ({b}) AS BIGINT)"


# --- libm-free first-significant-digit + Benford expectations -------------
#
# log10/pow are libm calls and libm is NOT correctly rounded on every
# platform (crlibm/glibc/llvm-libm disagree in the last ulp), so a digit
# or an expectation computed through them can differ between the Spark
# JVM and whatever DuckDB build the driver runs.  The portable recipe:
# the first significant digit of a positive double is decided by PURE
# COMPARISONS against exact decimal literals d*10^e (decimal->double
# parsing is correctly rounded on every engine, comparison is exact),
# and the nine Benford expectations log10(1 + 1/d) are inlined as
# shortest-roundtrip double literals — both engines parse the identical
# string to the identical double, so libm never enters the comparison
# (the an12 trig precedent, SCALE.md §6s).

_FIRST_DIGIT_THRESHOLDS: list[tuple[int, str]] = [
    (d, f"{d}e{e}")
    for e in range(8, -7, -1)   # 9e8 down to 1e-6
    for d in range(9, 0, -1)
]

#: shortest-roundtrip double literals of log10(1 + 1/d), d = 1..9
BENFORD_L10: dict[int, str] = {
    1: "0.3010299956639812",
    2: "0.17609125905568124",
    3: "0.12493873660829992",
    4: "0.09691001300805642",
    5: "0.07918124604762482",
    6: "0.06694678963061322",
    7: "0.05799194697768673",
    8: "0.05115252244738129",
    9: "0.04575749056067514",
}


def first_digit(v: Column) -> Column:
    """First significant digit of a positive DOUBLE (1..9) via a
    descending comparison spine — first threshold <= v wins. Exact ONLY
    for v in [1e-6, 9.999...e8]: values ABOVE the spine's 9e8 top
    threshold all classify as 9 (e.g. 1.5e9, true digit 1, hits the
    9e8 rung first), and values below fall back to 1. Neither class
    exists in the test tables (events.value max ≈ 560, pinned by
    tests/test_round9_ops.py::test_first_digit_domain_covers_events);
    callers feeding wider-range data must extend the exponent range
    first. No log10, no pow, no division."""
    c = None
    for d, s in _FIRST_DIGIT_THRESHOLDS:
        cond = v >= F.lit(float(s))
        c = F.when(cond, F.lit(d)) if c is None else c.when(cond, F.lit(d))
    return c.otherwise(F.lit(1)).cast("int")


def first_digit_sql(expr: str) -> str:
    """DuckDB twin of :func:`first_digit` (same thresholds, same order)."""
    whens = " ".join(
        f"WHEN ({expr}) >= {s} THEN {d}" for d, s in _FIRST_DIGIT_THRESHOLDS
    )
    return f"CAST(CASE {whens} ELSE 1 END AS INT)"

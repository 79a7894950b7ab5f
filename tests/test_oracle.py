"""Differential tests: every catalog query with an oracle must match
DuckDB exactly at sf0.001 (fast) — the same comparison shape the
driver's correctness gate applies at sf0.01."""

from __future__ import annotations

import datetime

import duckdb
import pandas as pd
import pytest

from shopify_db_spark.plans import load_all
from shopify_db_spark.testing import compare_frames, run_differential
from tests.conftest import SF_SMOKE

ALL = load_all()
WITH_ORACLE = sorted(n for n, s in ALL.items() if s.oracle is not None)
ROWS_ONLY = sorted(n for n, s in ALL.items() if s.oracle is None)


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_match(spark, name):
    problems = run_differential(spark, SF_SMOKE, name)
    assert not problems, f"{name}: " + "; ".join(problems)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_runs(spark, name):
    df = ALL[name].fn(spark, SF_SMOKE)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_queries_match_registry():
    """Every registered query is surfaced by queries(), in registration
    order, and every spec with an oracle carries it into oracle_sql():
    a rename cannot silently drop a query out of the catalog."""
    import __spark_entry__ as e

    specs = load_all()
    qs = e.queries()
    assert list(qs) == list(specs)
    assert all(qs[n] is s.fn for n, s in specs.items())
    assert e.oracle_sql() == {
        n: s.oracle for n, s in specs.items() if s.oracle is not None
    }


def test_compare_frames_is_dtype_family_strict():
    """Round-11 structural guard (the q121 r9/r10 lesson): the local
    compare must reproduce the external driver's dtype sensitivity.
    Equal VALUES in an int64 vs a float64 column — exactly what
    DuckDB's silent SUM(BIGINT)→HUGEINT→pandas-float64 promotion
    produces — must FAIL; engine-idiomatic representations of the
    same logical type (date objects vs datetime64, Decimal vs float,
    all-null columns) must still pass."""
    import datetime
    import decimal

    import numpy as np
    import pandas as pd

    from shopify_db_spark.testing import compare_frames

    # the driver-red signature: values equal, int64 vs float64
    s = pd.DataFrame({"comp_sum": np.array([114234, 7], dtype="int64")})
    o = pd.DataFrame({"comp_sum": np.array([114234.0, 7.0], dtype="float64")})
    problems = compare_frames(s, o)
    assert problems and "dtype family" in problems[0]

    # same family, equal values: passes
    assert not compare_frames(s, s.copy())

    # Spark DateType (objects) vs DuckDB DATE (datetime64): same family
    s2 = pd.DataFrame({"d": [datetime.date(2024, 1, 1)]})
    o2 = pd.DataFrame({"d": pd.to_datetime(["2024-01-01"])})
    assert not compare_frames(s2, o2)

    # stray Decimal compares through float (documented leniency)
    s3 = pd.DataFrame({"m": [decimal.Decimal("1.50")]})
    o3 = pd.DataFrame({"m": [1.5]})
    assert not compare_frames(s3, o3)

    # an all-null column is family-indeterminate: matches anything
    s4 = pd.DataFrame({"x": np.array([np.nan], dtype="float64")})
    o4 = pd.DataFrame({"x": [None]})
    assert not compare_frames(s4, o4)

    # bool vs int is a REAL family divergence
    s5 = pd.DataFrame({"b": np.array([True, False])})
    o5 = pd.DataFrame({"b": np.array([1, 0], dtype="int64")})
    assert compare_frames(s5, o5)


def _synthetic_events(tmp_path, ages_days):
    """Write a single-file events.parquet whose per-user event ages
    (relative to the newest event) are exactly ``ages_days``."""
    now = datetime.datetime(2024, 6, 1, 12, 0, 0)
    rows = [
        {
            "event_id": i,
            "ts": now - datetime.timedelta(days=a),
            "user_id": 1000 + i,
            "event_type": "view",
            "value": 1.0,
            "props": "{}",
        }
        for i, a in enumerate(ages_days)
    ]
    pdf = pd.DataFrame(rows)
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    path = tmp_path / "events.parquet"
    pdf.to_parquet(path, index=False)
    return str(tmp_path)


def test_decay_weight_no_shift_wrap(spark, tmp_path):
    """Regression for the round-9 advice finding: Spark wraps the
    shiftright amount mod the BASE WIDTH, so an int-typed 10⁶ base
    made events 224–279 days old (shift 32–39) wrap back to weights
    10⁶..15625 while DuckDB yields 0. The fixed clamp (≥ 20
    half-lives → exactly 0, since 10⁶ < 2²⁰) plus a BIGINT base must
    agree with the oracle on synthetic ages spanning the former wrap
    range — testdata spans only 30 days, so this is the only gate
    that exercises it."""
    ages = [0, 6, 7, 100, 139, 140, 223, 224, 250, 279, 447, 448, 600]
    sf_dir = _synthetic_events(tmp_path, ages)
    spec = load_all()["q158_decayed_engagement"]
    spark_pdf = spec.fn(spark, sf_dir).toPandas()

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    oracle_pdf = con.execute(spec.oracle).df()
    assert compare_frames(spark_pdf, oracle_pdf) == []

    by_age = {
        int(r["days_since_last"]): int(r["decayed_ppm"])
        for _, r in spark_pdf.iterrows()
    }
    assert by_age[0] == 1_000_000
    assert by_age[7] == 500_000
    # the former wrap range (shift 32-39) and everything past the
    # 140-day horizon must be exactly 0, never 10⁶ again
    for a in (140, 223, 224, 250, 279, 447, 448, 600):
        assert by_age[a] == 0, f"age {a} leaked weight {by_age[a]}"
    # inside the horizon the weight is the exact shift value
    assert by_age[139] == 1_000_000 >> 19
    assert by_age[100] == 1_000_000 >> 14

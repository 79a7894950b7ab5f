"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The real implementations live in the ``shopify_db_spark`` package;
this module only adapts them to the driver's interface.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from shopify_db_spark.plans import load_all  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    specs = load_all()
    return specs["q01_pricing_summary"].fn(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in
    registration order."""
    return {n: s.fn for n, s in load_all().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; omitted entries (oracle=None)
    are non-SQL-expressible ops that get the weaker rows-only check."""
    return {
        name: spec.oracle
        for name, spec in load_all().items()
        if spec.oracle is not None
    }

"""Parquet table catalog (the engine's storage layer).

The reference stores everything in PostgreSQL heap tables
(``setup.sql:1-190``) and scans with ``SELECT *`` (``db.py:69-113``).
Here the storage is columnar Parquet: scans get predicate pushdown,
column pruning and partition pruning from Catalyst for free — the
Spark-side analogue of the reference's hand-rolled API field lists
(``shopify.py:13-93``).

Two table families:

* **benchmark tables** — the driver-generated TPC-H-ish star schema
  (TESTDATA.md): region nation customer supplier part orders lineitem
  events documents embeddings.
* **commerce tables** — the reference's 10-table Shopify schema
  (see ``shopify_db_spark.schemas``), written by the ingest path.

At 100 TB the fact tables (lineitem / orders / events) would be
written date-partitioned (``write.partitionBy``) so date predicates
prune whole directories; the loader below is partition-layout
agnostic — ``spark.read.parquet`` handles both flat files and
partitioned directories.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

BENCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale
# factor (region/nation are fixed-size; supplier/part/customer grow
# with SF but remain << lineitem). Used for join-strategy hints.
BROADCAST_DIMS = ("region", "nation", "supplier")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one benchmark table as a DataFrame.

    ``events.ts`` is ``timestamp[us]`` parquet with no timezone, so
    Spark reads TIMESTAMP_NTZ — the same wall-clock values DuckDB's
    microsecond TIMESTAMP sees; queries that need an instant
    (``unix_micros``, watermarks) cast NTZ → TIMESTAMP themselves,
    which is instant-preserving under the pinned UTC session.

    Guarded fallback: earlier driver testdata shipped TIMESTAMP(NANOS)
    parquet, readable only via ``spark.sql.legacy.parquet.nanosAsLong``
    as raw longs; if ``ts`` arrives as bigint it is truncated to
    micros here (exactly DuckDB's TIMESTAMP_NS lowering). The conf is
    set on the *passed-in* session (runtime-settable) so the loader
    works on any caller's SparkSession — e.g. the correctness
    driver's own session.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def write_date_partitioned(
    df: DataFrame,
    path: str,
    ts_col: str,
    partition_col: str = "event_date",
    files_per_partition: int = 1,
    granularity: str = "date",
) -> None:
    """Write a fact table date-partitioned — the 100 TB layout where
    date predicates prune whole directories before any IO.

    The pre-write ``repartition(partition_col)`` is the small-files
    guard: without it every task writes a file into every date
    directory (tasks × dates files); with it each date's rows
    co-locate so a partition gets ``files_per_partition`` files.
    Columns are otherwise untouched — readers see the original schema
    plus the partition column.

    ``granularity`` (``date`` | ``month``) is the partition-sizing
    knob: directory count must track data volume, not calendar time.
    A 7-year fact at small volume partitioned per-day produces
    thousands of near-empty files (listing + open overhead swamps the
    scan — measured 2.7× catalog slowdown at sf0.001); the same fact
    at 100 TB wants per-day or finer. Pick the coarsest granularity
    whose directories still prune your dominant predicates."""
    from pyspark.sql import functions as F

    part = (
        F.to_date(F.col(ts_col))
        if granularity == "date"
        else F.date_trunc("month", F.col(ts_col)).cast("date")
    )
    out = df.withColumn(partition_col, part)
    if files_per_partition == 1:
        out = out.repartition(F.col(partition_col))
    else:
        out = out.repartition(
            F.col(partition_col),
            (F.spark_partition_id() % files_per_partition),
        )
    out.write.mode("overwrite").partitionBy(partition_col).parquet(path)


def scan_partition_filters(df: DataFrame) -> str:
    """The PartitionFilters clause of the plan's file scan — empty
    string when no partition pruning applies. Test/diagnostic helper
    for asserting that a date predicate actually prunes."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "PartitionFilters" in line:
            start = line.index("PartitionFilters")
            return line[start:].split("]", 1)[0] + "]"
    return ""


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
) -> None:
    """Save as a bucketed (+optionally sorted) managed table — the
    co-located-join layout: two tables bucketed the same way on the
    join key join WITHOUT a shuffle (no Exchange in the plan), the
    cluster-wide analogue of the reference's Postgres btree-backed
    joins. At 100 TB this is how repeated fact-to-fact joins (e.g.
    lineitem ⋈ orders on orderkey) amortize their shuffle once at
    write time."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table_name)

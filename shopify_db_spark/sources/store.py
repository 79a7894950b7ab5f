"""Parquet-backed commerce table store with upsert write path.

Replaces the reference's PostgreSQL instance (``dbsetup.sh``,
``setup.sql`` DDL): each commerce table is a parquet directory under
a base dir; writes go through :mod:`operators.upsert` with the
per-table conflict keys and frozen SET-list columns from
``schemas``. Re-running an ingest batch is a no-op on unchanged data
(idempotence by construction — the reference's key property,
SURVEY §5.2).

Writes are atomic per table, at directory granularity: Spark cannot
overwrite a parquet directory it is still reading, so the merge
result lands in ``<table>.parquet.tmp`` and is swapped in with two
renames. An upsert reads and swaps only its own table, so the
ingest path (``ingest_jobs.upsert_entities``) writes the tables of
one sync concurrently; a sync is atomic per table, not as a whole. A
process that dies between the renames leaves the pre-batch table in
``<table>.parquet.old``; the store adopts it on the next access, so
re-running the lost batch restores the merge. At cluster scale this
maps onto the same pattern over an object store (write new prefix,
flip a manifest/pointer), or disappears entirely under Delta's MERGE.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from shopify_db_spark import schemas
from shopify_db_spark.operators.upsert import upsert


class CommerceStore:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)

    def path(self, table: str) -> str:
        return os.path.join(self.base_dir, f"{table}.parquet")

    def exists(self, table: str) -> bool:
        self._recover(table)
        return os.path.exists(self.path(table))

    def _recover(self, table: str) -> None:
        """Undo a swap that :meth:`overwrite` left half done: with no
        table in place, adopt ``.old`` and discard the stale ``.tmp``
        (it may be partial)."""
        target = self.path(table)
        if os.path.exists(target):
            return
        if os.path.exists(target + ".tmp"):
            shutil.rmtree(target + ".tmp")
        if os.path.exists(target + ".old"):
            os.rename(target + ".old", target)

    def read(self, table: str) -> DataFrame:
        if table not in schemas.COMMERCE_TABLES:
            raise KeyError(f"unknown commerce table: {table}")
        if not self.exists(table):
            return self.spark.createDataFrame([], schemas.COMMERCE_TABLES[table])
        return self.spark.read.schema(schemas.COMMERCE_TABLES[table]).parquet(
            self.path(table)
        )

    def read_all(self) -> dict[str, DataFrame]:
        return {name: self.read(name) for name in schemas.COMMERCE_TABLES}

    def overwrite(self, table: str, df: DataFrame) -> None:
        target = self.path(table)
        tmp = target + ".tmp"
        df.write.mode("overwrite").parquet(tmp)
        old = target + ".old"
        if os.path.exists(old):
            shutil.rmtree(old)
        if os.path.exists(target):
            os.rename(target, old)
        os.rename(tmp, target)
        if os.path.exists(old):
            shutil.rmtree(old)

    def upsert(self, table: str, updates: DataFrame) -> None:
        """Merge an update batch with the reference's per-table
        conflict key and frozen columns (``db.py:115-407``)."""
        existing = self.read(table)
        merged = upsert(
            existing,
            updates,
            keys=schemas.UPSERT_KEYS[table],
            frozen_cols=schemas.UPSERT_FROZEN_COLS.get(table),
        )
        self.overwrite(table, merged)

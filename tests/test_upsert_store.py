"""Upsert semantics (reference ON CONFLICT DO UPDATE parity) and the
parquet store round-trip: idempotence, frozen SET-list columns,
batch-duplicate tolerance."""

from __future__ import annotations

import os
from decimal import Decimal as D

import pytest

from shopify_db_spark import schemas
from shopify_db_spark.operators.upsert import upsert
from shopify_db_spark.sources.store import CommerceStore
from tests.commerce_fixtures import CUSTOMERS, build_tables


def _customers(spark, rows):
    return spark.createDataFrame(rows, schema=schemas.CUSTOMERS)


def test_upsert_inserts_updates_and_freezes(spark):
    existing = _customers(spark, CUSTOMERS)
    alice = list(CUSTOMERS[0])
    alice[1] = "new@x.no"      # email updates
    alice[12] = "hacked note"  # note is FROZEN on update (db.py:266-280)
    new_id = 777
    newbie = list(CUSTOMERS[2])
    newbie[0] = new_id
    newbie[12] = "fresh note"
    merged = upsert(
        existing,
        _customers(spark, [tuple(alice), tuple(newbie)]),
        keys=["id"],
        frozen_cols=schemas.UPSERT_FROZEN_COLS["customers"],
    )
    rows = {r["id"]: r for r in merged.collect()}
    assert len(rows) == len(CUSTOMERS) + 1
    assert rows[CUSTOMERS[0][0]]["email"] == "new@x.no"
    assert rows[CUSTOMERS[0][0]]["note"] is None          # frozen kept OLD value
    assert rows[new_id]["note"] == "fresh note"           # pure insert takes new
    assert rows[CUSTOMERS[1][0]]["email"] == CUSTOMERS[1][1]  # untouched row kept


def test_upsert_idempotent(spark):
    existing = _customers(spark, CUSTOMERS)
    once = upsert(existing, existing, keys=["id"])
    twice = upsert(once, existing, keys=["id"])
    assert sorted(map(tuple, twice.collect())) == sorted(map(tuple, existing.collect()))


def test_upsert_dedups_batch(spark):
    base = _customers(spark, CUSTOMERS[:1])
    dup1 = list(CUSTOMERS[1])
    dup2 = list(CUSTOMERS[1])
    dup2[1] = "zz@x.no"
    merged = upsert(base, _customers(spark, [tuple(dup1), tuple(dup2)]), keys=["id"])
    rows = [r for r in merged.collect() if r["id"] == CUSTOMERS[1][0]]
    assert len(rows) == 1  # Postgres would error; we pick deterministically
    assert rows[0]["email"] == "zz@x.no"  # desc-nulls-last order → 'zz' wins


def test_store_survives_crash_between_renames(spark, tmp_path, monkeypatch):
    """A process killed between overwrite's two renames leaves only
    ``<table>.parquet.old``; a store opened afterwards must read every
    pre-batch row, and re-running the batch gives the full merge."""
    base = str(tmp_path / "storedata")
    before = _customers(spark, CUSTOMERS[:2])
    changed = list(CUSTOMERS[1])
    changed[1] = "moved@x.no"
    batch = _customers(spark, [tuple(changed), CUSTOMERS[2]])
    CommerceStore(spark, base).upsert("customers", before)

    rename = os.rename
    calls = []

    def die_on_second_rename(src, dst):
        calls.append(src)
        if len(calls) == 2:
            raise OSError("killed between renames")
        rename(src, dst)

    monkeypatch.setattr(os, "rename", die_on_second_rename)
    with pytest.raises(OSError, match="killed"):
        CommerceStore(spark, base).upsert("customers", batch)
    monkeypatch.undo()
    assert not os.path.exists(os.path.join(base, "customers.parquet"))

    def rows(df):
        return sorted(map(tuple, df.collect()))

    store = CommerceStore(spark, base)
    assert rows(store.read("customers")) == rows(before)
    store.upsert("customers", batch)
    merged = upsert(
        before,
        batch,
        keys=schemas.UPSERT_KEYS["customers"],
        frozen_cols=schemas.UPSERT_FROZEN_COLS["customers"],
    )
    assert rows(store.read("customers")) == rows(merged)
    assert len(rows(merged)) == len(CUSTOMERS)


def test_store_roundtrip_and_merge(spark, tmp_path):
    store = CommerceStore(spark, str(tmp_path / "storedata"))
    tables = build_tables(spark)
    store.upsert("customers", tables["customers"])
    assert store.read("customers").count() == len(CUSTOMERS)
    # re-upsert is a no-op
    store.upsert("customers", tables["customers"])
    assert store.read("customers").count() == len(CUSTOMERS)
    # orders: financial_status frozen on update
    store.upsert("orders", tables["orders"])
    changed = tables["orders"].limit(1).collect()[0].asDict()
    changed["financial_status"] = "SHOULD_NOT_STICK"
    changed["fulfillment_status"] = "sticks"
    store.upsert(
        "orders",
        spark.createDataFrame([tuple(changed.values())], schema=schemas.ORDERS),
    )
    row = store.read("orders").filter(f"id = {changed['id']}").collect()[0]
    assert row["financial_status"] != "SHOULD_NOT_STICK"
    assert row["fulfillment_status"] == "sticks"
    # empty read of a never-written table
    assert store.read("products").count() == 0
    with pytest.raises(KeyError):
        store.read("not_a_table")

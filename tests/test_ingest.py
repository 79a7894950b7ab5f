"""End-to-end ingest equivalence: the commerce fixtures rendered as
raw Shopify JSON (nested structs + arrays), ingested through
parse → normalize → upsert into a parquet store, must yield the same
invoice output as the directly-constructed tables."""

from __future__ import annotations

import json
import os
import threading

import pytest

from shopify_db_spark import schemas
from shopify_db_spark.ingest_jobs import ingest_from_json_dir
from shopify_db_spark.plans.invoice import build_invoices
from shopify_db_spark.sources.store import CommerceStore
from shopify_db_spark.testing import compare_frames
from tests import commerce_fixtures as fx


def _money(v) -> str | None:
    return None if v is None else str(v)


def _iso(ts) -> str | None:
    return None if ts is None else ts.isoformat()


def fixtures_to_raw_json(json_dir) -> None:
    """Render the fixture rows as the Shopify API would deliver them
    (FIXTURES.md raw shapes)."""
    shipping_by_order: dict[int, list] = {}
    for s in fx.SHIPPING:
        shipping_by_order.setdefault(s[1], []).append(s)
    items_by_order: dict[int, list] = {}
    for li in fx.LINE_ITEMS:
        items_by_order.setdefault(li[1], []).append(li)
    refund_items_by_refund: dict[int, list] = {}
    for ri in fx.REFUND_ITEMS:
        refund_items_by_refund.setdefault(ri[1], []).append(ri)

    with open(json_dir / "customers.jsonl", "w") as fh:
        for c in fx.CUSTOMERS:
            fh.write(json.dumps({
                "id": c[0], "email": c[1],
                "first_name": c[3], "last_name": c[4], "phone": c[5],
                "default_address": {
                    "name": c[2], "address1": c[6], "city": c[7],
                    "zip": c[8], "country": c[9], "phone": None,
                },
                "note": c[12], "total_spent": _money(c[10]),
                "verified_email": c[11], "accepts_marketing": c[13],
                "created_at": _iso(c[14]), "updated_at": _iso(c[15]),
            }) + "\n")

    with open(json_dir / "orders.jsonl", "w") as fh:
        for o in fx.ORDERS:
            ships = shipping_by_order.get(o[0], [])
            addr = None
            if ships:
                s = ships[0]
                addr = {
                    "name": None, "address1": s[9], "city": s[10], "zip": s[11],
                    "country": s[12],
                    "phone": None,
                    "latitude": None if s[13] is None else float(s[13]),
                    "longitude": None if s[14] is None else float(s[14]),
                }
            fh.write(json.dumps({
                "id": o[0], "name": o[2],
                "customer": None if o[1] is None else {"id": o[1]},
                "billing_address": addr,
                "line_items": [
                    {
                        "id": li[0], "product_id": li[2], "title": li[3],
                        "sku": li[4], "price": _money(li[5]),
                        "quantity": li[8], "vendor": li[9],
                        "variant_title": li[10], "taxable": li[14],
                        "tax_lines": [{
                            "price": _money(li[11]),
                            "rate": float(li[12]),
                            "title": li[13],
                        }],
                        "price_set": {"presentment_money": {
                            "amount": _money(li[5]), "currency_code": li[15]}},
                        "discount_allocations":
                            [] if li[7] == 0 else [{"amount": _money(li[7])}],
                    }
                    for li in items_by_order.get(o[0], [])
                ],
                "shipping_lines": [
                    {
                        "id": s[0], "code": s[2], "price": _money(s[3]),
                        "discounted_price": _money(s[4]), "title": s[6],
                        "source": s[7], "phone": s[8], "tax_lines": [],
                        "price_set": {"presentment_money": {
                            "amount": _money(s[3]), "currency_code": s[5]}},
                    }
                    for s in ships
                ],
                "total_price": _money(o[5]),
                "total_line_items_price": _money(o[6]),
                "total_discounts": _money(o[7]), "total_tax": _money(o[8]),
                "taxes_included": o[9], "currency": o[10],
                "financial_status": o[4], "fulfillment_status": o[3],
                "created_at": _iso(o[11]), "closed_at": _iso(o[12]),
                "processed_at": _iso(o[13]),
            }) + "\n")

    with open(json_dir / "transactions.jsonl", "w") as fh:
        for t in fx.TRANSACTIONS:
            fh.write(json.dumps({
                "id": t[0], "order_id": t[1], "status": t[2],
                "amount": _money(t[3]), "currency": t[4], "error_code": t[5],
                "gateway": t[6], "kind": t[7],
                "created_at": _iso(t[8]), "processed_at": _iso(t[9]),
            }) + "\n")

    with open(json_dir / "refunds.jsonl", "w") as fh:
        for r in fx.REFUNDS:
            fh.write(json.dumps({
                "id": r[0], "order_id": r[1], "note": r[3],
                "created_at": _iso(r[5]), "processed_at": _iso(r[6]),
                "transactions": [{"id": r[2]}],
                "refund_line_items": [
                    {
                        "id": ri[0], "quantity": ri[3],
                        "subtotal": _money(ri[5]),
                        "line_item": {"id": ri[2]},
                        "subtotal_set": {"shop_money": {"currency_code": ri[4]}},
                    }
                    for ri in refund_items_by_refund.get(r[0], [])
                ],
            }) + "\n")


#: the tables the fixture JSON feeds, with their row counts
EXPECTED_ROWS = {
    "customers": len(fx.CUSTOMERS),
    "orders": len(fx.ORDERS),
    "line_item_products": len(fx.LINE_ITEMS),
    "transactions": len(fx.TRANSACTIONS),
    "shipping": len(fx.SHIPPING),
    "refunds": len(fx.REFUNDS),
    "line_item_product_refunds": len(fx.REFUND_ITEMS),
}


@pytest.fixture(scope="module")
def raw_json_dir(tmp_path_factory):
    json_dir = tmp_path_factory.mktemp("rawjson")
    fixtures_to_raw_json(json_dir)
    return str(json_dir)


@pytest.fixture(scope="module")
def ingested_store(spark, raw_json_dir, tmp_path_factory):
    store = CommerceStore(spark, str(tmp_path_factory.mktemp("ingested")))
    ingest_from_json_dir(spark, store, raw_json_dir)
    return store


def test_ingest_tables_populated(ingested_store):
    for table, rows in EXPECTED_ROWS.items():
        assert ingested_store.read(table).count() == rows, table


def test_ingested_invoices_match_direct_tables(spark, ingested_store):
    via_ingest = build_invoices(
        ingested_store.read_all(), "2024-01-01", "2024-01-31", 1000
    )
    direct = build_invoices(fx.build_tables(spark), "2024-01-01", "2024-01-31", 1000)
    problems = compare_frames(via_ingest.toPandas(), direct.toPandas())
    assert not problems, "; ".join(problems)


def test_ingest_idempotent(spark, ingested_store, tmp_path_factory):
    json_dir = tmp_path_factory.mktemp("rawjson2")
    fixtures_to_raw_json(json_dir)
    before = ingested_store.read("orders").count()
    ingest_from_json_dir(spark, ingested_store, str(json_dir))
    assert ingested_store.read("orders").count() == before


def test_sync_upserts_run_concurrently(spark, raw_json_dir, tmp_path, monkeypatch):
    """All seven upserts of one sync are in flight together: each
    waits at a barrier that only opens when every one has arrived."""
    real_upsert = CommerceStore.upsert
    barrier = threading.Barrier(len(EXPECTED_ROWS), timeout=60)

    def upsert_after_barrier(self, table, updates):
        barrier.wait()
        real_upsert(self, table, updates)

    monkeypatch.setattr(CommerceStore, "upsert", upsert_after_barrier)
    store = CommerceStore(spark, str(tmp_path / "store"))
    ingest_from_json_dir(spark, store, raw_json_dir)
    for table, rows in EXPECTED_ROWS.items():
        assert store.read(table).count() == rows, table


def test_failed_upsert_lets_the_wave_finish_and_rerun_repairs(
    spark, raw_json_dir, ingested_store, tmp_path, monkeypatch
):
    """One table's failure is raised only after every other upsert of
    the sync has ended; re-running the sync repairs the store."""
    real_upsert = CommerceStore.upsert
    lock = threading.Lock()
    running, finished = [0], []

    def failing_upsert(self, table, updates):
        if table == "shipping":
            raise RuntimeError("shipping write failed")
        with lock:
            running[0] += 1
        try:
            real_upsert(self, table, updates)
        finally:
            with lock:
                running[0] -= 1
                finished.append(table)

    monkeypatch.setattr(CommerceStore, "upsert", failing_upsert)
    store = CommerceStore(spark, str(tmp_path / "store"))
    with pytest.raises(RuntimeError, match="shipping write failed"):
        ingest_from_json_dir(spark, store, raw_json_dir)
    assert running[0] == 0
    others = {t: n for t, n in EXPECTED_ROWS.items() if t != "shipping"}
    assert sorted(finished) == sorted(others)
    for table, rows in others.items():
        assert store.read(table).count() == rows, table
    assert not os.path.exists(store.path("shipping"))

    monkeypatch.undo()
    ingest_from_json_dir(spark, store, raw_json_dir)
    for table in schemas.COMMERCE_TABLES:
        problems = compare_frames(
            store.read(table).toPandas(), ingested_store.read(table).toPandas()
        )
        assert not problems, f"{table}: " + "; ".join(problems)


def test_sync_jobs_carry_the_callers_job_group(spark, raw_json_dir, tmp_path):
    """The worker threads inherit the caller's job group, so every
    table's write job is tagged with it."""
    sc = spark.sparkContext
    sc.setJobGroup("sync-under-test", "ingest_from_json_dir")
    try:
        store = CommerceStore(spark, str(tmp_path / "store"))
        ingest_from_json_dir(spark, store, raw_json_dir)
        jobs = sc.statusTracker().getJobIdsForGroup("sync-under-test")
    finally:
        sc._jsc.clearJobGroup()
    assert len(jobs) >= len(EXPECTED_ROWS)

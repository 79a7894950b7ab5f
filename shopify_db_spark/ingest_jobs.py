"""Ingest orchestration: raw Shopify records → normalize → upsert
(the reference's ``shopify-update`` pipeline, SURVEY §3.1).

Two entry modes share all transform/sink code:

* **API mode** — pages stream from the REST client
  (``sources.shopify_api``); each entity's pages accumulate into one
  raw DataFrame per run and merge once per table (vs. the
  reference's per-page upsert — same result, far less write
  amplification);
* **offline mode** — raw JSON-lines files stand in for the API
  (``ingest_from_json_dir``); this is also the test path.

:data:`FAN_OUT` keeps the reference's derived tables: one orders
payload feeds three tables (orders, line_item_products, shipping), a
refunds payload two (refunds, line_item_product_refunds), a products
payload two (products, product_variants). :func:`upsert_entities`
writes every table of one call in one concurrent wave, a thread per
table: each ``CommerceStore.upsert`` reads and swaps only its own
table, so the tables never wait on each other. A failed upsert does
not cancel the others; once every upsert has ended, the first
failure in :data:`FAN_OUT` order is raised. Each table's swap is
atomic and a re-run sync is idempotent, so re-running the batch
repairs a partial sync.
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor
from typing import Callable

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shopify_db_spark.sources import json_ingest as ji
from shopify_db_spark.sources import shopify_api as api
from shopify_db_spark.sources import spark_datasource as dsrc
from shopify_db_spark.sources.store import CommerceStore


def _raw_df(spark: SparkSession, records: list[dict], schema) -> DataFrame:
    lines = [json.dumps(r) for r in records]
    return ji.parse_raw(spark, lines, schema)


#: raw entity → the tables it feeds, each with its normalizer
FAN_OUT: dict[str, tuple[tuple[str, Callable[[DataFrame], DataFrame]], ...]] = {
    "customers": (("customers", ji.normalize_customers),),
    "products": (
        ("products", ji.normalize_products),
        ("product_variants", ji.normalize_product_variants),
    ),
    "orders": (
        ("orders", ji.normalize_orders),
        ("line_item_products", ji.normalize_line_items),
        ("shipping", ji.normalize_shipping),
    ),
    "transactions": (("transactions", ji.normalize_transactions),),
    "refunds": (
        ("refunds", ji.normalize_refunds),
        ("line_item_product_refunds", ji.normalize_refund_line_items),
    ),
}


#: raw entity → the JSON schema its records parse with
RAW_SCHEMAS = {
    "customers": ji.RAW_CUSTOMER,
    "products": ji.RAW_PRODUCT,
    "orders": ji.RAW_ORDER,
    "transactions": ji.RAW_TRANSACTION,
    "refunds": ji.RAW_REFUND,
}


def upsert_entities(store: CommerceStore, raw: dict[str, DataFrame]) -> None:
    """Upsert every table that ``{entity: raw DataFrame}`` feeds, all at
    once, and return when every upsert has ended. Normalizing inside
    the worker overlaps the driver-side plan builds too;
    ``inheritable_thread_target`` gives each worker its own copy of
    the caller's job group and local properties."""
    work = [
        (table, normalize, raw[entity])
        for entity, targets in FAN_OUT.items()
        if entity in raw
        for table, normalize in targets
    ]
    if not work:
        return

    def run(table: str, normalize, df: DataFrame) -> None:
        store.upsert(table, normalize(df))

    with ThreadPoolExecutor(max_workers=len(work)) as pool:
        futures = [
            pool.submit(inheritable_thread_target(store.spark)(run), *job)
            for job in work
        ]
    for future in futures:
        future.result()


def refund_order_ids(store: CommerceStore) -> DataFrame:
    """Orders whose financial_status mentions a refund (reference
    ``shopifydb.py:91-92`` substring filter) — as a DataFrame so the
    per-order refund fetch fans out on executors instead of
    collecting ids to the driver."""
    return (
        store.read("orders")
        .filter(F.col("financial_status").contains("refund"))
        .select("id")
    )


def shopify_update(
    spark: SparkSession,
    store: CommerceStore,
    http_get: api.HttpGet,
    base_url: str,
    created_at_min: str | None = None,
    created_at_max: str | None = None,
    sub_fetch_partitions: int | None = None,
) -> None:
    """Full API sync (reference ``shopifydb.py:56-94``): customers,
    products+variants, orders (3 tables) and per-order transactions
    upsert in one concurrent wave; the per-refund-order refunds follow
    in a second, because :func:`refund_order_ids` reads the committed
    orders table. The per-order fetches fan out on executors
    (``sources.spark_datasource.fetch_sub_resource``);
    ``sub_fetch_partitions`` caps the concurrent task count against
    the store's API rate limit (None = inherit the id frame's
    partitioning)."""
    raw: dict[str, DataFrame] = {}
    for entity, (fields, filter_on_status) in api.ENTITIES.items():
        records = [
            r
            for page in api.fetch_all(
                http_get, base_url, entity, fields,
                filter_on_status=filter_on_status,
                created_at_min=created_at_min, created_at_max=created_at_max,
            )
            for r in page
        ]
        if records:
            raw[entity] = _raw_df(spark, records, RAW_SCHEMAS[entity])

    # Per-order N+1 sub-fetches run as executor tasks over id
    # partitions (mapInPandas) — the order-id sets are never
    # collected to the driver. The sequential reference loop is
    # shopify.py:391-393,438-440.
    client_factory = lambda: (http_get, base_url)  # noqa: E731

    def _sub_fetch(ids: DataFrame, endpoint: str, fields: list[str]) -> DataFrame:
        fetched = dsrc.fetch_sub_resource(
            ids, endpoint, fields, client_factory, num_partitions=sub_fetch_partitions
        ).select("value")
        # One materialization: the HTTP fetch must run exactly once,
        # though the ``isEmpty()`` probe and each table it feeds read
        # the frame (``upsert`` reads its update side once).
        return fetched.persist()

    txns = None
    if "orders" in raw:
        txns = _sub_fetch(raw["orders"].select("id"), "transactions", api.TRANSACTION_FIELDS)
        if not txns.isEmpty():
            raw["transactions"] = ji.parse_raw(spark, txns, ji.RAW_TRANSACTION)
    upsert_entities(store, raw)
    if txns is not None:
        txns.unpersist()

    refunds = _sub_fetch(refund_order_ids(store), "refunds", api.REFUND_FIELDS)
    if not refunds.isEmpty():
        upsert_entities(store, {"refunds": ji.parse_raw(spark, refunds, ji.RAW_REFUND)})
    refunds.unpersist()


def ingest_from_json_dir(spark: SparkSession, store: CommerceStore, json_dir: str) -> None:
    """Offline ingest: ``<entity>.jsonl`` files of raw Shopify records
    (orders.jsonl, customers.jsonl, products.jsonl,
    transactions.jsonl, refunds.jsonl). Reads are schema'd — no
    inference — and every table flows through one
    :func:`upsert_entities` wave, the same normalize/upsert path as
    the API."""
    raw = {}
    for entity, schema in RAW_SCHEMAS.items():
        path = os.path.join(json_dir, f"{entity}.jsonl")
        if os.path.exists(path):
            raw[entity] = spark.read.schema(schema).json(path)
    upsert_entities(store, raw)

"""The Spark 4 Python Data Source for Shopify ingest: date-sliced
partitions, server-side-window emulation in fixture mode, and
end-to-end equivalence with the batch ingest path."""

from __future__ import annotations

import pytest

from shopify_db_spark.sources import shopify_api as api
from shopify_db_spark.sources.spark_datasource import (
    DateSlice,
    ShopifyDataSource,
    ShopifyReader,
    _date_slices,
)


def test_date_slices_cover_and_partition():
    slices = _date_slices("2024-01-01", "2024-01-11", 3)
    assert slices[0].start == "2024-01-01"
    assert slices[-1].end == "2024-01-11"
    # contiguous, non-overlapping
    for a, b in zip(slices, slices[1:]):
        assert a.end == b.start
    # more partitions than days clamps to day count
    assert len(_date_slices("2024-01-01", "2024-01-03", 16)) == 2
    assert len(_date_slices("2024-01-01", "2024-01-01", 4)) == 1


@pytest.mark.parametrize(
    "entity, status", [("orders", "any"), ("customers", "any"), ("products", None)]
)
def test_reader_sends_the_entity_status_filter(monkeypatch, entity, status):
    """A ``format("shopify")`` read sends the same status filter as
    ``shopify_update``: ``status=any`` for orders and customers, none
    for products. In-process: the reader's client is faked, no Spark."""
    sent: list[dict] = []

    def fake_get(url, params):
        sent.append(dict(params))
        return 200, {}, {entity: []}

    monkeypatch.setattr(api, "make_client", lambda *_: (fake_get, "https://x/"))
    reader = ShopifyReader(
        {"entity": entity, "store": "s", "api_key": "k", "api_password": "p"}
    )
    assert list(reader.read(DateSlice("2024-01-01", "2024-02-01"))) == []
    assert len(sent) == 1
    assert sent[0].get("status") == status
    assert sent[0]["created_at_min"] == "2024-01-01"
    assert sent[0]["fields"] == ",".join(api.ENTITIES[entity][0])


@pytest.fixture(scope="module")
def fixture_dir(spark, tmp_path_factory):
    from tests.test_ingest import fixtures_to_raw_json

    d = tmp_path_factory.mktemp("dsrc")
    fixtures_to_raw_json(d)
    return str(d)


def test_datasource_reads_all_orders(spark, fixture_dir):
    import json

    from shopify_db_spark.sources import json_ingest as ji

    spark.dataSource.register(ShopifyDataSource)
    raw = (
        spark.read.format("shopify")
        .option("entity", "orders")
        .option("fixture_dir", fixture_dir)
        .option("created_at_min", "2024-01-01")
        .option("created_at_max", "2024-02-01")
        .option("num_partitions", "4")
        .load()
    )
    assert raw.rdd.getNumPartitions() == 4
    with open(f"{fixture_dir}/orders.jsonl") as fh:
        expected_ids = {json.loads(l)["id"] for l in fh}
    got_ids = {json.loads(r["value"])["id"] for r in raw.collect()}
    assert got_ids == expected_ids

    # the raw strings flow through the SAME normalize path as files
    orders = ji.normalize_orders(ji.parse_raw(spark, raw.rdd.map(lambda r: r["value"]).collect(), ji.RAW_ORDER))
    assert orders.count() == len(expected_ids)


def test_datasource_window_prunes(spark, fixture_dir):
    spark.dataSource.register(ShopifyDataSource)
    narrow = (
        spark.read.format("shopify")
        .option("entity", "orders")
        .option("fixture_dir", fixture_dir)
        .option("created_at_min", "2024-01-05")
        .option("created_at_max", "2024-01-06")
        .option("num_partitions", "2")
        .load()
    )
    import json

    rows = [json.loads(r["value"]) for r in narrow.collect()]
    assert rows, "expected at least one order on 2024-01-05"
    assert all(r["created_at"][:10] == "2024-01-05" for r in rows)


# ---------------------------------------------------------------- #
# executor-parallel per-order sub-fetch (reference N+1 loop,       #
# shopify.py:391-393,438-440 — here a mapInPandas stage)           #
# ---------------------------------------------------------------- #


def test_fetch_sub_resource_executor_parallel(spark):
    """Ids flow as a DataFrame; every sub-record comes back with its
    order_id injected, one row per record, across >1 partitions."""
    import json

    from shopify_db_spark.sources.spark_datasource import fetch_sub_resource

    base = "https://unit-test.myshopify.com/admin/api/2021-01/"

    def fake_get(url, params):
        oid = int(url.split("/orders/")[1].split("/")[0])
        # two transactions for even ids, one for odd, none for 13
        n = 0 if oid == 13 else (2 if oid % 2 == 0 else 1)
        return 200, {}, {
            "transactions": [{"id": oid * 100 + i, "amount": "1.00"} for i in range(n)]
        }

    ids = spark.range(10, 16).withColumnRenamed("id", "order_id")
    out = fetch_sub_resource(
        ids,
        "transactions",
        ["id", "amount"],
        client_factory=lambda: (fake_get, base),
        id_col="order_id",
        num_partitions=3,
    )
    assert out.rdd.getNumPartitions() == 3
    rows = {(r["order_id"], json.loads(r["value"])["id"]) for r in out.collect()}
    expected = {
        (oid, oid * 100 + i)
        for oid in range(10, 16)
        for i in range(0 if oid == 13 else (2 if oid % 2 == 0 else 1))
    }
    assert rows == expected
    # order_id is injected into the raw JSON payload itself
    sample = json.loads(out.limit(1).collect()[0]["value"])
    assert sample["order_id"] in range(10, 16)


def test_shopify_update_subfetch_never_collects_ids(
    spark, fixture_dir, tmp_path_factory
):
    """Full API sync against a fake HTTP layer: per-order
    transactions/refunds arrive via the executor-parallel stage."""
    import json
    from collections import defaultdict

    from shopify_db_spark import ingest_jobs
    from shopify_db_spark.sources.store import CommerceStore

    base = "https://unit-test.myshopify.com/admin/api/2021-01/"

    def load(entity):
        with open(f"{fixture_dir}/{entity}.jsonl") as fh:
            return [json.loads(l) for l in fh]

    pages = {e: load(e) for e in ("customers", "orders")}
    try:
        pages["products"] = load("products")
    except FileNotFoundError:
        pages["products"] = []
    subs = {"transactions": defaultdict(list), "refunds": defaultdict(list)}
    for e in subs:
        try:
            for rec in load(e):
                subs[e][rec["order_id"]].append(rec)
        except FileNotFoundError:
            pass

    served_pages = set()

    def fake_get(url, params):
        if "/orders/" in url:
            oid = int(url.split("/orders/")[1].split("/")[0])
            endpoint = url.rsplit("/", 1)[1].replace(".json", "")
            return 200, {}, {endpoint: subs[endpoint].get(oid, [])}
        entity = url.rsplit("/", 1)[1].replace(".json", "")
        # single unpaginated page per entity (no Link header);
        # repeat requests return the same page — fetch_all stops on
        # the missing cursor
        served_pages.add(entity)
        return 200, {}, {entity: pages.get(entity, [])}

    store = CommerceStore(spark, str(tmp_path_factory.mktemp("subfetch_store")))
    ingest_jobs.shopify_update(
        spark, store, fake_get, base, sub_fetch_partitions=2
    )

    n_txn = sum(len(v) for v in subs["transactions"].values())
    assert store.read("transactions").count() == n_txn

    # refunds are fetched only for orders whose financial_status
    # mentions a refund (reference shopifydb.py:91-92)
    refund_oids = {
        o["id"] for o in pages["orders"] if "refund" in (o["financial_status"] or "")
    }
    n_refunds = sum(len(subs["refunds"][oid]) for oid in refund_oids)
    assert n_refunds > 0, "fixtures must exercise the refund path"
    assert store.read("refunds").count() == n_refunds
    assert store.read("line_item_product_refunds").count() > 0
    assert {"customers", "orders"} <= served_pages

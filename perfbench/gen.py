"""Seeded input generation for the benchmark.

Two steps:

* :func:`write_source_tables` writes the star-schema parquet tables the
  engine's catalog reads (``orders``, ``lineitem``, ``documents``, ...)
  with the same column names and types as the engine's test data,
  drawn from ``numpy.random.default_rng(seed)``.
  Line numbers run 1..k inside each order, so the commerce mapping's
  line-item id ``l_orderkey * 10 + l_linenumber`` is unique and the
  store's upsert cannot collapse two lines into one.
* :func:`render_orders` / :func:`write_pages` turn the commerce mapping
  layer (the rows of ``plans.commerce.MAPPING_CTES``) into
  Shopify-shaped JSON-lines pages, the shapes ``json_ingest.RAW_*``
  parse, so a sync goes through the real raw-JSON path.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window spark part "
    "group big sort query fast"
).split()
PART_ADJ = "small red blue hot old new large cold".split()
PART_NOUN = "widget bolt gear ring gizmo plate anvil".split()
FIRST_DAY = np.datetime64("1995-01-01", "D")
N_DAYS = int((np.datetime64("2001-08-01", "D") - FIRST_DAY).astype(int)) + 1
EMBED_DIM = 64


def _ts_days(days: np.ndarray) -> pa.Array:
    stamps = (FIRST_DAY + days.astype("timedelta64[D]")).astype("datetime64[us]")
    return pa.array(stamps, type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_source_tables(out_dir: str, seed: int, n_orders: int, n_docs: int = 500) -> None:
    """Write all ten source tables under ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(n_orders // 10, 10)
    n_part = 200
    n_supp = 10

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"], n_cust
        ).tolist(),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(0, 9999, n_supp), 2),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 7, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], n_part
        ).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
    })

    order_days = rng.integers(0, N_DAYS, n_orders)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders).tolist(),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": _ts_days(order_days),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders
        ).tolist(),
    })

    lines_per_order = rng.integers(1, 8, n_orders)
    n_lines = int(lines_per_order.sum())
    l_orderkey = np.repeat(np.arange(n_orders), lines_per_order)
    starts = np.repeat(np.cumsum(lines_per_order) - lines_per_order, lines_per_order)
    l_linenumber = np.arange(n_lines) - starts + 1
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_orderkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_lines), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines), pa.int64()),
        "l_linenumber": pa.array(l_linenumber, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_lines), 2),
        "l_discount": np.round(rng.integers(0, 11, n_lines) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_lines) / 100, 2),
        "l_returnflag": rng.choice(["R", "A", "N"], n_lines).tolist(),
        "l_linestatus": rng.choice(["O", "F"], n_lines).tolist(),
        "l_shipdate": _ts_days(
            np.minimum(order_days[l_orderkey] + rng.integers(1, 90, n_lines), N_DAYS + 90)
        ),
    })

    n_events = 2 * n_docs
    gaps = rng.exponential(30 * 86400e6 / n_events, n_events).astype(np.int64)
    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype(
        "timedelta64[us]"
    )
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n_docs // 30, 5), n_events), pa.int64()),
        "event_type": rng.choice(
            ["signup", "error", "click", "view", "purchase"], n_events
        ).tolist(),
        "value": np.round(rng.exponential(60, n_events) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
    })

    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 90)))))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "zh", "es", "de", "fr"], n_docs).tolist(),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    labels = rng.integers(0, 10, n_docs)
    centroids = rng.normal(0, 1, (10, EMBED_DIM))
    vecs = centroids[labels] + rng.normal(0, 1.5, (n_docs, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_docs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


# --- raw Shopify JSON ------------------------------------------------------

FIRST_STATUS = "paid"
REDELIVERED_STATUS = "refunded"


def _money(v) -> str:
    return f"{v:.2f}"


def _iso(ts) -> str:
    return ts.isoformat()


def _money_set(amount: str) -> dict:
    return {"presentment_money": {"amount": amount, "currency_code": "NOK"}}


@dataclass
class OrderPayload:
    """Every raw record one order contributes to a sync."""

    order_id: int
    day: object
    order: dict
    customer_id: int | None
    transactions: list[dict] = field(default_factory=list)
    refunds: list[dict] = field(default_factory=list)


def render_orders(frames: dict) -> tuple[list[OrderPayload], dict[int, dict]]:
    """Render the mapping layer (pandas frames keyed like
    ``commerce.TABLE_MAP``) as raw Shopify records.

    Returns the per-order payloads sorted by creation time and the
    customer records by id."""
    customers = {
        int(r.id): {
            "id": int(r.id),
            "email": f"customer{int(r.id)}@example.com",
            "first_name": None, "last_name": None, "phone": None,
            "default_address": {"name": r.name, "address1": None, "city": None,
                                "zip": None, "country": "NO", "phone": None},
            "note": None, "total_spent": "0.00", "verified_email": True,
            "accepts_marketing": False,
            "created_at": "1995-01-01T00:00:00", "updated_at": "1995-01-01T00:00:00",
        }
        for r in frames["customers"].itertuples(index=False)
    }
    line_items: dict[int, list[dict]] = {}
    for r in frames["line_item_products"].itertuples(index=False):
        line_items.setdefault(int(r.order_id), []).append({
            "id": int(r.id), "product_id": None, "title": r.title, "sku": r.sku,
            "price": _money(r.unit_price), "quantity": int(r.quantity),
            "vendor": None, "variant_title": r.variant_title, "taxable": True,
            "tax_lines": [], "price_set": _money_set(_money(r.unit_price)),
            "discount_allocations": [{"amount": _money(r.total_discount_amount)}],
        })
    shipping: dict[int, list[dict]] = {}
    for r in frames["shipping"].itertuples(index=False):
        shipping.setdefault(int(r.order_id), []).append({
            "id": int(r.id), "code": None, "price": _money(r.price),
            "discounted_price": _money(r.discounted_price), "title": r.title,
            "source": "shopify", "phone": None, "tax_lines": [],
            "price_set": _money_set(_money(r.price)),
        })
    txns: dict[int, list[dict]] = {}
    for r in frames["transactions"].itertuples(index=False):
        txns.setdefault(int(r.order_id), []).append({
            "id": int(r.id), "order_id": int(r.order_id), "status": r.status,
            "amount": _money(r.amount), "currency": "NOK", "error_code": None,
            "gateway": r.gateway, "kind": r.kind,
            "created_at": _iso(r.processed_at), "processed_at": _iso(r.processed_at),
        })
    refund_items: dict[int, list[dict]] = {}
    for r in frames["line_item_product_refunds"].itertuples(index=False):
        refund_items.setdefault(int(r.refund_id), []).append({
            "id": int(r.id), "quantity": int(r.quantity),
            "subtotal": _money(r.refund_amount),
            "line_item": {"id": int(r.line_item_product_id)},
            "subtotal_set": {"shop_money": {"currency_code": "NOK"}},
        })
    refunds: dict[int, list[dict]] = {}
    for r in frames["refunds"].itertuples(index=False):
        refunds.setdefault(int(r.order_id), []).append({
            "id": int(r.id), "order_id": int(r.order_id), "note": r.note,
            "created_at": _iso(r.created_at), "processed_at": _iso(r.processed_at),
            "transactions": [{"id": int(r.transaction_id)}],
            "refund_line_items": refund_items.get(int(r.id), []),
        })

    payloads = []
    for r in frames["orders"].itertuples(index=False):
        oid = int(r.id)
        lis = line_items.get(oid, [])
        total = sum(float(li["price"]) * li["quantity"] for li in lis)
        payloads.append(OrderPayload(
            order_id=oid,
            day=r.created_at,
            customer_id=None if r.customer_id is None else int(r.customer_id),
            order={
                "id": oid, "name": r.name,
                "customer": None if r.customer_id is None else {"id": int(r.customer_id)},
                "billing_address": None,
                "line_items": lis,
                "shipping_lines": shipping.get(oid, []),
                "total_price": _money(total), "total_line_items_price": _money(total),
                "total_discounts": "0.00", "total_tax": "0.00",
                "taxes_included": True, "currency": "NOK",
                "financial_status": FIRST_STATUS, "fulfillment_status": None,
                "created_at": _iso(r.created_at), "processed_at": _iso(r.processed_at),
                "closed_at": None,
            },
            transactions=txns.get(oid, []),
            refunds=refunds.get(oid, []),
        ))
    payloads.sort(key=lambda p: (p.day, p.order_id))
    return payloads, customers


def write_pages(
    page_dir: str,
    payloads: list[OrderPayload],
    customers: dict[int, dict],
    redelivered: list[OrderPayload] = (),
) -> int:
    """Write one sync's ``<entity>.jsonl`` pages; return the raw bytes.

    ``redelivered`` orders are sent again with a changed
    ``financial_status`` (a frozen column: the store must keep the
    first value)."""
    os.makedirs(page_dir, exist_ok=True)
    orders = [p.order for p in payloads] + [
        {**p.order, "financial_status": REDELIVERED_STATUS} for p in redelivered
    ]
    cust_ids = sorted({p.customer_id for p in payloads if p.customer_id in customers})
    entities = {
        "customers": [customers[c] for c in cust_ids],
        "orders": orders,
        "transactions": [t for p in payloads for t in p.transactions],
        "refunds": [r for p in payloads for r in p.refunds],
    }
    total = 0
    for name, records in entities.items():
        if not records:
            continue
        data = "".join(json.dumps(r) + "\n" for r in records).encode()
        with open(os.path.join(page_dir, f"{name}.jsonl"), "wb") as fh:
            fh.write(data)
        total += len(data)
    return total

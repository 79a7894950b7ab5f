"""Shopify REST Admin API ingest client (reference S1-S3).

Driver-side HTTP with cursor pagination and retry/backoff, kept
deliberately separate from the Spark transforms so tests inject JSON
fixtures in place of the network (SURVEY §7.2 step 4). Differences
from the reference, on purpose:

* the store hostname comes from configuration everywhere — the
  reference hardcodes its own shop in per-order fetches
  (``shopify.py:176``, a bug we don't replicate);
* per-order transaction/refund fetches (the reference's sequential
  N+1 loop, ``shopify.py:391-393,438-440``) go through
  :func:`fetch_single`, which
  ``spark_datasource.fetch_sub_resource`` maps over an order-id
  DataFrame on the executors, so order ids never reach the driver.

``requests`` is imported lazily so the engine works fully offline
(ingest from JSON files) in environments without it.
"""

from __future__ import annotations

import re
import time
from collections.abc import Callable, Iterator

#: retry policy (reference shopify.py:8-11)
MAX_RETRIES = 10
RETRY_WAIT_S = 4.0
RETRY_BACKOFF = 1.5

#: Shopify page-size maximum (reference shopifydb.py:66)
PAGE_LIMIT = 250

HttpGet = Callable[[str, dict], tuple[int, dict, dict]]
"""(url, params) -> (status_code, headers, json_body) — injectable for tests."""


def _requests_get(auth: tuple[str, str]) -> HttpGet:
    import requests  # lazy: offline ingest must not require it

    def get(url: str, params: dict) -> tuple[int, dict, dict]:
        resp = requests.get(url, params=params, auth=auth, timeout=30)
        body = resp.json() if resp.content else {}
        return resp.status_code, dict(resp.headers), body

    return get


def parse_page_cursor(link_header: str | None) -> str | None:
    """Extract the ``page_info`` cursor of the ``rel="next"`` link
    (reference ``shopify.py:96-109`` regex pair)."""
    if not link_header:
        return None
    for part in link_header.split(","):
        rel = re.search(r'rel="(\w+)"', part)
        if rel and rel.group(1) == "next":
            cursor = re.search(r"page_info=([^>&;]+)", part)
            return cursor.group(1) if cursor else None
    return None


def _get_with_retry(http_get: HttpGet, url: str, params: dict) -> tuple[dict, dict]:
    wait = RETRY_WAIT_S
    for attempt in range(MAX_RETRIES + 1):
        status, headers, body = http_get(url, params)
        if status == 200:
            return headers, body
        if attempt == MAX_RETRIES:
            raise RuntimeError(f"GET {url} failed after {MAX_RETRIES} retries: {status}")
        time.sleep(wait)
        wait *= RETRY_BACKOFF
    raise AssertionError("unreachable")


def fetch_all(
    http_get: HttpGet,
    base_url: str,
    resource: str,
    fields: list[str],
    limit: int = PAGE_LIMIT,
    created_at_min: str | None = None,
    created_at_max: str | None = None,
    filter_on_status: bool = True,
) -> Iterator[list[dict]]:
    """Yield record pages of ``resource`` with field projection pushed
    into the request (reference ``shopify.py:112-163``: the API-side
    analogue of column pruning)."""
    url = f"{base_url}{resource}.json"
    page: str | None = None
    while True:
        params: dict = {"limit": limit, "fields": ",".join(fields)}
        if filter_on_status:
            params["status"] = "any"
        if created_at_min:
            params["created_at_min"] = created_at_min
        if created_at_max:
            params["created_at_max"] = created_at_max
        if page:
            # cursor pagination: only limit+fields may accompany page_info
            params = {"limit": limit, "fields": ",".join(fields), "page_info": page}
        headers, body = _get_with_retry(http_get, url, params)
        records = body.get(resource, [])
        if not records:
            return
        yield records
        page = parse_page_cursor(
            headers.get("Link") or headers.get("link")
        )
        if page is None:
            return


def fetch_single(
    http_get: HttpGet,
    base_url: str,
    order_id: int,
    endpoint: str,
    fields: list[str],
) -> dict:
    """Per-order sub-resource fetch (reference ``shopify.py:166-203``,
    minus the hardcoded hostname)."""
    url = f"{base_url}orders/{order_id}/{endpoint}.json"
    _, body = _get_with_retry(http_get, url, {"fields": ",".join(fields)})
    return body


# Field allowlists (reference shopify.py:13-93) — the projection
# pushed to the API.
ORDER_FIELDS = [
    "id", "name", "customer", "billing_address", "line_items",
    "shipping_lines", "total_price", "total_line_items_price",
    "total_discounts", "total_tax", "taxes_included", "currency",
    "financial_status", "fulfillment_status", "created_at",
    "processed_at", "closed_at",
]
CUSTOMER_FIELDS = [
    "id", "email", "first_name", "last_name", "phone",
    "default_address", "note", "total_spent", "verified_email",
    "accepts_marketing", "created_at", "updated_at",
]
PRODUCT_FIELDS = [
    "id", "title", "status", "product_type", "vendor", "variants",
    "created_at", "updated_at",
]
TRANSACTION_FIELDS = [
    "id", "order_id", "status", "amount", "currency", "error_code",
    "gateway", "kind", "created_at", "processed_at",
]
REFUND_FIELDS = [
    "id", "note", "created_at", "processed_at", "transactions",
    "refund_line_items",
]


#: the page-looped entities: entity -> (field allowlist, whether the
#: request sends ``status=any``). Without it the orders endpoint
#: returns open orders only; a product's ``status`` is its own
#: active/archived/draft state, so products send no status filter.
ENTITIES: dict[str, tuple[list[str], bool]] = {
    "customers": (CUSTOMER_FIELDS, True),
    "products": (PRODUCT_FIELDS, False),
    "orders": (ORDER_FIELDS, True),
}


def make_client(store: str, api_key: str, api_password: str) -> tuple[HttpGet, str]:
    """(http_get, base_url) for a store's Admin API."""
    base_url = f"https://{store}.myshopify.com/admin/api/2021-01/"
    return _requests_get((api_key, api_password)), base_url

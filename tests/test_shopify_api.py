"""Unit tests for the Shopify ingest client (reference S1-S3):
cursor pagination, field-projection params, retry/backoff, and the
concurrent per-order fetch — all against an injected fake HttpGet,
no network, no Spark."""

from __future__ import annotations

import pytest

from shopify_db_spark.sources import shopify_api as api

BASE = "https://test-store.myshopify.com/admin/api/2021-01/"


def test_parse_page_cursor():
    link = (
        '<https://x.myshopify.com/admin/api/2021-01/orders.json'
        '?page_info=prevtok&limit=250>; rel="previous", '
        '<https://x.myshopify.com/admin/api/2021-01/orders.json'
        '?page_info=nexttok&limit=250>; rel="next"'
    )
    assert api.parse_page_cursor(link) == "nexttok"
    assert api.parse_page_cursor('<...page_info=only>; rel="previous"') is None
    assert api.parse_page_cursor(None) is None
    assert api.parse_page_cursor("") is None


def test_fetch_all_paginates_and_projects():
    calls = []

    def fake_get(url, params):
        calls.append((url, dict(params)))
        if params.get("page_info") == "p2":
            return 200, {}, {"orders": [{"id": 3}]}
        return (
            200,
            {"Link": '<https://x/orders.json?page_info=p2&limit=2>; rel="next"'},
            {"orders": [{"id": 1}, {"id": 2}]},
        )

    pages = list(
        api.fetch_all(
            fake_get, BASE, "orders", fields=["id", "name"], limit=2,
            created_at_min="2024-01-01",
        )
    )
    assert [[r["id"] for r in p] for p in pages] == [[1, 2], [3]]
    first, second = calls
    # page 1: projection + status + date window pushed to the request
    assert first[0] == f"{BASE}orders.json"
    assert first[1]["fields"] == "id,name"
    assert first[1]["status"] == "any"
    assert first[1]["created_at_min"] == "2024-01-01"
    # page 2: cursor requests may carry only limit/fields/page_info
    assert second[1] == {"limit": 2, "fields": "id,name", "page_info": "p2"}


def test_fetch_all_stops_on_empty_page():
    def fake_get(url, params):
        return 200, {"Link": '<https://x?page_info=more>; rel="next"'}, {"orders": []}

    assert list(api.fetch_all(fake_get, BASE, "orders", ["id"])) == []


def test_retry_backoff_then_success(monkeypatch):
    sleeps = []
    monkeypatch.setattr(api.time, "sleep", sleeps.append)
    statuses = iter([429, 500, 200])

    def flaky_get(url, params):
        return next(statuses), {}, {"orders": [{"id": 1}]}

    pages = list(api.fetch_all(flaky_get, BASE, "orders", ["id"]))
    assert pages == [[{"id": 1}]]
    # 4s initial wait, x1.5 growth (reference shopify.py:8-11)
    assert sleeps == [4.0, 6.0]


def test_retry_gives_up_after_max(monkeypatch):
    monkeypatch.setattr(api.time, "sleep", lambda s: None)
    n_calls = 0

    def always_503(url, params):
        nonlocal n_calls
        n_calls += 1
        return 503, {}, {}

    with pytest.raises(RuntimeError, match="failed after"):
        list(api.fetch_all(always_503, BASE, "orders", ["id"]))
    assert n_calls == api.MAX_RETRIES + 1


def test_fetch_single_hits_configured_store():
    seen = []

    def fake_get(url, params):
        seen.append(url)
        oid = int(url.split("/orders/")[1].split("/")[0])
        return 200, {}, {"transactions": [{"id": oid * 10, "order_id": oid}]}

    out = {
        oid: api.fetch_single(
            fake_get, BASE, oid, "transactions", ["id", "order_id"]
        )
        for oid in (11, 12, 13)
    }
    assert out[11] == {"transactions": [{"id": 110, "order_id": 11}]}
    # every URL targets the configured store, never a hardcoded one
    # (reference bug shopify.py:176 not replicated)
    assert all(u.startswith(BASE) for u in seen)

"""Golden differential tests for the invoice pipeline.

The expected-semantics spec is an *independent* DuckDB SQL rendering
of the reference view (``/root/reference/setup.sql:192-394`` +
``db.py:409-483``) with the engine's documented deterministic
tie-breaks. Spark pipeline and DuckDB SQL read byte-identical
fixture parquet; results must match exactly.
"""

from __future__ import annotations

import duckdb
import pytest

from shopify_db_spark.plans.invoice import build_invoices, tripletex_invoice
from shopify_db_spark.plans.invoice_oracle import render_invoice_oracle
from shopify_db_spark.testing import compare_frames
from tests.commerce_fixtures import build_tables, write_fixture_parquet

FROM_DATE, TO_DATE, START_ID = "2024-01-01", "2024-01-31", 1000


@pytest.fixture(scope="module")
def fixture_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("commerce"))
    write_fixture_parquet(spark, out)
    return out


@pytest.fixture(scope="module")
def oracle_con(fixture_dir):
    con = duckdb.connect()
    for t in [
        "customers", "orders", "line_item_products", "transactions",
        "shipping", "refunds", "line_item_product_refunds", "discounts",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture_dir}/{t}.parquet/*.parquet')"
        )
    yield con
    con.close()


# The two narrower windows cut between #1004's refunds (01-09 and
# 01-12): only the line side is unfiltered, so the #1004-1 group keeps
# all three refund lines under one invoice number in every window.
@pytest.mark.parametrize(
    "window",
    [
        (FROM_DATE, TO_DATE),
        ("2024-01-10", "2024-01-31"),
        ("2024-01-01", "2024-01-10"),
    ],
    ids=["month", "after_first_refund", "before_second_refund"],
)
def test_invoice_pipeline_matches_oracle(spark, oracle_con, window):
    from_date, to_date = window
    oracle = oracle_con.execute(
        render_invoice_oracle(from_date, to_date, START_ID)
    ).df()
    tables = build_tables(spark)
    result = build_invoices(tables, from_date, to_date, START_ID)
    # Cast money decimals to double for the comparison (DuckDB emits
    # doubles after its double-division paths).
    from pyspark.sql import functions as F

    result = result.select(
        *[
            F.col(c).cast("double").alias(c)
            if c in ("PAID AMOUNT", "ORDER LINE - UNIT PRICE", "ORDER LINE - DISCOUNT")
            else F.col(c)
            for c in result.columns
        ]
    ).toPandas()
    problems = compare_frames(result, oracle)
    assert not problems, "; ".join(problems)
    refund = result[result["ORDER NO"] == "#1004-1"]
    assert len(refund) == 3 and refund["INVOICE NO"].nunique() == 1


def test_invoice_semantic_spot_checks(spark):
    tables = build_tables(spark)
    view = tripletex_invoice(tables)
    rows = view.collect()
    by_order = {}
    for r in rows:
        by_order.setdefault(r["ORDER NO"], []).append(r)

    # #1001: two identical line items collapse to ONE product line
    # (UNION DISTINCT caveat) + 1 distinct-valued line + 1 shipping.
    o1001 = by_order["#1001"]
    prods = [r for r in o1001 if r["ORDER LINE - PROD NO"] not in ("SHIPPING",)]
    assert len(prods) == 2
    assert len([r for r in o1001 if r["ORDER LINE - PROD NO"] == "SHIPPING"]) == 1

    # #1002: top transaction is the lowest-id capture (202); exactly
    # one shipping line survives dedup — the lowest shipping id (302,
    # the Express row, price 99, 20.20% discount).
    o1002 = by_order["#1002"]
    assert all(r["transaction_id"] == 202 for r in o1002)
    ship = [r for r in o1002 if r["ORDER LINE - PROD NO"] == "SHIPPING"]
    assert len(ship) == 1
    assert float(ship[0]["ORDER LINE - UNIT PRICE"]) == 99.00
    assert float(ship[0]["ORDER LINE - DISCOUNT"]) == 20.20

    # #1003: gift-card line is negative and tied to the real payment.
    gift = [r for r in by_order["#1003"] if r["ORDER LINE - PROD NO"] == "GIFTCARD"]
    assert len(gift) == 1
    assert float(gift[0]["ORDER LINE - UNIT PRICE"]) == -50.00
    assert float(gift[0]["PAID AMOUNT"]) == 100.00
    assert gift[0]["PAYMENT TYPE"] == "vipps"

    # #1004 refunds: pseudo order number, negative amounts, fallbacks.
    refunds = by_order["#1004-1"]
    assert len(refunds) == 3
    no_items = [r for r in refunds if r["ORDER LINE - PROD NAME"] is None]
    assert len(no_items) == 1
    assert float(no_items[0]["PAID AMOUNT"]) == -60.00
    assert no_items[0]["ORDER LINE - DESCRIPTION"] == "Refund with unspecified reason"
    scarf = [r for r in refunds if r["ORDER LINE - PROD NAME"] == "Scarf - "]
    assert len(scarf) == 1  # Postgres CONCAT-with-NULL parity ('Title - ')

    # #1005: guest order → NULL customer; zero-price shipping →
    # discount 0 via the NULLIF guard (not a division error).
    o1005 = by_order["#1005"]
    assert all(r["CUSTOMER NO"] is None for r in o1005)
    ship5 = [r for r in o1005 if r["ORDER LINE - PROD NO"] == "SHIPPING"][0]
    assert float(ship5["ORDER LINE - DISCOUNT"]) == 0.0

    # 13-digit customer id truncates to last 9 digits.
    assert by_order["#1001"][0]["CUSTOMER NO"] == 567890123


def test_union_all_is_union_distinct(spark):
    """The per-branch dedup + UNION ALL realisation of the view must
    leave nothing for a global DISTINCT to collapse (the collapse-
    exactly-enough direction is the oracle test above, whose fixture
    plants duplicate line items in #1001). Together the two assert
    equivalence with a literal 4-way UNION DISTINCT."""
    tables = build_tables(spark)
    view = tripletex_invoice(tables)
    assert view.count() == view.distinct().count()


def test_null_order_no_group_emits_padded_line(spark):
    """An order with a NULL name (or a payment transaction whose
    order is missing) forms a NULL-keyed group; the reference's
    RIGHT JOIN emits it as one null-padded line with its own invoice
    number — replicated by the explicit null-key path."""
    from pyspark.sql import functions as F

    tables = dict(build_tables(spark))
    baseline = build_invoices(tables, FROM_DATE, TO_DATE, START_ID).collect()
    # Strip the name from order 1001: its product/shipping lines get a
    # NULL ORDER NO and drop out of the equi-join, and the NULL group
    # surfaces as exactly one null-padded numbered line.
    tables["orders"] = tables["orders"].withColumn(
        "name", F.when(F.col("id") == 11, F.lit(None)).otherwise(F.col("name"))
    )
    out = build_invoices(tables, FROM_DATE, TO_DATE, START_ID).collect()
    padded = [r for r in out if r["ORDER NO"] is None]
    assert len(padded) == 1
    assert padded[0]["INVOICE NO"] is not None
    assert padded[0]["CUSTOMER NAME"] is None and padded[0]["PAID AMOUNT"] is None
    # NULL sorts first in the numbering order -> it takes the start id.
    assert padded[0]["INVOICE NO"] == START_ID
    # Everything not belonging to #1001 is unaffected except numbering.
    kept = {r["ORDER NO"] for r in out if r["ORDER NO"] is not None}
    base_keys = {r["ORDER NO"] for r in baseline if r["ORDER NO"] != "#1001"}
    assert kept == base_keys

"""The 8-check validation suite against the engineered fixtures —
each fixture scenario trips exactly the checks it was designed to
trip (FIXTURES.md scenario list) — plus hand-built frames that pin
the edge semantics: samples past ``SAMPLE``, gap ranges, null order
numbers, empty input, huge sequence gaps and the gateway allowlist."""

from __future__ import annotations

import uuid
from datetime import date
from decimal import Decimal as D

import pytest

from shopify_db_spark.plans.invoice import build_invoices
from shopify_db_spark.plans.verify_invoices import (
    SAMPLE,
    replace_invoice_gateway,
    verify_invoices,
)
from shopify_db_spark.sources.csv_io import INVOICE_CSV_SCHEMA
from tests.commerce_fixtures import build_tables

CHECK_NAMES = [
    "refunds",
    "gift_cards",
    "order_no",
    "invoice_no",
    "none_values",
    "description_or_sku",
    "price",
    "unknown_gateway",
]


@pytest.fixture(scope="module")
def invoices(spark):
    df = build_invoices(build_tables(spark), "2024-01-01", "2024-01-31", 1000)
    df.cache().count()
    yield df
    df.unpersist()


def _line(order_no, invoice_no, **overrides):
    """One well-formed invoice line (passes every check on its own);
    keyword overrides use the CSV column name with spaces and dashes
    folded to underscores, e.g. ``ORDER_LINE_PROD_NO``."""
    row = {
        "CUSTOMER NO": 1,
        "ORDER NO": order_no,
        "PAID AMOUNT": D("100.00"),
        "ORDER LINE - COUNT": 1,
        "ORDER LINE - UNIT PRICE": D("100.00"),
        "ORDER LINE - VAT CODE": 3,
        "PAYMENT TYPE": "vipps",
        "INVOICE DATE": date(2024, 1, 31),
        "DELIVERY DATE": date(2024, 1, 31),
        "ORDER DATE": date(2024, 1, 2),
        "DUE DATE": date(2024, 2, 14),
        "INVOICE NO": invoice_no,
        "CUSTOMER NAME": "Alice Ask",
        "ORDER LINE - PROD NAME": "Sweater",
        "ORDER LINE - DISCOUNT": None,
        "ORDER LINE - DESCRIPTION": "Wool",
        "ORDER LINE - PROD NO": "SKU-1",
    }
    folded = {c.replace(" - ", "_").replace(" ", "_"): c for c in row}
    for key, value in overrides.items():
        row[folded[key]] = value
    return tuple(row[f.name] for f in INVOICE_CSV_SCHEMA.fields)


def _frame(spark, lines):
    return spark.createDataFrame(lines, INVOICE_CSV_SCHEMA)


def _by_name(report):
    assert [c.name for c in report.checks] == CHECK_NAMES
    return {c.name: c for c in report.checks}


def test_verify_report(invoices):
    report = verify_invoices(invoices, gateways=["vipps", "stripe"])
    results = {c.name: c for c in report.checks}

    assert not report.passed
    # review-flag checks (refund + gift-card orders exist by design)
    assert not results["refunds"].passed
    assert results["refunds"].sample == ["#1004-1"]
    assert not results["gift_cards"].passed
    assert results["gift_cards"].sample == ["#1003"]
    # missing #1006 in the order sequence
    assert not results["order_no"].passed
    assert results["order_no"].sample == [1006]
    # invoice numbers are consecutive by construction
    assert results["invoice_no"].passed
    # guest order → CUSTOMER NO null (required)
    assert not results["none_values"].passed
    assert "#1005" in results["none_values"].sample
    # custom item with NULL sku and NULL description
    assert not results["description_or_sku"].passed
    assert "#1002" in results["description_or_sku"].sample
    # mispriced order
    assert not results["price"].passed
    assert "#1008" in [s[0] for s in results["price"].sample]
    # unknown gateway ('manual' on the guest order)
    assert not results["unknown_gateway"].passed
    assert ("#1005", "manual") in results["unknown_gateway"].sample

    assert report.n_refund_orders == 1
    assert report.n_ordinary_orders == 7


def test_gateway_allowlist_none_skips_check(invoices):
    report = verify_invoices(invoices, gateways=None)
    results = {c.name: c for c in report.checks}
    assert results["unknown_gateway"].passed


def test_replace_invoice_gateway(invoices):
    renamed = replace_invoice_gateway(invoices, {"vipps": "VIPPS AS", "manual": "Manual"})
    types = {r[0] for r in renamed.select("PAYMENT TYPE").distinct().collect()}
    assert "vipps" not in types and "VIPPS AS" in types and "Manual" in types
    assert "stripe" in types


def test_invoice_numbers_consecutive_from_start(invoices):
    nums = sorted(
        r[0] for r in invoices.select("INVOICE NO").distinct().collect()
    )
    assert nums == list(range(1000, 1008))


def test_verify_job_budget(spark, invoices):
    """The whole suite, with seven of eight checks failing, stays
    within a fixed number of Spark jobs: one pass over the lines, one
    aggregate, and one sample job per failing check."""
    sc = spark.sparkContext
    group = f"verify-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "verify_invoices job budget")
    try:
        report = verify_invoices(invoices, ["vipps", "stripe"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sum(not c.passed for c in report.checks) == 7
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 20, jobs


def test_huge_sequence_gap_is_counted_not_materialized(spark):
    """Two orders numbered #1 and #2000000000: the gap count is exact
    and the sample lists the first missing numbers, without building
    the two-billion-element missing set."""
    df = _frame(spark, [_line("#1", 1), _line("#2000000000", 2_000_000_000)])
    results = _by_name(verify_invoices(df, ["vipps"]))
    for name, describe in (
        ("order_no", "missing order numbers"),
        ("invoice_no", "missing invoice numbers"),
    ):
        check = results[name]
        assert not check.passed
        assert check.n_offenders == 1_999_999_998
        assert check.sample == list(range(2, 52))
        assert check.message == (
            f"{describe}: 1999999998 offender(s), e.g. {list(range(2, 12))}"
        )
    assert all(results[n].passed for n in CHECK_NAMES if n not in ("order_no", "invoice_no"))


def test_more_offenders_than_sample(spark):
    """Past ``SAMPLE`` offenders the count stays exact and the sample
    is the first ``SAMPLE`` offenders in sort order."""
    orders = [f"#{n}" for n in range(1000, 1060)]
    lines = []
    for i, order in enumerate(orders):
        # paid 100 against two 100.00 lines: 100 % over the 1 % tolerance
        lines.append(_line(order, i + 1, ORDER_LINE_PROD_NO="GIFTCARD", PAYMENT_TYPE="zz1"))
        lines.append(_line(order, i + 1, PAYMENT_TYPE="zz2"))
    results = _by_name(verify_invoices(_frame(spark, lines), ["vipps"]))

    gift = results["gift_cards"]
    assert (gift.passed, gift.n_offenders) == (False, 60)
    assert gift.sample == orders[:SAMPLE]
    assert gift.message == f"gift-card orders present: 60 offender(s), e.g. {orders[:10]}"

    price = results["price"]
    assert (price.passed, price.n_offenders) == (False, 60)
    assert price.sample == [(o, D("100.000000")) for o in orders[:SAMPLE]]
    assert price.message == (
        "orders with >1% paid-vs-lines deviation: 60 offender(s), e.g. "
        + repr([(o, D("100.000000")) for o in orders[:10]])
    )

    gateway = results["unknown_gateway"]
    pairs = [(o, g) for o in orders for g in ("zz1", "zz2")]
    assert (gateway.passed, gateway.n_offenders) == (False, 120)
    assert gateway.sample == pairs[:SAMPLE]

    for name in ("refunds", "order_no", "invoice_no", "none_values", "description_or_sku"):
        assert results[name].passed and results[name].n_offenders == 0


def test_gap_ranges_cross_sample_boundary(spark):
    """Several gap ranges whose missing numbers run past ``SAMPLE``:
    the sample walks the ranges in order and stops at ``SAMPLE``. A
    refund-only order number neither fills nor extends the order
    sequence."""
    lines = [
        _line("#1", 5),
        _line("#20", 6),
        _line("#40", 10),
        _line("#70", 30),
        _line("#100", 31),
        _line("#150", 90, PAID_AMOUNT=D("-10.00"), ORDER_LINE_COUNT=-1,
              ORDER_LINE_UNIT_PRICE=D("10.00")),
    ]
    report = verify_invoices(_frame(spark, lines), ["vipps"])
    results = _by_name(report)

    order_no = results["order_no"]
    assert (order_no.passed, order_no.n_offenders) == (False, 95)
    assert order_no.sample == (
        list(range(2, 20)) + list(range(21, 40)) + list(range(41, 54))
    )
    invoice_no = results["invoice_no"]
    assert (invoice_no.passed, invoice_no.n_offenders) == (False, 80)
    assert invoice_no.sample == [7, 8, 9] + list(range(11, 30)) + list(range(32, 60))
    assert invoice_no.message == (
        "missing invoice numbers: 80 offender(s), e.g. [7, 8, 9, 11, 12, 13, 14, 15, 16, 17]"
    )

    refunds = results["refunds"]
    assert (refunds.passed, refunds.n_offenders, refunds.sample) == (False, 1, ["#150"])
    assert refunds.message == "refund orders present: 1 offender(s), e.g. ['#150']"
    assert (report.n_refund_orders, report.n_ordinary_orders) == (1, 5)


def test_null_order_number(spark):
    """A line without an ORDER NO forms its own (null) order group in
    the per-order checks and sorts first, but is not counted as an
    ordinary or refund order."""
    lines = [
        _line(None, 3, PAID_AMOUNT=D("0.00")),
        _line("#1", 1),
        _line("#2", 2, PAID_AMOUNT=D("-5.00")),
        # the empty string normalizes to null (reference F17)
        _line("", 3, PAID_AMOUNT=D("0.00"), PAYMENT_TYPE="manual"),
    ]
    report = verify_invoices(_frame(spark, lines), ["vipps"])
    results = _by_name(report)

    refunds = results["refunds"]
    assert (refunds.n_offenders, refunds.sample) == (2, [None, "#2"])
    price = results["price"]
    assert (price.n_offenders, price.sample) == (
        2,
        [(None, D("200.000000")), ("#2", D("105.000000"))],
    )
    assert price.message == (
        "orders with >1% paid-vs-lines deviation: 2 offender(s), "
        "e.g. [(None, Decimal('200.000000')), ('#2', Decimal('105.000000'))]"
    )
    none_values = results["none_values"]
    assert (none_values.passed, none_values.n_offenders) == (False, 2)
    assert none_values.sample == [None]
    assert none_values.message == "required column ORDER NO is missing for 1 order(s), e.g. [None]"
    gateway = results["unknown_gateway"]
    assert (gateway.n_offenders, gateway.sample) == (1, [(None, "manual")])
    assert results["order_no"].passed and results["invoice_no"].passed
    assert (report.n_refund_orders, report.n_ordinary_orders) == (1, 1)


def test_empty_frame_passes_every_check(spark):
    report = verify_invoices(_frame(spark, []), ["vipps"])
    assert report.passed
    for check in report.checks:
        assert (check.passed, check.n_offenders, check.sample, check.message) == (
            True, 0, [], ""
        )
    assert [c.name for c in report.checks] == CHECK_NAMES
    assert (report.n_refund_orders, report.n_ordinary_orders) == (0, 0)


def test_gateways_none_versus_empty_allowlist(spark):
    """``None`` skips the gateway check; an empty allowlist flags every
    non-null payment type."""
    lines = [
        _line("#1", 1),
        _line("#2", 2, PAYMENT_TYPE="stripe"),
        _line("#3", 3, PAYMENT_TYPE=None),
    ]
    df = _frame(spark, lines)
    skipped = _by_name(verify_invoices(df, None))["unknown_gateway"]
    assert (skipped.passed, skipped.n_offenders, skipped.sample, skipped.message) == (
        True, 0, [], ""
    )
    flagged = _by_name(verify_invoices(df, []))["unknown_gateway"]
    assert (flagged.passed, flagged.n_offenders) == (False, 2)
    assert flagged.sample == [("#1", "vipps"), ("#2", "stripe")]
    assert flagged.message == (
        "unknown payment gateways: 2 offender(s), e.g. [('#1', 'vipps'), ('#2', 'stripe')]"
    )


def test_price_tolerance_is_exact_at_one_percent(spark):
    """A deviation of exactly 1 % of the paid amount passes and one
    just above it fails. 1 % of 0.35 is a case where the double
    product ``0.35 * 0.01`` rounds below the decimal 0.0035."""
    paid = {"PAID_AMOUNT": D("0.35"), "ORDER_LINE_UNIT_PRICE": D("0.35")}
    lines = [
        _line("#1", 1, ORDER_LINE_DISCOUNT=D("1.00"), **paid),
        _line("#2", 2, ORDER_LINE_DISCOUNT=D("1.01"), **paid),
    ]
    price = _by_name(verify_invoices(_frame(spark, lines)))["price"]
    assert (price.n_offenders, price.sample) == (1, [("#2", D("0.003535"))])

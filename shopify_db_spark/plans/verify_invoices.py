"""The invoice validation suite — the reference's runtime-correctness
mechanism (``tripletex.py:204-242``), re-expressed as distributed
Spark checks.

Each check mirrors one of the 8 pandas checks (SURVEY §2.10 V1-V8).
The lines are read once: one grouping-sets aggregate yields a row per
order (V1, V2, V5-V7), per order number (V3), per invoice number (V4)
and per (order, unknown gateway) pair (V8), local-checkpointed so
every later job plans against a leaf scan, not the caller's invoice
plan. One aggregate over it gives every exact offender count; its
rows are distinct, so a sequence gap is ``max - min + 1 - count``,
counted and never materialized. That count pass,
:func:`check_groups` then :func:`offender_totals`, is what catalog
query q61 runs under the DuckDB oracle gate. Only a failing check
runs a job for its bounded sample. Jobs run in sequence: each is
tiny, so scheduler overhead dominates (a thread pool measured
20-30 % slower).

Deviations (documented):

* ``_none_values`` in the reference returns the status of only the
  *last* required field checked (``tripletex.py:42`` — a bug); here
  the check fails if ANY required field has nulls, while the warning
  output per field is preserved.
* ``_price`` uses ``max`` instead of pandas' frame-order-dependent
  ``first`` for the per-order paid amount (all payment-group rows
  share it; refund groups don't, and ``max`` is deterministic), and
  tests the 1 % tolerance as ``100 * diff > |paid|`` in decimals, so
  a deviation of exactly 1 % never flags on a float rounding.
* every sample lists the first offenders in sort order, so the
  per-field ``none_values`` samples are sorted by ORDER NO.
"""

from __future__ import annotations

import itertools
import logging
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Row, Window
from pyspark.sql import functions as F

from shopify_db_spark.schemas import INVOICE_REQUIRED_FIELDS

log = logging.getLogger(__name__)

#: max offenders listed in a warning message (full count still reported)
SAMPLE = 50

#: the eight checks, in report order
CHECKS = (
    "refunds",
    "gift_cards",
    "order_no",
    "invoice_no",
    "none_values",
    "description_or_sku",
    "price",
    "unknown_gateway",
)

#: the grouping sets of the pass over the lines, by the kind of row
#: each yields; ``order_n`` is the '#'-stripped ORDER NO of a
#: non-refund line (V3), ``gateway`` a payment type off the allowlist
_KEYS = ("ORDER NO", "order_n", "invoice_n", "gateway")
_SETS = {
    "order": ("ORDER NO",),
    "order_n": ("order_n",),
    "invoice_n": ("invoice_n",),
    "gateway": ("ORDER NO", "gateway"),
}
#: Spark's ``grouping_id()`` of each set: bit ``len(_KEYS) - 1 - i``
#: is set when ``_KEYS[i]`` is not grouped
_GROUPING_ID = {
    kind: sum(1 << (len(_KEYS) - 1 - i) for i, k in enumerate(_KEYS) if k not in keys)
    for kind, keys in _SETS.items()
}


@dataclass
class CheckResult:
    name: str
    passed: bool
    n_offenders: int
    sample: list = field(default_factory=list)
    message: str = ""


@dataclass
class VerificationReport:
    checks: list[CheckResult]
    n_ordinary_orders: int = 0
    n_refund_orders: int = 0

    @property
    def passed(self) -> bool:
        return all(c.passed for c in self.checks)


def _is(kind: str) -> Column:
    return F.col("grouping_id") == _GROUPING_ID[kind]


def check_groups(df: DataFrame, gateways: list[str] | None) -> DataFrame:
    """The lineage-free one-pass aggregate over the lines, after empty
    strings normalize to null (F17). An ``order`` row (a null ORDER NO
    is one order) carries the V1/V2/V6 flags, the V7 ``diff`` and
    ``price``, and for V5 its count of null required cells and the
    bit set of required fields null on any of its lines."""
    string_cols = {f.name for f in df.schema.fields if f.dataType.simpleString() == "string"}
    normalized = df.select(
        *[
            F.nullif(F.col(c), F.lit("")).alias(c) if c in string_cols else F.col(c)
            for c in df.columns
        ]
    )
    paid = F.col("PAID AMOUNT")
    prod_no = F.col("ORDER LINE - PROD NO")
    gateway = F.col("PAYMENT TYPE")
    unknown = ~gateway.isin(gateways) if gateways is not None else F.lit(False)
    missing = [F.col(c).isNull() for c in INVOICE_REQUIRED_FIELDS]
    keyed = normalized.select(
        "*",
        F.when(paid >= 0, F.substring(F.col("ORDER NO"), 2, 18).cast("int")).alias("order_n"),
        F.col("INVOICE NO").cast("int").alias("invoice_n"),
        F.when(unknown, gateway).alias("gateway"),
    )
    # V7 (tripletex.py:102-125): the discounted line total
    line_total = (
        F.col("ORDER LINE - COUNT")
        * F.col("ORDER LINE - UNIT PRICE")
        * (F.lit(100) - F.coalesce(F.col("ORDER LINE - DISCOUNT"), F.lit(0).cast("decimal(18,2)")))
        / F.lit(100)
    )
    diff = F.abs(F.col("paid_amount") - F.col("lineitems_total"))
    return (
        keyed.groupingSets(list(_SETS.values()), *_KEYS)
        .agg(
            F.grouping_id().alias("grouping_id"),
            F.bool_or(paid <= 0).alias("refunds"),
            F.bool_or(prod_no == "GIFTCARD").alias("gift_cards"),
            F.bool_or(prod_no.isNull() & F.col("ORDER LINE - DESCRIPTION").isNull()).alias(
                "description_or_sku"
            ),
            F.bool_or(paid < 0).alias("has_refund"),
            F.bool_or(paid >= 0).alias("has_ordinary"),
            F.max(paid).alias("paid_amount"),
            F.sum(line_total).alias("lineitems_total"),
            F.sum(sum(m.cast("int") for m in missing)).alias("null_cells"),
            F.bit_or(sum(F.when(m, 1 << i).otherwise(0) for i, m in enumerate(missing))).alias(
                "null_fields"
            ),
        )
        .withColumn("diff", diff)
        .withColumn("price", F.col("diff") * 100 > F.abs(F.col("paid_amount")))
        .localCheckpoint()
    )


def offender_totals(groups: DataFrame) -> Row:
    """Every check's exact offender count and the two order counts, in
    one aggregate over ``groups``."""

    def orders(flag: Column) -> Column:
        return F.count_if(_is("order") & flag)

    def gap_count(key: str) -> Column:
        # the rows of one set hold distinct values, both ends observed
        n = F.when(_is(key), F.col(key))
        return F.coalesce(F.max(n).cast("long") - F.min(n) + 1 - F.count(n), F.lit(0))

    keyed = F.col("ORDER NO").isNotNull()
    flags = ("refunds", "gift_cards", "description_or_sku", "price")
    return groups.agg(
        *[orders(F.col(c)).alias(c) for c in flags],
        orders(keyed & F.col("has_refund")).alias("n_refund"),
        orders(keyed & F.col("has_ordinary")).alias("n_ordinary"),
        gap_count("order_n").alias("order_no"),
        gap_count("invoice_n").alias("invoice_no"),
        F.count_if(_is("gateway") & F.col("gateway").isNotNull()).alias("unknown_gateway"),
        F.coalesce(F.sum(F.when(_is("order"), F.col("null_cells"))), F.lit(0)).alias("none_values"),
    ).collect()[0]


def _first(groups: DataFrame, kind: str, flag: Column, *cols: str) -> list:
    """The first ``SAMPLE`` ``kind`` rows with ``flag``, sorted by
    ``cols`` (nulls first), as a bare value or as a tuple."""
    rows = groups.filter(_is(kind) & flag).select(*cols).orderBy(*cols).limit(SAMPLE).collect()
    return [r[0] if len(r) == 1 else tuple(r) for r in rows]


def _first_missing(groups: DataFrame, key: str) -> list[int]:
    """The first ``SAMPLE`` integers missing strictly inside [min, max]
    of the ``key`` rows, read off the gaps between consecutive observed
    values (the reference's ``range(min+1, max)`` set difference,
    ``tripletex.py:73-76``)."""
    n = F.col(key).cast("long")
    gaps = (
        groups.filter(_is(key) & n.isNotNull())
        .select(F.lag(n).over(Window.orderBy(n)).alias("lo"), n.alias("hi"))
        .filter(F.col("hi") - F.col("lo") > 1)
        .orderBy("hi")
        .limit(SAMPLE)
        .collect()
    )
    missing = (m for lo, hi in gaps for m in range(lo + 1, hi))
    return list(itertools.islice(missing, SAMPLE))


def _none_values(groups: DataFrame, n_cells: int) -> CheckResult:
    """V5: required fields with nulls, reported per field
    (``tripletex.py:30-42``; reference returns only the last field's
    status — fixed here to fail on any). The count is null cells."""
    if n_cells == 0:
        return CheckResult("none_values", True, 0)
    null_in = [
        F.col("null_fields").bitwiseAND(1 << i) != 0 for i in range(len(INVOICE_REQUIRED_FIELDS))
    ]
    n_orders = groups.agg(*[F.count_if(_is("order") & m) for m in null_in]).collect()[0]
    samples: list = []
    messages: list[str] = []
    for c, n, m in zip(INVOICE_REQUIRED_FIELDS, n_orders, null_in):
        if n:
            sample = _first(groups, "order", m, "ORDER NO")
            samples.extend(sample)
            msg = f"required column {c} is missing for {n} order(s), e.g. {sample[:10]}"
            messages.append(msg)
            log.warning(msg)
    return CheckResult("none_values", False, n_cells, samples, "; ".join(messages))


def replace_invoice_gateway(df: DataFrame, gateway_map: dict[str, str]) -> DataFrame:
    """Rename payment gateways via a mapping (reference
    ``tripletex.py:194-201`` pandas ``replace``) — a chained
    ``when`` so it stays a codegen'd projection, no UDF/join."""
    col = F.col("PAYMENT TYPE")
    expr = col
    for old, new in gateway_map.items():
        expr = F.when(col == old, F.lit(new)).otherwise(expr)
    return df.withColumn("PAYMENT TYPE", expr)


def verify_invoices(
    df: DataFrame, gateways: list[str] | None = None
) -> VerificationReport:
    """Run the full 8-check suite (reference ``verify_invoices``,
    ``tripletex.py:204-242``): empty strings normalize to null first
    (F17), order counts are logged, overall pass = all checks pass.
    """
    groups = check_groups(df, gateways)
    totals = offender_totals(groups)
    log.info(
        "There are %s ordinary orders and %s refund-only orders",
        totals["n_ordinary"],
        totals["n_refund"],
    )

    def check(name: str, describe: str, sample_of) -> CheckResult:
        n = totals[name]
        if n == 0:
            return CheckResult(name, True, 0)
        sample = sample_of()
        msg = f"{describe}: {n} offender(s), e.g. {sample[:10]}"
        log.warning(msg)
        return CheckResult(name, False, n, sample, msg)

    def orders(flag: str, *cols: str):
        return lambda: _first(groups, "order", F.col(flag), "ORDER NO", *cols)

    def missing(key: str):
        return lambda: _first_missing(groups, key)

    checks = [
        # V1 (tripletex.py:128-139): paid amount <= 0, flagged for review
        check("refunds", "refund orders present", orders("refunds")),
        # V2 (tripletex.py:165-177)
        check("gift_cards", "gift-card orders present", orders("gift_cards")),
        # V3 (tripletex.py:65-82), V4 (tripletex.py:85-99)
        check("order_no", "missing order numbers", missing("order_n")),
        check("invoice_no", "missing invoice numbers", missing("invoice_n")),
        _none_values(groups, totals["none_values"]),
        # V6 (tripletex.py:45-62): both PROD NO and DESCRIPTION null
        check(
            "description_or_sku",
            "orders missing both PROD NO and DESCRIPTION",
            orders("description_or_sku"),
        ),
        # V7 (tripletex.py:102-125): paid vs lines deviates > 1 % of paid
        check("price", "orders with >1% paid-vs-lines deviation", orders("price", "diff")),
        # V8 (tripletex.py:142-162): one report per (order, gateway)
        check(
            "unknown_gateway",
            "unknown payment gateways",
            lambda: _first(groups, "gateway", F.col("gateway").isNotNull(), "ORDER NO", "gateway"),
        ),
    ]
    report = VerificationReport(
        checks,
        n_ordinary_orders=totals["n_ordinary"],
        n_refund_orders=totals["n_refund"],
    )
    if report.passed:
        log.info("No irregularities detected in the invoices")
    else:
        log.warning(
            "Invoices contain one or more notices that should be checked manually"
        )
    return report

"""The Tripletex invoice pipeline — the engine's flagship analytical
plan.

Re-expresses the reference's 200-line ``tripletex_invoice`` Postgres
view (``setup.sql:192-394``) and the invoice-numbering query
(``db.py:409-483``) as a composition of DataFrame operators that
Catalyst plans: window ranking → four branch join-chains → a 4-way
UNION DISTINCT → rank dedup → decimal rounding → sequence numbering.

Deliberate, documented deviations from the reference (SURVEY.md §7.4
"determinism" — the reference is nondeterministic at these points,
which a distributed engine cannot afford):

* transaction ranking ties (two transactions of the same kind) break
  by ``t.id`` ascending (reference: arbitrary heap order);
* the one-shipping-line-per-order dedup picks the lowest
  ``shipping.id`` (reference: arbitrary rank-1 row among equal
  invoice dates);
* the vestigial ``discounts`` LEFT JOIN (``setup.sql:280-281,
  323-324``) is omitted: it selects no columns, and every duplicate
  row it fans out is collapsed again by the UNION DISTINCT, so the
  result set is provably identical — while at scale the fan-out
  join would double-shuffle the largest branch for nothing;
* global invoice numbering orders by ``(ORDER NO, payment_tag)``
  (reference: ``ROW_NUMBER() OVER ()`` — whatever order the hash agg
  emits).

Postgres quirks replicated on purpose:

* the inner ``WHERE rank = 1`` of ``shipping_lines``
  (``setup.sql:356``) binds to ``product_lines.rank`` (constant 1) —
  a no-op; the *effective* dedup is the outer ``WHERE rank = 1``
  (``setup.sql:391``), which is what we implement;
* ``CONCAT(title, ' - ', variant_title)`` with a NULL
  ``variant_title`` yields ``'title - '`` in Postgres (CONCAT skips
  NULLs); Spark's ``concat`` returns NULL, so the refund branch
  coalesces the variant title to ``''``;
* UNION is DISTINCT (``setup.sql:381-389``), but the four branches
  are pairwise disjoint — each carries a distinct ``priority``
  literal (1/2/3/4) that survives into the unioned row — so the
  global DISTINCT can only ever collapse duplicates *within* one
  branch. We therefore dedup per-branch at the narrowest point and
  UNION ALL (see :func:`tripletex_invoice` for the per-branch
  argument); at sf0.1 this replaces one 21-column ~650k-row exchange
  with one 8-column exchange on the raw line-item table plus a small
  refund-branch dedup, and at 100 TB it removes the single biggest
  all-data shuffle of the pipeline.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The invoice pipeline reads the two-phase bounds from this module
# (tests patch them here, and perfbench imports them from here); the
# plan-time decision itself lives in ``operators.numbering``.
from shopify_db_spark.operators.numbering import (
    TWO_PHASE_GROUP_ROWS,
    TWO_PHASE_SOURCE_BYTES,
    needs_two_phase,
)


# The branch builders below express every projection as a STRING
# (selectExpr / expr), not as composed Column objects: the plans are
# identical after parsing (same analyzer, same nodes), but one
# selectExpr is ONE py4j round trip where the Column-tree form was
# 30-60 (one per F.col/cast/alias) — measured 4.8 s → ~1.5 s of
# plan-construction time for the full pipeline at any SF, the
# dominant q20 cost at gate SF. Same technique as the simhash/LSH
# string-built signature expressions.
def customer_no_sql(c_id: str) -> str:
    """Tripletex 9-digit customer id: last 9 digits of the Shopify id
    (reference ``setup.sql:220`` — CHAR(12) cast + RIGHT + INT cast).
    """
    return f"CAST(right(CAST({c_id} AS STRING), 9) AS INT)"


def _customer_exprs(c_id: str, c_name: str) -> list[str]:
    return [
        f"{customer_no_sql(c_id)} AS `CUSTOMER NO`",
        f"{c_name} AS `CUSTOMER NAME`",
    ]


def success_transaction_payments(transactions: DataFrame) -> DataFrame:
    """Rank each order's successful non-gift-card payment transactions
    by significance: sale > capture > authorization > other
    (reference ``setup.sql:193-213``). Ties break by transaction id
    (deterministic deviation). One window shuffle on ``order_id``.
    """
    return transactions.filter(
        "status = 'success' AND kind IN ('sale', 'capture', 'authorization')"
        " AND gateway != 'gift_card'"
    ).withColumn(
        "transaction_rank",
        F.expr(
            "row_number() OVER (PARTITION BY order_id ORDER BY"
            " CASE WHEN kind = 'sale' THEN 1 WHEN kind = 'capture' THEN 2"
            " WHEN kind = 'authorization' THEN 3 ELSE 10 END ASC, id ASC)"
        ),
    )


def product_lines(
    stp: DataFrame, orders: DataFrame, customers: DataFrame, line_items: DataFrame
) -> DataFrame:
    """One invoice line per line item of each order's top-ranked
    payment (reference ``setup.sql:247-286``). LEFT joins preserve
    orders with missing customer (guest checkout) or no line items.

    The branch's contribution to the view's UNION DISTINCT is
    realised here as an early dedup of the line-item table on the
    projected attribute set: within one order the rank-1 payment,
    order and customer rows are unique, so two branch rows are equal
    iff their line items agree on every projected attribute. Deduping
    the 8 source columns before the joins is strictly cheaper than
    deduping the 21 derived columns after them (narrower shuffle rows,
    and the discount/name expressions run once per surviving line).
    """
    t = stp.filter("transaction_rank = 1").alias("t")
    o = orders.alias("o")
    c = customers.alias("c")
    # ONE exchange serves both the dedup and the join: two rows
    # equal on the full attribute set
    # necessarily share ``order_id``, so hash-partitioning on
    # ``order_id`` alone satisfies the dedup aggregate's clustering
    # requirement — the explicit repartition replaces the planner's
    # 8-wide-column dedup exchange, and the join on ``order_id``
    # reuses the same partitioning. The ``shuffle_hash`` hint keeps
    # the line-item side out of a driver BROADCAST: under the 64 MB
    # threshold Catalyst's LeftOuter build-right choice collected the
    # whole deduped line-item table to the driver and shipped it to
    # every task (observed BroadcastExchange over 600 k mapped rows
    # at sf0.1 — measured 3.8-4.4 s for the branch vs 2.2-2.8 s with
    # the shuffled hash join) — broadcasting the FACT side is wrong
    # at every scale. The SHJ build side is one partition of deduped
    # line items (bounded by AQE's advisory partition sizing, no
    # sort), the guide's preferred shape when the per-partition build
    # fits memory.
    lip = (
        line_items.repartition(F.col("order_id"))
        .dropDuplicates(
            [
                "order_id",
                "quantity",
                "title",
                "variant_title",
                "total_price",
                "total_discount_amount",
                "unit_price",
                "sku",
            ]
        )
        .hint("shuffle_hash")
        .alias("lip")
    )
    prod_name = (
        "CASE WHEN nullif(lip.title, '') IS NOT NULL"
        " AND nullif(lip.variant_title, '') IS NOT NULL"
        " THEN concat(lip.title, ' - ', lip.variant_title)"
        " WHEN lip.title IS NOT NULL THEN lip.title"
        " ELSE CAST(NULL AS STRING) END"
    )
    # The division operands are narrowed 18,2 → 12,2 so the quotient
    # lands at DECIMAL(27,15) instead of DECIMAL(38,21) — measurably
    # cheaper per row at equal results: the value is rounded to 6 dp
    # downstream, and for money quotients a/b with b < 10^6 the exact
    # quotient can never sit within scale-15 rounding distance
    # (5e-16) of a 6-dp midpoint (min nonzero distance is
    # 1/(2*10^7*100b) > 5e-16), so scale 15 and scale 21 round to the
    # same 6-dp value. Line totals beyond 10^6 would need the wide
    # form back.
    total = "CAST(lip.total_price AS DECIMAL(12,2))"
    disc_amt = "CAST(lip.total_discount_amount AS DECIMAL(12,2))"
    discount_pct = (
        f"100 * (1 - (({total} - {disc_amt})"
        f" / nullif({total}, CAST(0 AS DECIMAL(12,2)))))"
    )
    return (
        t.join(o, F.expr("o.id = t.order_id"), "left")
        .join(c, F.expr("c.id = o.customer_id"), "left")
        .join(lip, F.expr("lip.order_id = o.id"), "left")
        .selectExpr(
            "t.id AS transaction_id",
            "o.id AS order_id",
            "'payment' AS payment_tag",
            *_customer_exprs("c.id", "c.name"),
            "o.name AS `ORDER NO`",
            "t.amount AS `PAID AMOUNT`",
            "lip.quantity AS `ORDER LINE - COUNT`",
            f"{prod_name} AS `ORDER LINE - PROD NAME`",
            "lip.unit_price AS `ORDER LINE - UNIT PRICE`",
            f"{discount_pct} AS `ORDER LINE - DISCOUNT`",
            "3 AS `ORDER LINE - VAT CODE`",
            "CAST(NULL AS STRING) AS `ORDER LINE - DESCRIPTION`",
            "CAST(lip.sku AS STRING) AS `ORDER LINE - PROD NO`",
            "t.gateway AS `PAYMENT TYPE`",
            "to_date(o.created_at) AS `INVOICE DATE`",
            "to_date(t.processed_at) AS `DELIVERY DATE`",
            "to_date(o.created_at) AS `ORDER DATE`",
            "to_date(t.processed_at) AS `DUE DATE`",
            "1 AS rank",
            "1 AS priority",
        )
    )


def gift_card_lines(
    transactions: DataFrame, stp: DataFrame, orders: DataFrame, customers: DataFrame
) -> DataFrame:
    """One negative line per gift-card redemption, attached to the
    order's top-ranked real payment (reference ``setup.sql:215-246``).
    The ``stp.transaction_rank = 1`` predicate lives in WHERE in the
    reference, giving the LEFT JOIN inner semantics — implemented as
    an inner join on the pre-filtered rank-1 payments.
    """
    t = transactions.filter("gateway = 'gift_card'").alias("t")
    o = orders.alias("o")
    c = customers.alias("c")
    stp1 = stp.filter("transaction_rank = 1").alias("stp")
    return (
        t.join(o, F.expr("o.id = t.order_id"), "left")
        .join(c, F.expr("c.id = o.customer_id"), "left")
        .join(stp1, F.expr("stp.order_id = t.order_id"), "inner")
        .selectExpr(
            "t.id AS transaction_id",
            "o.id AS order_id",
            "'payment' AS payment_tag",
            *_customer_exprs("c.id", "c.name"),
            "o.name AS `ORDER NO`",
            "stp.amount AS `PAID AMOUNT`",
            "1 AS `ORDER LINE - COUNT`",
            "'Gift card' AS `ORDER LINE - PROD NAME`",
            "-t.amount AS `ORDER LINE - UNIT PRICE`",
            "CAST(0 AS DECIMAL(18,2)) AS `ORDER LINE - DISCOUNT`",
            "3 AS `ORDER LINE - VAT CODE`",
            "CAST(NULL AS STRING) AS `ORDER LINE - DESCRIPTION`",
            "'GIFTCARD' AS `ORDER LINE - PROD NO`",
            "stp.gateway AS `PAYMENT TYPE`",
            "to_date(o.created_at) AS `INVOICE DATE`",
            "to_date(t.processed_at) AS `DELIVERY DATE`",
            "to_date(o.created_at) AS `ORDER DATE`",
            "to_date(t.processed_at) AS `DUE DATE`",
            "1 AS rank",
            "4 AS priority",
        )
    )


def refund_lines(
    transactions: DataFrame,
    refunds: DataFrame,
    refund_items: DataFrame,
    orders: DataFrame,
    customers: DataFrame,
    line_items: DataFrame,
) -> DataFrame:
    """One negative line per refunded line item (or one per refund
    when no line items were refunded — the COALESCE fallbacks), under
    a ``'#1001-1'`` pseudo order number (reference
    ``setup.sql:287-329``). The line-item join is the composite-key
    join: ``lip.order_id = r.order_id AND lip.id =
    lipr.line_item_product_id``.
    """
    t = transactions.filter("status = 'success' AND kind = 'refund'").alias("t")
    r = refunds.alias("r")
    lipr = refund_items.alias("lipr")
    o = orders.alias("o")
    c = customers.alias("c")
    lip = line_items.alias("lip")
    # Postgres CONCAT skips NULL args: a refunded item with NULL
    # variant_title renders as 'Title - '. Spark concat is
    # NULL-propagating, hence the coalesce.
    prod_name = (
        "CASE WHEN lip.title IS NOT NULL"
        " THEN concat(lip.title, ' - ', coalesce(lip.variant_title, ''))"
        " ELSE CAST(NULL AS STRING) END"
    )
    unit_price = (
        "coalesce(round(lipr.refund_amount / lipr.quantity, 2), t.amount)"
    )
    return (
        t.join(r, F.expr("r.transaction_id = t.id"), "inner")
        .join(lipr, F.expr("lipr.refund_id = r.id"), "left")
        .join(o, F.expr("o.id = t.order_id"), "left")
        .join(c, F.expr("c.id = o.customer_id"), "left")
        .join(
            lip,
            F.expr(
                "lip.order_id = r.order_id"
                " AND lip.id = lipr.line_item_product_id"
            ),
            "left",
        )
        .selectExpr(
            "t.id AS transaction_id",
            "o.id AS order_id",
            "'refund' AS payment_tag",
            *_customer_exprs("c.id", "c.name"),
            "concat(o.name, '-1') AS `ORDER NO`",
            "-coalesce(lipr.refund_amount, t.amount) AS `PAID AMOUNT`",
            "-coalesce(lipr.quantity, 1) AS `ORDER LINE - COUNT`",
            f"{prod_name} AS `ORDER LINE - PROD NAME`",
            f"{unit_price} AS `ORDER LINE - UNIT PRICE`",
            "CAST(0 AS DECIMAL(18,2)) AS `ORDER LINE - DISCOUNT`",
            "3 AS `ORDER LINE - VAT CODE`",
            "coalesce(nullif(r.note, ''), 'Refund with unspecified reason')"
            " AS `ORDER LINE - DESCRIPTION`",
            "CAST(lip.sku AS STRING) AS `ORDER LINE - PROD NO`",
            "t.gateway AS `PAYMENT TYPE`",
            "to_date(r.created_at) AS `INVOICE DATE`",
            "to_date(r.processed_at) AS `DELIVERY DATE`",
            "to_date(o.created_at) AS `ORDER DATE`",
            "to_date(r.processed_at) AS `DUE DATE`",
            "1 AS rank",
            "2 AS priority",
        )
    )


def shipping_lines(product_lines_df: DataFrame, shipping: DataFrame) -> DataFrame:
    """One shipping line per shipped order (reference
    ``setup.sql:330-356``). The reference numbers the
    product_lines × shipping fan-out and keeps rank 1 via the *outer*
    filter (the inner ``WHERE rank = 1`` is a Postgres-scoping no-op,
    ``setup.sql:356`` — see module docstring); every product-line
    column it projects is order-level constant, so we dedup the
    order-level header first (cheaper: the distinct runs before the
    join, not after the fan-out) and rank shipping rows per order by
    (INVOICE DATE, shipping id) for determinism.
    """
    header = product_lines_df.select(
        "transaction_id",
        "order_id",
        "CUSTOMER NO",
        "CUSTOMER NAME",
        "ORDER NO",
        "PAID AMOUNT",
        "PAYMENT TYPE",
        "INVOICE DATE",
        "DELIVERY DATE",
        "ORDER DATE",
        "DUE DATE",
    ).distinct()
    s = shipping.alias("s")
    discount_pct = (
        "coalesce(100 * (1 - (s.discounted_price"
        " / nullif(s.price, CAST(0 AS DECIMAL(18,2))))),"
        " CAST(0 AS DECIMAL(38,15)))"
    )
    return (
        header.alias("pl")
        .join(s, F.expr("s.order_id = pl.order_id"), "inner")
        .selectExpr(
            "pl.transaction_id AS transaction_id",
            "pl.order_id AS order_id",
            "'payment' AS payment_tag",
            "pl.`CUSTOMER NO` AS `CUSTOMER NO`",
            "pl.`CUSTOMER NAME` AS `CUSTOMER NAME`",
            "pl.`ORDER NO` AS `ORDER NO`",
            "pl.`PAID AMOUNT` AS `PAID AMOUNT`",
            "1 AS `ORDER LINE - COUNT`",
            "CAST(NULL AS STRING) AS `ORDER LINE - PROD NAME`",
            "s.price AS `ORDER LINE - UNIT PRICE`",
            f"{discount_pct} AS `ORDER LINE - DISCOUNT`",
            "3 AS `ORDER LINE - VAT CODE`",
            "s.title AS `ORDER LINE - DESCRIPTION`",
            "'SHIPPING' AS `ORDER LINE - PROD NO`",
            "pl.`PAYMENT TYPE` AS `PAYMENT TYPE`",
            "pl.`INVOICE DATE` AS `INVOICE DATE`",
            "pl.`DELIVERY DATE` AS `DELIVERY DATE`",
            "pl.`ORDER DATE` AS `ORDER DATE`",
            "pl.`DUE DATE` AS `DUE DATE`",
            "row_number() OVER (PARTITION BY pl.order_id"
            " ORDER BY pl.`INVOICE DATE` ASC, s.id ASC) AS rank",
            "3 AS priority",
        )
    )


def tripletex_invoice(tables: dict[str, DataFrame]) -> DataFrame:
    """The full invoice view (reference ``setup.sql:192-394``):
    4-way UNION DISTINCT of the branch line sets, rank-1 dedup,
    2-dp HALF_UP money rounding, branch-priority sort columns kept
    for the final cosmetic ordering.

    The UNION DISTINCT is realised as per-branch dedup + UNION ALL,
    which is equivalent because the branches are pairwise disjoint
    (distinct ``priority`` literals in every row) and three of the
    four are duplicate-free *within* the branch too:

    * product lines — deduped at the source (see
      :func:`product_lines`); ``transaction_id`` (unique rank-1
      payment per order) pins rows to one order, so no further
      duplicates exist;
    * shipping lines — ``rank`` is a per-order ``row_number`` and
      ``order_id`` is in the row, so rows are unique; the rank-1
      filter is applied here rather than after the union;
    * gift-card lines — ``transaction_id`` is the gift-card
      transaction's own id, unique per row;
    * refund lines — the one branch that keeps an output
      ``dropDuplicates``: two ``refunds`` rows of one transaction
      with identical notes/dates could collapse in the reference,
      which source-level dedup cannot see.

    Equivalence with a literal 4-way UNION DISTINCT is asserted in
    tests/test_invoice.py.

    Returns the view shape *including* ``payment_tag`` (consumed by
    :func:`assign_invoice_numbers`, dropped from the final output).
    """
    stp = success_transaction_payments(tables["transactions"])
    pl = product_lines(
        stp, tables["orders"], tables["customers"], tables["line_item_products"]
    )
    rl = refund_lines(
        tables["transactions"],
        tables["refunds"],
        tables["line_item_product_refunds"],
        tables["orders"],
        tables["customers"],
        tables["line_item_products"],
    )
    sl = shipping_lines(pl, tables["shipping"])
    gl = gift_card_lines(
        tables["transactions"], stp, tables["orders"], tables["customers"]
    )

    def shape(df: DataFrame) -> DataFrame:
        # Normalize branch column types before the union: money to
        # DECIMAL(18,2) surviving the per-branch expression types,
        # counts to INT.
        return df.selectExpr(
            "CAST(transaction_id AS BIGINT) AS transaction_id",
            "CAST(order_id AS BIGINT) AS order_id",
            "payment_tag",
            "CAST(`CUSTOMER NO` AS INT) AS `CUSTOMER NO`",
            "`CUSTOMER NAME`",
            "`ORDER NO`",
            "CAST(`PAID AMOUNT` AS DECIMAL(18,2)) AS `PAID AMOUNT`",
            "CAST(`ORDER LINE - COUNT` AS INT) AS `ORDER LINE - COUNT`",
            "`ORDER LINE - PROD NAME`",
            "CAST(`ORDER LINE - UNIT PRICE` AS DECIMAL(18,2))"
            " AS `ORDER LINE - UNIT PRICE`",
            "CAST(round(`ORDER LINE - DISCOUNT`, 6) AS DECIMAL(18,6))"
            " AS `ORDER LINE - DISCOUNT`",
            "CAST(`ORDER LINE - VAT CODE` AS INT) AS `ORDER LINE - VAT CODE`",
            "`ORDER LINE - DESCRIPTION`",
            "`ORDER LINE - PROD NO`",
            "`PAYMENT TYPE`",
            "`INVOICE DATE`",
            "`DELIVERY DATE`",
            "`ORDER DATE`",
            "`DUE DATE`",
            "CAST(rank AS INT) AS rank",
            "CAST(priority AS INT) AS priority",
        )

    unioned = (
        shape(pl)
        .unionByName(shape(rl).dropDuplicates())
        .unionByName(shape(sl).filter("rank = 1"))
        .unionByName(shape(gl))
    )
    return unioned.filter("rank = 1").selectExpr(
        "transaction_id",
        "order_id",
        "payment_tag",
        "`CUSTOMER NO`",
        "`CUSTOMER NAME`",
        "`ORDER NO`",
        "CAST(round(`PAID AMOUNT`, 2) AS DECIMAL(18,2)) AS `PAID AMOUNT`",
        "`ORDER LINE - COUNT`",
        "`ORDER LINE - PROD NAME`",
        "CAST(round(`ORDER LINE - UNIT PRICE`, 2) AS DECIMAL(18,2))"
        " AS `ORDER LINE - UNIT PRICE`",
        "CAST(round(`ORDER LINE - DISCOUNT`, 2) AS DECIMAL(18,2))"
        " AS `ORDER LINE - DISCOUNT`",
        "`ORDER LINE - VAT CODE`",
        "`ORDER LINE - DESCRIPTION`",
        "`ORDER LINE - PROD NO`",
        "`PAYMENT TYPE`",
        "`INVOICE DATE`",
        "`DELIVERY DATE`",
        "`ORDER DATE`",
        "`DUE DATE`",
        "priority",
    )


def assign_invoice_numbers(
    invoice_view: DataFrame,
    from_date: datetime.date | str,
    to_date: datetime.date | str,
    invoice_start_id: int,
    two_phase: bool,
) -> DataFrame:
    """Attach one consecutive invoice number per (ORDER NO,
    payment_tag) group with a line in the ``INVOICE DATE`` window to
    the invoice lines, starting at ``invoice_start_id`` (reference
    ``db.py:409-483``). As in the reference, the groups are the
    distinct keys of the date-filtered view lines themselves, so
    ``invoice_view`` should be materialized: it is read twice.

    The reference's ``ROW_NUMBER() OVER ()`` numbers groups in
    arbitrary hash-agg order; we order by (ORDER NO, payment_tag) —
    deterministic, still consecutive from the start id. As in the
    reference, the numbered-group side is date-filtered but the
    line side is not: a group whose lines span the window boundary
    keeps *all* its lines (observable for multi-refund orders).

    The global ROW_NUMBER runs on the *grouped* side — one row per
    invoice, thousands not billions — so the single-partition window
    is safe at any realistic scale.

    The reference's RIGHT JOIN is decomposed by key nullability so
    the big side never shuffles: every non-null group key exists in
    the view (groups are derived from view lines), so the join is an
    INNER join there — and the small numbered-group side broadcasts
    under the session threshold. NULL-keyed groups (order missing or
    unnamed) match nothing in an equi-join; the right join emits
    them as one null-padded line each, reproduced explicitly.

    The lines come back unsorted: the reference's closing
    ``ORDER BY (INVOICE NO, CUSTOMER NAME)`` (``db.py:480-483``)
    exists only for its CSV file order, which
    :func:`~shopify_db_spark.sources.csv_io.write_invoice_csv` owns.

    A true ``two_phase`` swaps the single-partition numbering window
    for :func:`~shopify_db_spark.operators.numbering.global_row_numbers`
    (range-partition → local row_number → offset join) — the 100×
    path SURVEY §4 reserves for when invoice cardinality in one
    window outgrows a single task. Identical numbering (asserted in
    tests/test_numbering.py); the windowed path stays the
    small-cardinality choice because at one-row-per-invoice scale
    the window is cheaper than two extra shuffles.
    :func:`build_invoices` picks the path from a cheap upper bound
    on group cardinality (``TWO_PHASE_SOURCE_BYTES``).

    The broadcast of the numbered-group side (see the inline note)
    is only applied on the windowed path: flipping to two-phase
    *means* the group set outgrew a single task, so it has also
    outgrown a broadcast — the join falls back to AQE's choice.
    """
    groups = (
        invoice_view.filter(
            F.col("INVOICE DATE").between(F.lit(from_date), F.lit(to_date))
        )
        .select("ORDER NO", "payment_tag")
        .distinct()
    )
    if two_phase:
        from shopify_db_spark.operators.numbering import global_row_numbers

        numbered = global_row_numbers(
            groups,
            ["ORDER NO", "payment_tag"],
            col_name="INVOICE NO",
            start=invoice_start_id,
        ).withColumn("INVOICE NO", F.col("INVOICE NO").cast("int"))
    else:
        numbered = groups.withColumn(
            "INVOICE NO",
            F.expr(
                f"CAST({int(invoice_start_id)} + row_number() OVER"
                " (ORDER BY `ORDER NO`, payment_tag) - 1 AS INT)"
            ),
        )

    out_cols = [
        "transaction_id",
        "order_id",
        "CUSTOMER NO",
        "CUSTOMER NAME",
        "ORDER NO",
        "PAID AMOUNT",
        "PAYMENT TYPE",
        "ORDER LINE - COUNT",
        "ORDER LINE - PROD NAME",
        "ORDER LINE - UNIT PRICE",
        "ORDER LINE - DISCOUNT",
        "ORDER LINE - VAT CODE",
        "ORDER LINE - DESCRIPTION",
        "ORDER LINE - PROD NO",
        "INVOICE DATE",
        "DELIVERY DATE",
        "ORDER DATE",
        "DUE DATE",
        "INVOICE NO",
    ]
    # Explicit broadcast: the group side is one row per invoice —
    # orders of magnitude below the line side at any scale — but its
    # size estimate is that of a distinct over the whole line set, so
    # static planning does not infer that; without the hint the full
    # line side shuffles on the group key (observed SortMergeJoin at
    # sf0.1). The hint is dropped on the two-phase path: source bytes /
    # group rows above TWO_PHASE_SOURCE_BYTES / TWO_PHASE_GROUP_ROWS
    # exceed broadcastable size.
    non_null = numbered.filter("`ORDER NO` IS NOT NULL")
    if not two_phase:
        non_null = F.broadcast(non_null)
    matched = (
        invoice_view.alias("ti")
        .join(
            non_null.alias("ind"),
            ["ORDER NO", "payment_tag"],
            "inner",
        )
        .selectExpr(
            *[
                f"`{c}`" if c in ("ORDER NO", "INVOICE NO") else f"ti.`{c}`"
                for c in out_cols
            ]
        )
    )
    view_types = {f.name: f.dataType for f in invoice_view.schema.fields}
    null_padded = numbered.filter("`ORDER NO` IS NULL").selectExpr(
        *[
            f"`{c}`"
            if c in ("ORDER NO", "INVOICE NO")
            else f"CAST(NULL AS {view_types[c].simpleString()}) AS `{c}`"
            for c in out_cols
        ]
    )
    return matched.unionByName(null_padded)


def build_invoices(
    tables: dict[str, DataFrame],
    from_date: datetime.date | str,
    to_date: datetime.date | str,
    invoice_start_id: int = 1,
) -> DataFrame:
    """End-to-end: view + numbering (the reference's
    ``tripletex-generate`` path, SURVEY §3.2), lines unsorted. The
    view is materialized once with an eager ``localCheckpoint`` (the
    lineage-free idiom of ``plans.artifacts``): the numbering reads
    it twice — for the in-window groups and for the lines — and
    without the checkpoint each read would re-run the six-join
    pipeline. The view's jobs therefore run here, not when the
    result is first used.

    The numbering path is picked at plan time: group cardinality is
    upper-bounded by the orders + refunds inputs (every payment group
    is one order's rank-1 payment, every refund group needs a refunds
    row), sized via Catalyst's plan-time ``sizeInBytes`` estimate —
    a driver-side statistic, no job runs and nothing is scanned
    (counting the mapped frames would execute their whole lineage:
    measured ~2 s per q20 run). Above ``TWO_PHASE_SOURCE_BYTES`` the
    single-partition numbering window would funnel the whole group
    set through one task, so the two-phase numbering takes over;
    below it the window is cheaper
    (two fewer shuffles). Lineages whose stats Catalyst cannot
    estimate (Long.MaxValue sentinel, e.g. Python local relations)
    fall back to two count jobs against ``TWO_PHASE_GROUP_ROWS``."""
    # bounds passed explicitly so this module's (patchable) globals
    # stay authoritative for the invoice pipeline
    two_phase = needs_two_phase(
        [tables["orders"], tables["refunds"]],
        byte_bound=TWO_PHASE_SOURCE_BYTES,
        row_bound=TWO_PHASE_GROUP_ROWS,
    )
    return assign_invoice_numbers(
        tripletex_invoice(tables).localCheckpoint(),
        from_date,
        to_date,
        invoice_start_id,
        two_phase,
    )

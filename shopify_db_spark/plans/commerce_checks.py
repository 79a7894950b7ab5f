"""Gate queries for the invoice CONSUMERS: the 8-check verification
suite and the CSV round-trip — reference ``tripletex.py:204-242`` and
``shopifydb.py:115,144-145``.

The verify suite (SURVEY §2.10 V1-V8), the gateway replace map
(F14), the empty-string normalization (F17) and the CSV source/sink
(S6/S7) would otherwise have pytest-only evidence. These queries put
them under the driver's oracle gate over the SAME mapped invoice
result that q20 already hash-matches. q61 runs the count pass that
``plans.verify_invoices.verify_invoices`` ships (``check_groups`` then
``offender_totals``), so its oracle, the invoice SQL spec plus one
aggregate per check, is the spec of the production pass.

How the q61 oracle states the checks:

* every check's arithmetic is decimal-exact: money is cast to
  ``DECIMAL(18,2)``, and the reference's 1 % price tolerance
  ``|paid - sum(line)| > 0.01*|paid|`` is written in the ×100-scaled
  form ``|100*paid - sum(count*unit*(100-disc))| > |paid|``, with no
  division and no doubles;
* sequence-gap counts use the closed form ``max - min + 1 -
  count(distinct)`` (the interior-missing count, since both endpoints
  are observed), as the production pass does.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shopify_db_spark.plans.catalog import query
from shopify_db_spark.plans.commerce import (
    FROM_DATE,
    MAPPING_CTES,
    START_ID,
    TABLE_MAP,
    TO_DATE,
    commerce_tables_from_benchmark,
    invoice_table,
)
from shopify_db_spark.plans.invoice import build_invoices
from shopify_db_spark.plans.invoice_oracle import render_invoice_cte_prefix
from shopify_db_spark.plans.verify_invoices import (
    CHECKS,
    check_groups,
    offender_totals,
    replace_invoice_gateway,
)
from shopify_db_spark.schemas import INVOICE_REQUIRED_FIELDS
from shopify_db_spark.sources.csv_io import read_invoice_csv, write_invoice_csv

#: the reference's human-facing gateway rename (tripletex.py:194-201)
GATEWAY_MAP = {"vipps": "Vipps", "shopify_payments": "Shopify Payments"}

#: allowlist AFTER the rename — 'manual' stays outside on purpose so
#: the unknown-gateway check has a non-trivial offender set
KNOWN_GATEWAYS = ["Vipps", "Shopify Payments", "stripe"]

#: the string output columns the q61 oracle normalizes empty→null
#: (F17; the reference and ``check_groups`` apply it frame-wide,
#: tripletex.py:186-191)
_STRING_COLS = (
    "CUSTOMER NAME",
    "ORDER NO",
    "PAYMENT TYPE",
    "ORDER LINE - PROD NAME",
    "ORDER LINE - DESCRIPTION",
    "ORDER LINE - PROD NO",
)


def _oracle_norm_prefix() -> str:
    """Oracle CTE chain: mapping → invoice view → numbering →
    normalization (NULLIF + gateway CASE), ending at ``norm``."""
    nullifs = ",\n           ".join(
        f"NULLIF(\"{c}\", '') AS \"{c}\"" for c in _STRING_COLS if c != "PAYMENT TYPE"
    )
    return (
        render_invoice_cte_prefix(
            FROM_DATE,
            TO_DATE,
            START_ID,
            prelude_ctes=MAPPING_CTES.strip() + ",\n",
            table_map=TABLE_MAP,
            cte_name="invoice_base",
        )
        + f""",
norm AS MATERIALIZED (
    SELECT "CUSTOMER NO", "PAID AMOUNT", "ORDER LINE - COUNT",
           "ORDER LINE - UNIT PRICE", "ORDER LINE - DISCOUNT",
           "ORDER LINE - VAT CODE", "INVOICE DATE", "DELIVERY DATE",
           "ORDER DATE", "DUE DATE", "INVOICE NO",
           {nullifs},
           CASE NULLIF("PAYMENT TYPE", '')
                WHEN 'vipps' THEN 'Vipps'
                WHEN 'shopify_payments' THEN 'Shopify Payments'
                ELSE NULLIF("PAYMENT TYPE", '') END AS "PAYMENT TYPE"
    FROM invoice_base
)"""
    )


_Q61_ORACLE = (
    _oracle_norm_prefix()
    + """,
price_groups AS (
    SELECT "ORDER NO" AS ono,
           MAX(CAST("PAID AMOUNT" AS DECIMAL(18,2))) AS paid,
           SUM(CAST("ORDER LINE - COUNT" AS DECIMAL(10,0))
               * CAST("ORDER LINE - UNIT PRICE" AS DECIMAL(18,2))
               * (100 - COALESCE(CAST("ORDER LINE - DISCOUNT" AS DECIMAL(18,2)), 0)))
               AS total_x100
    FROM norm GROUP BY "ORDER NO"
)
SELECT 'refunds' AS check_name,
       CAST(COUNT(DISTINCT CASE WHEN CAST("PAID AMOUNT" AS DECIMAL(18,2)) <= 0
                                THEN "ORDER NO" END) AS BIGINT) AS n_offenders,
       COUNT(DISTINCT CASE WHEN CAST("PAID AMOUNT" AS DECIMAL(18,2)) <= 0
                           THEN "ORDER NO" END) = 0 AS passed
FROM norm
UNION ALL
SELECT 'gift_cards',
       CAST(COUNT(DISTINCT CASE WHEN "ORDER LINE - PROD NO" = 'GIFTCARD'
                                THEN "ORDER NO" END) AS BIGINT),
       COUNT(DISTINCT CASE WHEN "ORDER LINE - PROD NO" = 'GIFTCARD'
                           THEN "ORDER NO" END) = 0
FROM norm
UNION ALL
SELECT 'order_no',
       CAST(MAX(n) - MIN(n) + 1 - COUNT(DISTINCT n) AS BIGINT),
       MAX(n) - MIN(n) + 1 - COUNT(DISTINCT n) = 0
FROM (SELECT CAST(SUBSTRING("ORDER NO", 2, 18) AS INT) AS n
      FROM norm WHERE CAST("PAID AMOUNT" AS DECIMAL(18,2)) >= 0)
UNION ALL
SELECT 'invoice_no',
       CAST(MAX("INVOICE NO") - MIN("INVOICE NO") + 1
            - COUNT(DISTINCT "INVOICE NO") AS BIGINT),
       MAX("INVOICE NO") - MIN("INVOICE NO") + 1
            - COUNT(DISTINCT "INVOICE NO") = 0
FROM norm
UNION ALL
SELECT 'none_values',
       CAST("""
    + " + ".join(
        f'COUNT(CASE WHEN "{c}" IS NULL THEN 1 END)'
        for c in INVOICE_REQUIRED_FIELDS
    )
    + """ AS BIGINT),
       """
    + " + ".join(
        f'COUNT(CASE WHEN "{c}" IS NULL THEN 1 END)'
        for c in INVOICE_REQUIRED_FIELDS
    )
    + """ = 0
FROM norm
UNION ALL
SELECT 'description_or_sku',
       CAST(COUNT(DISTINCT CASE WHEN "ORDER LINE - PROD NO" IS NULL
                                 AND "ORDER LINE - DESCRIPTION" IS NULL
                                THEN "ORDER NO" END) AS BIGINT),
       COUNT(DISTINCT CASE WHEN "ORDER LINE - PROD NO" IS NULL
                            AND "ORDER LINE - DESCRIPTION" IS NULL
                           THEN "ORDER NO" END) = 0
FROM norm
UNION ALL
SELECT 'price',
       CAST(COUNT(CASE WHEN ABS(100 * paid - total_x100) > ABS(paid)
                       THEN 1 END) AS BIGINT),
       COUNT(CASE WHEN ABS(100 * paid - total_x100) > ABS(paid)
                  THEN 1 END) = 0
FROM price_groups
UNION ALL
SELECT 'unknown_gateway',
       CAST(COUNT(DISTINCT CASE WHEN "PAYMENT TYPE" NOT IN
                                     ('Vipps', 'Shopify Payments', 'stripe')
                                THEN "ORDER NO" || '|' || "PAYMENT TYPE" END) AS BIGINT),
       COUNT(DISTINCT CASE WHEN "PAYMENT TYPE" NOT IN
                                ('Vipps', 'Shopify Payments', 'stripe')
                           THEN "ORDER NO" || '|' || "PAYMENT TYPE" END) = 0
FROM norm
"""
)


@query("q61_invoice_verify", oracle=_Q61_ORACLE)
def q61_invoice_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's 8-check invoice verification suite
    (``tripletex.py:204-242``, V1-V8) as one gate row per check, in
    report order. The counts come from ``verify_invoices``' own count
    pass over the gateway-renamed (F14) invoice artifact; the pass
    normalizes empty strings to null (F17) before checking. The
    offender samples that ``verify_invoices`` collects for a failing
    check are not part of the gate row."""
    inv = replace_invoice_gateway(invoice_table(spark, sf_dir), GATEWAY_MAP)
    totals = offender_totals(check_groups(inv, KNOWN_GATEWAYS))
    return spark.createDataFrame(
        [(c, totals[c], totals[c] == 0) for c in CHECKS],
        "check_name string, n_offenders long, passed boolean",
    )


# --- q62: upsert merge (S8) -------------------------------------------------

_Q62_ORACLE = (
    "WITH "
    + MAPPING_CTES.strip()
    + """,
base AS (
    SELECT id, customer_id, name, CAST(total_price AS DECIMAL(18,2)) AS total_price,
           created_at
    FROM commerce_orders
),
initial AS (
    SELECT id, customer_id, name, total_price,
           CASE WHEN id % 13 = 0 THEN 'pending' ELSE 'paid' END AS financial_status,
           'NOK' AS currency, created_at
    FROM base
),
upd AS (
    SELECT id, customer_id, name || '-v2' AS name,
           CAST(total_price + 7.50 AS DECIMAL(18,2)) AS total_price,
           'refunded' AS financial_status, 'USD' AS currency, created_at
    FROM base WHERE id % 3 = 0
    UNION ALL
    SELECT -id, customer_id, '#NEW-' || CAST(id AS VARCHAR(20)),
           total_price, 'authorized', 'EUR', created_at
    FROM base WHERE id % 5 = 1
)
SELECT CAST(COALESCE(i.id, u.id) AS BIGINT) AS id,
       CAST(CASE WHEN u.id IS NOT NULL THEN u.customer_id
                 ELSE i.customer_id END AS BIGINT) AS customer_id,
       CASE WHEN u.id IS NOT NULL THEN u.name ELSE i.name END AS name,
       CAST(CASE WHEN u.id IS NOT NULL THEN u.total_price
                 ELSE i.total_price END AS DOUBLE) AS total_price,
       CASE WHEN i.id IS NOT NULL THEN i.financial_status
            ELSE u.financial_status END AS financial_status,
       CASE WHEN i.id IS NOT NULL THEN i.currency ELSE u.currency END AS currency,
       CASE WHEN u.id IS NOT NULL THEN u.created_at ELSE i.created_at END AS created_at
FROM initial i FULL OUTER JOIN upd u ON i.id = u.id
"""
)


@query("q62_upsert_merge", oracle=_Q62_ORACLE)
def q62_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The write-path MERGE (S8, reference ``db.py:115-144`` ON
    CONFLICT upserts) under gate evidence: an initial orders table
    takes an update batch that modifies every third order and inserts
    brand-new (negative-id) orders; ``operators.upsert`` must apply
    the reference's partial SET lists — ``financial_status`` and
    ``currency`` are FROZEN on update (``db.py:129-140``), so matched
    rows keep their original values while pure inserts take the
    batch's. The oracle is the full-outer-join formulation of the
    same conflict semantics."""
    from shopify_db_spark.operators.upsert import upsert
    from shopify_db_spark.sources.tables import load_table

    for name in ("orders", "customer", "lineitem"):
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    base = spark.sql(
        "WITH "
        + MAPPING_CTES.strip()
        + "\nSELECT id, customer_id, name,"
        "  CAST(total_price AS DECIMAL(18,2)) AS total_price, created_at"
        "  FROM commerce_orders"
    )
    initial = base.select(
        "id",
        "customer_id",
        "name",
        "total_price",
        F.when(F.col("id") % 13 == 0, F.lit("pending"))
        .otherwise(F.lit("paid"))
        .alias("financial_status"),
        F.lit("NOK").alias("currency"),
        "created_at",
    )
    modify = base.filter(F.col("id") % 3 == 0).select(
        "id",
        "customer_id",
        F.concat(F.col("name"), F.lit("-v2")).alias("name"),
        (F.col("total_price") + F.lit(7.50)).cast("decimal(18,2)").alias("total_price"),
        F.lit("refunded").alias("financial_status"),
        F.lit("USD").alias("currency"),
        "created_at",
    )
    insert = base.filter(F.col("id") % 5 == 1).select(
        (-F.col("id")).alias("id"),
        "customer_id",
        F.concat(F.lit("#NEW-"), F.col("id")).alias("name"),
        "total_price",
        F.lit("authorized").alias("financial_status"),
        F.lit("EUR").alias("currency"),
        "created_at",
    )
    merged = upsert(
        initial,
        modify.unionByName(insert),
        keys=["id"],
        frozen_cols=["financial_status", "currency"],
    )
    return merged.withColumn(
        "total_price", F.col("total_price").cast("double")
    )


# --- q63: CSV round-trip (S6/S7) --------------------------------------------

_CSV_FROM, _CSV_TO, _CSV_START = "1997-01-01", "1997-12-31", 5000

_Q63_MONEY = ("PAID AMOUNT", "ORDER LINE - UNIT PRICE", "ORDER LINE - DISCOUNT")

_Q63_ORACLE = (
    render_invoice_cte_prefix(
        _CSV_FROM,
        _CSV_TO,
        _CSV_START,
        prelude_ctes=MAPPING_CTES.strip() + ",\n",
        table_map=TABLE_MAP,
        cte_name="invoice_base",
    )
    + """
SELECT "CUSTOMER NO", NULLIF("ORDER NO", '') AS "ORDER NO",
       CAST("PAID AMOUNT" AS DOUBLE) AS "PAID AMOUNT",
       "ORDER LINE - COUNT",
       CAST("ORDER LINE - UNIT PRICE" AS DOUBLE) AS "ORDER LINE - UNIT PRICE",
       "ORDER LINE - VAT CODE",
       NULLIF("PAYMENT TYPE", '') AS "PAYMENT TYPE",
       "INVOICE DATE", "DELIVERY DATE", "ORDER DATE", "DUE DATE", "INVOICE NO",
       NULLIF("CUSTOMER NAME", '') AS "CUSTOMER NAME",
       NULLIF("ORDER LINE - PROD NAME", '') AS "ORDER LINE - PROD NAME",
       CAST("ORDER LINE - DISCOUNT" AS DOUBLE) AS "ORDER LINE - DISCOUNT",
       NULLIF("ORDER LINE - DESCRIPTION", '') AS "ORDER LINE - DESCRIPTION",
       NULLIF("ORDER LINE - PROD NO", '') AS "ORDER LINE - PROD NO"
FROM invoice_base
"""
)


@query("q63_csv_roundtrip", oracle=_Q63_ORACLE)
def q63_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + source round-trip (S6/S7, reference
    ``shopifydb.py:115,144-145``): a one-year invoice slice is written
    as the reference's single ``;``-separated file in the Tripletex
    column order, re-read with the typed schema, and gate-checked
    against the invoice SQL spec directly — so the CSV layer must
    preserve every value bit-for-bit (money survives because the
    values are exact at 2 dp; empty strings null on re-read exactly
    as pandas' NaN round-trip does, which the oracle mirrors with
    NULLIF)."""
    inv = build_invoices(
        commerce_tables_from_benchmark(spark, sf_dir),
        _CSV_FROM,
        _CSV_TO,
        _CSV_START,
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"graft_csv_roundtrip_{os.path.basename(sf_dir.rstrip('/'))}.csv",
    )
    write_invoice_csv(inv, path)
    back = read_invoice_csv(spark, path)
    return back.select(
        *[
            F.col(c).cast("double").alias(c) if c in _Q63_MONEY else F.col(c)
            for c in back.columns
        ]
    )


# --- q64: raw-JSON ingest normalization (N1/N2/N6/N7) -----------------------

_Q64_ORACLE = """
SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS id,
       CAST(l_orderkey AS BIGINT) AS order_id,
       CAST(l_partkey AS BIGINT) AS product_id,
       'Part ' || CAST(l_partkey AS VARCHAR(20)) AS title,
       CASE WHEN l_partkey % 10 = 0 THEN NULL
            ELSE 'SKU-' || CAST(l_partkey AS VARCHAR(20)) END AS sku,
       CAST(CAST(FLOOR(l_extendedprice) AS DECIMAL(18,2)) AS DOUBLE) AS unit_price,
       CAST(CAST(FLOOR(l_extendedprice) AS DECIMAL(18,2))
            * CAST(l_quantity AS INT) AS DOUBLE) AS total_price,
       CAST((l_orderkey + l_linenumber) % 20 AS DOUBLE) AS total_discount_amount,
       CAST(l_quantity AS INT) AS quantity,
       CAST(NULL AS VARCHAR(10)) AS vendor,
       CASE WHEN l_linenumber % 3 = 0 THEN NULL
            ELSE 'v' || CAST(l_linenumber AS VARCHAR(8)) END AS variant_title,
       CAST(CASE WHEN l_linenumber % 2 = 0 THEN l_suppkey % 100 ELSE 0 END
            AS DOUBLE) AS tax_amount,
       CASE WHEN l_linenumber % 2 = 0 THEN 0.25 ELSE 0.0 END AS tax_rate,
       CASE WHEN l_linenumber % 2 = 0 THEN 'VAT' END AS tax_title,
       l_linenumber % 2 = 0 AS taxable,
       'NOK' AS currency
FROM lineitem
WHERE l_orderkey % 7 = 0
"""


@query("q64_json_ingest", oracle=_Q64_ORACLE)
def q64_json_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw-JSON ingest tier (N1 struct flatten, N2 line-item
    explode, N6 head-of-array tax lines, N7 deep struct paths;
    reference ``shopify.py:303-332``) under gate evidence, with the
    oracle computing the SAME rows relationally — the JSON layer must
    be lossless. Each order's line items are packed into a nested
    Shopify-shaped document (structs, arrays, money-as-strings, a
    deep ``price_set.presentment_money.currency_code`` path),
    serialized with ``to_json``, parsed back through the ingest
    path's explicit ``RAW_ORDER`` schema, and normalized by the real
    ``normalize_line_items`` — no schema inference anywhere. Odd
    line numbers carry an EMPTY ``tax_lines`` array so the
    ``element_at(..., 1)`` + coalesce-0 defaults are exercised, and
    ``% 10 == 0`` part keys drop their SKU so null fields vanish
    from the JSON and must resurface as nulls."""
    from shopify_db_spark.sources.json_ingest import (
        RAW_ORDER,
        normalize_line_items,
        parse_raw,
    )
    from shopify_db_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 7 == 0)
    ln = F.col("l_linenumber")
    money_s = lambda c: c.cast("decimal(18,2)").cast("string")  # noqa: E731
    item = F.struct(
        (F.col("l_orderkey") * 10 + ln).cast("long").alias("id"),
        F.col("l_partkey").cast("long").alias("product_id"),
        F.concat(F.lit("Part "), F.col("l_partkey")).alias("title"),
        F.when(F.col("l_partkey") % 10 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("SKU-"), F.col("l_partkey")))
        .alias("sku"),
        money_s(F.floor(F.col("l_extendedprice"))).alias("price"),
        F.col("l_quantity").cast("int").alias("quantity"),
        F.lit(None).cast("string").alias("vendor"),
        F.when(ln % 3 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("v"), ln))
        .alias("variant_title"),
        (ln % 2 == 0).alias("taxable"),
        F.when(
            ln % 2 == 0,
            F.array(
                F.struct(
                    money_s(F.col("l_suppkey") % 100).alias("price"),
                    F.lit(0.25).alias("rate"),
                    F.lit("VAT").alias("title"),
                )
            ),
        )
        .otherwise(F.array().cast("array<struct<price:string,rate:double,title:string>>"))
        .alias("tax_lines"),
        F.struct(
            F.struct(
                F.lit(None).cast("string").alias("amount"),
                F.lit("NOK").alias("currency_code"),
            ).alias("presentment_money")
        ).alias("price_set"),
        F.array(
            F.struct(
                money_s((F.col("l_orderkey") + ln) % 20).alias("amount")
            )
        ).alias("discount_allocations"),
    )
    raw_json = (
        li.groupBy("l_orderkey")
        .agg(F.collect_list(item).alias("line_items"))
        .select(
            F.to_json(
                F.struct(
                    F.col("l_orderkey").cast("long").alias("id"),
                    F.col("line_items"),
                )
            ).alias("raw")
        )
    )
    out = normalize_line_items(parse_raw(spark, raw_json, RAW_ORDER))
    money_cols = ("unit_price", "total_price", "total_discount_amount", "tax_amount")
    return out.select(
        *[
            F.col(c).cast("double").alias(c)
            if c in money_cols
            else (
                F.col(c).cast("double").alias(c)
                if c == "tax_rate"
                else F.col(c)
            )
            for c in out.columns
        ]
    )


# --- q65-q68: remaining raw-JSON child exploders (N3/N4/N5 + F16) -----------

_Q65_ORACLE = """
WITH src AS (SELECT o_orderkey AS id FROM orders WHERE o_orderkey % 3 = 0)
SELECT CAST(id * 1000 AS BIGINT) AS id,
       CAST(id AS BIGINT) AS order_id,
       'standard' AS code,
       CAST(CAST(CASE WHEN id % 6 = 0 THEN 0 ELSE 50 END AS DECIMAL(18,2)) AS DOUBLE)
           AS price,
       CAST(CAST(CASE WHEN id % 6 = 0 THEN 0 ELSE 40 END AS DECIMAL(18,2)) AS DOUBLE)
           AS discounted_price,
       'NOK' AS currency,
       'Standard shipping' AS title,
       'shopify' AS source,
       CAST(NULL AS VARCHAR(20)) AS phone,
       'Street ' || CAST(id % 100 AS VARCHAR(8)) AS address,
       'Oslo' AS city,
       CAST(1000 + id % 9000 AS VARCHAR(8)) AS zip,
       'NO' AS country,
       CAST(CAST((id % 180) - 90 + 0.25 AS DECIMAL(9,6)) AS DOUBLE) AS latitude,
       CAST(CAST((id % 360) - 180 + 0.25 AS DECIMAL(9,6)) AS DOUBLE) AS longitude
FROM src
"""


@query("q65_json_shipping", oracle=_Q65_ORACLE)
def q65_json_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-line explode + billing-address flatten (N3, reference
    ``shopify.py:338-362`` — the heatmap coordinates come from the
    BILLING address, replicated) through the real JSON path: nested
    order documents carry one shipping line and a billing address
    with double lat/lon; ``normalize_shipping`` explodes and casts to
    DECIMAL(9,6). Quarter-degree offsets keep every coordinate exact
    in both the double JSON carrier and the decimal cast."""
    from shopify_db_spark.sources.json_ingest import (
        RAW_ORDER,
        normalize_shipping,
        parse_raw,
    )
    from shopify_db_spark.sources.tables import load_table

    src = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 3 == 0)
        .select(F.col("o_orderkey").alias("id"))
    )
    oid = F.col("id")
    money_s = lambda c: c.cast("decimal(18,2)").cast("string")  # noqa: E731
    doc = F.struct(
        oid.cast("long").alias("id"),
        F.struct(
            F.lit(None).cast("string").alias("name"),
            F.concat(F.lit("Street "), oid % 100).alias("address1"),
            F.lit("Oslo").alias("city"),
            (F.lit(1000) + oid % 9000).cast("string").alias("zip"),
            F.lit("NO").alias("country"),
            F.lit(None).cast("string").alias("phone"),
            ((oid % 180) - 90 + 0.25).cast("double").alias("latitude"),
            ((oid % 360) - 180 + 0.25).cast("double").alias("longitude"),
        ).alias("billing_address"),
        F.array(
            F.struct(
                (oid * 1000).cast("long").alias("id"),
                F.lit("standard").alias("code"),
                money_s(F.when(oid % 6 == 0, 0).otherwise(50)).alias("price"),
                money_s(F.when(oid % 6 == 0, 0).otherwise(40)).alias(
                    "discounted_price"
                ),
                F.lit("Standard shipping").alias("title"),
                F.lit("shopify").alias("source"),
                F.lit(None).cast("string").alias("phone"),
                F.lit(None)
                .cast("array<struct<price:string,rate:double,title:string>>")
                .alias("tax_lines"),
                F.struct(
                    F.struct(
                        F.lit(None).cast("string").alias("amount"),
                        F.lit("NOK").alias("currency_code"),
                    ).alias("presentment_money")
                ).alias("price_set"),
            )
        ).alias("shipping_lines"),
    )
    raw_json = src.select(F.to_json(doc).alias("raw"))
    out = normalize_shipping(parse_raw(spark, raw_json, RAW_ORDER))
    dbl = ("price", "discounted_price", "latitude", "longitude")
    return out.select(
        *[F.col(c).cast("double").alias(c) if c in dbl else F.col(c) for c in out.columns]
    )


_Q66_ORACLE = """
SELECT CAST(p_partkey * 100 + 1 AS BIGINT) AS id,
       CAST(p_partkey AS BIGINT) AS product_id,
       CAST(CAST(FLOOR(p_retailprice) AS DECIMAL(18,2)) AS DOUBLE) AS price,
       'Default Title' AS title,
       CASE WHEN p_partkey % 10 = 0 THEN NULL
            ELSE 'SKU-' || CAST(p_partkey AS VARCHAR(20)) END AS sku,
       p_brand AS option1,
       CASE WHEN p_partkey % 4 = 0 THEN p_type END AS option2,
       CAST(NULL AS VARCHAR(10)) AS option3,
       CAST(NULL AS TIMESTAMP) AS created_at,
       CAST(NULL AS TIMESTAMP) AS updated_at
FROM part WHERE p_partkey % 5 = 0
"""


@query("q66_json_variants", oracle=_Q66_ORACLE)
def q66_json_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-variant explode (N4, reference ``shopify.py:512-522``)
    through the JSON path: products packed with a one-element
    ``variants`` array (money-as-string price, conditional options),
    parsed against ``RAW_PRODUCT`` and exploded by
    ``normalize_product_variants``. Omitted timestamps resurface as
    typed nulls."""
    from shopify_db_spark.sources.json_ingest import (
        RAW_PRODUCT,
        normalize_product_variants,
        parse_raw,
    )
    from shopify_db_spark.sources.tables import load_table

    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 5 == 0)
    pk = F.col("p_partkey")
    doc = F.struct(
        pk.cast("long").alias("id"),
        F.concat(F.lit("Part "), pk).alias("title"),
        F.lit("active").alias("status"),
        F.col("p_type").alias("product_type"),
        F.lit(None).cast("string").alias("vendor"),
        F.lit(None).cast("string").alias("created_at"),
        F.lit(None).cast("string").alias("updated_at"),
        F.array(
            F.struct(
                (pk * 100 + 1).cast("long").alias("id"),
                pk.cast("long").alias("product_id"),
                F.floor(F.col("p_retailprice"))
                .cast("decimal(18,2)")
                .cast("string")
                .alias("price"),
                F.lit("Default Title").alias("title"),
                F.when(pk % 10 == 0, F.lit(None).cast("string"))
                .otherwise(F.concat(F.lit("SKU-"), pk))
                .alias("sku"),
                F.col("p_brand").alias("option1"),
                F.when(pk % 4 == 0, F.col("p_type")).alias("option2"),
                F.lit(None).cast("string").alias("option3"),
                F.lit(None).cast("string").alias("created_at"),
                F.lit(None).cast("string").alias("updated_at"),
            )
        ).alias("variants"),
    )
    raw_json = part.select(F.to_json(doc).alias("raw"))
    out = normalize_product_variants(parse_raw(spark, raw_json, RAW_PRODUCT))
    return out.withColumn("price", F.col("price").cast("double"))


_Q67_ORACLE = """
WITH r AS (SELECT o_orderkey AS oid FROM orders WHERE o_orderkey % 11 = 0)
SELECT CAST(oid * 100 + n AS BIGINT) AS id,
       CAST(oid * 7 AS BIGINT) AS refund_id,
       CAST(oid * 10 + n AS BIGINT) AS line_item_product_id,
       CAST(n AS INT) AS quantity,
       'NOK' AS currency,
       CAST(CAST(oid % 500 + n AS DECIMAL(18,2)) AS DOUBLE) AS refund_amount
FROM r CROSS JOIN (SELECT 1 AS n UNION ALL SELECT 2) ns
"""


@query("q67_json_refunds", oracle=_Q67_ORACLE)
def q67_json_refunds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Refund-line-item explode with the deep
    ``line_item.id`` / ``subtotal_set.shop_money.currency_code``
    struct paths (N5/N7, reference ``shopify.py:453-463``): refund
    documents carry a two-element ``refund_line_items`` array parsed
    against ``RAW_REFUND`` and exploded by
    ``normalize_refund_line_items``. The oracle fans each refund out
    with a two-row constant join."""
    from shopify_db_spark.sources.json_ingest import (
        RAW_REFUND,
        normalize_refund_line_items,
        parse_raw,
    )
    from shopify_db_spark.sources.tables import load_table

    src = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 11 == 0)
        .select(F.col("o_orderkey").alias("oid"))
    )
    oid = F.col("oid")

    def rli(n: int) -> F.Column:
        return F.struct(
            (oid * 100 + n).cast("long").alias("id"),
            F.lit(n).cast("int").alias("quantity"),
            (oid % 500 + n).cast("decimal(18,2)").cast("string").alias("subtotal"),
            F.struct((oid * 10 + n).cast("long").alias("id")).alias("line_item"),
            F.struct(
                F.struct(F.lit("NOK").alias("currency_code")).alias("shop_money")
            ).alias("subtotal_set"),
        )

    doc = F.struct(
        (oid * 7).cast("long").alias("id"),
        oid.cast("long").alias("order_id"),
        F.lit("requested by customer").alias("note"),
        F.lit(None).cast("string").alias("created_at"),
        F.lit(None).cast("string").alias("processed_at"),
        F.array(F.struct(oid.cast("long").alias("id"))).alias("transactions"),
        F.array(rli(1), rli(2)).alias("refund_line_items"),
    )
    raw_json = src.select(F.to_json(doc).alias("raw"))
    out = normalize_refund_line_items(parse_raw(spark, raw_json, RAW_REFUND))
    return out.withColumn("refund_amount", F.col("refund_amount").cast("double"))


_Q68_ORACLE = """
SELECT CAST(c_custkey AS BIGINT) AS id,
       'c' || CAST(c_custkey AS VARCHAR(20)) || '@example.test' AS email,
       c_name AS name,
       CAST(NULL AS VARCHAR(10)) AS first_name,
       CAST(NULL AS VARCHAR(10)) AS last_name,
       CASE WHEN c_custkey % 2 = 0 THEN 'addr-ph-' || CAST(c_custkey AS VARCHAR(20))
            ELSE 'ph-' || CAST(c_custkey AS VARCHAR(20)) END AS phone,
       c_mktsegment || ' street' AS address,
       'Oslo' AS city,
       CAST(NULL AS VARCHAR(10)) AS zip,
       'NO' AS country,
       CAST(CAST(FLOOR(c_acctbal) AS DECIMAL(18,2)) AS DOUBLE) AS total_spent,
       c_custkey % 3 = 0 AS verified_email,
       CASE WHEN c_custkey % 7 = 0 THEN 'VIP' END AS note,
       c_custkey % 2 = 1 AS accepts_marketing,
       CAST(NULL AS TIMESTAMP) AS created_at,
       CAST(NULL AS TIMESTAMP) AS updated_at
FROM customer
"""


@query("q68_json_customers", oracle=_Q68_ORACLE)
def q68_json_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer struct flatten with the sibling-column phone fallback
    (N1 + F16, reference ``shopify.py:230-249``): even-keyed
    customers omit the top-level phone so ``normalize_customers``
    must coalesce to ``default_address.phone``; the address struct
    supplies name/address/city/country, money-as-string
    ``total_spent`` casts to DECIMAL(18,2)."""
    from shopify_db_spark.sources.json_ingest import (
        RAW_CUSTOMER,
        normalize_customers,
        parse_raw,
    )
    from shopify_db_spark.sources.tables import load_table

    cust = load_table(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    doc = F.struct(
        ck.cast("long").alias("id"),
        F.concat(F.lit("c"), ck, F.lit("@example.test")).alias("email"),
        F.lit(None).cast("string").alias("first_name"),
        F.lit(None).cast("string").alias("last_name"),
        F.when(ck % 2 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("ph-"), ck))
        .alias("phone"),
        F.struct(
            F.col("c_name").alias("name"),
            F.concat(F.col("c_mktsegment"), F.lit(" street")).alias("address1"),
            F.lit("Oslo").alias("city"),
            F.lit(None).cast("string").alias("zip"),
            F.lit("NO").alias("country"),
            F.concat(F.lit("addr-ph-"), ck).alias("phone"),
            F.lit(None).cast("double").alias("latitude"),
            F.lit(None).cast("double").alias("longitude"),
        ).alias("default_address"),
        F.when(ck % 7 == 0, F.lit("VIP")).alias("note"),
        F.floor(F.col("c_acctbal")).cast("decimal(18,2)").cast("string").alias(
            "total_spent"
        ),
        (ck % 3 == 0).alias("verified_email"),
        (ck % 2 == 1).alias("accepts_marketing"),
        F.lit(None).cast("string").alias("created_at"),
        F.lit(None).cast("string").alias("updated_at"),
    )
    raw_json = cust.select(F.to_json(doc).alias("raw"))
    out = normalize_customers(parse_raw(spark, raw_json, RAW_CUSTOMER))
    return out.withColumn("total_spent", F.col("total_spent").cast("double"))

"""The commerce invoice pipeline as a driver-checked catalog query.

The benchmark star schema has no Shopify tables, so a deterministic
*mapping layer* derives commerce-shaped tables from them — orders
stay orders, lineitems become line items, and transactions /
refunds / shipping / gift cards are synthesized by key-modulo rules
that exercise every branch of the invoice plan (ranking tie-breaks,
failed payments, gift cards, refunds with and without line items,
zero-price shipping, NULL/empty-string variant titles, missing
SKUs).

The mapping is ONE portable SQL text executed by both engines:
Spark materializes each commerce table from it and runs the real
DataFrame pipeline (``plans.invoice``); DuckDB runs it as prelude
CTEs under the shared invoice-oracle SQL. Numeric rules keep every
money value decimal-exact on both engines (integer unit prices so
discount percentages are exact; refund quantity 1 so the division
path stays exact — DuckDB lowers decimal division to DOUBLE, Spark
does not, so only engineered-clean divisions can be oracle-checked;
the messy-division paths are covered by the fixture golden tests
instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from shopify_db_spark.plans.catalog import query
from shopify_db_spark.plans.invoice import build_invoices
from shopify_db_spark.plans.invoice_oracle import render_invoice_oracle
from shopify_db_spark.sources.tables import load_table

#: portable mapping CTEs (Spark SQL ∩ DuckDB SQL), map_-prefixed so they
#: never shadow the base table names (DuckDB resolves CTE names across
#: the whole WITH clause, so a CTE named ``orders`` would capture the
#: mapping's own scan of the base ``orders``).
#: Note: l_quantity is whole-valued, so CAST(double AS INT) agrees
#: between Spark (truncate) and DuckDB (round).
MAPPING_CTES = """
commerce_orders AS (
    SELECT o_orderkey AS id,
           o_custkey AS customer_id,
           '#' || CAST(o_orderkey AS VARCHAR(20)) AS name,
           CAST(o_totalprice AS DECIMAL(18,2)) AS total_price,
           o_orderdate AS created_at,
           o_orderdate AS processed_at,
           o_orderstatus AS status_src
    FROM orders
),
map_customers AS (
    SELECT c_custkey AS id, c_name AS name FROM customer
),
map_orders AS (
    SELECT id, customer_id, name, created_at, processed_at FROM commerce_orders
),
map_transactions AS (
    SELECT id * 10 AS id, id AS order_id,
           CASE WHEN id % 13 = 0 THEN 'failure' ELSE 'success' END AS status,
           total_price AS amount,
           CASE WHEN id % 4 = 0 THEN 'vipps'
                WHEN id % 4 = 1 THEN 'stripe'
                WHEN id % 4 = 2 THEN 'shopify_payments'
                ELSE 'manual' END AS gateway,
           CASE WHEN id % 3 = 0 THEN 'sale'
                WHEN id % 3 = 1 THEN 'capture'
                ELSE 'authorization' END AS kind,
           created_at AS processed_at
    FROM commerce_orders
    UNION ALL
    SELECT id * 10 + 1, id, 'success', total_price,
           'stripe', 'authorization', created_at
    FROM commerce_orders WHERE id % 5 = 0
    UNION ALL
    SELECT id * 10 + 2, id, 'success', CAST(25.00 AS DECIMAL(18,2)),
           'gift_card', 'sale', created_at
    FROM commerce_orders WHERE id % 7 = 0
    UNION ALL
    SELECT id * 10 + 3, id, 'success', total_price,
           CASE WHEN id % 4 = 0 THEN 'vipps'
                WHEN id % 4 = 1 THEN 'stripe'
                WHEN id % 4 = 2 THEN 'shopify_payments'
                ELSE 'manual' END,
           'refund', created_at + INTERVAL 1 DAY
    FROM commerce_orders WHERE status_src = 'F' AND id % 11 = 0
),
map_line_item_products AS (
    SELECT l_orderkey * 10 + l_linenumber AS id,
           l_orderkey AS order_id,
           'Part ' || CAST(l_partkey AS VARCHAR(20)) AS title,
           CASE WHEN l_partkey % 10 = 0 THEN CAST(NULL AS VARCHAR(50))
                ELSE 'SKU-' || CAST(l_partkey AS VARCHAR(20)) END AS sku,
           CASE WHEN l_linenumber % 3 = 0 THEN CAST(NULL AS VARCHAR(50))
                WHEN l_linenumber % 3 = 1 THEN ''
                ELSE 'v' || CAST(l_linenumber AS VARCHAR(8)) END AS variant_title,
           CAST(FLOOR(l_extendedprice) AS DECIMAL(18,2)) AS unit_price,
           CAST(l_quantity AS INT) AS quantity,
           CAST(CAST(FLOOR(l_extendedprice) AS DECIMAL(18,2))
                * CAST(l_quantity AS INT) AS DECIMAL(18,2)) AS total_price,
           CAST(CAST(FLOOR(l_extendedprice) AS DECIMAL(18,2))
                * CAST(l_quantity AS INT)
                * (CASE WHEN l_linenumber % 4 = 0 THEN 0
                        WHEN l_linenumber % 4 = 1 THEN 10
                        WHEN l_linenumber % 4 = 2 THEN 20
                        ELSE 25 END) / 100 AS DECIMAL(18,2)) AS total_discount_amount
    FROM lineitem
),
map_shipping AS (
    SELECT id * 1000 AS id, id AS order_id,
           CAST(CASE WHEN id % 6 = 0 THEN 0.00 ELSE 50.00 END AS DECIMAL(18,2)) AS price,
           CAST(CASE WHEN id % 6 = 0 THEN 0.00 ELSE 40.00 END AS DECIMAL(18,2)) AS discounted_price,
           'Standard shipping' AS title
    FROM commerce_orders WHERE id % 3 = 0
    UNION ALL
    SELECT id * 1000 + 1, id,
           CAST(80.00 AS DECIMAL(18,2)), CAST(80.00 AS DECIMAL(18,2)),
           'Express backup'
    FROM commerce_orders WHERE id % 9 = 0
),
map_refunds AS (
    SELECT id * 100 AS id, id AS order_id, id * 10 + 3 AS transaction_id,
           CASE WHEN id % 2 = 0 THEN 'Customer changed mind' ELSE '' END AS note,
           created_at + INTERVAL 1 DAY AS created_at,
           created_at + INTERVAL 1 DAY AS processed_at
    FROM commerce_orders WHERE status_src = 'F' AND id % 11 = 0
),
map_line_item_product_refunds AS (
    SELECT r.id * 10 + li.l_linenumber AS id,
           r.id AS refund_id,
           li.l_orderkey * 10 + li.l_linenumber AS line_item_product_id,
           1 AS quantity,
           CAST(FLOOR(li.l_extendedprice) AS DECIMAL(18,2)) AS refund_amount
    FROM map_refunds r
    JOIN lineitem li ON li.l_orderkey = r.order_id
    WHERE li.l_linenumber <= 2
)
"""

TABLE_MAP = {
    name: f"map_{name}"
    for name in (
        "customers",
        "orders",
        "transactions",
        "line_item_products",
        "shipping",
        "refunds",
        "line_item_product_refunds",
    )
}

FROM_DATE, TO_DATE, START_ID = "1995-01-01", "2001-12-31", 1


def commerce_tables_from_benchmark(
    spark: SparkSession, sf_dir: str, cache: bool = True
) -> dict[str, DataFrame]:
    """Materialize the mapping layer on Spark: register the source
    tables as views, then evaluate each commerce CTE.

    The mapped frames are persisted (MEMORY_AND_DISK) by default:
    the invoice pipeline references them from every branch — the
    lazy form re-derives the mapping 28× per q20 run (28 orders
    scans in the executed plan; measured 0.75 s slower at sf0.1
    despite persist blocking column pruning; an earlier measurement
    favoured the lazy form before the branch count grew). This also
    mirrors the reference, where these ARE materialized Postgres
    tables, not views; at 100 TB the same role is played by writing
    the mapping layer to a staging location once per sync. Pass
    ``cache=False`` for one-shot consumers."""
    for name in ("orders", "customer", "lineitem"):
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    out = {
        name: spark.sql(f"WITH {MAPPING_CTES.strip()}\nSELECT * FROM {cte}")
        for name, cte in TABLE_MAP.items()
    }
    if cache:
        out = {name: df.persist() for name, df in out.items()}
    return out


def invoice_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized invoice table (UNSORTED — the closing
    ``ORDER BY`` is q20's own cosmetic step) for the benchmark
    window, session-memoized per (session, sf_dir) via
    ``plans.artifacts.session_artifact``.

    Reference parity, not a harness trick: the reference MATERIALIZES
    invoices — ``db.py:409-483`` writes numbered invoices into the
    ``tripletex`` Postgres table, and the verify suite
    (``tripletex.py:204-242``) queries THAT TABLE; it never rebuilds
    the view. q20 and q61 both read this one build. bench.py times
    the cold build as the ``artifact_invoice_table`` line item."""
    from shopify_db_spark.plans.artifacts import session_artifact

    holder: dict[str, dict[str, DataFrame]] = {}

    def build() -> DataFrame:
        tables = commerce_tables_from_benchmark(spark, sf_dir)
        holder["tables"] = tables
        return build_invoices(tables, FROM_DATE, TO_DATE, START_ID)

    out = session_artifact("invoice_table", spark, sf_dir, build)
    # the checkpoint cut the lineage, so a COLD build's persisted
    # mapping frames are no longer referenced — release them rather
    # than waiting for the next clearCache (warm hits skip this)
    for df in holder.get("tables", {}).values():
        df.unpersist()
    return out


@query(
    "q20_invoice_pipeline",
    oracle=render_invoice_oracle(
        FROM_DATE,
        TO_DATE,
        START_ID,
        prelude_ctes=MAPPING_CTES.strip() + ",\n",
        table_map=TABLE_MAP,
    ),
)
def q20_invoice_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's flagship plan end-to-end (reference
    ``setup.sql:192-394`` + ``db.py:409-483``): window ranking, four
    branch join-chains, 4-way UNION DISTINCT, rank dedup, decimal
    rounding, global invoice numbering — driver-checked against the
    shared SQL spec over the same mapped inputs. Reads the
    materialized invoice artifact (:func:`invoice_table` — the
    reference's own table-then-read shape) and applies the closing
    cosmetic sort (reference ``db.py:480-483``)."""
    out = invoice_table(spark, sf_dir).orderBy(
        "INVOICE NO", "CUSTOMER NAME"
    )
    money = ("PAID AMOUNT", "ORDER LINE - UNIT PRICE", "ORDER LINE - DISCOUNT")
    return out.selectExpr(
        *[
            f"CAST(`{c}` AS DOUBLE) AS `{c}`" if c in money else f"`{c}`"
            for c in out.columns
        ]
    )

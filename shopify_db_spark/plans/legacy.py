"""Legacy utility surface: the ``tripletex_customer_map`` view and
the standalone product listing/search (the reference's second view
and its dead-but-public product sub-schema).

* ``customer_map`` — reference ``setup.sql:396-404``: the Shopify →
  Tripletex customer-id mapping (last 9 digits of the 64-bit id).
* ``all_products`` / ``products_by_name`` — reference
  ``db.py:513-570``: full listing and case-insensitive substring
  search, both ordered by (brand, price). The reference's
  string-interpolated ILIKE (SQL-injection FIXME at ``db.py:561``)
  becomes a parameterized Column expression — injection-immune by
  construction.
* ``with_product_ids`` — replaces the SERIAL primary key
  (``db.py:502``) with a deterministic hash surrogate of the unique
  natural key ``name`` (SURVEY §7.4 item 7): stable across runs and
  partitionings, no sequence bottleneck at scale.

Catalog queries run these over a product table derived from the
benchmark ``part`` table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from shopify_db_spark.functions.parity import dec, money_out
from shopify_db_spark.plans.catalog import query
from shopify_db_spark.plans.invoice import customer_no_sql
from shopify_db_spark.sources.tables import load_table


def customer_map(customers: DataFrame) -> DataFrame:
    """``tripletex_customer_map`` (setup.sql:396-404)."""
    return customers.select(
        F.col("id").alias("shopify_id"),
        F.expr(customer_no_sql("id")).alias("tripletex_id"),
        "name",
        "phone",
        "email",
    )


def with_product_ids(products: DataFrame) -> DataFrame:
    """Deterministic surrogate id for the SERIAL pk: 64-bit hash of
    the unique ``name`` (non-negative to match SERIAL's domain)."""
    return products.withColumn(
        "id", F.abs(F.xxhash64(F.col("name"))).cast("long")
    )


def all_products(product: DataFrame) -> DataFrame:
    """``SELECT * FROM product ORDER BY brand, price`` (db.py:530-533)."""
    return product.orderBy("brand", "price")


def products_by_name(product: DataFrame, pattern: str) -> DataFrame:
    """``WHERE name ILIKE '%<pattern>%'`` (db.py:558-566) as a bound
    expression — no string splicing."""
    needle: Column = F.lit(pattern.lower())
    return product.filter(
        F.contains(F.lower(F.col("name")), needle)
    ).orderBy("brand", "price")


def _product_from_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return with_product_ids(
        part.select(
            F.col("p_name").alias("name"),
            F.col("p_brand").alias("brand"),
            dec(F.col("p_retailprice")).alias("price"),
            F.lit("USD").alias("currency"),
            F.concat(F.lit("https://img.example/"), F.col("p_partkey")).alias("img"),
        )
    ).select("id", "name", "brand", "price", "currency", "img")


@query(
    "q36_customer_map",
    oracle="""
SELECT c_custkey AS shopify_id,
       CAST(right(CAST(c_custkey AS VARCHAR), 9) AS INT) AS tripletex_id,
       c_name AS name,
       '+47 ' || CAST(c_nationkey AS VARCHAR) || '-' || CAST(c_custkey AS VARCHAR)
           AS phone,
       lower(replace(c_name, ' ', '.')) || '@example.com' AS email
FROM customer
""",
)
def q36_customer_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The id-mapping view over commerce customers derived from the
    benchmark customer table."""
    customers = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.concat(
            F.lit("+47 "),
            F.col("c_nationkey").cast("string"),
            F.lit("-"),
            F.col("c_custkey").cast("string"),
        ).alias("phone"),
        F.concat(
            F.lower(F.replace(F.col("c_name"), F.lit(" "), F.lit("."))),
            F.lit("@example.com"),
        ).alias("email"),
    )
    return customer_map(customers)


@query(
    "q37_product_search",
    oracle="""
SELECT CAST(NULL AS BIGINT) AS id,
       p_name AS name,
       p_brand AS brand,
       CAST(ROUND(CAST(p_retailprice AS DECIMAL(12,4)), 2) AS DOUBLE) AS price,
       'USD' AS currency,
       'https://img.example/' || CAST(p_partkey AS VARCHAR) AS img
FROM part
WHERE lower(p_name) LIKE '%bolt%'
""",
)
def q37_product_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive substring product search (reference ILIKE,
    db.py:558-566). The surrogate id is nulled in the comparison —
    xxhash64 is Spark-specific; its determinism is unit-tested
    instead (test_legacy.py). Price goes through the parity
    discipline (DECIMAL(12,4) at scan, money_out at output) — a
    direct double→DECIMAL(18,2) cast can disagree between Spark's
    BigDecimal HALF_UP and DuckDB's scaled-binary round on
    representation-boundary values."""
    out = products_by_name(_product_from_part(spark, sf_dir), "BOLT")
    return out.withColumn("id", F.lit(None).cast("long")).withColumn(
        "price", money_out(F.col("price"))
    )

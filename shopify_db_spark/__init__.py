"""shopify_db_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query and data-processing
capabilities of the reference `percarlsen/shopify-db` (a Postgres +
pandas Shopify ETL tool), built Spark-first:

* the 10-table commerce data model becomes Parquet-backed DataFrames
  (``schemas``, ``sources.tables``),
* the 200-line ``tripletex_invoice`` analytical view (reference
  ``setup.sql:192-394``) becomes a composable DataFrame pipeline
  (``plans.invoice``) optimized by Catalyst,
* the 8-check pandas validation suite (reference
  ``tripletex.py:204-242``) becomes distributed Spark checks
  (``plans.verify_invoices``),
* the per-table ``ON CONFLICT DO UPDATE`` upserts (reference
  ``db.py:115-407``) become key-based merge operators
  (``operators.upsert``),
* the Shopify-JSON flattening (reference ``shopify.py``) becomes
  typed ``from_json`` + ``explode`` transforms (``sources.json_ingest``),
* plus large-scale training-data operators the reference lacks:
  deduplication, similarity search, text analysis, multimodal column
  plumbing (``operators``, ``functions``).

Everything is DataFrame/SQL-declarative so Catalyst + AQE pick the
physical strategy; Python UDFs appear only where built-ins genuinely
cannot express the semantics (Arrow-batched pandas UDFs, never
row-at-a-time).
"""

__version__ = "0.1.0"

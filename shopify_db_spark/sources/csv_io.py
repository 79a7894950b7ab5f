"""Invoice CSV interchange (reference S6/S7).

The reference writes one ``;``-separated CSV with the Tripletex
column order (``shopifydb.py:144-145``, order =
required + optional fields from ``tripletex.py:6-27``) and re-reads
it for standalone verification (``shopifydb.py:115``).

The sink coalesces to a single partition and renames the part file
so the output is one plain ``.csv`` file, byte-compatible with the
reference's pandas ``to_csv(sep=';')``. At scale you would drop the
``coalesce(1)`` and emit a sharded directory — the reader below
accepts both.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from shopify_db_spark.schemas import INVOICE_CSV_COLUMNS

_INVOICE_CSV_TYPES: dict[str, T.DataType] = {
    "CUSTOMER NO": T.IntegerType(),
    "ORDER NO": T.StringType(),
    "PAID AMOUNT": T.DecimalType(18, 2),
    "ORDER LINE - COUNT": T.IntegerType(),
    "ORDER LINE - UNIT PRICE": T.DecimalType(18, 2),
    "ORDER LINE - VAT CODE": T.IntegerType(),
    "PAYMENT TYPE": T.StringType(),
    "INVOICE DATE": T.DateType(),
    "DELIVERY DATE": T.DateType(),
    "ORDER DATE": T.DateType(),
    "DUE DATE": T.DateType(),
    "INVOICE NO": T.IntegerType(),
    "CUSTOMER NAME": T.StringType(),
    "ORDER LINE - PROD NAME": T.StringType(),
    "ORDER LINE - DISCOUNT": T.DecimalType(18, 2),
    "ORDER LINE - DESCRIPTION": T.StringType(),
    "ORDER LINE - PROD NO": T.StringType(),
}

INVOICE_CSV_SCHEMA = T.StructType(
    [T.StructField(c, _INVOICE_CSV_TYPES[c], True) for c in INVOICE_CSV_COLUMNS]
)


def write_invoice_csv(
    df: DataFrame,
    path: str,
    single_file: bool = True,
    sort_cols: list[str] | None = None,
) -> None:
    """Write invoice lines as ``;``-separated CSV in the Tripletex
    column order.

    ``sort_cols`` orders the file content with a LOCAL sort after the
    single-writer funnel (``sortWithinPartitions``). For a
    single-file sink this replaces an upstream global ``orderBy``
    outright: the global sort pays a range-boundary sampling job plus
    a range-partitioned exchange, and the subsequent ``repartition(1)``
    destroys that ordering anyway — one local sort on the one final
    partition yields the reference's file order for one shuffle
    (q63)."""
    out = df.select(*INVOICE_CSV_COLUMNS)
    tmp = path + ".tmpdir"
    # repartition(1), NOT coalesce(1): coalesce is a narrow
    # dependency, so it would collapse the WHOLE upstream plan (e.g.
    # the six-join invoice pipeline) into one task; repartition keeps
    # the upstream parallel and funnels only the finished rows
    # through the single writer (measured 2x on the invoice slice).
    funneled = out.repartition(1) if single_file else out
    if sort_cols:
        funneled = funneled.sortWithinPartitions(*sort_cols)
    writer = (
        funneled
        .write.mode("overwrite")
        .option("sep", ";")
        .option("header", True)
        # Spark's CSV writer TRIMS cell whitespace by default
        # (univocity ignore*WhiteSpace default true on write);
        # pandas to_csv does not. Values like a 'title - ' display
        # name with an empty variant keep their trailing space.
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
    )
    if single_file:
        writer.csv(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.csv"))[0]
        shutil.move(part, path)
        shutil.rmtree(tmp)
    else:
        writer.csv(path)


def read_invoice_csv(spark: SparkSession, path: str) -> DataFrame:
    """Read an invoice CSV (single file or sharded directory) with
    the typed invoice schema — the reference's re-verification source
    (``shopifydb.py:108-117``)."""
    return (
        spark.read.schema(INVOICE_CSV_SCHEMA)
        .option("sep", ";")
        .option("header", True)
        .csv(path)
        .select(*INVOICE_CSV_COLUMNS)
    )

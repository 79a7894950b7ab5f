"""Invoice CSV interchange (reference S6/S7).

The reference writes one ``;``-separated CSV with the Tripletex
column order (``shopifydb.py:144-145``, order =
required + optional fields from ``tripletex.py:6-27``) and re-reads
it for standalone verification (``shopifydb.py:115``).

The sink funnels the finished lines through one writer and renames
the part file, so the output is one plain ``.csv`` file,
byte-compatible with the reference's pandas ``to_csv(sep=';')``. It
owns the file order: the reference's ``ORDER BY "INVOICE NO",
"CUSTOMER NAME"`` (``db.py:480-483``) exists only for this file, so
callers hand over unsorted lines. The reader below accepts a single
file or a sharded directory.
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


#: the reference's file order (``db.py:480-483``), then every other
#: column: lines tied on the reference key keep no input-layout order,
#: so the file's bytes depend only on its rows.
_FILE_ORDER = ["INVOICE NO", "CUSTOMER NAME"] + [
    c for c in INVOICE_CSV_COLUMNS if c not in ("INVOICE NO", "CUSTOMER NAME")
]


def write_invoice_csv(df: DataFrame, path: str) -> None:
    """Write invoice lines as one ``;``-separated CSV file in the
    Tripletex column order, rows in the reference's file order.

    The order comes from one LOCAL sort on the single writer
    partition: a global ``orderBy`` upstream would pay a
    range-boundary sampling job and a range exchange, and the
    ``repartition(1)`` funnel would scramble its order anyway."""
    tmp = path + ".tmpdir"
    # repartition(1), NOT coalesce(1): coalesce is a narrow
    # dependency, so it would collapse the WHOLE upstream plan (e.g.
    # the six-join invoice pipeline) into one task; repartition keeps
    # the upstream parallel and funnels only the finished rows
    # through the single writer (measured 2x on the invoice slice).
    (
        df.select(*INVOICE_CSV_COLUMNS)
        .repartition(1)
        .sortWithinPartitions(*_FILE_ORDER)
        .write.mode("overwrite")
        .option("sep", ";")
        .option("header", True)
        # Spark's CSV writer TRIMS cell whitespace by default
        # (univocity ignore*WhiteSpace default true on write);
        # pandas to_csv does not. Values like a 'title - ' display
        # name with an empty variant keep their trailing space.
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .csv(tmp)
    )
    part = glob.glob(os.path.join(tmp, "part-*.csv"))[0]
    shutil.move(part, path)
    shutil.rmtree(tmp)


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

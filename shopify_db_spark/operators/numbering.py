"""Scalable global row numbering.

``ROW_NUMBER() OVER (ORDER BY ...)`` — the reference's invoice
numbering (``db.py:446-457``, ``ROW_NUMBER() OVER ()`` + start-id
arithmetic) — forces Spark to funnel every row through ONE partition
(`Window.orderBy` with no partitionBy), which is fine for thousands
of invoice groups and fatal for billions of rows.

``global_row_numbers`` is the two-phase formulation that keeps the
cluster wide:

1. **Range-repartition** on the order columns — partition *i* holds
   a contiguous key range strictly below partition *i+1*
   (RangePartitioner semantics), so global order = (partition id,
   local order).
2. **Local numbering** — an ordinary window partitioned by
   ``spark_partition_id()``: every partition numbers its own rows
   independently, full parallelism.
3. **Offsets** — per-partition row counts (≤ #partitions rows) get a
   running-sum window; THAT single-partition window is over a
   partition-count-sized frame, not the data. Offsets broadcast-join
   back and ``global = start + offset + local - 1``.

Total cost: one range shuffle + one hash shuffle of the numbered
frame + a dimension-sized broadcast — no single-partition stage over
the data. The frame is persisted between the offsets job and the
final join so both observe the same (sampled) range boundaries and
partition ids.

Determinism: for any key set, the numbering equals sorting by
``order_cols`` and numbering sequentially — range boundaries only
decide WHERE a chunk is computed, never the global order — provided
``order_cols`` form a unique key (ties across a partition boundary
would otherwise order arbitrarily, exactly as in the single-window
form).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from shopify_db_spark.operators.planutil import STATS_UNKNOWN, plan_size_bytes

__all__ = [
    "global_row_numbers",
    "global_running_sum",
    "global_ntile",
    "needs_two_phase",
    "TWO_PHASE_SOURCE_BYTES",
    "TWO_PHASE_GROUP_ROWS",
]

#: Above this much estimated source data behind a numbering's group
#: keys (Catalyst plan-time ``sizeInBytes`` — no job runs) a
#: single-partition numbering window and a broadcast of the numbered
#: side stop being safe; callers flip to the two-phase numbering.
#: 256 MiB of source rows is ≳2M groups — ~100 MB of keys in one
#: task / one broadcast, near the practical ceiling for both. Biased
#: low on purpose: flipping early costs two extra small shuffles,
#: flipping late funnels the group set through one task.
TWO_PHASE_SOURCE_BYTES = 256 << 20

#: Row-count fallback bound for lineages whose plan-time stats are
#: unknown (Catalyst reports Long.MaxValue for e.g. Python-sourced
#: local relations): cheap count jobs instead of the free estimate.
#: Same ceiling rationale as the byte form.
TWO_PHASE_GROUP_ROWS = 2_000_000


def needs_two_phase(
    sources: list[DataFrame],
    byte_bound: int | None = None,
    row_bound: int | None = None,
) -> bool:
    """Plan-time decision: should a numbering over a group set that
    is upper-bounded by ``sources`` use the two-phase formulation?

    Uses Catalyst's free ``sizeInBytes`` estimate
    (``planutil.plan_size_bytes``: driver-side, no job); lineages it
    cannot size (``STATS_UNKNOWN``) fall back to count jobs against
    ``row_bound``. Shared by ``plans.invoice.build_invoices`` and the
    standalone numbering demo ``plans.tpch.q08`` so every numbering
    site auto-escapes the single-partition window the same way."""
    # bounds resolved at CALL time (module globals, not def-time
    # defaults) so tests/operators can tune them via the module
    if byte_bound is None:
        byte_bound = TWO_PHASE_SOURCE_BYTES
    if row_bound is None:
        row_bound = TWO_PHASE_GROUP_ROWS
    sizes = [plan_size_bytes(df) for df in sources]
    if STATS_UNKNOWN in sizes:
        return sum(df.count() for df in sources) > row_bound
    return sum(sizes) > byte_bound


def global_row_numbers(
    df: DataFrame,
    order_cols: list[str],
    col_name: str = "rn",
    start: int = 1,
    num_partitions: int | None = None,
) -> DataFrame:
    """Attach a dense global 1..N numbering ordered by ``order_cols``
    without a single-partition window over the data.

    ``num_partitions`` defaults to the session's shuffle parallelism.
    The returned DataFrame is persisted (required for partition-id
    stability across the offsets job and the main job); callers doing
    one-shot pipelines can ``unpersist`` after their action.
    """
    cols: list[Column] = [F.col(c) for c in order_cols]
    ranged = (
        df.repartitionByRange(num_partitions, *cols)
        if num_partitions
        else df.repartitionByRange(*cols)
    )
    local_w = Window.partitionBy("__pid").orderBy(*cols)
    local = (
        ranged.withColumn("__pid", F.spark_partition_id())
        .withColumn("__local_rn", F.row_number().over(local_w))
        .persist()
    )
    # Running-sum of partition sizes → each partition's starting
    # offset. Single-partition window, but over ≤ #partitions rows.
    counts = local.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
    off_w = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "__pid", F.coalesce(F.sum("__cnt").over(off_w), F.lit(0)).alias("__off")
    )
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(
            col_name,
            (F.lit(start) + F.col("__off") + F.col("__local_rn") - 1).cast("long"),
        )
        .drop("__pid", "__local_rn", "__off")
    )


def global_running_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    col_name: str = "running_sum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exclusive prefix sum of ``value_col`` in ``order_cols`` order —
    ``SUM(v) OVER (ORDER BY ... ROWS BETWEEN UNBOUNDED PRECEDING AND
    1 PRECEDING)`` — with the same two-phase shape as
    :func:`global_row_numbers`: range-repartition, per-partition
    local prefix sums (full parallelism), then per-partition value
    totals running-summed over a #partitions-sized frame and
    broadcast back as offsets. The exclusive form is what layout
    problems want (a row's sum = where it STARTS); the inclusive sum
    is just ``running_sum + value``.

    Same determinism caveat: ``order_cols`` must form a unique key.
    The returned frame is persisted (partition-id stability across
    the offsets job and the main job)."""
    cols: list[Column] = [F.col(c) for c in order_cols]
    ranged = (
        df.repartitionByRange(num_partitions, *cols)
        if num_partitions
        else df.repartitionByRange(*cols)
    )
    local_w = (
        Window.partitionBy("__pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = (
        ranged.withColumn("__pid", F.spark_partition_id())
        .withColumn(
            "__local_sum",
            F.coalesce(F.sum(value_col).over(local_w), F.lit(0)).cast("long"),
        )
        .persist()
    )
    totals = local.groupBy("__pid").agg(F.sum(value_col).alias("__tot"))
    off_w = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "__pid", F.coalesce(F.sum("__tot").over(off_w), F.lit(0)).alias("__off")
    )
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(col_name, (F.col("__off") + F.col("__local_sum")).cast("long"))
        .drop("__pid", "__local_sum", "__off")
    )


def global_ntile(
    df: DataFrame,
    order_cols: list[str],
    n_tiles: int,
    col_name: str = "tile",
    num_partitions: int | None = None,
) -> DataFrame:
    """``NTILE(n) OVER (ORDER BY ...)`` without the single-partition
    window: global row numbers via :func:`global_row_numbers`, then
    the exact NTILE bucket formula (first ``N % n`` buckets get
    ``ceil(N/n)`` rows, the rest ``floor(N/n)``) applied from the
    total count — a scalar aggregate, collected driver-side, which
    is scale-free.

    Matches SQL NTILE exactly for any N, n (asserted against the
    DuckDB window function in the q52 oracle); ties across tile
    boundaries are deterministic iff ``order_cols`` form a unique
    key, same caveat as :func:`global_row_numbers`.
    """
    numbered = global_row_numbers(
        df, order_cols, col_name="__rn", num_partitions=num_partitions
    )
    total = numbered.count()  # scalar; numbered is persisted already
    size, rem = divmod(total, n_tiles)
    boundary = rem * (size + 1)
    rn = F.col("__rn")
    tile = F.when(
        rn <= F.lit(boundary), (rn - 1) / F.lit(size + 1)
    ).otherwise(F.lit(rem) + (rn - F.lit(boundary) - 1) / F.lit(max(size, 1)))
    return numbered.withColumn(
        col_name, (F.floor(tile) + 1).cast("int")
    ).drop("__rn")

"""Two-phase global numbering: must equal the single-window
ROW_NUMBER form exactly (the invoice pipeline's 100× escape hatch)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from shopify_db_spark.operators.numbering import (
    global_row_numbers,
    needs_two_phase,
)
from shopify_db_spark.plans.invoice import build_invoices
from tests.commerce_fixtures import build_tables

FROM_DATE, TO_DATE, START_ID = "2024-01-01", "2024-12-31", 1000


def test_matches_single_window(spark):
    df = (
        spark.range(0, 5000)
        .withColumn("k", F.concat(F.lit("key-"), F.format_string("%05d", (F.col("id") * 7919) % 5000)))
        .withColumn("payload", F.col("id") * 2)
        .drop("id")
    )
    got = global_row_numbers(df, ["k"], col_name="rn", start=100, num_partitions=8)
    want = df.withColumn(
        "rn", (F.lit(100) + F.row_number().over(Window.orderBy("k")) - 1).cast("long")
    )
    assert sorted(got.collect()) == sorted(want.collect())
    # Dense, consecutive, correct range.
    rns = [r.rn for r in got.select("rn").collect()]
    assert sorted(rns) == list(range(100, 100 + 5000))


def test_no_single_partition_exchange_over_data(spark):
    df = spark.range(0, 1000).withColumn("k", F.col("id").cast("string")).drop("id")
    plan = global_row_numbers(df, ["k"], num_partitions=8)._jdf.queryExecution().optimizedPlan().toString()
    # The data path must range-partition, never SinglePartition; the
    # only single-partition window runs over the per-partition counts.
    assert "rangepartitioning" in plan.lower()


def test_invoice_auto_two_phase_threshold(spark, monkeypatch):
    """build_invoices flips to two-phase numbering once
    the plan-time size estimate of the group-key sources (orders +
    refunds) crosses the byte threshold, and the resulting plan
    routes the group numbering through the range-partitioned path
    instead of a single-partition window over the group set."""
    from shopify_db_spark.plans import invoice as inv

    tables = build_tables(spark)

    # Below threshold (the real default): windowed path, no two-phase
    # markers in the plan.
    small = build_invoices(tables, FROM_DATE, TO_DATE, START_ID)
    small_plan = small._jdf.queryExecution().optimizedPlan().toString()
    assert "__local_rn" not in small_plan

    # Fixture tables are Python local relations (stats unknown), so
    # the auto path takes the count fallback; zero both bounds so
    # either route flips.
    monkeypatch.setattr(inv, "TWO_PHASE_SOURCE_BYTES", 0)
    monkeypatch.setattr(inv, "TWO_PHASE_GROUP_ROWS", 0)
    auto = inv.build_invoices(tables, FROM_DATE, TO_DATE, START_ID)
    auto_plan = auto._jdf.queryExecution().optimizedPlan().toString()
    # Two-phase markers present; the group set is range-partitioned.
    assert "__local_rn" in auto_plan
    assert "rangepartitioning" in auto_plan.lower()
    # Every single-partition exchange in the PHYSICAL plan sits over
    # the per-partition count frame (bounded by #partitions), never
    # over the group/line data: the subtree under each SinglePartition
    # exchange must reach the count aggregate within a few operators.
    phys = auto._jdf.queryExecution().executedPlan().toString()
    lines = phys.splitlines()
    hits = [i for i, line in enumerate(lines) if "SinglePartition" in line]
    assert hits, "expected the offsets window's SinglePartition exchange"
    for i in hits:
        tail = "\n".join(lines[i : i + 6])
        assert "count(1)" in tail or "__cnt" in tail, tail
    # And the two-phase pick produces the exact same rows as the
    # windowed one.
    key = lambda r: tuple((c, str(v)) for c, v in sorted(r.asDict().items()))  # noqa: E731
    assert sorted(map(key, auto.collect())) == sorted(map(key, small.collect()))


def test_running_sum_matches_single_window(spark):
    from shopify_db_spark.operators.numbering import global_running_sum

    df = (
        spark.range(0, 5000)
        .withColumn("k", F.format_string("%05d", (F.col("id") * 7919) % 5000))
        .withColumn("v", (F.col("id") % 37) + 1)
        .drop("id")
    )
    got = global_running_sum(df, ["k"], "v", col_name="rs", num_partitions=8)
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
    want = df.withColumn("rs", F.coalesce(F.sum("v").over(w), F.lit(0)).cast("long"))
    assert sorted(got.collect()) == sorted(want.collect())

def test_q08_auto_two_phase_escape(spark, monkeypatch):
    """q08's standalone group numbering must auto-escape the
    single-partition window exactly like build_invoices: zeroing the
    shared bounds flips it to the range-partitioned two-phase path
    with identical output."""
    from shopify_db_spark.operators import numbering as num
    from shopify_db_spark.plans.tpch import q08_group_numbering
    from tests.conftest import SF_SMOKE

    small = q08_group_numbering(spark, SF_SMOKE)
    assert "__local_rn" not in small._jdf.queryExecution().optimizedPlan().toString()

    monkeypatch.setattr(num, "TWO_PHASE_SOURCE_BYTES", 0)
    monkeypatch.setattr(num, "TWO_PHASE_GROUP_ROWS", 0)
    auto = q08_group_numbering(spark, SF_SMOKE)
    auto_plan = auto._jdf.queryExecution().optimizedPlan().toString()
    assert "__local_rn" in auto_plan
    assert "rangepartitioning" in auto_plan.lower()
    key = lambda r: tuple((c, str(v)) for c, v in sorted(r.asDict().items()))  # noqa: E731
    assert sorted(map(key, auto.collect())) == sorted(map(key, small.collect()))


def test_needs_two_phase_unsized_source_takes_count_path():
    """A source Catalyst cannot size (no py4j bridge under Spark
    Connect, or any probe failure) takes the row-count fallback
    instead of raising. Hermetic: a stub source, no Spark session."""

    class _Unsized:
        @property
        def _jdf(self):
            raise RuntimeError("no JVM bridge")

        def count(self) -> int:
            return 5

    src = [_Unsized()]
    assert needs_two_phase(src, byte_bound=1 << 40, row_bound=4) is True
    assert needs_two_phase(src, byte_bound=0, row_bound=5) is False

"""Plan-time sizing and broadcast gating shared by join operators.

Several operators want the classic "broadcast the small side" fast
path but must NOT take it unconditionally: a frame that is small at
test scale (a 2%-of-corpus query set, a document-frequency table)
is data-sized, and an unconditional ``F.broadcast`` hint overrides
Spark's own size reasoning — at 100 TB that ships terabytes to every
executor and OOMs. The rule used everywhere in this package is
:func:`fits_broadcast`, written once here:

* broadcast ONLY when Catalyst's plan-time estimate of the frame is
  under an operator-specific bound,
* otherwise emit the join WITHOUT a hint, falling back to the
  operator's shuffle shape (equi-key shuffle join, or an explicit
  blocked pair grid where no equi key exists) — Spark's own
  ``autoBroadcastJoinThreshold`` may still broadcast genuinely
  small frames, which is exactly the size reasoning we want.

Each bound is a module constant next to its operator
(``similarity.ANN_QUERY_BROADCAST_SOURCE_BYTES``,
``similarity.IVF_MATMUL_ASSIGN_SOURCE_BYTES``,
``dedup.PREFIX_DF_BROADCAST_SOURCE_BYTES``,
``numbering.TWO_PHASE_SOURCE_BYTES``) read at call time, so a test
picks a path by patching the bound, not through a parameter.
:func:`plan_size_bytes` is the package's only stats probe
(tests/test_plan_lint.py checks it).

Catalyst's estimate without CBO is conservative in the right
direction: a Filter reports its CHILD's size, so "2% of the corpus"
reads as corpus-sized and stays un-broadcast at scale, while a truly
small external query frame (a handful of probe vectors) broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: sentinel for "Catalyst could not size this plan" — callers treat
#: it as infinitely large and take their safe non-broadcast path.
STATS_UNKNOWN = (1 << 63) - 1


def plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan ``sizeInBytes`` estimate, or
    :data:`STATS_UNKNOWN`.

    This probes the private ``_jdf`` py4j bridge, which Spark
    Connect does not expose and future Spark versions may move; ANY
    failure returns the sentinel, so under Connect (or on an odd
    build) the broadcast fast path simply never triggers and the
    always-correct shuffle fallback runs instead. There is no public
    PySpark API for plan-time stats as of Spark 4.x — when one
    lands, this is the single place to adopt it."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # pragma: no cover - Connect / py4j edge
        return STATS_UNKNOWN


def fits_broadcast(df: DataFrame, bound_bytes: int) -> bool:
    """The package's one broadcast gate: True iff Catalyst sizes
    ``df``'s plan under ``bound_bytes``. An unsizable plan reads as
    :data:`STATS_UNKNOWN` and never fits."""
    return plan_size_bytes(df) < bound_bytes


def blocked_pair_join(
    left: DataFrame,
    right: DataFrame,
    left_blocks: int,
    right_blocks: int,
    left_key: str,
    right_key: str,
) -> DataFrame:
    """Distributed block nested loop: every (left, right) row pair
    exactly once, with per-task memory bounded by
    ``|L|/left_blocks + |R|/right_blocks`` — the scale shape for an
    all-pairs scoring join when NEITHER side fits a broadcast and no
    equi key exists (brute-force cosine over a corpus-sized query
    frame).

    Each left row is replicated to ``right_blocks`` grid cells and
    vice versa, so shuffle volume is ``|L|·Rb + |R|·Lb`` — choose
    blocks ~ sqrt(parallelism) to balance replication against cell
    size. The join key is the (lb, rb) cell id: a plain shuffle
    equi-join, no CartesianProduct, no BroadcastNestedLoop. A pair
    (l, r) meets only in cell ``(hash(l) % Lb, hash(r) % Rb)`` —
    exactly once, so results match the broadcast plan row-for-row."""
    lb = F.pmod(F.hash(F.col(left_key)), F.lit(left_blocks))
    rb = F.pmod(F.hash(F.col(right_key)), F.lit(right_blocks))
    lg = left.withColumn("__lb", lb).withColumn(
        "__rb", F.explode(F.sequence(F.lit(0), F.lit(right_blocks - 1)))
    )
    rg = right.withColumn("__rb", rb).withColumn(
        "__lb", F.explode(F.sequence(F.lit(0), F.lit(left_blocks - 1)))
    )
    return lg.join(rg, ["__lb", "__rb"]).drop("__lb", "__rb")

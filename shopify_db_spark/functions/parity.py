"""Decimal-exact arithmetic helpers for oracle parity.

The reference does money math in Postgres ``NUMERIC`` (exact) and
rounds with ``round(x::numeric, 2)`` — HALF_UP (``setup.sql:365-369``).
The driver's correctness gate hash-compares our results against a
DuckDB oracle, so floating-point non-determinism (parallel summation
order) is not acceptable in any aggregated money column.

Discipline used across the whole query catalog:

1. cast DOUBLE source columns to ``DECIMAL(12,4)`` at the scan —
   exact for 2-dp-generated data, and the rounding rule for stray
   long doubles (round-to-nearest at scale 4) agrees between Spark
   (Java BigDecimal HALF_UP on the shortest decimal repr) and DuckDB
   (scaled round of the binary value) because scale-4 true midpoints
   are not representable in binary;
2. compute in decimal with bounded precision so neither engine
   overflows 38 digits (a triple product of DECIMAL(12,4) peaks at
   Spark's (38,12) — the max that avoids precision-loss adjustment);
3. aggregate the decimals (exact, order-independent);
4. ``round(x, 2)`` explicitly — HALF_UP in Spark ≡ round-half-away
   in DuckDB for our non-negative money (and both round away from
   zero on negatives too);
5. cast the final value to DOUBLE so output schemas are identical
   regardless of each engine's decimal precision-propagation rules.

This is also the right call at 100 TB: decimal aggregation is exact
under any partitioning/AQE re-plan, so results don't depend on the
physical plan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Bounded money type — see module docstring for why (12,4).
MONEY = T.DecimalType(12, 4)


def dec(col: Column | str) -> Column:
    """Cast a (double) column to the exact MONEY decimal type."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(MONEY)


def dlit(value) -> Column:
    """A decimal literal of MONEY type (e.g. ``dlit(1)`` for 1.0000)."""
    return F.lit(value).cast(MONEY)


def money_out(col: Column, scale: int = 2) -> Column:
    """Final money output: explicit HALF_UP round, then double."""
    return F.round(col, scale).cast("double")

"""Numeric helpers with oracle-exact semantics.

The testdata money columns (prices, discounts, balances, event values)
are doubles that are exact at 2 decimal places. Aggregating them as
DOUBLE makes the sum depend on reduction order (Spark's partial
aggregation vs DuckDB's sequential scan disagree in the last ulps), so
every money aggregate in this engine is computed in DECIMAL(18,2) —
exact, associative, order-independent — and only cast to DOUBLE at the
plan's output boundary. This mirrors what a production engine does for
currency at 100 TB: decimal math is also skew/partition-order immune.

Rounding parity notes (SURVEY.md §7.3): Spark ``F.round`` is HALF_UP —
matching the reference's ``BigDecimal ... RoundingMode.HALF_UP``
(final/src/main/java/population/PopulatePt.java:66-72) and, for positive
values, DuckDB's round-half-away-from-zero. ``F.bround`` (HALF_EVEN)
is deliberately not used anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def dec2(col: str | Column) -> Column:
    """Cast a 2-dp-exact double column to DECIMAL(18,2)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(18,2)")

"""Exact-aggregation helpers.

Floating-point SUM/AVG is order-dependent, and Spark's parallel partial
aggregation sums in a different order than a single-threaded engine —
so a naive ``SUM(double)`` can differ from the oracle in the last ulps
and break value-hash comparison. The fix (mirroring the reference's
``::NUMERIC`` casts, reference: sql/analytics_queries.sql:52,65,91) is
to aggregate in DECIMAL (exact, associative) and surface the result as
DOUBLE.

The scale matters: Spark converts double→decimal via the double's
*shortest decimal string* (BigDecimal.valueOf) while DuckDB rounds the
*exact binary* value, and the two disagree precisely at half-way
points (e.g. 79589.20165 → .2017 vs .2016 at scale 4). Scale 6 is at
least the intrinsic decimal scale of every value in play (prices carry
≤4 decimals; 3-factor price×(1±rate)² products carry ≤6), so both
conversions recover the exact decimal value and no rounding ever
happens at a half-way point.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MONEY_DECIMAL = "decimal(38,6)"


def money_sum(col: str | Column) -> Column:
    """Exact SUM of a double column, returned as DOUBLE.

    Oracle-SQL equivalent:
    ``CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(MONEY_DECIMAL)).cast("double")


# Scale of the exact AVG quotient: 18 places leave 20 integer digits
# for the sum, and rounding the quotient to ``scale`` afterwards can
# only differ from rounding the exact rational well below double
# precision.
_AVG_DECIMAL = "decimal(38,18)"


def money_avg(col: str | Column, n: Column | None = None, scale: int = 2) -> Column:
    """Exact-sum-based AVG rounded to ``scale``: round(sum_dec / count, s).

    Oracle-SQL equivalent:
    ``ROUND(CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), s)``.

    The quotient is rounded as a DECIMAL and only then cast to double:
    Spark's ``round`` of a double rounds its exact binary value, so a
    half-way average such as 3571.60 / 80 = 44.645 (stored as
    44.64499…) would round down to 44.64, while DuckDB's ROUND of the
    same double lands on 44.65, the half-up value.
    """
    c = F.col(col) if isinstance(col, str) else col
    count = n if n is not None else F.count(F.lit(1))
    quotient = F.sum(c.cast(MONEY_DECIMAL)).cast(_AVG_DECIMAL) / count
    return F.round(quotient, scale).cast("double")


def oracle_money_sum(expr: str) -> str:
    """The DuckDB-side rendering of :func:`money_sum`."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(38,6))) AS DOUBLE)"


def oracle_money_avg(expr: str, n: str = "COUNT(*)", scale: int = 2) -> str:
    return f"ROUND({oracle_money_sum(expr)} / {n}, {scale})"

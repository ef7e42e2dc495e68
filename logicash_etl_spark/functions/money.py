"""Money / deterministic-aggregate helpers.

The reference is explicit that floats are wrong for money: amounts are
DECIMAL(18,2) end-to-end (etl_job.py:105-109; generator.py:146-152
computes Decimal(randint)/100 to dodge IEEE-754 error). These helpers
centralize that policy and make aggregates *deterministic*: a float
SUM's value depends on partition order (non-associative fp addition),
so at 1000 executors two runs of the same query can disagree in the
last bits. Summing in decimal is exact and order-independent; we cast
back to double only at the output edge.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MONEY = "decimal(18,2)"


def money(c: Column | str) -> Column:
    """Cast to the engine money type DecimalType(18,2)."""
    return F.col(c).cast(MONEY) if isinstance(c, str) else c.cast(MONEY)


def dsum(c: Column | str, alias: str | None = None) -> Column:
    """Order-independent SUM: aggregate in decimal, emit double."""
    out = F.sum(money(c)).cast("double")
    return out.alias(alias) if alias else out


def davg(c: Column | str, alias: str | None = None) -> Column:
    """Order-independent AVG: decimal sum / count, double division.

    (sum(decimal) is exact; the single double division at the end is
    deterministic — unlike avg(double) whose partial sums are not.)
    """
    col = F.col(c) if isinstance(c, str) else c
    out = F.sum(money(col)).cast("double") / F.count(col)
    return out.alias(alias) if alias else out

"""Cross-engine-exact numeric aggregation helpers.

Why: float SUM order is nondeterministic across engines (and across
partitionings of the same engine). Rounding such a sum to N decimals
turns a last-ulp difference into a visible ±10^-N mismatch — r01's
``q7_volume_shipping`` failed exactly this way (Spark 536532.32 vs
DuckDB 536532.31). The testdata's numeric measures are all exactly
2-decimal (verified against every table), so the fix is to aggregate
in exact DECIMAL on both engines and only convert to double at the
end: identical inputs → identical decimal sum → identical rounded
double, regardless of partitioning or summation order. This also
holds at 100 TB — decimal sums stay exact at any parallelism, while
the float path gets *worse* with more partitions.

Averages use ``sum(decimal)/count`` instead of the engine's AVG so
both engines divide bit-identical doubles (engine AVG implementations
accumulate in different orders).

The SQL mirrors (for DuckDB oracles) live next to each query; the
pattern is::

    CAST(round(sum(CAST(x AS DECIMAL(12,2))), 2) AS DOUBLE)
    round(CAST(sum(CAST(x AS DECIMAL(12,2))) AS DOUBLE) / count(x), 6)
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from decimal import ROUND_HALF_UP, Context, Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F

# ------------------------------------------------------- exact switch
#
# exact=True  (default): DECIMAL sums — bit-identical to the oracle at
#   any partitioning. The correctness-gate mode.
# exact=False (production): plain double sums — ~2.6x faster on the
#   agg-heavy bundle (SCALE.md's decimal-vs-double measurement) at the
#   cost of last-ulp partitioning nondeterminism. The mode a
#   throughput-bound 100 TB job runs when a +/-1e-8 wobble on a 10^10
#   sum is acceptable (it almost always is; the oracle gate is not
#   such a consumer).
#
# The default comes from $ELEPHANT_EXACT_AGG (unset/1 = exact) so a
# whole deployment can flip without code changes; `approx_sums()`
# scopes the production mode to one plan build.

_EXACT = os.environ.get("ELEPHANT_EXACT_AGG", "1") != "0"


def exact_enabled() -> bool:
    return _EXACT


@contextmanager
def approx_sums():
    """Build plans inside this block with double (production) sums."""
    global _EXACT
    prev = _EXACT
    _EXACT = False
    try:
        yield
    finally:
        _EXACT = prev

# Wide enough for any per-row measure here (|x| < 10^10), tight
# enough that products of two money/rate casts stay under Spark's
# 38-digit decimal cap without scale truncation.
MONEY = "decimal(12,2)"
RATE = "decimal(4,2)"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def money(col: Column | str) -> Column:
    """Exact decimal view of a 2-decimal-valued double column
    (passthrough double in production mode)."""
    c = _c(col)
    return c.cast(MONEY) if _EXACT else c.cast("double")


def rate(col: Column | str) -> Column:
    """Exact decimal view of a 2-decimal rate (discount/tax);
    passthrough double in production mode."""
    c = _c(col)
    return c.cast(RATE) if _EXACT else c.cast("double")


def dsum(col: Column | str, digits: int = 2) -> Column:
    """round(sum(decimal), digits) as double — order-independent.
    Production mode: plain double sum (fast, last-ulp wobble)."""
    return F.round(F.sum(money(col)), digits).cast("double")


def dsum_expr(expr: Column, digits: int = 2) -> Column:
    """Same, for an already-decimal expression (e.g. money products)."""
    return F.round(F.sum(expr), digits).cast("double")


def davg(col: Column | str, digits: int = 6) -> Column:
    """sum(decimal)/count as double, rounded — both engines round the
    *same* double, so the result is deterministic cross-engine."""
    c = _c(col)
    return F.round(
        F.sum(money(c)).cast("double") / F.count(c), digits
    )


# room for every finite double at any scale: quantize raises instead
# of rounding when the result needs more digits than the context has
_ROUND_CTX = Context(prec=400)


def spark_round(x: float | Decimal, scale: int = 6) -> Decimal:
    """Driver twin of Spark's ``round(x, scale)`` as the exact
    decimal: HALF_UP on the shortest decimal repr of a double
    (``BigDecimal.valueOf(d).setScale(scale, HALF_UP)``), or on a
    ``Decimal`` as given (Spark's decimal round). Python's ``repr``
    and Java's ``Double.toString`` both emit a shortest decimal that
    round-trips, so the quantize inputs agree; ``Decimal(x)`` (the
    exact binary expansion) could land on the other side of a
    halfway point. NaN and ±Inf pass through, as in Spark, and a
    result of zero is unsigned (``BigDecimal`` has no -0).
    ``float()`` of the result is the double Spark returns."""
    d = x if isinstance(x, Decimal) else Decimal(repr(float(x)))
    if not d.is_finite():
        return d
    r = d.quantize(
        Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP, context=_ROUND_CTX
    )
    return r.copy_abs() if r.is_zero() else r

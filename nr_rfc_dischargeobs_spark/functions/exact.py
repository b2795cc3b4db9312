"""Integer-exact aggregation helpers.

Floating-point SUM/AVG are order-of-evaluation dependent, so two engines (or
two shuffle layouts of the same engine) can disagree in the last ulp — and a
subsequent ROUND amplifies that ulp into a visible 0.01 whenever the true
value sits on a decimal boundary (common when inputs are 2-decimal money
values: avg of 332.79/2 = 166.395).

The engine's contract queries therefore aggregate **scaled integers**:

1. scale fixed-decimal doubles to BIGINT (``scaled``) — exact;
2. SUM the integers — exact and order-independent in every engine
   (Spark sums them as integer-valued doubles, also exact below 2^53);
3. divide once at the end — a single correctly-rounded IEEE op on identical
   inputs yields identical doubles everywhere.

The same discipline also makes results *self*-deterministic under AQE
re-planning and partition-count changes — required for a reproducible 100 TB
pipeline, not just for oracle tests.

``*_sql`` helpers emit the DuckDB-side mirror of each expression; keep the
operation ORDER identical between the two or the bit-exactness argument
breaks.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Every helper here works on the 2-decimal grid: x * 100 is an integer.
FACTOR = 100


def scaled(col: Column) -> Column:
    """Fixed-decimal double → exact scaled BIGINT.

    ``round(x*factor, 0)`` lands on the intended integer because the input
    has at most ``log10(factor)`` decimals (noise ~1e-10, never near .5).
    """
    return F.round(col * FACTOR, 0).cast("long")


def scaled_sql(expr: str) -> str:
    return f"CAST(ROUND(({expr}) * {FACTOR}, 0) AS BIGINT)"


def sum_scaled(col: str | Column, factor: int = 100) -> Column:
    """SUM of pre-scaled ints, presented at original scale: sum::double/f."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c).cast("double") / factor


def sum_scaled_sql(expr: str) -> str:
    return f"CAST(SUM({expr}) AS DOUBLE) / {FACTOR}"


def avg_scaled(col: str | Column) -> Column:
    """Mean of pre-scaled ints: (sum::double/factor)/count — division order
    matters for bit-equality, keep it identical to :func:`avg_scaled_sql`."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c).cast("double") / FACTOR / F.count(c)


def avg_scaled_sql(expr: str) -> str:
    return f"CAST(SUM({expr}) AS DOUBLE) / {FACTOR} / COUNT({expr})"


def rescale_ratio(sum_col: Column, count_col: Column, factor: int) -> Column:
    """ROUND(sum*factor/count) as BIGINT — re-quantize a mean back to an
    exact integer grid (used between rollup stages so the next stage can sum
    exactly again).  Exact halves of the division are representable doubles,
    and both Spark and DuckDB round halves away from zero, so the result is
    engine-independent.
    """
    return F.round(
        (sum_col * factor).cast("double") / count_col, 0
    ).cast("long")

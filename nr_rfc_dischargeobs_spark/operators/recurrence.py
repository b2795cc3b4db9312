"""A2 — the rising/falling hourly rule, the engine's one genuine recurrence.

Reference (``dischargeobs_write_xl.py:108-129``): the hourly stage value is
the hourly MAX while the river is rising, and the LAST-in-hour observation
while it is falling.  Implemented there as a sequential loop:

    hrly_val = hrly_max            # ALIAS, not a copy (:123)
    for i in 1..n:
        if hrly_max[i] <= hrly_val[i-1]:   # reads the REWRITTEN prior value
            hrly_val[i] = hrly_last[i]

Because ``hrly_val`` aliases ``hrly_max``, the comparison at step i sees the
already-overwritten value at i-1 — output depends on prior output.  It is
still a window function, because the state is one bit: the output at hour i
is always ``hrly_max[i]`` (state M) or ``hrly_last[i]`` (state L).  With
``a = hrly_max[i] <= hrly_max[i-1]`` and ``b = hrly_max[i] <= hrly_last[i-1]``
each hour applies one of four maps to that bit:

* ``a ∧ b``   → L whatever the prior state (constant);
* ``¬a ∧ ¬b`` → M whatever the prior state (constant; every station's first
  hour, where the lags are NULL);
* ``a ∧ ¬b``  → swap (M reads ``a`` and goes to L, L reads ``b`` and goes to M);
* ``¬a ∧ b``  → identity.

So the state at hour i is the last constant step's value, flipped once per
swap after it: a ``lag``, a running ``sum`` of swaps and a running
``last(…, ignorenulls)`` over one station-partitioned, hour-ordered window.
One Exchange, no Python worker, and the operator scales with station count,
not history length.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _le(x: Column, y: Column) -> Column:
    """``x <= y`` as the reference's numpy loop reads it: NULL or NaN on
    either side is false (Spark alone would order NaN above every value)."""
    return F.coalesce(
        (x <= y) & ~F.isnan(x) & ~F.isnan(y), F.lit(False)
    )


def rising_falling(hourly: DataFrame, key: str = "station_id") -> DataFrame:
    """Apply the rising/falling rule per station.

    Input: one row per (key, hour) with the hour's max and last observation
    in ``hrly_max`` / ``hrly_last`` (produce with
    ``groupBy(key, date_trunc('hour', ts)).agg(max, max_by)``).
    Output: (station_id, hour, value), NaN read as NULL on both sides.
    """
    # a NULL hour sorts last, where the reference's pandas sort puts NaT
    by_hour = Window.partitionBy("station_id").orderBy(
        F.col("hour").asc_nulls_last()
    )
    so_far = by_hour.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    m, last = F.col("hrly_max"), F.col("hrly_last")
    a = _le(m, F.col("prev_max"))
    b = _le(m, F.col("prev_last"))
    steps = (
        hourly.select(
            F.col(key).cast("string").alias("station_id"),
            "hour",
            m.cast("double").alias("hrly_max"),
            last.cast("double").alias("hrly_last"),
        )
        .withColumn("prev_max", F.lag("hrly_max").over(by_hour))
        .withColumn("prev_last", F.lag("hrly_last").over(by_hour))
        # const: True → L, False → M, NULL for swap/identity steps
        .withColumn("const", F.when(a == b, a))
        .withColumn("swaps", F.sum((a & ~b).cast("int")).over(so_far))
    )
    anchor = F.last(
        F.when(F.col("const").isNotNull(), F.struct("const", "swaps")),
        ignorenulls=True,
    ).over(so_far)
    flipped = (F.col("swaps") - F.col("anchor.swaps")) % 2 == 1
    value = F.when(F.col("anchor.const") != flipped, last).otherwise(m)
    return steps.withColumn("anchor", anchor).select(
        "station_id",
        "hour",
        F.nanvl(value, F.lit(None).cast("double")).alias("value"),
    )


def rising_falling_python(
    maxs: list[float | None], lasts: list[float | None]
) -> list[float | None]:
    """Straight-Python port of the reference loop (test oracle only)."""
    vals = list(maxs)
    for i in range(1, len(vals)):
        a, b = vals[i], vals[i - 1]
        if a is not None and b is not None and a <= b:
            vals[i] = lasts[i]
    return vals

"""Conform-stage operators: time-grid rounding, deterministic dedup, unit
conversion.

Reference semantics being reproduced (citations into /root/reference):
- 5-minute grid rounding of WSC timestamps: ``discharge_obs_pd.py:143``
  (pandas ``dt.round('5min')`` — round-half-to-EVEN at exact midpoints,
  the banker's rounding ``round_to_grid`` reproduces; an earlier version
  of this header said half-up, contradicting both the implementation and
  its DuckDB oracle).
- keep-first dedup on (station, timestamp): ``discharge_obs_pd.py:70-71,109,150``.
- unit conversions cfs→m³/s (÷35.3147) and ft→m (÷3.28084) with 3-decimal
  rounding: ``discharge_obs_pd.py:63-65``.

The tz-aware → naive local time step (``discharge_obs_pd.py:66-67,99,141``)
is one ``F.from_utc_timestamp`` inside each conformer (``sources/``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.timeutil import ts_seconds

CFS_TO_CMS = 35.3147  # cubic feet/s per cubic metre/s (discharge_obs_pd.py:63)
FT_TO_M = 3.28084  # feet per metre (discharge_obs_pd.py:65)


def round_to_grid(ts: Column, grid_seconds: int = 300) -> Column:
    """Round a timestamp to the nearest ``grid_seconds`` grid point with
    ties going to the EVEN grid multiple — exact parity with pandas
    ``dt.round('5min')`` (``discharge_obs_pd.py:143``), which rounds
    half-to-even: 00:02:30 → 00:00:00 (slot 0, even) but 00:07:30 →
    00:10:00 (slot 2, even).

    Implemented on the fractional epoch (``cast('double')`` keeps
    sub-second precision exactly — microsecond epochs stay under 2^53):
    quotient ``d = floor(epoch/grid)``, remainder ``r``; above half rounds
    up, below half rounds down, exactly half keeps whichever of ``d``/
    ``d+1`` is even.  Pure arithmetic — stays inside whole-stage codegen,
    no shuffle.
    """
    half = grid_seconds / 2.0
    epoch = ts_seconds(ts)
    d = F.floor(epoch / grid_seconds)
    r = epoch - d * grid_seconds
    slot = d + (
        F.when(r > half, F.lit(1))
        .when(r < half, F.lit(0))
        .otherwise(F.pmod(d, F.lit(2)))
    )
    return F.timestamp_seconds((slot * grid_seconds).cast("long"))


def dedup_keep_first(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    tie_break: tuple[str, ...] = (),
) -> DataFrame:
    """Keep exactly one row per key — the first by ``order_col``, ties
    resolved by ``tie_break`` columns (ascending, NULLS LAST — a real
    value beats a missing one).  Pass a tie-break whenever ``order_col``
    can repeat within a key (e.g. the conformers order by the raw
    timestamp string, which is CONSTANT within a (station, slot) group
    — without a tie-break the survivor is partition-order-dependent and
    the canonical store nondeterministic across runs).  Every input
    column survives, ``order_col`` included: ``dedup_5min_grid`` returns
    the kept ``event_id``, and the conformers drop their own order column.

    The reference relies on pandas file order (``drop_duplicates(keep='first')``,
    ``discharge_obs_pd.py:150``); Spark's ``dropDuplicates`` keeps an
    *arbitrary* row, so we impose the ordering explicitly with a ranked
    window.  One shuffle on ``keys``; at scale the window partitions by the
    dedup key so no single task sees more than one key-group's rows
    (skew-safe for high-cardinality keys).

    On a *streaming* DataFrame ranked windows are unsupported; there the
    stateful ``dropDuplicates`` IS keep-first — first-arrival wins across
    micro-batches, tracked in the state store (within a batch the survivor
    is arbitrary, acceptable for at-least-once upstream feeds).
    """
    if df.isStreaming:
        return df.dropDuplicates(keys)
    w = Window.partitionBy(*keys).orderBy(
        F.col(order_col).asc(),
        *[F.col(c).asc_nulls_last() for c in tie_break],
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def convert_units(value: Column, divisor: float) -> Column:
    """Unit conversion + fixed rounding (``discharge_obs_pd.py:63-65``)."""
    return F.round(value / divisor, 3)


"""WSC DataMart conformer (reference: ``discharge_obs_pd.py:130-155``).

Input: F1-shaped frame (string timestamp with UTC offset, stage + discharge
columns).  Steps, preserving reference semantics:

1. parse the offset timestamp → instant, render as local naive
   (``:141`` strips tz after parse; tz configurable, default PST);
2. round to the 5-minute grid (``:143``, half-to-even like pandas
   ``dt.round``);
3. melt stage/discharge into long (datatype 'H'/'Q') — the reference pivots
   each to wide instead; long is this engine's canonical layout;
4. keep-first dedup per (station, slot, datatype) (``:150``), ordered by
   the ``Date`` string with a value tie-break.

The whole conformer is generated expressions — it fuses into the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import conform

WSC_TZ = "America/Vancouver"


def conform_wsc(raw: DataFrame) -> DataFrame:
    """F1 → F7.  Keep-first dedup orders by the ``Date`` string itself
    (stable for identical inputs), ties broken by value."""
    # offset timestamps parse to UTC instants under the engine's UTC
    # session tz; from_utc_timestamp renders local wall-clock, tz dropped
    ts = F.from_utc_timestamp(
        F.to_timestamp(F.col("Date"), "yyyy-MM-dd'T'HH:mm:ssXXX"), WSC_TZ
    )
    slotted = raw.select(
        F.col("ID").alias("station_id"),
        conform.round_to_grid(ts, 300).alias("obs_time"),
        F.col("water_level_m").alias("H"),
        F.col("discharge_cms").alias("Q"),
        F.col("Date").alias("__order"),
    )
    long_ = slotted.unpivot(
        ["station_id", "obs_time", "__order"], ["Q", "H"], "datatype", "value"
    )
    deduped = conform.dedup_keep_first(
        long_,
        ["station_id", "obs_time", "datatype"],
        "__order",
        # identical Date strings (a corrected re-emit, a cross-file dup)
        # tie on __order; the value tie-break pins the survivor
        tie_break=("value",),
    ).drop("__order")
    return deduped.select(
        "station_id",
        "obs_time",
        "datatype",
        "value",
        F.lit("raw").alias("qc_level"),
        F.lit("wsc").alias("source"),
    )

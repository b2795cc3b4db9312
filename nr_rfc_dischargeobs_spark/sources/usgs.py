"""USGS NWIS conformer (reference: ``discharge_obs_pd.py:46-72``).

Steps, preserving reference semantics:
1. unit conversions with 3-decimal rounding: discharge cfs→m³/s (÷35.3147),
   stage ft→m (÷3.28084) (``:63-65``);
2. UTC → US/Pacific naive (``:66-67``);
3. keep-first dedup per (site, ts) — the fall-back DST hour produces
   duplicate local timestamps (``:69-71``);
4. site_no → RFC id: the reference derives site ids by replacing 'U'→'00'
   in RFC ids (``:58``); the inverse remap back to RFC ids is a broadcast
   join against the station dim when provided.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import conform


def conform_usgs(
    raw: DataFrame, station_dim: DataFrame | None = None
) -> DataFrame:
    """F3 → F7 (two long rows per input row: datatype 'Q' and 'H')."""
    base = raw.select(
        F.col("site_no"),
        F.from_utc_timestamp(F.col("datetime"), "US/Pacific").alias(
            "obs_time"
        ),
        conform.convert_units(
            F.col("discharge_cfs"), conform.CFS_TO_CMS
        ).alias("Q"),
        conform.convert_units(F.col("stage_ft"), conform.FT_TO_M).alias("H"),
        F.col("datetime").alias("__order"),
    )
    if station_dim is not None:
        dim = station_dim.select(
            F.regexp_replace(F.col("bc_rfc_id"), "U", "00").alias("site_no"),
            F.col("bc_rfc_id").alias("station_id"),
        )
        base = base.join(F.broadcast(dim), "site_no", "inner")
    else:
        base = base.withColumn("station_id", F.col("site_no"))
    long_ = base.unpivot(
        ["station_id", "obs_time", "__order"], ["Q", "H"], "datatype", "value"
    )
    deduped = conform.dedup_keep_first(
        long_,
        ["station_id", "obs_time", "datatype"],
        "__order",
        tie_break=("value",),
    ).drop("__order")
    return deduped.select(
        "station_id",
        "obs_time",
        "datatype",
        "value",
        F.lit("raw").alias("qc_level"),
        F.lit("usgs").alias("source"),
    )

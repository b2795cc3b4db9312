"""BC provincial network conformer (reference: ``discharge_obs_pd.py:86-111``).

Steps, preserving reference semantics:
1. semi-join against the provincial station list (``:95``, broadcast);
2. remap provincial IDs → RFC aliases (``:97``) via broadcast join (the
   scalable ``.map(dict)``);
3. parse the UTC timestamp (stray whitespace trimmed, ``:346``), convert to
   local naive (``:99``);
4. strict 2-day window filter — EXCLUSIVE bounds (``:106-107``);
5. keep-first dedup per (station, ts) (``:109``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators import conform


def conform_provincial(
    raw: DataFrame,
    station_dim: DataFrame,
    datatype: str,
    window_start: Column | None = None,
    window_end: Column | None = None,
) -> DataFrame:
    """F2 → F7 for one file (datatype 'Q' for Discharge.csv, 'H' for
    Stage.csv).  ``station_dim`` is F5 (ID provincial, ID2 RFC alias)."""
    ts = F.from_utc_timestamp(
        F.to_timestamp(F.trim(F.col("datetime_utc"))), "America/Vancouver"
    )
    conformed = (
        raw.join(
            F.broadcast(
                station_dim.select(
                    F.col("ID").alias("location_id"),
                    F.col("ID2").alias("station_id"),
                )
            ),
            "location_id",
            "inner",  # semi-join filter + remap in one broadcast join
        )
        .select(
            "station_id",
            ts.alias("obs_time"),
            F.col("value"),
            F.col("datetime_utc").alias("__order"),
        )
    )
    if window_start is not None:
        conformed = conformed.filter(F.col("obs_time") > window_start)
    if window_end is not None:
        conformed = conformed.filter(F.col("obs_time") < window_end)
    deduped = conform.dedup_keep_first(
        conformed,
        ["station_id", "obs_time"],
        "__order",
        # __order (the raw timestamp) is CONSTANT within a dedup group —
        # the value tie-break makes the survivor deterministic
        tie_break=("value",),
    ).drop("__order")
    return deduped.select(
        "station_id",
        "obs_time",
        F.lit(datatype).alias("datatype"),
        "value",
        F.lit("raw").alias("qc_level"),
        F.lit("prov").alias("source"),
    )

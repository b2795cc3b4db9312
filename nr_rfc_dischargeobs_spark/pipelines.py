"""End-to-end pipelines — the reference's three cron entry points composed
from the operator library (SURVEY.md §3).

A reference user runs three scripts; each maps to one function here:

- EP1 ``discharge_obs_pd.py`` (hourly)  → :func:`ingest_instantaneous`
- EP2 ``dischargeobs_write_xl.py`` (daily) → :func:`update_hourly` →
  :func:`update_daily` → :func:`model_export_frame` /
  :func:`coffee_instant_frame`
- EP3 ``ECCC_hourly.py`` (hourly weather) → :func:`ingest_weather`

Every function is a composition of the named operators (conform / upsert /
rollup / recurrence / align / pivot / formula) — no logic of its own — so
each stage keeps its documented reference semantics and its scale shape.
"""

from __future__ import annotations

from functools import reduce

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .functions import formula
from .operators import align, pivot, recurrence, rollup
from .sources import ObservationStore, conform_swob

# ------------------------------------------------------------------ EP1


def ingest_instantaneous(
    store: ObservationStore,
    conformed: list[DataFrame],
) -> None:
    """EP1 tail (``discharge_obs_pd.py:366-412``): union the conformed
    long-form sources (J2 — axis-1 concat of disjoint station columns ≡ row
    union after melt) and coalescing-upsert into the partitioned store (J3 +
    S9/S10).  Sources come from ``sources.conform_*`` applied to landed
    files.

    The union is evaluated once: it is persisted here, the upsert's month
    collect materializes it, and the partitioned write reads it back
    instead of re-running the conform plans.  The cache is bounded by the
    batch, not the store, and released when the upsert returns or raises.
    A union the caller already cached (one pinned source) stays theirs:
    persisting it again would be a no-op, and the unpersist would drop
    the caller's cache."""
    unioned = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), conformed
    )
    owned = unioned.storageLevel == StorageLevel.NONE
    if owned:
        unioned.persist()
    try:
        store.upsert(unioned)
    finally:
        if owned:
            unioned.unpersist()


def usgs_instantaneous_frame(
    spark,
    rfc_ids: list[str],
    station_dim: DataFrame | None = None,
    start_date: str | None = None,
    end_date: str | None = None,
    opener=None,
) -> DataFrame:
    """EP1's USGS leg end-to-end (``discharge_obs_pd.py:46-72``): NWIS IV
    fetch with the 2-day pushdown window → WaterML-JSON shred →
    ``conform_usgs``.  The result is one of the ``conformed`` inputs to
    :func:`ingest_instantaneous`, completing the third source family."""
    from .sources import conform_usgs, nwis

    payload = nwis.fetch_iv(
        nwis.rfc_to_site(rfc_ids), start_date, end_date, opener=opener
    )
    return conform_usgs(nwis.iv_dataframe(spark, payload), station_dim)


# ------------------------------------------------------------------ EP2


def update_hourly(
    store: ObservationStore,
    start: str,
    end: str,
    ffill_until: Column | None = None,
) -> DataFrame:
    """EP2 hourly tier (``dischargeobs_write_xl.py:278-360``): pruned
    instantaneous read → A1 hourly mean with final-hour override → dense
    hour scaffold → W1 forward-fill bounded to ``ffill_until`` (the
    reference ffills up to the current day only, ``:353-355``).

    Returns (station_id, hour, value, n_obs) on the dense spine.
    """
    # strict-exclusive start, preserving the reference EP2 quirk
    # (``inst_data.index > startdate``, dischargeobs_write_xl.py:302): a row
    # stamped exactly at ``start`` belongs to the PREVIOUS update window
    obs = store.read_range(start, end, inclusive_start=False).filter(
        F.col("datatype") == "Q"
    )
    hourly = rollup.hourly_rollup_with_final_override(
        obs, "station_id", "obs_time", "value", decimals=3
    )
    spark = obs.sparkSession
    spine = align.key_spine(
        hourly.select("station_id").distinct(),
        align.time_spine(
            spark, start, end, "1 hour", "hour"
        ).filter(F.col("hour") < F.lit(end).cast("timestamp")),
    )
    scaffold = align.scaffold_align(spine, hourly, ["station_id", "hour"])
    bound = (
        F.col("hour") <= ffill_until
        if ffill_until is not None
        else F.lit(True)
    )
    return align.ffill(
        scaffold, "station_id", "hour", "value", bound=bound
    ).select("station_id", "hour", "value", "n_obs")


def update_daily(hourly: DataFrame) -> DataFrame:
    """EP2 daily tier (``dischargeobs_write_xl.py:364-392``): A3 daily mean
    with last-valid-day override, from the hourly product (the two
    materializations are separately consumed — don't fuse)."""
    return rollup.daily_rollup_with_last_day_override(
        hourly, "station_id", "hour", "value", decimals=3
    )


def model_export_frame(
    daily: DataFrame,
    stations: list[str],
    estimates: dict[str, str] | None = None,
) -> DataFrame:
    """EP2 export tier (``dischargeobs_write_xl.py:147-207``): pivot the
    daily long table to one column per model station (A5, explicit column
    list — no discovery scan), then add formula-DSL estimated stations as
    compiled native Columns (never ``eval``).

    ``estimates``: {station_id: formula} rows from Station_Estimates.csv;
    formulas reference raw gauge columns as ``{08KG001}``.
    """
    wide = pivot.pivot_wide(
        daily, "day", "station_id", "value", values=stations, agg="first"
    )
    for stn, expr_text in (estimates or {}).items():
        wide = wide.withColumn(
            stn, F.round(formula.to_column(expr_text), 3)
        )
    return wide


def coffee_instant_frame(
    hourly_max_last: DataFrame,
    stations: list[str],
    derived: dict[str, str] | None = None,
) -> DataFrame:
    """EP2 COFFEE-instant tier (``dischargeobs_write_xl.py:80-144``): the A2
    rising/falling recurrence per station, pivoted wide, then hard-coded
    derived stations (``:131``) as compiled formulas over the computed
    columns — applied AFTER the recurrence, matching the reference's order.

    Input: (station_id, hour, hrly_max, hrly_last) — from
    ``groupBy(station, hour).agg(max, max_by)`` over stage observations.

    ``stations`` is the model station list from the DIMENSION table
    (Model_Station_List.csv, ``dischargeobs_write_xl.py:92``) — the pivot's
    explicit column list must come from metadata, never from a
    ``distinct().collect()`` discovery pass over the fact table (a full
    extra scan at 100 TB, and the reference's export column set is the
    model list anyway, not whatever stations happen to have data).
    """
    values = recurrence.rising_falling(hourly_max_last)
    wide = pivot.pivot_wide(
        values, "hour", "station_id", "value", values=stations, agg="first"
    )
    for stn, expr_text in (derived or {}).items():
        wide = wide.withColumn(stn, formula.to_column(expr_text))
    return wide


# ------------------------------------------------------------------ EP3


def ingest_weather(
    parsed_swob: DataFrame, station_dim: DataFrame, day_start: str
) -> DataFrame:
    """EP3 (``ECCC_hourly.py:29-141``): conform parsed SWOB rows, project
    onto the (station × 24 h) scaffold (J6) so unfetched hours surface as
    null rows, ready for the wide TA/PC export pivot (A6).

    Returns the long weather table aligned to the scaffold:
    (station_id, obs_time, variable, value).
    """
    conformed = conform_swob(parsed_swob)
    spark = conformed.sparkSession
    hours = align.time_spine(
        spark,
        day_start + " 00:00:00",
        day_start + " 23:00:00",
        "1 hour",
        "obs_time",
    ).withColumn(
        "obs_time",
        F.col("obs_time") + F.expr("INTERVAL -8 HOURS"),
    )
    scaffold = align.key_spine(
        station_dim.select(F.col("station_id")), hours
    )
    return align.scaffold_align(
        scaffold, conformed, ["station_id", "obs_time"]
    )


def weather_wide(
    weather_long: DataFrame, variable: str, stations: list[str]
) -> DataFrame:
    """EP3 export edge (``ECCC_hourly.py:120-139``): one wide (hour ×
    station) matrix per variable (TA/PC), explicit station columns."""
    return pivot.pivot_wide(
        weather_long.filter(F.col("variable") == variable),
        "obs_time",
        "station_id",
        "value",
        values=stations,
        agg="first",
    )

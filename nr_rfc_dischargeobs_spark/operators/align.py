"""Alignment operators: time spines, scaffold joins, forward-fill, and the
export-decoration windows.

Reference semantics (citations into /root/reference):
- J4 scaffold left-align (``reindex_like``): ``dischargeobs_write_xl.py:129,186-192,351``.
- J6 cross-join scaffold (station × hour MultiIndex): ``ECCC_hourly.py:74-75``.
- W1 bounded forward-fill: ``dischargeobs_write_xl.py:353-355`` (ffill up to
  the current day only), ``discharge_obs_pd.py:120-121,165``.
- W2 suppress-repeat display labels: ``dischargeobs_write_xl.py:51-55,85-88``.
- W3 year-rollover disambiguation (+1 year on duplicated month-day keys):
  ``dischargeobs_write_xl.py:403-404``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def time_spine(
    spark: SparkSession,
    start: str,
    end: str,
    interval: str = "1 hour",
    col_name: str = "ts",
) -> DataFrame:
    """Dense timestamp spine [start, end] at a fixed step, generated with
    ``sequence()`` + ``explode`` — runs distributed (no driver-side range
    materialization) and both bounds are inclusive, matching pandas
    ``date_range``/DuckDB ``generate_series``.
    """
    return spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(start).cast("timestamp"),
                F.lit(end).cast("timestamp"),
                F.expr(f"INTERVAL {interval}"),
            )
        ).alias(col_name)
    )


def scaffold_align(
    spine: DataFrame, data: DataFrame, on: list[str]
) -> DataFrame:
    """J4: project data onto a fixed scaffold — left join, spine wins the
    row set.  The spine is usually small (hours × stations) relative to the
    fact side; broadcast it when so.
    """
    return spine.join(data, on, "left")


def key_spine(keys: DataFrame, spine: DataFrame) -> DataFrame:
    """J6: (key × time) scaffold via crossJoin — the MultiIndex.from_product
    equivalent.  Both inputs are dimensions; result cardinality
    |keys|×|slots| is intentional and bounded by the caller.
    """
    return keys.crossJoin(spine)


def ffill(
    df: DataFrame,
    key: str,
    order: str,
    value: str,
    out_col: str | None = None,
    bound: Column | None = None,
) -> DataFrame:
    """W1: forward-fill nulls with the last non-null value per key, in
    ``order`` — `last(value, ignorenulls) over (rows unbounded preceding)`.

    ``bound``: optional boolean Column; rows where it is false keep their
    null (the reference ffills only up to the current day,
    ``dischargeobs_write_xl.py:353-355``).

    One shuffle on ``key``; within-partition running state only (no
    unbounded-following pass), so it streams at any partition size.
    """
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(order).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = F.last(F.col(value), ignorenulls=True).over(w)
    if bound is not None:
        filled = F.when(bound, filled).otherwise(F.col(value))
    return df.withColumn(out_col or value, filled)


def suppress_repeat(
    df: DataFrame,
    key: str | None,
    order: str,
    label: str,
    out_col: str | None = None,
) -> DataFrame:
    """W2: blank a display label when it equals the previous row's label
    (``dt_mmdd[dt_mmdd.eq(dt_mmdd.shift())] = ''``,
    ``dischargeobs_write_xl.py:51-55``)."""
    w = (Window.partitionBy(key) if key else Window.partitionBy(F.lit(1))).orderBy(
        F.col(order).asc()
    )
    prev = F.lag(F.col(label)).over(w)
    return df.withColumn(
        out_col or label,
        F.when(F.col(label).eqNullSafe(prev), F.lit("")).otherwise(
            F.col(label)
        ),
    )


def year_rollover_disambiguate(
    df: DataFrame,
    key: str | None,
    dup_key: str,
    order: str,
    ts: str,
    out_col: str | None = None,
) -> DataFrame:
    """W3: in a year-labeled sheet, re-seen (month-day, hour) keys belong to
    the *next* year — duplicated keys (keep='first') get +1 year
    (``dischargeobs_write_xl.py:403-404``)."""
    parts = [F.col(dup_key)] + ([F.col(key)] if key else [])
    w = Window.partitionBy(*parts).orderBy(F.col(order).asc())
    rn = F.row_number().over(w)
    return df.withColumn(
        out_col or ts,
        F.when(rn > 1, F.col(ts) + F.expr("INTERVAL 1 YEAR")).otherwise(
            F.col(ts)
        ),
    )

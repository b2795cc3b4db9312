"""Hydrology-shaped plans on the ``events`` table (FIXTURES.md's stand-in for
the canonical observation table: ts→obs_time, user_id→station_id,
event_type→datatype, value→value).

Each plan exercises one SURVEY.md §2 operator through the real operator
library, with a DuckDB-oracle SQL twin defined alongside.  Aggregated doubles
follow the integer-exact discipline (``functions/exact.py``): pre-scale
2-decimal values to BIGINT (``v100``), aggregate exactly, divide once at the
end — bit-identical across engines and shuffle layouts, no rounding games.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import exact, formula
from ..operators import align, conform, pivot, recurrence, rollup, upsert
from . import load

# ONE source for the scaled-int SQL expression (functions/exact):
# a hand-maintained copy per plan file is exactly the drift the
# *_sql helpers exist to prevent
V100_SQL = exact.scaled_sql("value")


def _events_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events + ``v100`` (value at exact ×100 integer scale)."""
    return load(spark, sf_dir, "events").withColumn(
        "v100", exact.scaled(F.col("value"))
    )


# ---------------------------------------------------------------- P1+P3


def projection_timerange(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 projection + P3 strict time-range predicate (the reference's 2-day
    window uses exclusive bounds — ``discharge_obs_pd.py:106-107``)."""
    ev = load(spark, sf_dir, "events")
    return ev.filter(
        (F.col("ts") > F.lit("2024-01-10 00:00:00").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-12 00:00:00").cast("timestamp"))
    ).select("event_id", "user_id", "ts", "value")


PROJECTION_TIMERANGE_SQL = """
SELECT event_id, user_id, ts, value
FROM events
WHERE ts > TIMESTAMP '2024-01-10 00:00:00'
  AND ts < TIMESTAMP '2024-01-12 00:00:00'
"""

# ---------------------------------------------------------------- P2


def semi_join_stations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 semi-join against a small station dim (``discharge_obs_pd.py:95``)
    — broadcast left-semi, so the fact side never shuffles for the filter."""
    ev = _events_scaled(spark, sf_dir)
    dim = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    return (
        ev.join(F.broadcast(dim), ev.user_id == dim.c_custkey, "left_semi")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact.sum_scaled("v100").alias("sum_value"),
        )
    )


SEMI_JOIN_STATIONS_SQL = f"""
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM({V100_SQL}) AS DOUBLE) / 100 AS sum_value
FROM events
WHERE user_id IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
GROUP BY user_id
"""

# ---------------------------------------------------------------- P4


def dict_remap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 dictionary remap of IDs (``discharge_obs_pd.py:97``) as a broadcast
    join against the mapping dim — the scalable form of ``.map(dict)``."""
    ev = load(spark, sf_dir, "events")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        ev.withColumn("nkey", F.col("user_id") % 25)
        .join(F.broadcast(nation), F.col("nkey") == F.col("n_nationkey"), "left")
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


DICT_REMAP_SQL = """
SELECT n_name, COUNT(*) AS n_events
FROM events
LEFT JOIN nation ON user_id % 25 = n_nationkey
GROUP BY n_name
"""

# ---------------------------------------------------------------- P6


def numeric_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 numeric-validity predicate (``ECCC_hourly.py:9-16,124``):
    try-cast instead of a Python ``isnumber`` UDF.  avg over integer-valued
    doubles is exact (every partial sum is an integer < 2^53)."""
    ev = load(spark, sf_dir, "events")
    k = F.regexp_extract(F.col("props"), r'"k": (\d+)', 1)
    return (
        ev.withColumn("k_num", k.try_cast("double"))
        .withColumn("et_num", F.col("event_type").try_cast("double"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("k_num").alias("n_valid_k"),
            F.count("et_num").alias("n_valid_et"),
            (F.sum("k_num") / F.count("k_num")).alias("avg_k"),
        )
    )


NUMERIC_VALIDITY_SQL = """
SELECT
  event_type,
  COUNT(*) AS n,
  COUNT(TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1) AS DOUBLE)) AS n_valid_k,
  COUNT(TRY_CAST(event_type AS DOUBLE)) AS n_valid_et,
  SUM(TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1) AS DOUBLE))
    / COUNT(TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1) AS DOUBLE)) AS avg_k
FROM events
GROUP BY event_type
"""

# ------------------------------------------------------------ hourly helper

HOURLY_V100_SQL = """
  SELECT user_id, date_trunc('hour', ts) AS hour,
         CAST(SUM({v100}) AS DOUBLE) / 100 / COUNT({v100}) AS value
  FROM events WHERE {pred} GROUP BY 1, 2
""".strip()


def _hourly_value(ev100: DataFrame) -> DataFrame:
    """(user_id, hour, value): exact hourly mean via the scaled-int path.
    Matches HOURLY_V100_SQL bit-for-bit."""
    return ev100.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(exact.avg_scaled("v100").alias("value"))


# ---------------------------------------------------------------- J1


def full_outer_qh_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 full-outer Q⋈H per station (``discharge_obs_pd.py:350``): two
    datatypes aggregated hourly, aligned on (station, hour)."""
    ev = _events_scaled(spark, sf_dir)
    q = _hourly_value(ev.filter(F.col("event_type") == "click")).select(
        "user_id", "hour", F.col("value").alias("q")
    )
    h = _hourly_value(ev.filter(F.col("event_type") == "view")).select(
        "user_id", "hour", F.col("value").alias("h")
    )
    return q.join(h, ["user_id", "hour"], "full_outer")


FULL_OUTER_QH_ALIGN_SQL = f"""
WITH q AS (
{HOURLY_V100_SQL.format(v100=V100_SQL, pred="event_type = 'click'")}
), h AS (
{HOURLY_V100_SQL.format(v100=V100_SQL, pred="event_type = 'view'")}
)
SELECT user_id, hour, q.value AS q, h.value AS h
FROM q FULL JOIN h USING (user_id, hour)
"""

# ---------------------------------------------------------------- J3


def coalescing_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 combine_first upsert (``discharge_obs_pd.py:182-187``): existing
    values win, incoming fills holes and extends the key range."""
    ev = _events_scaled(spark, sf_dir)
    existing = _hourly_value(ev.filter(F.col("event_id") < 5000))
    incoming = _hourly_value(ev.filter(F.col("event_id") >= 5000))
    return upsert.coalesce_upsert_wide(
        existing, incoming, keys=["user_id", "hour"], existing_wins=True
    )


COALESCING_UPSERT_SQL = f"""
WITH e AS (
{HOURLY_V100_SQL.format(v100=V100_SQL, pred="event_id < 5000")}
), i AS (
{HOURLY_V100_SQL.format(v100=V100_SQL, pred="event_id >= 5000")}
)
SELECT user_id, hour, COALESCE(e.value, i.value) AS value
FROM e FULL JOIN i USING (user_id, hour)
"""

# ---------------------------------------------------------------- J4


def scaffold_align_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 reindex onto a fixed time spine (``dischargeobs_write_xl.py:186-192``)."""
    ev = load(spark, sf_dir, "events")
    spine = align.time_spine(
        spark, "2024-01-01 00:00:00", "2024-01-31 23:00:00", "1 hour", "hour"
    )
    hourly = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return align.scaffold_align(spine, hourly, ["hour"])


SCAFFOLD_ALIGN_HOURS_SQL = """
WITH spine AS (
  SELECT CAST(g AS TIMESTAMP) AS hour
  FROM generate_series(TIMESTAMP '2024-01-01 00:00:00',
                       TIMESTAMP '2024-01-31 23:00:00',
                       INTERVAL 1 HOUR) t(g)
), hourly AS (
  SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n_events
  FROM events GROUP BY 1
)
SELECT spine.hour, n_events FROM spine LEFT JOIN hourly USING (hour)
"""

# ---------------------------------------------------------------- J6


def cross_join_scaffold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 (station × hour) scaffold (``ECCC_hourly.py:74-75``) + left-align
    of observed counts."""
    ev = load(spark, sf_dir, "events")
    stations = ev.select("user_id").distinct().filter(F.col("user_id") < 20)
    spine = align.time_spine(
        spark, "2024-01-15 00:00:00", "2024-01-15 23:00:00", "1 hour", "hour"
    )
    scaffold = align.key_spine(stations, spine)
    counts = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"))
    return align.scaffold_align(scaffold, counts, ["user_id", "hour"])


CROSS_JOIN_SCAFFOLD_SQL = """
WITH stations AS (
  SELECT DISTINCT user_id FROM events WHERE user_id < 20
), spine AS (
  SELECT CAST(g AS TIMESTAMP) AS hour
  FROM generate_series(TIMESTAMP '2024-01-15 00:00:00',
                       TIMESTAMP '2024-01-15 23:00:00',
                       INTERVAL 1 HOUR) t(g)
), counts AS (
  SELECT user_id, date_trunc('hour', ts) AS hour, COUNT(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT user_id, hour, n
FROM (SELECT * FROM stations CROSS JOIN spine) s
LEFT JOIN counts USING (user_id, hour)
"""

# ---------------------------------------------------------------- A4 + grid


def dedup_5min_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 keep-first dedup on the 5-min grid (``discharge_obs_pd.py:143,150``):
    round timestamps to the grid, keep first row per (station, slot) by
    ingest order (event_id)."""
    ev = load(spark, sf_dir, "events").withColumn(
        "slot", conform.round_to_grid(F.col("ts"), 300)
    )
    return conform.dedup_keep_first(
        ev, ["user_id", "slot"], "event_id"
    ).select("user_id", "slot", "event_id", "value")


DEDUP_5MIN_GRID_SQL = """
-- half-to-even grid rounding, the twin of operators/conform.round_to_grid
-- (pandas dt.round parity): exactly-half remainders keep the EVEN slot
WITH slotted AS (
  SELECT user_id, event_id, value,
         FLOOR(epoch(ts) / 300) AS d,
         epoch(ts) - FLOOR(epoch(ts) / 300) * 300 AS r
  FROM events
), rounded AS (
  SELECT user_id, event_id, value,
         CAST(to_timestamp(
           CAST((d + CASE WHEN r > 150 THEN 1
                          WHEN r < 150 THEN 0
                          ELSE CAST(d AS BIGINT) % 2 END) * 300 AS BIGINT)
         ) AS TIMESTAMP) AS slot
  FROM slotted
)
SELECT user_id, slot, event_id, value
FROM (
  SELECT user_id, slot, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, slot ORDER BY event_id)
           AS rn
  FROM rounded
) WHERE rn = 1
"""

# ---------------------------------------------------------------- A5


PIVOT_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def pivot_daily_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 long→wide pivot (``discharge_obs_pd.py:110``) with an explicit
    column list (no discovery scan); sums are exact scaled-int."""
    ev = _events_scaled(spark, sf_dir).withColumn(
        "day", F.date_trunc("day", F.col("ts"))
    )
    wide = pivot.pivot_wide(
        ev, "day", "event_type", "v100", values=PIVOT_EVENT_TYPES, agg="sum"
    )
    return wide.select(
        "day",
        *[
            (F.col(c).cast("double") / 100).alias(c)
            for c in PIVOT_EVENT_TYPES
        ],
    )


PIVOT_DAILY_WIDE_SQL = f"""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
  CAST(SUM(CASE WHEN event_type = 'click' THEN {V100_SQL} END) AS DOUBLE) / 100 AS click,
  CAST(SUM(CASE WHEN event_type = 'error' THEN {V100_SQL} END) AS DOUBLE) / 100 AS error,
  CAST(SUM(CASE WHEN event_type = 'purchase' THEN {V100_SQL} END) AS DOUBLE) / 100 AS purchase,
  CAST(SUM(CASE WHEN event_type = 'signup' THEN {V100_SQL} END) AS DOUBLE) / 100 AS signup,
  CAST(SUM(CASE WHEN event_type = 'view' THEN {V100_SQL} END) AS DOUBLE) / 100 AS "view"
FROM events GROUP BY 1
"""

# ---------------------------------------------------------------- A6 inverse


def melt_wide_to_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6's inverse — wide → long ``unpivot`` (the edge used when
    re-importing wide sheets, ``discharge_obs_pd.py:114-127``): pivot the
    daily matrix wide, melt it back, drop the scaffold nulls.  Native
    generated expression, no shuffle beyond the pivot's own."""
    wide = pivot_daily_wide(spark, sf_dir)
    long_ = pivot.melt(
        wide, ["day"], PIVOT_EVENT_TYPES, "event_type", "value"
    )
    return long_.filter(F.col("value").isNotNull())


def melt_wide_to_long_sql() -> str:
    return f"""
WITH wide AS ({PIVOT_DAILY_WIDE_SQL})
SELECT day, event_type, value
FROM wide UNPIVOT (value FOR event_type IN (click, error, purchase, signup, "view"))
"""


# ---------------------------------------------------------------- A1


def hourly_rollup_last_override(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 hourly mean with final-hour last-observation override
    (``dischargeobs_write_xl.py:337-349``), on the scaled-int path: the
    operator aggregates v100, the single trailing division restores scale."""
    ev = _events_scaled(spark, sf_dir).filter(F.col("event_type") == "click")
    out = rollup.hourly_rollup_with_final_override(
        ev, "user_id", "ts", "v100", tiebreak="event_id", decimals=None
    )
    return out.select(
        "user_id", "hour", (F.col("value") / 100).alias("value"), "n_obs"
    )


HOURLY_ROLLUP_LAST_OVERRIDE_SQL = f"""
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS hour,
         CAST(SUM({V100_SQL}) AS DOUBLE) / COUNT({V100_SQL}) AS avg_value,
         LAST({V100_SQL} ORDER BY ts, event_id) AS last_value,
         COUNT({V100_SQL}) AS n_obs
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
), lh AS (
  SELECT user_id, MAX(hour) AS last_hour FROM hourly
  WHERE avg_value IS NOT NULL GROUP BY 1
)
SELECT hourly.user_id, hour,
       CASE WHEN hour = last_hour THEN last_value ELSE avg_value END / 100
         AS value,
       n_obs
FROM hourly LEFT JOIN lh ON hourly.user_id = lh.user_id
"""

# ---------------------------------------------------------------- A3


def daily_rollup_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1→A3 materialized rollup chain: hourly (with final-hour override)
    re-quantized to an exact ×10000 grid, then daily mean with last-valid-day
    override (``dischargeobs_write_xl.py:364-392``).  The re-quantization
    between stages keeps every aggregation integer-exact."""
    ev = _events_scaled(spark, sf_dir).filter(F.col("event_type") == "click")
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        exact.rescale_ratio(
            F.sum("v100"), F.count("v100"), 100
        ).alias("avg10k"),
        (
            F.max_by(
                F.col("v100"), F.struct(F.col("ts"), F.col("event_id"))
            )
            * 100
        ).alias("last10k"),
    )
    last_hour = hourly.groupBy("user_id").agg(F.max("hour").alias("lh"))
    hourly_v = (
        hourly.join(F.broadcast(last_hour), "user_id", "left")
        .withColumn(
            "v10k",
            F.when(F.col("hour") == F.col("lh"), F.col("last10k")).otherwise(
                F.col("avg10k")
            ),
        )
        .select("user_id", "hour", "v10k")
    )
    daily = rollup.daily_rollup_with_last_day_override(
        hourly_v, "user_id", "hour", "v10k", decimals=None
    )
    return daily.select(
        "user_id", "day", (F.col("value") / 10000).alias("value")
    )


DAILY_ROLLUP_CHAIN_SQL = f"""
WITH hourly0 AS (
  SELECT user_id, date_trunc('hour', ts) AS hour,
         CAST(ROUND(CAST(SUM({V100_SQL}) * 100 AS DOUBLE) / COUNT({V100_SQL}), 0)
              AS BIGINT) AS avg10k,
         LAST({V100_SQL} ORDER BY ts, event_id) * 100 AS last10k
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
), lh AS (
  SELECT user_id, MAX(hour) AS lh FROM hourly0 GROUP BY 1
), hourly AS (
  SELECT hourly0.user_id, hour,
         CASE WHEN hour = lh THEN last10k ELSE avg10k END AS v10k
  FROM hourly0 LEFT JOIN lh ON hourly0.user_id = lh.user_id
), daily0 AS (
  SELECT user_id, date_trunc('day', hour) AS day,
         CAST(SUM(v10k) AS DOUBLE) / COUNT(v10k) AS mean_v,
         LAST(v10k ORDER BY hour) FILTER (WHERE v10k IS NOT NULL) AS last_v
  FROM hourly GROUP BY 1, 2
), ld AS (
  SELECT user_id, MAX(day) AS last_day FROM daily0
  WHERE mean_v IS NOT NULL GROUP BY 1
)
SELECT daily0.user_id, CAST(day AS TIMESTAMP) AS day,
       CASE WHEN day = last_day THEN last_v ELSE mean_v END / 10000 AS value
FROM daily0 LEFT JOIN ld ON daily0.user_id = ld.user_id
"""

# ---------------------------------------------------------------- A2/W4


def rising_falling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/W4 rising/falling recurrence (``dischargeobs_write_xl.py:108-129``):
    hourly value = hourly max while rising, last-in-hour while falling, where
    "rising" compares against the *already-rewritten* previous output (the
    reference's alias bug, preserved).  A native window scan per station
    (``operators/recurrence.py``): one Exchange on top of the hourly
    aggregate, no Python worker, parallel across stations, so it scales with
    station count, not history length.

    max/last aggregates move single input values (no summation), so the
    doubles are exact and the ``<=`` comparisons match any engine bit-for-bit.
    """
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "view")
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.max("value").alias("hrly_max"),
        F.max_by(
            F.col("value"), F.struct(F.col("ts"), F.col("event_id"))
        ).alias("hrly_last"),
    )
    return recurrence.rising_falling(hourly, key="user_id")


# The oracle walks the same recurrence breadth-first: iteration k computes
# every station's k-th hour from its (k-1)-th OUTPUT — exactly the loop.
RISING_FALLING_HOURLY_SQL = """
WITH RECURSIVE base AS (
  SELECT CAST(user_id AS VARCHAR) AS station_id, hour, hrly_max, hrly_last,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY hour) AS rn
  FROM (
    SELECT user_id, date_trunc('hour', ts) AS hour,
           MAX(value) AS hrly_max,
           LAST(value ORDER BY ts, event_id) AS hrly_last
    FROM events WHERE event_type = 'view' GROUP BY 1, 2
  )
), rec AS (
  SELECT station_id, hour, rn, hrly_max AS value FROM base WHERE rn = 1
  UNION ALL
  SELECT b.station_id, b.hour, b.rn,
         CASE WHEN b.hrly_max <= r.value THEN b.hrly_last
              ELSE b.hrly_max END AS value
  FROM base b JOIN rec r ON b.station_id = r.station_id AND b.rn = r.rn + 1
)
SELECT station_id, CAST(hour AS TIMESTAMP) AS hour, value FROM rec
"""

# ---------------------------------------------------------------- A7


def distinct_partition_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 distinct year-month partition keys (``discharge_obs_pd.py:194-196``)
    — the reference derives its partition IO set this way; in the engine the
    hive-partitioned store gets this for free, but the operator stands alone
    for incremental-maintenance planning (which partitions does a batch
    touch).  Partial aggregation collapses each scan task to ≤ a few keys
    before the shuffle."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.select(F.date_format("ts", "yyyyMM").alias("year_month"))
        .distinct()
        .orderBy("year_month")
    )


DISTINCT_PARTITION_KEYS_SQL = """
SELECT DISTINCT strftime(ts, '%Y%m') AS year_month FROM events
ORDER BY year_month
"""

# ---------------------------------------------------------------- A8


def last_valid_per_station(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 per-station last-valid timestamp (``dischargeobs_write_xl.py:384``)."""
    ev = load(spark, sf_dir, "events")
    purchases = ev.withColumn(
        "pval", F.when(F.col("event_type") == "purchase", F.col("value"))
    )
    return rollup.last_valid_ts(purchases, "user_id", "ts", "pval")


LAST_VALID_PER_STATION_SQL = """
SELECT user_id,
       MAX(CASE WHEN event_type = 'purchase' THEN ts END) AS last_valid_ts
FROM events GROUP BY user_id
"""

# ---------------------------------------------------------------- W1


def ffill_hourly_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 forward-fill over a sparse (station × hour) scaffold
    (``dischargeobs_write_xl.py:353-355``)."""
    ev = _events_scaled(spark, sf_dir)
    stations = ev.select("user_id").distinct().filter(F.col("user_id") < 10)
    spine = align.time_spine(
        spark, "2024-01-01 00:00:00", "2024-01-31 23:00:00", "1 hour", "hour"
    )
    hourly = _hourly_value(ev.filter(F.col("event_type") == "purchase"))
    scaffold = align.scaffold_align(
        align.key_spine(stations, spine), hourly, ["user_id", "hour"]
    )
    return align.ffill(scaffold, "user_id", "hour", "value", out_col="filled")


FFILL_HOURLY_GAPS_SQL = f"""
WITH stations AS (SELECT DISTINCT user_id FROM events WHERE user_id < 10),
spine AS (
  SELECT CAST(g AS TIMESTAMP) AS hour
  FROM generate_series(TIMESTAMP '2024-01-01 00:00:00',
                       TIMESTAMP '2024-01-31 23:00:00', INTERVAL 1 HOUR) t(g)
), hourly AS (
{HOURLY_V100_SQL.format(v100=V100_SQL, pred="event_type = 'purchase'")}
)
SELECT user_id, hour, value,
       LAST_VALUE(value IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY hour
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
FROM (SELECT * FROM stations CROSS JOIN spine) s
LEFT JOIN hourly USING (user_id, hour)
"""

# ---------------------------------------------------------------- W2


def suppress_repeat_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 blank-when-repeating display labels (``dischargeobs_write_xl.py:51-55``)."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 5)
    labeled = ev.withColumn("md", F.date_format("ts", "MM-dd"))
    return align.suppress_repeat(
        labeled, "user_id", "event_id", "md", out_col="md_display"
    ).select("user_id", "event_id", "md", "md_display")


SUPPRESS_REPEAT_LABELS_SQL = """
SELECT user_id, event_id, strftime(ts, '%m-%d') AS md,
       CASE WHEN strftime(ts, '%m-%d') = LAG(strftime(ts, '%m-%d'))
              OVER (PARTITION BY user_id ORDER BY event_id)
            THEN '' ELSE strftime(ts, '%m-%d') END AS md_display
FROM events WHERE user_id < 5
"""

# ---------------------------------------------------------------- W3


def year_rollover_disambiguation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 +1-year on re-seen sheet keys (``dischargeobs_write_xl.py:403-404``):
    day-of-month mod 10 manufactures the duplicated month-day labels a
    year-spanning sheet would have."""
    ev = load(spark, sf_dir, "events")
    # distinct (user, day) — an earlier draft aggregated min(event_id)
    # here, dead state neither the ordering nor the output used
    days = (
        ev.select(
            "user_id", F.date_trunc("day", F.col("ts")).alias("day")
        )
        .distinct()
        .filter(F.col("user_id") < 10)
        .withColumn("label", F.dayofmonth("day") % 10)
    )
    return align.year_rollover_disambiguate(
        days, "user_id", "label", "day", "day", out_col="resolved_day"
    ).select("user_id", "day", "label", "resolved_day")


YEAR_ROLLOVER_DISAMBIGUATION_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
  FROM events
)
SELECT user_id, day, CAST(date_part('day', day) % 10 AS INT) AS label,
       CASE WHEN ROW_NUMBER() OVER (
              PARTITION BY user_id, date_part('day', day) % 10 ORDER BY day) > 1
            THEN day + INTERVAL 1 YEAR ELSE day END AS resolved_day
FROM days WHERE user_id < 10
"""

# ---------------------------------------------------------------- J2 / §2.6


def union_conformed_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 multi-source concat (``discharge_obs_pd.py:411-412``) in long form:
    conformed frames are row-unions (axis-1 concat of disjoint station
    columns ≡ unionByName after melt)."""
    ev = _events_scaled(spark, sf_dir)
    src_a = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "v100", F.lit("wsc").alias("source")
    )
    src_b = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "v100", F.lit("usgs").alias("source")
    )
    return (
        src_a.unionByName(src_b)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            exact.sum_scaled("v100").alias("sum_value"),
        )
    )


UNION_CONFORMED_SOURCES_SQL = f"""
WITH u AS (
  SELECT user_id, ts, {V100_SQL} AS v100, 'wsc' AS source
  FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT user_id, ts, {V100_SQL} AS v100, 'usgs' AS source
  FROM events WHERE event_type = 'purchase'
)
SELECT source, COUNT(*) AS n, CAST(SUM(v100) AS DOUBLE) / 100 AS sum_value
FROM u GROUP BY source
"""


def anti_join_new_stations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 new-station detection (``dischargeobs_write_xl.py:314,323-324``):
    keys present in the feed but missing from the dim → left-anti join."""
    ev = load(spark, sf_dir, "events")
    dim = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    return (
        ev.select("user_id")
        .distinct()
        .join(F.broadcast(dim), ev.user_id == dim.c_custkey, "left_anti")
        .orderBy("user_id")
    )


ANTI_JOIN_NEW_STATIONS_SQL = """
SELECT DISTINCT user_id FROM events
WHERE user_id NOT IN
  (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
ORDER BY user_id
"""

# ---------------------------------------------------------------- §2.7 units


def unit_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 unit conversions cfs→m³/s and ft→m with 3-decimal rounding
    (``discharge_obs_pd.py:63-65``)."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    return ev.select(
        "event_id",
        conform.convert_units(F.col("value"), conform.CFS_TO_CMS).alias("q_cms"),
        conform.convert_units(F.col("value"), conform.FT_TO_M).alias("h_m"),
    )


UNIT_CONVERSION_SQL = """
SELECT event_id,
       ROUND(value / 35.3147, 3) AS q_cms,
       ROUND(value / 3.28084, 3) AS h_m
FROM events WHERE event_type = 'purchase'
"""

# ---------------------------------------------------------------- JSON


def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 extension surface: typed JSON extraction with ``from_json`` (a
    generated parser with an explicit schema — no schema inference scan),
    aggregated per event type.  Sums of integers are exact."""
    ev = load(spark, sf_dir, "events")
    parsed = ev.withColumn(
        "props_t", F.from_json(F.col("props"), "struct<k: bigint>")
    )
    return parsed.groupBy("event_type").agg(
        F.count("props_t.k").alias("n_k"),
        F.sum("props_t.k").alias("sum_k"),
        F.min("props_t.k").alias("min_k"),
        F.max("props_t.k").alias("max_k"),
    )


JSON_PROPS_STATS_SQL = """
SELECT event_type,
       COUNT(CAST(props->>'k' AS BIGINT)) AS n_k,
       CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
       MIN(CAST(props->>'k' AS BIGINT)) AS min_k,
       MAX(CAST(props->>'k' AS BIGINT)) AS max_k
FROM events GROUP BY event_type
"""

# ---------------------------------------------------------------- formula DSL

ESTIMATE_FORMULA = "(0.02*{click}^2+0.5*{view}-1.5).clip(lower=0.001)"


def formula_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 formula-DSL computed station: pivot to wide, apply the compiled
    formula as a native Column (``dischargeobs_write_xl.py:196-207`` without
    the ``eval``).  Pivot sums are integer-exact, so the formula's input
    doubles — and hence its output — are bit-identical to the oracle's."""
    ev = _events_scaled(spark, sf_dir).withColumn(
        "day", F.date_trunc("day", F.col("ts"))
    )
    wide = pivot.pivot_wide(
        ev, ["user_id", "day"], "event_type", "v100",
        values=PIVOT_EVENT_TYPES, agg="sum",
    ).select(
        "user_id", "day",
        *[
            (F.col(c).cast("double") / 100).alias(c)
            for c in PIVOT_EVENT_TYPES
        ],
    )
    est = formula.to_column(ESTIMATE_FORMULA)
    return wide.select("user_id", "day", est.alias("estimate"))


def formula_estimate_sql() -> str:
    est = formula.to_sql(ESTIMATE_FORMULA)
    return f"""
WITH wide AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
    CAST(SUM(CASE WHEN event_type = 'click' THEN {V100_SQL} END) AS DOUBLE) / 100 AS click,
    CAST(SUM(CASE WHEN event_type = 'view' THEN {V100_SQL} END) AS DOUBLE) / 100 AS "view"
  FROM events GROUP BY 1, 2
)
SELECT user_id, day, {est} AS estimate FROM wide
"""

"""Named query plans over the driver testdata.

Each plan is a function ``(spark, sf_dir) -> DataFrame`` registered in
``__spark_entry__.py::queries()`` with a matching DuckDB oracle in
``oracle_sql()``.  Plans are grouped by the SURVEY.md §2 operator family they
exercise.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession

from ..session import SQL_CONFS, default_cpus

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# r14 (guide §5 driver / §6 listing): one scan PLAN per (session, dir,
# table), not one per call.  A plan sweep calls ``load`` ~2× per query ×
# 156 queries × 4 bench passes; each call used to pay five py4j
# ``conf.set`` round-trips plus a fresh ``spark.read.parquet`` (file
# listing + footer schema inference on the driver) for a byte-identical
# scan of an immutable input.  The memo returns the SAME analyzed scan
# plan — no data, no results, nothing persisted: every action still
# computes from the parquet files; only the repeated driver-side
# listing/inference work is deduplicated.  Keys are weak so a stopped
# session's entries die with it.
_PREPARED_SESSIONS: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()
_SCAN_MEMO: (
    "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], DataFrame]]"
) = weakref.WeakKeyDictionary()


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of one driver-generated table (SURVEY.md §2.1 S6).

    Plain ``spark.read.parquet`` so Catalyst's column pruning and filter
    pushdown reach the scan — callers filter/select on the returned frame and
    the parquet reader only materializes what the plan needs.

    TIMESTAMP(NANOS) columns arrive as nanosecond longs (see
    ``spark.sql.legacy.parquet.nanosAsLong``) and are truncated to
    microsecond timestamps here — the same nanos→micros truncation DuckDB
    applies, so oracle comparisons agree exactly.

    The returned frame is memoized per (session, sf_dir, table): repeated
    loads of the same immutable input reuse the analyzed scan plan instead
    of re-listing the directory and re-inferring the footer schema (the
    inputs are driver-generated fixtures that never change within a
    session's lifetime; a table mutated mid-session would need a fresh
    session — the same contract as Spark's own file-index caching).
    ``sf_dir`` is keyed after ``os.path.normpath``, so ``dir`` and
    ``dir/`` share one entry.  The session confs below are applied on a
    session's FIRST load only; a conf changed afterwards is not reset.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    memo = _SCAN_MEMO.setdefault(spark, {})
    key = (os.path.normpath(sf_dir), name)
    hit = memo.get(key)
    if hit is not None:
        return hit

    # Self-sufficient on ANY session (the driver passes its own): the
    # runtime-settable, idempotent ``session.SQL_CONFS``, applied once per
    # session, plus the shuffle partitions — a foreign session's default
    # 200 cost ~170 extra empty tasks per exchange at sf0.01-0.1, which
    # dominates the per-query wall clock of a sweep.
    if spark not in _PREPARED_SESSIONS:
        for key, value in SQL_CONFS.items():
            spark.conf.set(key, value)
        spark.conf.set("spark.sql.shuffle.partitions", str(default_cpus()))
        _PREPARED_SESSIONS.add(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            # TIMESTAMP(NANOS) read as nanosecond longs: integer division —
            # double division would lose ulps above 2^53 ns
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            # Naive (isAdjustedToUTC=false) parquet timestamps arrive as
            # TIMESTAMP_NTZ, which unix_micros()/cast-to-numeric reject.  The
            # session TZ is pinned UTC above, so NTZ→LTZ is value-identical
            # (wall-clock == instant) and DuckDB's epoch_us oracle agrees.
            # The reference's own data is tz-naive (discharge_obs_pd.py:66-67
            # strips tz), so naive timestamps are the *normal* input here.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    memo[key] = df
    return df

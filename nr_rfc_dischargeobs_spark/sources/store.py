"""The partitioned observation store (reference S9/S10/J3).

The reference hand-rolls a partitioned parquet layout with filename
arithmetic — ``DischargeOBS_{YYYYMM}_{Q|H}.parquet`` — and re-implements
partition pruning as a month loop in two places (``discharge_obs_pd.py:
192-220``, duplicated at ``dischargeobs_write_xl.py:18-46``), plus a
split-by-month write loop (``:239-258``).  On Spark all three collapse into
the hive layout:

    root/year_month=YYYYMM/datatype={Q|H}/part-*.parquet

- reads: a missing root reads as an empty store (:meth:`read` is the one
  place that decides what a fresh store is); a ``between`` filter on
  ``obs_time``/``year_month`` prunes partitions in the Catalyst plan
  (``PartitionFilters`` in explain) — zero custom code, and it scales to
  thousands of months;
- upsert: union-based coalescing merge in long form (J3 semantics:
  existing wins — ``discharge_obs_pd.py:176,182-187``) over only the
  overlapping partitions, the same merge on a fresh store as on a full one;
- commit: ``write``, ``compact`` and ``upsert`` all end in one
  ``partitionBy('year_month','datatype')`` write with dynamic partition
  overwrite — only the touched months are rewritten (the reference's
  per-month upsert loop, without the loop).

At 100 TB: month×datatype partitions keep files O(GB), and each partition
is written by ``SPREAD`` station-clustered tasks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..errors import is_missing_path

PARTITION_COLS = ["year_month", "datatype"]
KEY_COLS = ["station_id", "obs_time", "datatype", "qc_level"]
# what a written store reads back as: the data columns, then the hive
# partition columns (year_month inferred as int from the directory names)
STORE_SCHEMA = (
    "station_id string, obs_time timestamp, value double, qc_level string,"
    " source string, year_month int, datatype string"
)
# writer tasks per hive partition: repartitioning on the partition columns
# alone would funnel each month through ONE task (a serial write for a
# month-sized partition); a station-hash salt keeps writes parallel while
# each station's rows stay in one file for row-group skipping
SPREAD = 8


def with_year_month(df: DataFrame) -> DataFrame:
    """Derive the partition key from obs_time (YYYYMM string, matching the
    reference's filename keys — ``discharge_obs_pd.py:194``)."""
    return df.withColumn(
        "year_month", F.date_format(F.col("obs_time"), "yyyyMM")
    )


def _station_salt():
    return F.pmod(F.xxhash64(F.col("station_id")), F.lit(SPREAD))


class ObservationStore:
    """Hive-partitioned parquet store for the canonical long table (F7)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    # ------------------------------------------------------------- write

    def write(self, obs: DataFrame) -> None:
        """S10: partitioned write of ``obs`` as it is, no merge: only the
        months present in ``obs`` are replaced (dynamic partition
        overwrite — the Spark-native form of the reference's per-month
        file replacement).

        Rows go to ``SPREAD`` writer tasks per hive partition by station
        hash; ``compact`` can re-tighten later.
        """
        self._commit(
            with_year_month(obs)
            .repartition(*[F.col(c) for c in PARTITION_COLS], _station_salt())
            # the clustering CLAIM needs an actual sort: without it each
            # writer task holds its station subset interleaved in arrival
            # order and station_id row-group min/max stats prune nothing.
            # Leading with the partition columns satisfies the writer's
            # own required ordering, so no extra sort is inserted.
            .sortWithinPartitions(*PARTITION_COLS, "station_id", "obs_time")
        )

    def _commit(self, frame: DataFrame) -> None:
        """The store's one commit: ``frame`` (carrying ``year_month``)
        replaces exactly the hive partitions it holds rows for.  The
        per-write dynamic overwrite pins correctness to this call, not to
        how the caller's session was built — with Spark's default STATIC
        mode an overwrite of one month would truncate every other
        partition in the store."""
        (
            frame.write.partitionBy(*PARTITION_COLS)
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(self.root)
        )

    # -------------------------------------------------------------- read

    def read(self) -> DataFrame:
        """The whole store.  A missing root — the two conditions of
        :func:`errors.is_missing_path` — reads as an empty frame with the
        schema of a written store, so a fresh store merges like any
        other.  Any other read error (throttling, credentials,
        corruption) re-raises: misread as "fresh", an upsert would merge
        against nothing and its dynamic overwrite would delete every
        stored row of the incoming months."""
        try:
            return self.spark.read.parquet(self.root)
        except Exception as ex:  # noqa: BLE001 — filtered below
            if is_missing_path(ex):
                return self.spark.createDataFrame([], STORE_SCHEMA)
            raise

    def exists(self) -> bool:
        """True iff the store root holds readable parquet.  Decided by
        :meth:`read`: only a missing root is False, any other error
        re-raises."""
        return bool(self.read().inputFiles())

    def read_range(
        self, start: str, end: str, inclusive_start: bool = True
    ) -> DataFrame:
        """S9: partition-pruned range read.  The year_month predicate is
        derivable from obs_time bounds; both filters are pushed — the
        month one prunes directories, the obs_time one prunes row groups.

        ``inclusive_start=False`` gives the reference EP2's strict-exclusive
        lower bound (``inst_data.index > startdate``,
        ``dischargeobs_write_xl.py:302``): an observation stamped exactly at
        ``start`` is excluded.  The upper bound is always exclusive.
        """
        start_lit = F.lit(start).cast("timestamp")
        start_pred = (
            F.col("obs_time") >= start_lit
            if inclusive_start
            else F.col("obs_time") > start_lit
        )
        return self.read().filter(
            (F.col("year_month") >= F.date_format(F.lit(start).cast("timestamp"), "yyyyMM"))
            & (F.col("year_month") <= F.date_format(F.lit(end).cast("timestamp"), "yyyyMM"))
            & start_pred
            & (F.col("obs_time") < F.lit(end).cast("timestamp"))
        ).drop("year_month")

    # ------------------------------------------------------- maintenance

    def compact(self, months: list[str] | None = None) -> None:
        """Small-file compaction — this store's OPTIMIZE.

        Append-mode ingest cycles (each hourly cron run, each streaming
        micro-batch) leave one file per cycle per touched partition; at
        fleet scale the file count, not the byte count, becomes the scan
        bottleneck (one task + one object-store GET per file).  Compaction
        rewrites each hive partition into one parquet file, touching ONLY
        the selected months (dynamic partition overwrite; untouched months
        never move), sorted by station and time for row-group skipping.
        """
        df = self.read()
        if months is not None:
            df = df.filter(F.col("year_month").isin(months))
        self._commit(
            df.repartition(*[F.col(c) for c in PARTITION_COLS])
            .drop("year_month")
            .transform(with_year_month)
            # same clustering sort as write(): the row-group-skipping
            # claim is real only if stations are actually contiguous
            .sortWithinPartitions(*PARTITION_COLS, "station_id", "obs_time")
        )

    # ------------------------------------------------------------ upsert

    def upsert(self, incoming: DataFrame) -> None:
        """J3 coalescing merge: for keys present in both, the existing value
        wins (reference ``combine_first`` semantics,
        ``discharge_obs_pd.py:176,182-187``).

        Only partitions overlapping the incoming months are read, merged,
        and dynamically overwritten; untouched months never move.  A fresh
        store reads as empty, so every upsert takes the same merge — also
        the one that collapses duplicate keys within ``incoming``.  This
        is the cron-batch MERGE; the streaming tier reuses it per
        micro-batch (``streaming/ingest.py``).
        """
        self._commit(self.merged_frame(with_year_month(incoming)))

    def merged_frame(self, incoming: DataFrame) -> DataFrame:
        """The upsert's merge plan (exposed for plan-shape tests): incoming
        must already carry ``year_month``.

        The merge+write is ONE shuffle: rows are hash-distributed once by
        (month, datatype, station-salt) — every key's rows land together
        because all three are functions of the key — then the per-key
        winner is picked by a window over that SAME partitioning (Catalyst
        elides the second exchange) and the commit writes without any
        further repartition.  Per key the winner is the first non-null
        value from the winning side; ties within a side go to the smallest
        ``value``, then ``source``, so the survivor never depends on
        shuffle order."""
        months = [
            r["year_month"]
            for r in incoming.select("year_month").distinct().collect()
        ]
        # a NULL obs_time lands in the hive default partition, and NULL
        # never matches isin() — without the explicit isNull branch the
        # existing null-month rows would be EXCLUDED from the merge yet
        # their partition still dynamically overwritten: silent deletion
        non_null = [m for m in months if m is not None]
        month_pred = (
            F.col("year_month").isin(non_null) if non_null else F.lit(False)
        )
        if len(non_null) < len(months):
            month_pred = month_pred | F.col("year_month").isNull()
        existing = with_year_month(
            self.read().filter(month_pred).drop("year_month")
        )
        # existing rows sort first, so the existing value wins a key
        unioned = existing.withColumn("__prio", F.lit(0)).unionByName(
            incoming.withColumn("__prio", F.lit(1))
        )
        arranged = unioned.withColumn("__salt", _station_salt()).repartition(
            F.col("year_month"), F.col("datatype"), F.col("__salt")
        )
        w = Window.partitionBy("year_month", "datatype", "__salt").orderBy(
            *[F.col(k) for k in KEY_COLS],
            F.col("value").isNull().asc(),
            F.col("__prio").asc(),
            F.col("value").asc(),
            F.col("source").asc(),
        )
        key = F.struct(*[F.col(k) for k in KEY_COLS])
        return (
            arranged.withColumn("__prev", F.lag(key).over(w))
            .filter(F.col("__prev").isNull() | (key != F.col("__prev")))
            .drop("__prev", "__prio", "__salt")
        )

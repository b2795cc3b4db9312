"""Streaming ingest: the reference's stream-shaped batch semantics mapped
onto Structured Streaming primitives.

Reference behavior → streaming equivalent (SURVEY.md §2.9):
- hourly cron re-pull with 2-day lookback (``discharge_obs_pd.py:48,103``)
  → file-source stream with a 48 h watermark; late rows inside the
  watermark merge, later ones drop (the reference silently re-merges them);
- download memoization ``f_read`` (``ECCC_hourly.py:94,112-113``)
  → the file source's checkpointed exactly-once file tracking, for free;
- coalescing upsert into the partitioned store (J3)
  → ``foreachBatch`` calling the same ``ObservationStore.upsert`` the batch
  tier uses — one merge implementation, two drivers;
- hourly/daily resamples (A1/A3) → tumbling ``window()`` aggregation.

``Trigger.AvailableNow`` turns any of these into the cron-batch shape: drain
what's there, checkpoint, exit — the exact operational model of the
reference, minus the re-download.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def stream_conformed_csv(
    spark: SparkSession,
    landing_dir: str,
    schema: StructType,
    conformer,
) -> DataFrame:
    """File-source stream over a landing directory, conformed to the
    canonical long table by the SAME conformer the batch tier uses —
    conformers are pure DataFrame transforms, so they apply unchanged."""
    raw = (
        spark.readStream.schema(schema)
        .option("header", "true")
        .csv(landing_dir)
    )
    return conformer(raw)


def hourly_stream_rollup(
    obs: DataFrame,
    watermark: str = "48 hours",
    key: str = "station_id",
    ts: str = "obs_time",
    value: str = "value",
) -> DataFrame:
    """A1 as a streaming tumbling window: per (station, hour) mean/last/count
    with late data accepted inside the watermark.

    In append mode a window finalizes once the watermark passes — the
    'final-hour override' of the batch path becomes unnecessary: streaming
    emits each hour exactly once, complete.
    """
    from ..operators.rollup import _ordered_last

    return (
        obs.withWatermark(ts, watermark)
        .groupBy(F.col(key), F.window(F.col(ts), "1 hour").alias("w"))
        .agg(
            F.avg(value).alias("avg_value"),
            # the SHARED null-guarded last (operators.rollup): a raw
            # max_by(value, ts) returned NULL when the hour's latest
            # observation was NULL (an ECCC 'MSNG' try_cast), diverging
            # from the batch A1 this stream claims to mirror
            _ordered_last(value, ts, None).alias("last_value"),
            F.count(value).alias("n_obs"),
        )
        .select(
            key,
            F.col("w.start").alias("hour"),
            "avg_value",
            "last_value",
            "n_obs",
        )
    )


def stream_dedup(
    obs: DataFrame,
    watermark: str = "48 hours",
    keys: tuple[str, ...] = ("station_id", "obs_time", "datatype"),
    ts: str = "obs_time",
) -> DataFrame:
    """A4's streaming twin: exactly-once keys across micro-batches.

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until the
    watermark passes, so state is bounded by the late-data horizon (48 h ×
    key arrival rate), not by stream history — the property that lets the
    dedup run forever.  Within one batch the batch A4 semantics apply; a
    duplicate arriving in a LATER micro-batch (the reference's re-pulled
    2-day window) is dropped here instead of being re-merged downstream.
    """
    return obs.withWatermark(ts, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def session_stream_rollup(
    obs: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "48 hours",
    key: str = "station_id",
    ts: str = "obs_time",
    value: str = "value",
) -> DataFrame:
    """Gap-based session windows in streaming — the incremental twin of the
    batch ``an_sessionize_gap30m`` plan (lag→flag→cumsum).

    ``session_window`` merges events closer than ``gap`` into one growing
    window per key; a session finalizes (appends downstream) once the
    watermark passes its close.  State per key is the one open session —
    O(keys), not O(events).
    """
    return (
        obs.withWatermark(ts, watermark)
        .groupBy(F.col(key), F.session_window(F.col(ts), gap).alias("w"))
        .agg(
            F.count(value).alias("n_obs"),
            F.avg(value).alias("avg_value"),
        )
        .select(
            key,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_obs",
            "avg_value",
        )
    )


def stream_upsert_into_store(
    conformed: DataFrame,
    store,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Continuous (or drain-and-exit) upsert into the partitioned store via
    ``foreachBatch`` — each micro-batch runs the identical J3 coalescing
    merge as the cron path, with the checkpoint providing exactly-once
    file-source progress (the engine's ``f_read``)."""

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        store.upsert(batch_df)

    writer = (
        conformed.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

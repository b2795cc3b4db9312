"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]`` but every config here is chosen to also be
the right default on a 1000-executor cluster reading 100 TB:

- AQE on (runtime shuffle coalescing, skew-join splitting) — replaces the
  reference's hand-rolled partition logic (SURVEY.md §4).
- shuffle partitions sized for the local harness; on a real cluster AQE's
  coalescing makes the initial number mostly irrelevant.
- Arrow enabled for the few pandas-interop edges (Excel export adapters,
  the stated Python kernels) so batches move columnar, never row-at-a-time.
- Session timezone pinned to UTC: the engine stores event-time as naive-UTC
  and converts to local (America/Vancouver) only at export edges, which keeps
  parquet/DuckDB/Spark agreeing bit-for-bit on timestamp values.

It also holds ``pin`` / ``release_plan_caches``, the one registry of
plan-owned caches.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Runtime SQL confs that results and per-query cost depend on.
# ``get_spark`` sets them at session build; ``plans.load`` re-applies them
# on its first scan of any other session (the driver passes its own).
SQL_CONFS = {
    # Adaptive execution: coalesce small shuffle partitions and demote
    # sort-merge to broadcast when runtime stats allow.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Coalesce to the 64M advisory size instead of defending initial
    # parallelism: post-shuffle partition count tracks DATA VOLUME at
    # every scale (tiny stages collapse to a few tasks locally; a 100 TB
    # shuffle still yields ~byte-sized partitions).  Measured 13% off the
    # bench total.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    # Naive-UTC timestamps: any other zone would render and parse
    # timestamp literals shifted relative to the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Some upstream writers emit TIMESTAMP(NANOS) parquet (e.g. pandas);
    # Spark has no nanos type and throws PARQUET_TYPE_ILLEGAL, so read
    # them as long (plans/__init__.py::load truncates to micros, matching
    # DuckDB's own nanos→micros truncation).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def default_cpus() -> int:
    """Cores for ``local[N]`` and the shuffle partition count:
    ``SPARK_GRAFT_CPUS`` when set, else every core of this machine.
    A set value that is not a positive integer raises ``ValueError``."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if not env:
        return os.cpu_count() or 1
    try:
        cpus = int(env)
    except ValueError:
        cpus = 0
    if cpus < 1:
        raise ValueError(
            f"SPARK_GRAFT_CPUS must be a positive integer, got {env!r}"
        )
    return cpus


def default_driver_memory() -> str:
    """``spark.driver.memory``: ``SPARK_GRAFT_DRIVER_MEM`` when set, else
    half of physical RAM (whole GiB, 1g–24g).  In ``local[]`` mode the
    driver JVM is the whole executor fleet, so its heap must fit the box
    with room left for the Python side and the OS page cache."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(24, ram // 2**31))}g"


def get_spark(
    app_name: str = "nr-rfc-dischargeobs-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    cpus = default_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        # AQE (SQL_CONFS) also splits skewed shuffle partitions.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # The janino-compile cache is keyed on generated source and holds
        # 100 entries by default: 150+ distinct plans (this engine's query
        # surface, or any resident multi-query driver) evict everything
        # between repetitions and recompile every codegen unit on every
        # re-execution.  Sized to the plan count, not cores or data
        # volume; entries are weak-referenced, a few MB total.  Static
        # conf, so it must be set at session build.
        .config("spark.sql.codegen.cache.maxEntries", "4000")
        # Arrow for the pandas edges (export adapters, the Python kernels).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Partition discovery + pruning on the hive-layout observation store.
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # local[] runs driver AND every executor thread in ONE JVM —
        # Spark's 1g default heap starves many concurrent tasks (GC-locker
        # stalls, then OOM).  Size it like the executor fleet it stands for.
        .config("spark.driver.memory", default_driver_memory())
        # local[] has no dedicated driver; keep result transfers bounded.
        .config("spark.driver.maxResultSize", "2g")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
    )
    for key, value in {**SQL_CONFS, **(extra_conf or {})}.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


# The one cache lifecycle: an intermediate a query reads more than once is
# ``pin``ned, and a long-lived caller (the bench loop, the oracle sweep, a
# resident driver) calls ``release_plan_caches`` between queries so the
# CacheManager does not accrete entries for the whole session.  Short-lived
# runs may ignore it: session teardown frees everything.  The registry
# lives here because every library module can import this one without a
# cycle.
_PINNED: list[DataFrame] = []


def pin(df: DataFrame) -> DataFrame:
    """Persist ``df``, record the handle for ``release_plan_caches`` and
    return the persisted frame."""
    df = df.persist()
    _PINNED.append(df)
    return df


def release_plan_caches() -> int:
    """Unpersist every frame ``pin``ned since the last call; returns how
    many were released.  Call AFTER consuming the plan's result — the
    handles are lazy, so releasing early just costs recomputation, never
    correctness."""
    n = 0
    while _PINNED:
        _PINNED.pop().unpersist()
        n += 1
    return n

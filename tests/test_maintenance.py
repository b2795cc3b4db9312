"""Store maintenance (small-file compaction) and cross-engine hash
portability — the operational guarantees behind the 100 TB posture."""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import duckdb
from pyspark.sql import functions as F

from nr_rfc_dischargeobs_spark import pipelines
from nr_rfc_dischargeobs_spark.sources import ObservationStore
from nr_rfc_dischargeobs_spark.sources.store import with_year_month


def _obs(spark, rows):
    return spark.createDataFrame(
        rows,
        ["station_id", "obs_time", "datatype", "value", "qc_level", "source"],
    )


def _files_per_partition(root: str) -> dict[str, int]:
    out: dict[str, int] = {}
    for d in Path(root).glob("year_month=*/datatype=*"):
        out[str(d.relative_to(root))] = len(list(d.glob("*.parquet")))
    return out


def test_compact_coalesces_files_and_preserves_rows(spark, tmp_path):
    store = ObservationStore(spark, str(tmp_path / "obs"))
    mk = lambda m, v: [  # noqa: E731
        ("S1", dt.datetime(2024, m, d, 12), "Q", v + d, "raw", "wsc")
        for d in (1, 2)
    ]
    store.write(_obs(spark, mk(6, 0.0)))
    # three append cycles — one extra file per cycle per partition
    for i in range(1, 4):
        (
            with_year_month(_obs(spark, mk(6, i * 10.0)))
            .write.partitionBy("year_month", "datatype")
            .mode("append")
            .parquet(store.root)
        )
    before = _files_per_partition(store.root)
    assert before["year_month=202406/datatype=Q"] >= 4
    rows_before = sorted(
        (r["station_id"], r["obs_time"], r["value"])
        for r in store.read().collect()
    )

    store.compact(months=["202406"])

    after = _files_per_partition(store.root)
    assert after["year_month=202406/datatype=Q"] == 1
    rows_after = sorted(
        (r["station_id"], r["obs_time"], r["value"])
        for r in store.read().collect()
    )
    assert rows_after == rows_before


def test_compact_touches_only_selected_months(spark, tmp_path):
    store = ObservationStore(spark, str(tmp_path / "obs2"))
    rows = [
        ("S1", dt.datetime(2024, m, 1, 12), "Q", 1.0, "raw", "wsc")
        for m in (6, 7)
    ]
    store.write(_obs(spark, rows))
    july = Path(store.root) / "year_month=202407" / "datatype=Q"
    mtimes_before = {p.name for p in july.glob("*.parquet")}
    store.compact(months=["202406"])
    assert {p.name for p in july.glob("*.parquet")} == mtimes_before
    assert store.read().count() == 2


def test_hash_bucket_matches_duckdb_per_key(spark):
    """The sampler's md5 bucket must be byte-identical per key across
    engines — splits/strata computed by Spark and audited by any other
    md5-capable engine must agree row by row."""
    from nr_rfc_dischargeobs_spark.extensions import sampling

    keys = [
        "0", "1", "42", "doc-123", "", "Ünïcode-π", "a" * 300,
        "08MF005|2024-06-01", "-17", "3.14",
    ]
    df = spark.createDataFrame([(k,) for k in keys], ["k"])
    got = {
        r["k"]: r["b"]
        for r in df.select(
            "k", sampling.hash_bucket(F.col("k"), salt="s").alias("b")
        ).collect()
    }
    con = duckdb.connect()
    for k in keys:
        lit = "'" + k.replace("'", "''") + "'"
        [(want,)] = con.execute(
            "SELECT " + sampling.hash_bucket_sql(lit, salt="s")
        ).fetchall()
        assert got[k] == want, k
        assert 0 <= want < sampling.BUCKETS


def test_upsert_merge_plan_has_single_exchange(spark, tmp_path):
    """The fused merge+write distribution: exactly one Exchange, with the
    winner-pick window riding the same (month, datatype, salt)
    partitioning — a regression here doubles the shuffled bytes of every
    ingest cycle."""
    import re

    store = ObservationStore(spark, str(tmp_path / "obs3"))
    store.write(
        _obs(spark, [("S1", dt.datetime(2024, 6, 1, 12), "Q", 1.0, "raw", "wsc")])
    )
    incoming = with_year_month(
        _obs(spark, [("S1", dt.datetime(2024, 6, 2, 12), "Q", 2.0, "raw", "wsc")])
    )
    plan = (
        store.merged_frame(incoming)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    nodes = [m.group(1) for m in re.finditer(r"^\(\d+\) (\w+)", plan, re.M)]
    assert sum(n == "Exchange" for n in nodes) == 1
    assert sum(n == "Window" for n in nodes) == 1


def test_upsert_rewrites_only_incoming_months(spark, tmp_path):
    store = ObservationStore(spark, str(tmp_path / "obs4"))
    rows = [
        ("S1", dt.datetime(2024, m, 1, 12), "Q", float(m), "raw", "wsc")
        for m in (5, 6, 7)
    ]
    store.write(_obs(spark, rows))
    may = Path(store.root) / "year_month=202405" / "datatype=Q"
    july = Path(store.root) / "year_month=202407" / "datatype=Q"
    before = {p.name: p.stat().st_mtime for d in (may, july) for p in d.glob("*.parquet")}
    store.upsert(
        _obs(spark, [("S2", dt.datetime(2024, 6, 2, 12), "Q", 9.0, "raw", "wsc")])
    )
    after = {p.name: p.stat().st_mtime for d in (may, july) for p in d.glob("*.parquet")}
    assert after == before  # untouched months never move
    assert store.read().count() == 4


import pytest


def test_upsert_preserves_null_timestamp_partition(spark, tmp_path):
    """Review regression: a NULL obs_time lands in the hive default
    partition, and NULL never matches isin() — the merge must still
    read that partition or the dynamic overwrite silently deletes the
    stored null-timestamp rows."""
    import datetime as dt

    from nr_rfc_dischargeobs_spark.sources import ObservationStore

    cols = ["station_id", "obs_time", "datatype", "value", "qc_level", "source"]
    schema = ("station_id string, obs_time timestamp, datatype string,"
              " value double, qc_level string, source string")
    store = ObservationStore(spark, str(tmp_path / "s"))
    store.write(
        spark.createDataFrame(
            [("S1", None, "Q", 1.0, "raw", "a"),
             ("S2", dt.datetime(2024, 6, 1, 10), "Q", 2.0, "raw", "a")],
            schema,
        )
    )
    # incoming touches the null partition with a DIFFERENT key
    store.upsert(
        spark.createDataFrame(
            [("S9", None, "Q", 9.0, "raw", "b")], schema
        )
    )
    got = {(r["station_id"], r["value"]) for r in store.read().collect()}
    assert got == {("S1", 1.0), ("S2", 2.0), ("S9", 9.0)}


def test_exists_reraises_non_missing_errors(spark, tmp_path):
    """Review regression: exists() must map ONLY missing-path/empty to
    False — a garbage root (here: a text file where parquet should be)
    raises instead of being misread as 'fresh store', because the
    fresh-store path dynamically overwrites incoming months."""
    from nr_rfc_dischargeobs_spark.sources import ObservationStore

    root = tmp_path / "garbage"
    root.mkdir()
    (root / "part-00000.parquet").write_text("this is not parquet")
    store = ObservationStore(spark, str(root))
    with pytest.raises(Exception):
        store.exists()
    missing = ObservationStore(spark, str(tmp_path / "never_written"))
    assert missing.exists() is False


def test_read_of_missing_root_is_empty_store_and_garbage_raises(
    spark, tmp_path
):
    """read() is the one place that decides what a fresh store is: a
    missing root reads as an empty frame with the exact schema of a
    written store; a garbage root raises from read() AND upsert(), and
    the upsert leaves the garbage in place instead of overwriting it."""
    missing = ObservationStore(spark, str(tmp_path / "never_written"))
    empty = missing.read()
    assert empty.count() == 0
    assert empty.schema.simpleString() == (
        "struct<station_id:string,obs_time:timestamp,value:double,"
        "qc_level:string,source:string,year_month:int,datatype:string>"
    )
    written = ObservationStore(spark, str(tmp_path / "written"))
    written.write(
        _obs(spark, [("S1", dt.datetime(2024, 6, 1, 12), "Q", 1.0, "raw", "wsc")])
    )
    assert empty.schema == written.read().schema
    assert written.exists() is True

    root = tmp_path / "garbage"
    root.mkdir()
    garbage = root / "part-00000.parquet"
    garbage.write_text("this is not parquet")
    store = ObservationStore(spark, str(root))
    with pytest.raises(Exception):
        store.read()
    with pytest.raises(Exception):
        store.upsert(
            _obs(spark, [("S1", dt.datetime(2024, 6, 1, 12), "Q", 1.0, "raw", "wsc")])
        )
    assert [p.name for p in root.iterdir()] == ["part-00000.parquet"]
    assert garbage.read_text() == "this is not parquet"


def _rows(store):
    return sorted(
        (r["station_id"], r["obs_time"], r["datatype"], r["value"], r["source"])
        for r in store.read().collect()
    )


def test_upsert_into_fresh_store_merges_like_a_full_store(spark, tmp_path):
    """One batch with a duplicate key leaves the same rows whether the
    store is fresh or already holds data, and re-upserting it changes no
    row: a fresh store takes the same merge as any other."""
    t = dt.datetime(2024, 6, 1, 12)
    batch = [
        ("S1", t, "Q", None, "raw", "wsc"),
        ("S1", t, "Q", 5.0, "raw", "prov"),
        ("S2", t, "Q", 1.0, "raw", "wsc"),
    ]
    schema = ("station_id string, obs_time timestamp, datatype string,"
              " value double, qc_level string, source string")
    want = [("S1", t, "Q", 5.0, "prov"), ("S2", t, "Q", 1.0, "wsc")]

    fresh = ObservationStore(spark, str(tmp_path / "fresh"))
    fresh.upsert(spark.createDataFrame(batch, schema))
    assert _rows(fresh) == want
    fresh.upsert(spark.createDataFrame(batch, schema))
    assert _rows(fresh) == want

    may = ("S3", dt.datetime(2024, 5, 1, 12), "Q", 7.0, "raw", "wsc")
    full = ObservationStore(spark, str(tmp_path / "full"))
    full.write(spark.createDataFrame([may], schema))
    full.upsert(spark.createDataFrame(batch, schema))
    assert _rows(full) == sorted(want + [("S3", may[1], "Q", 7.0, "wsc")])


def test_upsert_fills_stored_null_value(spark, tmp_path):
    """combine_first on the store: a stored value wins over an incoming
    one, a stored NULL is filled by the incoming value, and a new key
    extends the store."""
    store = ObservationStore(spark, str(tmp_path / "obs"))
    at = lambda h: dt.datetime(2024, 6, 1, h)  # noqa: E731
    schema = ("station_id string, obs_time timestamp, datatype string,"
              " value double, qc_level string, source string")
    store.write(
        spark.createDataFrame(
            [("A", at(1), "Q", 10.0, "raw", "wsc"),
             ("A", at(2), "Q", None, "raw", "wsc")],
            schema,
        )
    )
    store.upsert(
        spark.createDataFrame(
            [("A", at(h), "Q", v, "raw", "wsc")
             for h, v in ((1, 99.0), (2, 20.0), (3, 30.0))],
            schema,
        )
    )
    got = {r["obs_time"].hour: r["value"] for r in store.read().collect()}
    assert got == {1: 10.0, 2: 20.0, 3: 30.0}


def test_upsert_survivor_independent_of_row_order(spark, tmp_path):
    """Same-priority non-null rows for one key resolve by value, then
    source — never by shuffle order: permuted and repartitioned copies
    of one batch always leave the same row."""
    t = dt.datetime(2024, 6, 1, 12)
    rows = [
        ("S1", t, "Q", float(v), "raw", src)
        for v, src in ((3.0, "wsc"), (0.0, "usgs"), (5.0, "prov"),
                       (0.0, "prov"), (4.0, "wsc"), (1.0, "wsc"))
    ]
    got = set()
    for rot in range(3):
        store = ObservationStore(spark, str(tmp_path / f"obs{rot}"))
        store.upsert(
            _obs(spark, rows[rot * 2:] + rows[:rot * 2]).repartition(3)
        )
        got.update(_rows(store))
    assert got == {("S1", t, "Q", 0.0, "prov")}


def test_upsert_commit_writes_single_exchange_frame(spark, tmp_path):
    """The frame upsert hands to the commit is the merge plan itself:
    exactly one Exchange, so the commit adds no repartition."""
    import re

    store = ObservationStore(spark, str(tmp_path / "obs"))
    committed = []
    commit = store._commit
    store._commit = lambda frame: (committed.append(frame), commit(frame))
    store.upsert(
        _obs(spark, [("S1", dt.datetime(2024, 6, 2, 12), "Q", 2.0, "raw", "wsc")])
    )
    [frame] = committed
    plan = frame._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    nodes = [m.group(1) for m in re.finditer(r"^\(\d+\) (\w+)", plan, re.M)]
    assert sum(n == "Exchange" for n in nodes) == 1
    assert store.read().count() == 1


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_ingest_evaluates_the_union_once_and_releases_it(spark, tmp_path):
    """EP1's month collect and partitioned write share one evaluation of
    the conformed union, so each source's plan runs once per tick, not
    once per job.  The union's cache is gone when the ingest returns and
    when its commit raises, and a frame the caller persisted stays
    cached, also when it is the only source."""
    spark.catalog.clearCache()
    evals = spark.sparkContext.accumulator(0)

    def counted(t):
        evals.add(1)
        return t

    # obs_time feeds year_month, so both the month collect and the
    # write need this column: without the persist each evaluates it
    stamp = F.udf(counted, "timestamp").asNondeterministic()
    rows = [
        ("S1", dt.datetime(2024, 6, 1, h), "Q", float(h), "raw", "wsc")
        for h in range(6)
    ]
    other = [("S2", dt.datetime(2024, 7, 1, 0), "Q", 1.0, "raw", "prov")]
    counted_src = _obs(spark, rows).withColumn("obs_time", stamp("obs_time"))
    sources = [counted_src, _obs(spark, other)]
    store = ObservationStore(spark, str(tmp_path / "obs"))
    pipelines.ingest_instantaneous(store, sources)
    assert evals.value == len(rows)
    assert _cache_is_empty(spark)
    assert store.read().count() == len(rows) + len(other)

    def failing_commit(frame):
        raise RuntimeError("commit failed")

    store._commit = failing_commit
    with pytest.raises(RuntimeError, match="commit failed"):
        pipelines.ingest_instantaneous(store, sources)
    assert _cache_is_empty(spark)
    del store._commit

    pinned = _obs(spark, rows).persist()
    try:
        pipelines.ingest_instantaneous(store, [pinned, _obs(spark, other)])
        assert pinned.storageLevel.useMemory
        pipelines.ingest_instantaneous(store, [pinned])
        assert pinned.storageLevel.useMemory
    finally:
        pinned.unpersist()
    assert _cache_is_empty(spark)


def test_is_missing_path_token_fallback_without_accessors():
    """ADVICE fix pin: an exception that escaped PySpark's error
    framework (no getCondition/getErrorClass — e.g. a raw Py4JJavaError)
    still classifies as missing-path when its MESSAGE carries the
    structured condition token, so first-run behavior survives exception
    wrappers; prose without the token stays un-matched, and a structured
    exception reporting a DIFFERENT condition never falls through to the
    text scan."""
    from nr_rfc_dischargeobs_spark.errors import is_missing_path

    class RawError(Exception):
        pass

    assert is_missing_path(
        RawError("[PATH_NOT_FOUND] Path does not exist: /x/y")
    )
    assert is_missing_path(
        RawError("[UNABLE_TO_INFER_SCHEMA] Unable to infer schema")
    )
    # the Py4J spelling: preamble line + Java-class-prefixed message
    assert is_missing_path(
        RawError(
            "An error occurred while calling o42.parquet.\n"
            ": org.apache.spark.sql.AnalysisException: [PATH_NOT_FOUND]"
            " Path does not exist: /x/y"
        )
    )
    assert not is_missing_path(RawError("path does not exist"))  # prose only
    assert not is_missing_path(RawError("ACCESS_DENIED on bucket"))
    # a token QUOTED deep in a cause chain must not classify: the
    # primary failure is something else and the fresh-store path
    # overwrites — review-fix pin (head-anchored match, first 3 lines)
    assert not is_missing_path(
        RawError(
            "Job aborted due to stage failure: task 3 failed 4 times\n"
            "most recent failure: ThrottlingException: slow down\n"
            "caused by: retry of speculative read\n"
            "Caused by: AnalysisException: [PATH_NOT_FOUND] /tmp/x"
        )
    )
    assert not is_missing_path(
        RawError("reading store failed after [PATH_NOT_FOUND]-like retry")
    )

    class Structured(Exception):
        def getCondition(self):
            return "ACCESS_DENIED"

    # structured condition wins: the token in the message must NOT make
    # a credentials failure look like a fresh store
    assert not is_missing_path(
        Structured("ACCESS_DENIED while listing [PATH_NOT_FOUND]-like dir")
    )

    class StructuredMissing(Exception):
        def getCondition(self):
            return "PATH_NOT_FOUND"

    assert is_missing_path(StructuredMissing("anything"))

"""Streaming-tier tests: file-source ingest → conform → windowed rollup,
foreachBatch upsert, and the stateful recurrence — drained with
Trigger.AvailableNow (the cron-batch shape)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from nr_rfc_dischargeobs_spark import schemas
from nr_rfc_dischargeobs_spark.operators import recurrence
from nr_rfc_dischargeobs_spark.sources import ObservationStore, conform_wsc
from nr_rfc_dischargeobs_spark.streaming import (
    hourly_stream_rollup,
    rising_falling_stream,
    stream_conformed_csv,
    stream_upsert_into_store,
)

CSV_HEADER = (
    "ID,Date,water_level_m,level_grade,level_symbol,level_qaqc,"
    "discharge_cms,discharge_grade,discharge_symbol,discharge_qaqc"
)


def _write_landing_file(path, rows):
    path.write_text("\n".join([CSV_HEADER] + rows) + "\n")


def test_stream_ingest_upserts_into_store(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    _write_landing_file(
        landing / "batch1.csv",
        [
            'S1,2024-06-01T10:00:00-07:00,1.5,,,,"100.0",,,',
            'S1,2024-06-01T10:05:00-07:00,1.6,,,,"110.0",,,',
        ],
    )
    store = ObservationStore(spark, str(tmp_path / "obs"))
    conformed = stream_conformed_csv(
        spark, str(landing), schemas.WSC_SCHEMA, conform_wsc
    )
    q = stream_upsert_into_store(
        conformed, store, str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)
    assert store.read().filter(F.col("value").isNotNull()).count() == 4

    # second drop: one late duplicate (must NOT overwrite) + one new row;
    # the checkpoint must not re-ingest batch1
    _write_landing_file(
        landing / "batch2.csv",
        [
            'S1,2024-06-01T10:00:00-07:00,9.9,,,,"999.0",,,',
            'S1,2024-06-01T10:10:00-07:00,1.7,,,,"120.0",,,',
        ],
    )
    q2 = stream_upsert_into_store(
        conformed, store, str(tmp_path / "ckpt"), available_now=True
    )
    q2.awaitTermination(120)
    vals = {
        (str(r["obs_time"]), r["datatype"]): r["value"]
        for r in store.read().collect()
    }
    assert vals[("2024-06-01 10:00:00", "Q")] == 100.0  # existing won
    assert vals[("2024-06-01 10:10:00", "Q")] == 120.0  # new row added


def test_hourly_stream_rollup_window(spark, tmp_path):
    landing = tmp_path / "landing2"
    landing.mkdir()
    _write_landing_file(
        landing / "b.csv",
        [
            'S1,2024-06-01T10:00:00-07:00,,,,,"10.0",,,',
            'S1,2024-06-01T10:30:00-07:00,,,,,"20.0",,,',
            'S1,2024-06-01T11:00:00-07:00,,,,,"30.0",,,',
        ],
    )
    conformed = stream_conformed_csv(
        spark, str(landing), schemas.WSC_SCHEMA, conform_wsc
    ).filter(F.col("datatype") == "Q")
    rolled = hourly_stream_rollup(conformed)
    q = (
        rolled.writeStream.format("memory")
        .queryName("hourly_rollup_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        str(r["hour"]): (r["avg_value"], r["n_obs"])
        for r in spark.sql("SELECT * FROM hourly_rollup_test").collect()
    }
    assert got["2024-06-01 10:00:00"] == (15.0, 2)
    assert got["2024-06-01 11:00:00"] == (30.0, 1)


HOURLY_COLS = ["station_id", "hour", "hrly_max", "hrly_last"]


def _hourly_rows(spark, rows):
    return spark.createDataFrame(
        [
            (s, dt.datetime(2024, 6, 1, h), m, l)
            for (s, h, m, l) in rows
        ],
        HOURLY_COLS,
    )


def test_stateful_recurrence_matches_batch_across_microbatches(
    spark, tmp_path
):
    """Two micro-batches through applyInPandasWithState must equal one batch
    run of the A2 operator over the concatenated history — the state store
    carries the previous OUTPUT across the batch boundary."""
    batch1 = [("S1", 0, 10.0, 9.0), ("S1", 1, 10.0, 7.0), ("S2", 0, 5.0, 4.0)]
    batch2 = [("S1", 2, 9.0, 8.5), ("S1", 3, 12.0, 11.0), ("S2", 1, 6.0, 5.5)]

    landing = tmp_path / "hourly_landing"
    landing.mkdir()
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt_rf")

    def drain(rows, subdir):
        _hourly_rows(spark, rows).write.parquet(str(landing / subdir))
        stream = spark.readStream.schema(
            _hourly_rows(spark, rows).schema
        ).option("recursiveFileLookup", "true").parquet(str(landing))
        q = (
            rising_falling_stream(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain(batch1, "b1")
    drain(batch2, "b2")

    got = {
        (r["station_id"], str(r["hour"])): r["value"]
        for r in spark.read.parquet(out_dir).collect()
    }
    want_df = recurrence.rising_falling(_hourly_rows(spark, batch1 + batch2))
    want = {
        (r["station_id"], str(r["hour"])): r["value"]
        for r in want_df.collect()
    }
    assert got == want
    # spot-check the recurrence actually fired: S1 hour2 falls (9<=7? no —
    # 9 <= vals[1]; vals[1]=7 after rewrite → 9>7 keeps max 9.0)
    assert got[("S1", "2024-06-01 02:00:00")] == 9.0


def test_stream_dedup_drops_cross_batch_duplicates(spark, tmp_path):
    """A duplicate key arriving in a later micro-batch is dropped by
    dropDuplicatesWithinWatermark (the batch path would re-merge it)."""
    from nr_rfc_dischargeobs_spark.streaming import stream_dedup

    landing = tmp_path / "landing3"
    landing.mkdir()
    out_dir = str(tmp_path / "dedup_out")
    ckpt = str(tmp_path / "ckpt_dedup")

    def drain(name, rows):
        _write_landing_file(landing / name, rows)
        conformed = stream_conformed_csv(
            spark, str(landing), schemas.WSC_SCHEMA, conform_wsc
        ).filter(F.col("datatype") == "Q")
        q = (
            stream_dedup(conformed)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain("b1.csv", ['S1,2024-06-01T10:00:00-07:00,,,,,"100.0",,,'])
    # same (station, slot, datatype) again + one genuinely new slot
    drain(
        "b2.csv",
        [
            'S1,2024-06-01T10:00:00-07:00,,,,,"999.0",,,',
            'S1,2024-06-01T10:05:00-07:00,,,,,"110.0",,,',
        ],
    )
    got = {
        str(r["obs_time"]): r["value"]
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got == {
        "2024-06-01 10:00:00": 100.0,  # first arrival won; 999 dropped
        "2024-06-01 10:05:00": 110.0,
    }


def test_session_stream_rollup_gap_split(spark, tmp_path):
    """Observations 10 min apart merge into one session; a >30 min silence
    starts a new one."""
    from nr_rfc_dischargeobs_spark.streaming import session_stream_rollup

    landing = tmp_path / "landing4"
    landing.mkdir()
    _write_landing_file(
        landing / "b.csv",
        [
            'S1,2024-06-01T10:00:00-07:00,,,,,"10.0",,,',
            'S1,2024-06-01T10:10:00-07:00,,,,,"20.0",,,',
            'S1,2024-06-01T12:00:00-07:00,,,,,"30.0",,,',
        ],
    )
    conformed = stream_conformed_csv(
        spark, str(landing), schemas.WSC_SCHEMA, conform_wsc
    ).filter(F.col("datatype") == "Q")
    q = (
        session_stream_rollup(conformed)
        .writeStream.format("memory")
        .queryName("session_rollup_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        str(r["session_start"]): (r["n_obs"], r["avg_value"])
        for r in spark.sql("SELECT * FROM session_rollup_test").collect()
    }
    assert got["2024-06-01 10:00:00"] == (2, 15.0)
    assert got["2024-06-01 12:00:00"] == (1, 30.0)


def test_watermark_drops_data_later_than_horizon(spark, tmp_path):
    """An event arriving with event-time older than the watermark horizon
    (48 h behind the stream's max seen) is dropped by the windowed
    aggregation — the streaming analog of the reference's 2-day lookback
    simply never re-pulling older data."""
    landing = tmp_path / "landing5"
    landing.mkdir()
    out_dir = str(tmp_path / "wm_out")
    ckpt = str(tmp_path / "ckpt_wm")

    def drain(name, rows):
        _write_landing_file(landing / name, rows)
        conformed = stream_conformed_csv(
            spark, str(landing), schemas.WSC_SCHEMA, conform_wsc
        ).filter(F.col("datatype") == "Q")
        q = (
            hourly_stream_rollup(conformed)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1 advances the watermark to 2024-06-10 − 48 h
    drain("b1.csv", ['S1,2024-06-10T12:00:00-07:00,,,,,"10.0",,,'])
    # batch 2: one row inside the horizon, one 5 days stale
    drain(
        "b2.csv",
        [
            'S1,2024-06-09T12:00:00-07:00,,,,,"20.0",,,',
            'S1,2024-06-05T12:00:00-07:00,,,,,"99.0",,,',
        ],
    )
    # force remaining finalized windows out with a third batch far ahead
    drain("b3.csv", ['S1,2024-06-20T12:00:00-07:00,,,,,"30.0",,,'])
    hours = {
        str(r["hour"]): r["avg_value"]
        for r in spark.read.parquet(out_dir).collect()
    }
    assert "2024-06-09 12:00:00" in hours  # inside horizon: kept
    assert "2024-06-05 12:00:00" not in hours  # stale: dropped


def test_document_stream_gates_scrubs_and_dedups_across_batches(
    spark, tmp_path
):
    """Streaming curation: Gopher gate drops junk, PII is redacted, and a
    re-landed shard (same content, new doc_id, later batch) dedups on the
    content fingerprint across micro-batches."""
    import json

    from nr_rfc_dischargeobs_spark.streaming import (
        curate_document_stream,
        stream_documents_jsonl,
    )

    landing = tmp_path / "docs"
    landing.mkdir()
    good = (
        "the quick brown fox is happy and ready to work over many fine "
        "days of steady calm weather and warm light mail bob@example.com"
    )

    def land(name, rows):
        (landing / name).write_text(
            "\n".join(json.dumps(r) for r in rows) + "\n"
        )

    land(
        "shard1.jsonl",
        [
            {
                "doc_id": 1,
                "text": good,
                "lang": "en",
                "source": "crawl",
                "ingest_time": "2024-06-01T10:00:00",
            },
            {
                "doc_id": 2,
                "text": "x y z",  # fails the Gopher gate
                "lang": "en",
                "source": "crawl",
                "ingest_time": "2024-06-01T10:00:00",
            },
        ],
    )
    out_dir = str(tmp_path / "curated")

    def run():
        # parquet sink + shared checkpoint: the dedup state must survive
        # across drains (the memory sink cannot recover a checkpoint)
        stream = curate_document_stream(
            stream_documents_jsonl(spark, str(landing))
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            r.doc_id: r for r in spark.read.parquet(out_dir).collect()
        }

    first = run()
    assert set(first) == {1}  # junk doc gated out
    assert "[EMAIL]" in first[1].text  # scrubbed
    assert "bob@example.com" not in first[1].text

    # shard replay: identical content under a NEW doc_id, later batch —
    # the fingerprint dedup must drop it; a genuinely new doc survives
    land(
        "shard2.jsonl",
        [
            {
                "doc_id": 10,
                "text": good,
                "lang": "en",
                "source": "crawl",
                "ingest_time": "2024-06-01T11:00:00",
            },
            {
                "doc_id": 11,
                "text": (
                    "a different and genuinely new document about the "
                    "weather of fine days and the calm light of morning"
                ),
                "lang": "en",
                "source": "crawl",
                "ingest_time": "2024-06-01T11:00:00",
            },
        ],
    )
    both = run()
    assert set(both) == {1, 11}  # replayed content dropped, new doc kept


def test_document_curation_batch_twin(spark):
    """The same curate_document_stream runs on a BATCH frame (backfill
    posture): gates apply, and fingerprint dedup keeps the min doc_id."""
    import datetime as _dt

    from nr_rfc_dischargeobs_spark.streaming import curate_document_stream

    good = (
        "the quick brown fox is happy and ready to work over many fine "
        "days of steady calm weather and warm light"
    )
    docs = spark.createDataFrame(
        [
            (5, good, "en", "crawl", _dt.datetime(2024, 6, 1, 10)),
            (9, good, "en", "crawl", _dt.datetime(2024, 6, 1, 11)),  # dup
            (7, "x y", "en", "crawl", _dt.datetime(2024, 6, 1, 10)),  # junk
        ],
        "doc_id long, text string, lang string, source string, "
        "ingest_time timestamp",
    )
    out = curate_document_stream(docs).collect()
    assert [r.doc_id for r in out] == [5]  # junk gated, dup keeps min id


def test_compact_near_dups_sweeps_landed_directory(spark, tmp_path):
    """The periodic near-dup compaction over landed output: drops the
    higher id of a verified near-dup pair, leaves distinct docs, and
    swaps the directory atomically (no .compacting/.precompact residue)."""
    import os

    from nr_rfc_dischargeobs_spark.streaming.documents import (
        compact_near_dups,
    )

    landed = str(tmp_path / "landed")
    base = "the quick brown fox jumps over the lazy dog again and again today"
    spark.createDataFrame(
        [
            (1, base),
            (2, base + " tonight"),  # trigram-Jaccard near-dup of 1
            (3, "completely different content about spark engines at scale"),
        ],
        ["doc_id", "text"],
    ).write.parquet(landed)

    kept_n, dropped_n = compact_near_dups(
        spark, landed, jaccard_threshold=0.6
    )
    assert (kept_n, dropped_n) == (2, 1)
    ids = sorted(
        r["doc_id"] for r in spark.read.parquet(landed).collect()
    )
    assert ids == [1, 3]  # higher id of the pair dropped
    assert not os.path.exists(landed + ".compacting")
    assert not os.path.exists(landed + ".precompact")


def test_compact_near_dups_aborts_on_concurrent_landing(spark, tmp_path):
    """A file landing mid-sweep triggers the abort: staged dir removed,
    corpus untouched, RuntimeError raised — never silent deletion."""
    import os
    from unittest import mock

    import pytest as _pytest

    from nr_rfc_dischargeobs_spark.extensions import curate as curate_mod
    from nr_rfc_dischargeobs_spark.streaming.documents import (
        compact_near_dups,
    )

    landed = str(tmp_path / "landed_abort")
    spark.createDataFrame(
        [(1, "some document text here"), (2, "other totally different")],
        ["doc_id", "text"],
    ).write.parquet(landed)
    before = sorted(os.listdir(landed))

    real = curate_mod.near_dup_drop_ids

    def landing_mid_sweep(*a, **kw):
        (tmp_path / "landed_abort" / "late-arrival.parquet").write_bytes(
            b"PAR1"
        )
        return real(*a, **kw)

    with mock.patch.object(
        curate_mod, "near_dup_drop_ids", side_effect=landing_mid_sweep
    ):
        with _pytest.raises(RuntimeError, match="changed during the sweep"):
            compact_near_dups(spark, landed)
    assert "late-arrival.parquet" in os.listdir(landed)  # corpus untouched
    assert sorted(
        f for f in os.listdir(landed) if f != "late-arrival.parquet"
    ) == before
    assert not os.path.exists(landed + ".compacting")


def test_compact_near_dups_aborts_on_same_size_rewrite(spark, tmp_path):
    """A file REWRITTEN IN PLACE with unchanged size mid-sweep is invisible
    to a (path, size) snapshot; the mtime_ns in the listing catches it —
    sweep aborts, the rewritten content survives."""
    import os
    from unittest import mock

    import pytest as _pytest

    from nr_rfc_dischargeobs_spark.extensions import curate as curate_mod
    from nr_rfc_dischargeobs_spark.streaming.documents import (
        compact_near_dups,
    )

    landed = str(tmp_path / "landed_rewrite")
    spark.createDataFrame(
        [(1, "some document text here"), (2, "other totally different")],
        ["doc_id", "text"],
    ).write.parquet(landed)
    part = next(
        f for f in os.listdir(landed) if f.endswith(".parquet")
    )
    victim = os.path.join(landed, part)
    original = open(victim, "rb").read()

    real = curate_mod.near_dup_drop_ids

    def rewrite_mid_sweep(*a, **kw):
        out = real(*a, **kw)
        out.count()  # force the read of the original bytes first
        rewritten = bytes(reversed(original))  # same length, new content
        with open(victim, "wb") as fh:
            fh.write(rewritten)
        os.utime(victim, ns=(1, 1))  # distinct mtime even on coarse clocks
        return out

    with mock.patch.object(
        curate_mod, "near_dup_drop_ids", side_effect=rewrite_mid_sweep
    ):
        with _pytest.raises(RuntimeError, match="changed during the sweep"):
            compact_near_dups(spark, landed)
    assert open(victim, "rb").read() == bytes(reversed(original))
    assert not os.path.exists(landed + ".compacting")


def test_compact_near_dups_recovers_from_crashed_swap(spark, tmp_path):
    """Backup present + corpus dir missing (a crash between the two
    moves) restores the backup before sweeping."""
    import os
    import shutil

    from nr_rfc_dischargeobs_spark.streaming.documents import (
        compact_near_dups,
    )

    landed = str(tmp_path / "landed_crash")
    spark.createDataFrame(
        [(1, "aa bb cc dd ee ff gg"), (2, "totally different words here")],
        ["doc_id", "text"],
    ).write.parquet(landed)
    # simulate the crash window: dir renamed to backup, swap never done
    shutil.move(landed, landed + ".precompact")
    assert not os.path.exists(landed)

    kept_n, dropped_n = compact_near_dups(spark, landed)
    assert (kept_n, dropped_n) == (2, 0)
    assert os.path.exists(landed)
    assert not os.path.exists(landed + ".precompact")


def test_compact_near_dups_recovers_interrupted_swap_with_new_landings(
    spark, tmp_path
):
    """The nastiest crash state: backup + stale stage present AND a drain
    recreated the corpus dir with new landings.  Recovery must merge the
    landings into the restored backup — never delete either."""
    import os
    import shutil

    from nr_rfc_dischargeobs_spark.streaming.documents import (
        compact_near_dups,
    )

    landed = str(tmp_path / "landed_merge")
    spark.createDataFrame(
        [(1, "original corpus document one"), (2, "original corpus doc two")],
        ["doc_id", "text"],
    ).write.parquet(landed)
    # simulate: swap interrupted (backup + stage exist), then a drain
    # recreated the dir with ONE new landing
    shutil.move(landed, landed + ".precompact")
    os.makedirs(landed + ".compacting")
    (tmp_path / "landed_merge.compacting" / "stale.parquet").write_bytes(
        b"PAR1stale"
    )
    spark.createDataFrame(
        [(3, "freshly landed document three")], ["doc_id", "text"]
    ).write.parquet(landed)

    kept_n, dropped_n = compact_near_dups(spark, landed)
    ids = sorted(r["doc_id"] for r in spark.read.parquet(landed).collect())
    assert ids == [1, 2, 3]  # original corpus AND the new landing survive
    assert (kept_n, dropped_n) == (3, 0)
    assert not os.path.exists(landed + ".precompact")
    assert not os.path.exists(landed + ".compacting")


def test_document_stream_lm_gate_runs_on_real_stream(spark, tmp_path):
    """The pre-trained bigram-LM gate is row-local (literal lookup
    arrays), so it must run under the real streaming engine — proven
    here end-to-end, not just on the batch twin: low-perplexity doc
    lands, gibberish is gated out mid-stream."""
    import json

    from nr_rfc_dischargeobs_spark.extensions import text as tx
    from nr_rfc_dischargeobs_spark.streaming import (
        curate_document_stream,
        stream_documents_jsonl,
    )

    natural = (
        "the river rose through the morning and the gauges tracked the "
        "rise while the forecast centre watched the upstream stations"
    )
    mash = " ".join(f"zx{i}qv wk{i}jh nb{i}tr" for i in range(8))
    landing = tmp_path / "docs_lm"
    landing.mkdir()
    (landing / "shard1.jsonl").write_text(
        "\n".join(
            json.dumps(
                {
                    "doc_id": i,
                    "text": t,
                    "lang": "en",
                    "source": "crawl",
                    "ingest_time": "2024-06-01T10:00:00",
                }
            )
            for i, t in ((1, natural), (2, mash))
        )
        + "\n"
    )
    ref = spark.createDataFrame(
        [(100 + i, natural) for i in range(3)], ["doc_id", "text"]
    )
    counts = tx.bigram_lm_counts(ref)
    scores = {
        r["doc_id"]: r["avg_logp2"]
        for r in tx.bigram_lm_scores_trained(
            spark.createDataFrame(
                [(1, natural), (2, mash)], ["doc_id", "text"]
            ),
            *counts,
        ).collect()
    }
    cut = (scores[1] + scores[2]) / 2

    stream = curate_document_stream(
        stream_documents_jsonl(spark, str(landing)),
        min_words=5,
        lm_counts=counts,
        lm_min_score=cut,
    )
    out_dir = str(tmp_path / "curated_lm")
    q = (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt_lm"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = {r.doc_id for r in spark.read.parquet(out_dir).collect()}
    assert kept == {1}


def test_compact_boilerplate_rewrites_and_recomputes_derived_columns(
    spark, tmp_path
):
    """The sub-document sweep: shared footer lines stripped corpus-wide,
    verbatim repeated spans stripped on top (span_n), and the landed
    schema's derived columns (n_words, fingerprint) recomputed from the
    cleaned text — a stale fingerprint would poison the stream's future
    cross-batch dedup."""
    import os

    from nr_rfc_dischargeobs_spark.extensions import text as tx
    from nr_rfc_dischargeobs_spark.streaming import compact_boilerplate

    footer = "copyright example corp all rights reserved"
    passage = "alpha beta gamma delta"
    # the passage stays space-delimited inside one line: span_dedup
    # tokenizes on spaces, so a newline-glued token would not match
    rows = [
        (1, f"unique one content here {passage} first body\n{footer}"),
        (2, f"{footer}\nsecond document {passage} trailing words"),
        (3, "third document with entirely original material"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    landed_df = tx.fingerprint(
        docs, passthrough=("text",)
    ).withColumn("n_words", F.size(F.split(F.col("text"), " ")).cast("long"))
    landed = str(tmp_path / "landed_bp")
    landed_df.write.parquet(landed)

    kept_n, dropped_n = compact_boilerplate(
        spark, landed, min_df=2, span_n=4
    )
    assert (kept_n, dropped_n) == (3, 0)  # rewrites drop no rows
    out = {
        r["doc_id"]: r for r in spark.read.parquet(landed).collect()
    }
    # footer gone everywhere; the repeated 4-token passage keeps only
    # its first occurrence (doc 1)
    for d in (1, 2):
        assert footer not in out[d]["text"]
    assert passage in out[1]["text"]
    assert passage not in out[2]["text"]
    assert out[3]["text"] == "third document with entirely original material"
    # derived columns recomputed from the CLEANED text with the STREAM's
    # exact formula (gopher_rules: split on ' ', empty tokens INCLUDED)
    # so stream-produced and compaction-recomputed values agree
    for d in (1, 2, 3):
        assert out[d]["n_words"] == len(out[d]["text"].lower().split(" "))
    fresh = {
        r["doc_id"]: r["fingerprint"]
        for r in tx.fingerprint(
            spark.read.parquet(landed).select("doc_id", "text")
        ).collect()
    }
    for d in (1, 2, 3):
        assert out[d]["fingerprint"] == fresh[d]
    assert not os.path.exists(landed + ".compacting")
    assert not os.path.exists(landed + ".precompact")


def test_land_document_stream_cross_run_dedup_survives_redeploy(
    spark, tmp_path
):
    """Cross-RUN dedup: a redeployed pipeline (fresh checkpoint — the
    state dropDuplicatesWithinWatermark cannot recover) replays every
    landing file, and the landed-store fingerprint anti-join must admit
    no fingerprint the corpus already holds — while genuinely new
    content still lands."""
    import json

    from nr_rfc_dischargeobs_spark.streaming import (
        curate_document_stream,
        land_document_stream,
        stream_documents_jsonl,
    )

    landing = tmp_path / "docs"
    landing.mkdir()
    good = (
        "the quick brown fox is happy and ready to work over many fine "
        "days of steady calm weather and warm light in the tall grass"
    )
    fresh = (
        "a completely different second document with plenty of other "
        "words that clear the quality gates and carry new information"
    )

    def land_shard(name, rows):
        (landing / name).write_text(
            "\n".join(json.dumps(r) for r in rows) + "\n"
        )

    def drain(ckpt):
        q = land_document_stream(
            curate_document_stream(
                stream_documents_jsonl(spark, str(landing))
            ),
            str(tmp_path / "landed"),
            str(tmp_path / ckpt),
        )
        q.awaitTermination(120)

    land_shard(
        "shard1.jsonl",
        [
            {
                "doc_id": 1,
                "text": good,
                "lang": "en",
                "source": "crawl",
                "ingest_time": "2024-06-01T10:00:00",
            }
        ],
    )
    drain("ckptA")
    landed = spark.read.parquet(str(tmp_path / "landed"))
    assert [r.doc_id for r in landed.collect()] == [1]

    # REDEPLOY: new checkpoint → the file source re-reads shard1 AND the
    # new shard2 (same content under a new doc_id, plus one new doc)
    land_shard(
        "shard2.jsonl",
        [
            {
                "doc_id": 10,
                "text": good,  # same content, post-horizon re-crawl
                "lang": "en",
                "source": "crawl",
                "ingest_time": "2024-06-02T10:00:00",
            },
            {
                "doc_id": 42,
                "text": fresh,
                "lang": "en",
                "source": "crawl",
                "ingest_time": "2024-06-02T10:00:00",
            },
        ],
    )
    drain("ckptB")
    out = {
        r.doc_id: r
        for r in spark.read.parquet(str(tmp_path / "landed")).collect()
    }
    # original row intact, new content admitted, re-crawled content NOT
    assert set(out) == {1, 42}
    assert len({r.fingerprint for r in out.values()}) == 2


def test_compact_boilerplate_refuses_duplicate_doc_ids(spark, tmp_path):
    """The sub-document rewrite must FAIL LOUDLY on a landed corpus with
    duplicate doc_ids (a state the id-keyed near-dup sweep tolerates):
    groupBy-doc_id line/span dedup would interleave both versions' text
    into one merged clean_text and fan it back onto every row."""
    import os

    import pytest as _pytest

    from nr_rfc_dischargeobs_spark.streaming import compact_boilerplate

    rows = [
        (1, "first version of the document body"),
        (1, "second landed version same identifier"),
        (2, "another document entirely"),
    ]
    landed = str(tmp_path / "landed_dup")
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(landed)
    before = sorted(
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(landed).collect()
    )
    with _pytest.raises(ValueError, match="duplicate doc_id"):
        compact_boilerplate(spark, landed, min_df=2)
    # corpus untouched, no stage/backup debris left behind
    after = sorted(
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(landed).collect()
    )
    assert after == before
    assert not os.path.exists(landed + ".compacting")
    assert not os.path.exists(landed + ".precompact")


def test_hll_register_stream_matches_batch_sketch(spark, tmp_path):
    """The streaming register store, folded, gives BIT-identical
    estimates to the batch sketch over everything the stream saw — and
    a redeploy (fresh checkpoint, full replay) changes nothing, because
    register max-merge absorbs duplicate appends by algebra."""
    import json

    from nr_rfc_dischargeobs_spark.extensions.sketches import (
        hll_cardinality,
    )
    from nr_rfc_dischargeobs_spark.streaming import (
        compact_hll_registers,
        hll_register_stream,
        read_hll_estimate,
    )

    landing = tmp_path / "tokens"
    landing.mkdir()

    def land_shard(name, rows):
        (landing / name).write_text(
            "\n".join(json.dumps(r) for r in rows) + "\n"
        )

    def drain(ckpt):
        stream = (
            spark.readStream.schema("lang STRING, token STRING")
            .json(str(landing))
        )
        q = hll_register_stream(
            stream,
            str(tmp_path / "regs"),
            str(tmp_path / ckpt),
            key="token",
            facets=("lang",),
        )
        q.awaitTermination(120)

    land_shard(
        "s1.jsonl",
        [{"lang": "en", "token": f"w{i % 40}"} for i in range(200)]
        + [{"lang": "de", "token": f"x{i}"} for i in range(30)],
    )
    drain("ckptA")
    land_shard(
        "s2.jsonl",
        [{"lang": "en", "token": f"w{i % 70}"} for i in range(100)],
    )
    drain("ckptB")  # fresh checkpoint: replays s1 AND reads s2

    est = {
        r["lang"]: r
        for r in read_hll_estimate(
            spark, str(tmp_path / "regs"), facets=("lang",)
        ).collect()
    }
    all_rows = [("en", f"w{i % 40}") for i in range(200)] + [
        ("de", f"x{i}") for i in range(30)
    ] + [("en", f"w{i % 70}") for i in range(100)]
    batch = {
        r["lang"]: r
        for r in hll_cardinality(
            spark.createDataFrame(all_rows, ["lang", "token"]),
            key="token",
            facets=("lang",),
        ).collect()
    }
    for lang in ("en", "de"):
        assert est[lang]["hll_estimate"] == batch[lang]["hll_estimate"]
        assert (
            est[lang]["hll_registers_used"]
            == batch[lang]["hll_registers_used"]
        )

    # the store carries per-batch rows (> unique registers); compaction
    # folds it to ≤ unique and the estimate is unchanged
    before = spark.read.parquet(str(tmp_path / "regs")).count()
    kept, folded = compact_hll_registers(
        spark, str(tmp_path / "regs"), facets=("lang",)
    )
    assert kept < before and folded == before - kept
    est2 = {
        r["lang"]: r["hll_estimate"]
        for r in read_hll_estimate(
            spark, str(tmp_path / "regs"), facets=("lang",)
        ).collect()
    }
    assert est2 == {
        lang: est[lang]["hll_estimate"] for lang in ("en", "de")
    }

def test_cms_table_stream_replay_safe_and_matches_batch(spark, tmp_path):
    """The streaming CMS store folded by sum equals the batch table over
    everything streamed; a replay under the same batch numbering
    overwrites its own batch_id partition instead of double-counting
    (sum is not idempotent — idempotence here is structural); and after
    compaction the SAME checkpoint keeps consuming correctly (new files
    land as new batch ids, replays never touch the -1 sentinel)."""
    import json

    from nr_rfc_dischargeobs_spark.extensions.sketches import (
        cms_estimate,
        cms_table,
    )
    from nr_rfc_dischargeobs_spark.streaming import (
        cms_table_stream,
        compact_cms_table,
        read_cms_table,
    )

    landing = tmp_path / "tokens"
    landing.mkdir()
    (landing / "s1.jsonl").write_text(
        "\n".join(
            json.dumps({"token": f"w{i % 25}"}) for i in range(300)
        )
        + "\n"
    )

    def drain(ckpt):
        stream = spark.readStream.schema("token STRING").json(str(landing))
        q = cms_table_stream(
            stream,
            str(tmp_path / "cms"),
            str(tmp_path / ckpt),
            key="token",
            d=2,
            w=64,
        )
        q.awaitTermination(120)

    drain("ckpt")
    # replay: identical file set under a fresh checkpoint re-numbers the
    # same content as batch 0 again — the partition path is overwritten
    # with identical rows, not appended (the retry/restart shape)
    drain("ckpt_replay")

    folded = read_cms_table(spark, str(tmp_path / "cms"))
    all_df = spark.createDataFrame(
        [(f"w{i % 25}",) for i in range(300)], ["token"]
    )
    batch = cms_table(all_df, key="token", d=2, w=64)
    assert (
        folded.exceptAll(batch).count() == 0
        and batch.exceptAll(folded).count() == 0
    )

    # compaction collapses partitions into batch_id=-1, preserves the
    # folded table and the partition-directory layout
    kept, _ = compact_cms_table(spark, str(tmp_path / "cms"))
    refolded = read_cms_table(spark, str(tmp_path / "cms"))
    assert refolded.exceptAll(batch).count() == 0
    assert refolded.count() == kept

    # the ORIGINAL checkpoint keeps consuming: only the new file lands
    # (as a fresh batch id), nothing replays against compacted history
    (landing / "s2.jsonl").write_text(json.dumps({"token": "w0"}) + "\n")
    drain("ckpt")
    final = read_cms_table(spark, str(tmp_path / "cms"))
    want = cms_table(
        spark.createDataFrame(
            [(f"w{i % 25}",) for i in range(300)] + [("w0",)], ["token"]
        ),
        key="token",
        d=2,
        w=64,
    )
    assert (
        final.exceptAll(want).count() == 0
        and want.exceptAll(final).count() == 0
    )
    # estimates off the streamed store never undercount (w0 true = 13)
    est = {
        r["token"]: r["cms_estimate"]
        for r in cms_estimate(
            all_df.distinct(), final, key="token", d=2, w=64
        ).collect()
    }
    assert est["w0"] >= 13


def test_cms_compaction_skips_uncommitted_orphan_partitions(spark, tmp_path):
    """Review fix pin (crash-then-compact-then-restart): a batch whose
    partition landed but whose checkpoint commit didn't must survive
    checkpoint-aware compaction UNFOLDED, so the restarted stream's
    replay overwrites its own path instead of double-counting against
    compacted history."""
    import json

    from nr_rfc_dischargeobs_spark.extensions.sketches import cms_table
    from nr_rfc_dischargeobs_spark.streaming import (
        cms_table_stream,
        compact_cms_table,
        read_cms_table,
    )

    landing = tmp_path / "tokens"
    landing.mkdir()
    (landing / "s1.jsonl").write_text(
        "\n".join(json.dumps({"token": f"w{i % 10}"}) for i in range(100))
        + "\n"
    )
    stream = spark.readStream.schema("token STRING").json(str(landing))
    cms_dir, ckpt = str(tmp_path / "cms"), str(tmp_path / "ckpt")
    q = cms_table_stream(stream, cms_dir, ckpt, key="token", d=2, w=64)
    q.awaitTermination(120)  # batch 0 landed AND committed

    # simulate the crash: batch 1's fold lands on its partition path but
    # the checkpoint commit never happens
    orphan_df = spark.createDataFrame([("w0",)] * 7, ["token"])
    orphan = cms_table(orphan_df, key="token", d=2, w=64)
    orphan.write.mode("overwrite").parquet(f"{cms_dir}/batch_id=1")

    compact_cms_table(spark, cms_dir, checkpoint_dir=ckpt)

    # the orphan partition is still there, un-folded; committed history
    # collapsed into the -1 sentinel
    import os

    parts = sorted(
        d for d in os.listdir(cms_dir) if d.startswith("batch_id=")
    )
    assert parts == ["batch_id=-1", "batch_id=1"]

    # the restarted stream replays batch 1 onto its own path (overwrite,
    # same rows) — totals count the orphan exactly once
    orphan.write.mode("overwrite").parquet(f"{cms_dir}/batch_id=1")
    final = read_cms_table(spark, cms_dir)
    want = cms_table(
        spark.createDataFrame(
            [(f"w{i % 10}",) for i in range(100)] + [("w0",)] * 7,
            ["token"],
        ),
        key="token",
        d=2,
        w=64,
    )
    assert (
        final.exceptAll(want).count() == 0
        and want.exceptAll(final).count() == 0
    )


def test_hourly_stream_rollup_last_value_skips_nulls(spark, tmp_path):
    """Review regression: the streaming A1's last_value must skip NULL
    observations like the batch twin (a raw max_by(value, ts) returned
    NULL when the hour's LATEST observation was a 'MSNG' try_cast)."""
    import json

    from nr_rfc_dischargeobs_spark.streaming.ingest import (
        hourly_stream_rollup,
    )

    landing = tmp_path / "obs"
    landing.mkdir()
    rows = [
        {"station_id": "S1", "obs_time": "2024-06-01T10:05:00", "value": 3.0},
        {"station_id": "S1", "obs_time": "2024-06-01T10:55:00", "value": None},
    ]
    (landing / "s.jsonl").write_text(
        "\n".join(json.dumps(r) for r in rows) + "\n"
    )
    stream = spark.readStream.schema(
        "station_id string, obs_time timestamp, value double"
    ).json(str(landing))
    q = (
        hourly_stream_rollup(stream)
        .writeStream.format("memory")
        .queryName("hsr_nulltest")
        .outputMode("complete")  # append waits for the watermark to pass
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM hsr_nulltest").collect()
    assert len(out) == 1
    assert out[0]["last_value"] == 3.0  # not NULL


def test_last_committed_batch_resolves_scheme_prefixed_checkpoints(
    spark, tmp_path
):
    """ADVICE fix pin: the commit log is resolved through the Hadoop
    FileSystem, so a scheme-prefixed checkpoint (file:/…, the local
    stand-in for s3a://…) reads the SAME last-committed id as the plain
    path — the old os.listdir spelling returned -1 there, silently
    disabling the fold the caller opted into."""
    import json

    import pytest

    from nr_rfc_dischargeobs_spark.streaming import cms_table_stream
    from nr_rfc_dischargeobs_spark.streaming.sketches import (
        _last_committed_batch,
    )

    landing = tmp_path / "tok"
    landing.mkdir()
    (landing / "s1.jsonl").write_text(
        "\n".join(json.dumps({"token": f"w{i}"}) for i in range(5)) + "\n"
    )
    stream = spark.readStream.schema("token STRING").json(str(landing))
    cms_dir, ckpt = str(tmp_path / "cms"), str(tmp_path / "ckpt")
    q = cms_table_stream(stream, cms_dir, ckpt, key="token", d=2, w=64)
    q.awaitTermination(120)

    plain = _last_committed_batch(spark, ckpt)
    assert plain == 0  # one drained batch
    assert _last_committed_batch(spark, "file:" + ckpt) == plain
    assert _last_committed_batch(spark, "file://" + ckpt) == plain

    # fresh-but-existing checkpoint (no commits yet) is the normal -1
    empty_ckpt = tmp_path / "ckpt_fresh"
    empty_ckpt.mkdir()
    assert _last_committed_batch(spark, str(empty_ckpt)) == -1

    # a checkpoint that does not exist is a caller error, never a silent
    # fold-nothing
    with pytest.raises(ValueError, match="does not exist"):
        _last_committed_batch(spark, str(tmp_path / "no_such_ckpt"))


def test_ivfadc_index_stream_matches_batch_and_replays_safe(spark, tmp_path):
    """The streamed IVFADC store equals the batch index over everything
    streamed (code rows identical, modulo the batch_id partition
    column); a replay under a fresh checkpoint overwrites its own batch
    path instead of duplicating vectors (structural idempotence); and
    ivfadc_topk over the STORE returns exactly its answer over the
    batch index — the deployment split end to end."""
    import json as _json

    from pyspark.sql import functions as F

    from nr_rfc_dischargeobs_spark.extensions import similarity
    from nr_rfc_dischargeobs_spark.streaming import (
        ivfadc_index_stream,
        read_ivfadc_index,
    )

    emb = similarity.prepare(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    )
    coarse_rows = [
        (int(r["vec_id"]), [int(v) for v in r["q"]])
        for r in emb.filter(
            (F.col("vec_id") >= 8) & (F.col("vec_id") < 12)
        ).collect()
    ]
    corpus_raw = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).filter(F.col("vec_id") >= 28)
    residuals = similarity.residualize(
        similarity.ivf_assign_local(
            emb.filter(F.col("vec_id") >= 28), coarse_rows
        ),
        coarse_rows,
    )
    cb = similarity.pq_train_codebooks(residuals, k=8, m=4, dim=64, iters=1)

    landing = tmp_path / "vecs"
    landing.mkdir()
    rows = corpus_raw.collect()
    (landing / "s1.jsonl").write_text(
        "\n".join(
            _json.dumps(
                {"vec_id": r["vec_id"], "embedding": [float(v) for v in r["embedding"]]}
            )
            for r in rows
        )
        + "\n"
    )

    def drain(ckpt):
        stream = spark.readStream.schema(
            "vec_id BIGINT, embedding ARRAY<FLOAT>"
        ).json(str(landing))
        q = ivfadc_index_stream(
            stream,
            str(tmp_path / "index"),
            str(tmp_path / ckpt),
            coarse_rows,
            cb,
        )
        q.awaitTermination(120)

    drain("ckpt")
    drain("ckpt_replay")  # replay: same content renumbered as batch 0

    stored = read_ivfadc_index(spark, str(tmp_path / "index"))
    code_cols = ["vec_id", "list_id", "code_0", "code_1", "code_2",
                 "code_3", "sq_err", "rn"]
    got = sorted(map(tuple, stored.select(*code_cols).collect()))
    # persist: the in-plan index must NOT inline its staged encode under
    # the search join (janino detonation — the hazard ivfadc_topk's
    # structural barrier now guards; the explicit persist here is the
    # stored-artifact posture the registered plan uses)
    batch_ix = similarity.ivf_pq_index(
        emb.filter(F.col("vec_id") >= 28), None, cb,
        assign="local", residual=True, coarse_rows=coarse_rows,
    ).persist()
    try:
        want = sorted(map(tuple, batch_ix.select(*code_cols).collect()))
        assert got == want  # no replay duplicates, values identical

        queries = emb.filter(
            (F.col("vec_id") >= 12) & (F.col("vec_id") < 28)
        )
        coarse_df = emb.filter(
            (F.col("vec_id") >= 8) & (F.col("vec_id") < 12)
        )
        from_store = sorted(map(tuple, similarity.ivfadc_topk(
            queries, stored, coarse_df, cb, k=3, nprobe=2
        ).collect()))
        from_batch = sorted(map(tuple, similarity.ivfadc_topk(
            queries, batch_ix, coarse_df, cb, k=3, nprobe=2
        ).collect()))
        assert from_store == from_batch
    finally:
        batch_ix.unpersist()


def test_ivfadc_index_stream_admit_once(spark, tmp_path):
    """admit_once=True anti-joins each batch's vec_ids against the
    already-indexed store (batches < N only), so an id arriving twice
    across batches is encoded exactly once — and a full replay under a
    fresh checkpoint (same batch numbering) reproduces the identical
    store instead of losing rows to its own anti-join."""
    import json as _json

    from nr_rfc_dischargeobs_spark.streaming import (
        ivfadc_index_stream,
        read_ivfadc_index,
    )

    coarse_rows = [(7, [0, 0, 0, 0])]
    cb = [(0, [0, 0, 0, 0]), (1, [100_000] * 4)]
    landing = tmp_path / "vecs"
    landing.mkdir()

    def put(name, ids):
        (landing / name).write_text(
            "\n".join(
                _json.dumps(
                    {"vec_id": i, "embedding": [0.1 * i] * 4}
                )
                for i in ids
            )
            + "\n"
        )

    def drain(ckpt):
        stream = (
            spark.readStream.schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
            .option("maxFilesPerTrigger", 1)
            .json(str(landing))
        )
        q = ivfadc_index_stream(
            stream, str(tmp_path / "index"), str(tmp_path / ckpt),
            coarse_rows, cb, m=2, dim=4, admit_once=True,
        )
        q.awaitTermination(120)

    put("s1.jsonl", [1, 2])
    drain("ckpt")
    put("s2.jsonl", [2, 3])
    drain("ckpt")  # same checkpoint: only s2 is new (batch 1)

    stored = read_ivfadc_index(spark, str(tmp_path / "index"))
    rows = {
        int(r["vec_id"]): int(r["batch_id"])
        for r in stored.select("vec_id", "batch_id").collect()
    }
    # id 2 admitted once (batch 0); id 3 is batch 1's only survivor
    assert rows == {1: 0, 2: 0, 3: 1}
    before = sorted(map(tuple, stored.collect()))

    # replay: fresh checkpoint renumbers the SAME files to the same
    # batches — every batch N anti-joins only batches < N, so the
    # store round-trips identically (no self-anti-join data loss)
    drain("ckpt_replay")
    after = sorted(map(tuple, read_ivfadc_index(
        spark, str(tmp_path / "index")
    ).collect()))
    assert after == before


def test_tombstone_stream_deletes_flow_to_search(spark, tmp_path):
    """Streaming GDPR path: delete events landed by tombstone_stream
    suppress vectors from every subsequent search; a second overlapping
    event file re-deletes harmlessly (set semantics), and batch
    delete_vectors composes into the same side table."""
    import json as _json

    from pyspark.sql import functions as F

    from nr_rfc_dischargeobs_spark.extensions import ann_store, similarity
    from nr_rfc_dischargeobs_spark.streaming import tombstone_stream

    emb = spark.createDataFrame(
        [(i, [0.04 * i, -0.03 * i, 0.2, 0.01 * i]) for i in range(1, 13)],
        "vec_id long, embedding array<float>",
    )
    prep = similarity.prepare(emb)
    coarse_rows = [
        (int(r["vec_id"]), [int(v) for v in r["q"]])
        for r in prep.filter(F.col("vec_id") <= 2).collect()
    ]
    cb = similarity.pq_train_codebooks(
        similarity.residualize(
            similarity.ivf_assign_local(prep, coarse_rows), coarse_rows
        ),
        k=2, m=2, dim=4, iters=1,
    )
    path = str(tmp_path / "ix")
    ann_store.save_ivfadc(
        similarity.ivf_pq_index(prep, None, cb, m=2, dim=4,
                                residual=True, coarse_rows=coarse_rows,
                                assign="local"),
        path, coarse_rows, cb, m=2, dim=4,
    )

    landing = tmp_path / "deletes"
    landing.mkdir()
    (landing / "d1.jsonl").write_text(
        "\n".join(_json.dumps({"vec_id": v}) for v in (3, 7)) + "\n"
    )
    stream = spark.readStream.schema("vec_id BIGINT").json(str(landing))
    tombstone_stream(
        stream, path, str(tmp_path / "ckpt")
    ).awaitTermination(120)

    loaded = ann_store.load_ivfadc(path)
    q = prep.filter(F.col("vec_id") <= 2)
    got = {int(r["neighbor_id"])
           for r in loaded.search(q, k=12, nprobe=2).collect()}
    assert not got & {3, 7} and got  # deleted gone, survivors rank

    # overlapping second drop (re-delete 7, add 9) — set semantics
    (landing / "d2.jsonl").write_text(
        "\n".join(_json.dumps({"vec_id": v}) for v in (7, 9)) + "\n"
    )
    tombstone_stream(
        spark.readStream.schema("vec_id BIGINT").json(str(landing)),
        path, str(tmp_path / "ckpt"),
    ).awaitTermination(120)
    # batch deletes compose into the same table
    assert ann_store.delete_vectors(spark, path, "vec_id = 11") == 1
    got2 = {int(r["neighbor_id"])
            for r in loaded.search(q, k=12, nprobe=2).collect()}
    assert not got2 & {3, 7, 9, 11}
    # physical purge clears everything at once
    rep = ann_store.compact_deleted(spark, path)
    assert rep["compacted"] is True and rep["purged"] == 4
    assert ann_store.deleted_ids(spark, path) is None

"""Golden end-to-end pipeline tests (SURVEY.md §5.3): FIXTURES-shaped
synthetic sources → conform → union → upsert into the partitioned store →
rollups; idempotence and late-data semantics."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from nr_rfc_dischargeobs_spark import schemas
from nr_rfc_dischargeobs_spark.operators import rollup
from nr_rfc_dischargeobs_spark.sources import (
    ObservationStore,
    conform_provincial,
    conform_swob,
    conform_usgs,
    conform_wsc,
)
from nr_rfc_dischargeobs_spark.sources.swob import parse_swob_xml


def ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


# ------------------------------------------------------------- conformers


def test_conform_wsc_grid_tz_dedup_melt(spark):
    rows = [
        # on-grid, off-grid (rounds to :05), duplicate slot (keep first)
        ("08MF005", "2024-06-01T10:00:00-07:00", 1.5, "", "", "", 100.0, "", "", ""),
        ("08MF005", "2024-06-01T10:06:10-07:00", 1.6, "", "", "", 101.0, "", "", ""),
        ("08MF005", "2024-06-01T10:04:00-07:00", 9.9, "", "", "", 999.0, "", "", ""),
        # month-boundary row (partition test downstream)
        ("08MF005", "2024-07-01T00:01:00-07:00", 2.0, "", "", "", 200.0, "", "", ""),
    ]
    raw = spark.createDataFrame(rows, schemas.WSC_SCHEMA)
    out = conform_wsc(raw)
    got = {
        (r["obs_time"], r["datatype"]): r["value"]
        for r in out.filter(F.col("station_id") == "08MF005").collect()
    }
    # -07:00 offset → 10:00 PDT wall clock preserved
    assert got[(ts("2024-06-01 10:00:00"), "Q")] == 100.0
    assert got[(ts("2024-06-01 10:00:00"), "H")] == 1.5
    # both 10:04 and 10:06:10 round to the 10:05 slot; keep-first by file
    # order (the Date string): the 10:04 row wins
    assert got[(ts("2024-06-01 10:05:00"), "Q")] == 999.0
    assert got[(ts("2024-06-01 10:05:00"), "H")] == 9.9
    assert out.count() == 6  # 3 deduped slots + 1 July slot... ×2 datatypes


def test_conform_wsc_dedup_keeps_first_by_order(spark):
    rows = [
        ("S1", "2024-06-01T10:04:00-07:00", None, "", "", "", 1.0, "", "", ""),
        ("S1", "2024-06-01T10:06:00-07:00", None, "", "", "", 2.0, "", "", ""),
    ]
    raw = spark.createDataFrame(rows, schemas.WSC_SCHEMA)
    out = conform_wsc(raw)
    q = {r["datatype"]: r["value"] for r in out.collect() if r["value"] is not None}
    assert q["Q"] == 1.0  # both round to 10:05; earlier Date string kept


def test_conform_provincial_semijoin_remap_window(spark):
    dim = spark.createDataFrame(
        [("PROV1", "08RFC01"), ("PROV2", "08RFC02")],
        schemas.PROVINCIAL_STATIONS_SCHEMA,
    )
    rows = [
        ("PROV1", "", "", "", "", "2024-06-01 17:00:00", "", 5.0),
        ("PROV1", "", "", "", "", "2024-06-01 17:00:00", "", 6.0),  # dup
        ("UNKNOWN", "", "", "", "", "2024-06-01 17:00:00", "", 7.0),  # filtered
        ("PROV2", "", "", "", "", "2024-05-01 00:00:00", "", 8.0),  # outside win
    ]
    raw = spark.createDataFrame(rows, schemas.PROVINCIAL_SCHEMA)
    out = conform_provincial(
        raw,
        dim,
        "Q",
        window_start=F.lit("2024-05-31 00:00:00").cast("timestamp"),
        window_end=F.lit("2024-06-02 00:00:00").cast("timestamp"),
    ).collect()
    assert len(out) == 1
    assert out[0]["station_id"] == "08RFC01"  # remapped
    assert out[0]["value"] == 5.0  # keep-first dedup
    assert out[0]["obs_time"] == ts("2024-06-01 10:00:00")  # UTC→PDT


def test_conform_usgs_units_and_id_remap(spark):
    dim = spark.createDataFrame(
        [("124015U", "station x")], schemas.USGS_STATIONS_SCHEMA
    )
    rows = [("12401500", ts("2024-06-01 17:00:00"), 35.3147, 3.28084)]
    raw = spark.createDataFrame(rows, schemas.USGS_SCHEMA)
    out = {
        r["datatype"]: r for r in conform_usgs(raw, dim).collect()
    }
    assert out["Q"]["value"] == 1.0  # cfs → m³/s
    assert out["H"]["value"] == 1.0  # ft → m
    assert out["Q"]["station_id"] == "124015U"  # 00 → U inverse remap
    assert out["Q"]["obs_time"] == ts("2024-06-01 10:00:00")


def test_swob_xml_parse_and_scrub(spark):
    xml = (
        "<om:result xmlns:om='x'><elements>"
        "<element name='air_temp' value='12.5'/>"
        "<element name='pcpn_amt_pst1hr' value='MSNG'/>"
        "</elements></om:result>"
    )
    payloads = spark.createDataFrame(
        [("CWLW", ts("2024-06-01 12:00:00"), xml)],
        ["station", "obs_hour", "xml"],
    )
    parsed = parse_swob_xml(payloads)
    out = {
        r["variable"]: r for r in conform_swob(parsed).collect()
    }
    assert out["air_temp"]["value"] == 12.5
    assert out["pcpn_amt_pst1hr"]["value"] is None  # MSNG scrubbed to null
    assert out["air_temp"]["station_id"] == "WLW"  # C prefix stripped
    assert out["air_temp"]["obs_time"] == ts("2024-06-01 04:00:00")  # −8 h


# ------------------------------------------------------------- store


def _mk_obs(spark, rows):
    return spark.createDataFrame(
        [
            (sid, ts(t), d, v, "raw", src)
            for (sid, t, d, v, src) in rows
        ],
        schemas.OBSERVATION_SCHEMA,
    )


def test_store_partitioned_write_prune_and_upsert(spark, tmp_path):
    store = ObservationStore(spark, str(tmp_path / "obs"))
    first = _mk_obs(
        spark,
        [
            ("S1", "2024-06-15 10:00:00", "Q", 1.0, "wsc"),
            ("S1", "2024-07-01 10:00:00", "Q", 2.0, "wsc"),
            ("S2", "2024-06-15 10:00:00", "H", 3.0, "prov"),
        ],
    )
    store.upsert(first)

    # hive layout on disk
    months = {
        p.name for p in (tmp_path / "obs").iterdir() if p.is_dir()
    }
    assert months == {"year_month=202406", "year_month=202407"}

    # partition-pruned read: only June rows
    june = store.read_range("2024-06-01 00:00:00", "2024-07-01 00:00:00")
    assert june.count() == 2
    plan = june._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan

    # strict-exclusive start bound (reference EP2 quirk): rows stamped
    # exactly at `start` drop out when inclusive_start=False
    at_bound = "2024-06-15 10:00:00"
    assert store.read_range(at_bound, "2024-07-01 00:00:00").count() == 2
    assert (
        store.read_range(
            at_bound, "2024-07-01 00:00:00", inclusive_start=False
        ).count()
        == 0
    )

    # idempotence: re-upserting the same data changes nothing
    store.upsert(first)
    assert store.read().count() == 3

    # late data fills holes only (existing wins, combine_first semantics)
    late = _mk_obs(
        spark,
        [
            ("S1", "2024-06-15 10:00:00", "Q", 99.0, "wsc"),  # clash: loses
            ("S1", "2024-06-15 10:05:00", "Q", 4.0, "wsc"),  # hole: fills
        ],
    )
    store.upsert(late)
    vals = {
        (r["station_id"], r["obs_time"]): r["value"]
        for r in store.read().filter(F.col("datatype") == "Q").collect()
    }
    assert vals[("S1", ts("2024-06-15 10:00:00"))] == 1.0  # existing won
    assert vals[("S1", ts("2024-06-15 10:05:00"))] == 4.0  # hole filled
    # untouched month intact
    assert vals[("S1", ts("2024-07-01 10:00:00"))] == 2.0


def test_store_upsert_safe_on_static_overwrite_session(spark, tmp_path):
    """The writer-level ``partitionOverwriteMode=dynamic`` option must
    protect untouched months even when the SESSION is configured with
    Spark's default STATIC overwrite — a foreign session must not lose a
    whole store to a routine one-month upsert (ADVICE r01, medium)."""
    store = ObservationStore(spark, str(tmp_path / "obs_static"))
    store.upsert(
        _mk_obs(
            spark,
            [
                ("S1", "2024-06-15 10:00:00", "Q", 1.0, "wsc"),
                ("S1", "2024-07-01 10:00:00", "Q", 2.0, "wsc"),
            ],
        )
    )
    saved = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        # touches ONLY June; July must survive the overwrite
        store.upsert(
            _mk_obs(spark, [("S1", "2024-06-15 10:05:00", "Q", 9.0, "wsc")])
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", saved)
    vals = {
        (r["station_id"], r["obs_time"]): r["value"]
        for r in store.read().collect()
    }
    assert vals[("S1", ts("2024-07-01 10:00:00"))] == 2.0  # July intact
    assert vals[("S1", ts("2024-06-15 10:05:00"))] == 9.0  # June merged
    assert len(vals) == 3


# ------------------------------------------------------------- end-to-end


def test_full_pipeline_multi_source_to_daily(spark, tmp_path):
    """EP1+EP2 in miniature: three conformed sources → union → store →
    hourly rollup with final-hour override → daily with last-day override."""
    wsc = conform_wsc(
        spark.createDataFrame(
            [
                ("S1", "2024-06-01T10:00:00-07:00", None, "", "", "", 10.0, "", "", ""),
                ("S1", "2024-06-01T10:30:00-07:00", None, "", "", "", 20.0, "", "", ""),
                ("S1", "2024-06-02T11:00:00-07:00", None, "", "", "", 40.0, "", "", ""),
                ("S1", "2024-06-02T11:30:00-07:00", None, "", "", "", 60.0, "", "", ""),
            ],
            schemas.WSC_SCHEMA,
        )
    ).filter(F.col("value").isNotNull())
    prov = conform_provincial(
        spark.createDataFrame(
            [("P1", "", "", "", "", "2024-06-01 18:00:00", "", 5.0)],
            schemas.PROVINCIAL_SCHEMA,
        ),
        spark.createDataFrame([("P1", "S2")], schemas.PROVINCIAL_STATIONS_SCHEMA),
        "Q",
    )
    unioned = wsc.unionByName(prov)
    store = ObservationStore(spark, str(tmp_path / "pipe"))
    store.upsert(unioned)

    hourly = rollup.hourly_rollup_with_final_override(
        store.read().drop("year_month").filter(F.col("datatype") == "Q"),
        "station_id",
        "obs_time",
        "value",
    )
    h = {
        (r["station_id"], str(r["hour"])): r["value"]
        for r in hourly.collect()
    }
    assert h[("S1", "2024-06-01 10:00:00")] == 15.0  # mean
    assert h[("S1", "2024-06-02 11:00:00")] == 60.0  # final hour → last obs
    assert h[("S2", "2024-06-01 11:00:00")] == 5.0

    daily = rollup.daily_rollup_with_last_day_override(
        hourly, "station_id", "hour", "value"
    )
    d = {
        (r["station_id"], str(r["day"])): r["value"] for r in daily.collect()
    }
    assert d[("S1", "2024-06-01 00:00:00")] == 15.0
    assert d[("S1", "2024-06-02 00:00:00")] == 60.0  # last day → last value


# ------------------------------------------------------------- pipelines


def test_ep1_ep2_pipeline_api_end_to_end(spark, tmp_path):
    """EP1 ingest → EP2 hourly (bounded ffill) → daily → model export with a
    formula-estimated station, through the public pipelines API."""
    from nr_rfc_dischargeobs_spark import pipelines

    wsc = conform_wsc(
        spark.createDataFrame(
            [
                ("S1", "2024-06-01T10:00:00-07:00", None, "", "", "", 10.0, "", "", ""),
                ("S1", "2024-06-01T10:30:00-07:00", None, "", "", "", 20.0, "", "", ""),
                ("S1", "2024-06-02T11:15:00-07:00", None, "", "", "", 40.0, "", "", ""),
            ],
            schemas.WSC_SCHEMA,
        )
    ).filter(F.col("value").isNotNull())
    prov = conform_provincial(
        spark.createDataFrame(
            [("P1", "", "", "", "", "2024-06-01 18:00:00", "", 6.0)],
            schemas.PROVINCIAL_SCHEMA,
        ),
        spark.createDataFrame([("P1", "S2")], schemas.PROVINCIAL_STATIONS_SCHEMA),
        "Q",
    )
    store = ObservationStore(spark, str(tmp_path / "ep"))
    pipelines.ingest_instantaneous(store, [wsc, prov])

    hourly = pipelines.update_hourly(
        store,
        "2024-06-01 00:00:00",
        "2024-06-03 00:00:00",
        ffill_until=F.lit("2024-06-02 23:00:00").cast("timestamp"),
    )
    h = {
        (r["station_id"], str(r["hour"])): r["value"]
        for r in hourly.collect()
    }
    assert h[("S1", "2024-06-01 10:00:00")] == 15.0  # hourly mean
    assert h[("S1", "2024-06-01 12:00:00")] == 15.0  # ffilled gap
    assert h[("S1", "2024-06-02 11:00:00")] == 40.0  # final hour: last obs
    assert len(h) == 2 * 48  # dense spine: 2 stations x 48 hours

    daily = pipelines.update_daily(hourly)
    wide = pipelines.model_export_frame(
        daily,
        ["S1", "S2"],
        estimates={"S9": "({S1}*2+{S2}).clip(lower=0.001)"},
    )
    rows = {str(r["day"]): r for r in wide.collect()}
    d1 = rows["2024-06-01 00:00:00"]
    assert d1["S9"] == d1["S1"] * 2 + d1["S2"]


def test_swob_parse_order_robust_and_absent_var_contract(spark):
    """The zipped two-pass extractor must match xpath_string semantics:
    element order is irrelevant, extra elements are ignored, a repeated
    name takes its FIRST occurrence, and an absent variable yields ''
    (the string() empty-node-set contract), never NULL."""
    xml = (
        "<report><elements>"
        "<element name='extraneous' value='9'/>"
        "<element name='pcpn_amt_pst1hr' value='0.4'/>"
        "<element name='air_temp' value='12.5'/>"
        "<element name='air_temp' value='99'/>"
        "</elements></report>"
    )
    payloads = spark.createDataFrame(
        [("CS1", dt.datetime(2024, 6, 1, 8), xml)],
        ["station", "obs_hour", "xml"],
    )
    row = parse_swob_xml(payloads).collect()[0]
    assert row["air_temp"] == "12.5"  # first occurrence wins
    assert row["pcpn_amt_pst1hr"] == "0.4"  # order-independent
    assert row["avg_air_temp_pst1hr"] == ""  # absent → '' not NULL
    assert row["f_read"] is True


def test_ep3_weather_pipeline_scaffold_and_wide(spark):
    from nr_rfc_dischargeobs_spark import pipelines

    xml = (
        '<om><element name="air_temp" value="12.5"/>'
        '<element name="pcpn_amt_pst1hr" value="MSNG"/></om>'
    )
    payloads = spark.createDataFrame(
        [("CS1", dt.datetime(2024, 6, 1, 8), xml)],
        ["station", "obs_hour", "xml"],
    )
    parsed = parse_swob_xml(payloads)
    dim = spark.createDataFrame([("S1",)], ["station_id"])
    weather = pipelines.ingest_weather(parsed, dim, "2024-06-01")
    rows = weather.collect()
    # 24 hourly slots x 3 variables joined long (null where unfetched)
    assert len(rows) == 24 + 2  # spine rows + 2 extra matched variables
    ta = pipelines.weather_wide(weather, "air_temp", ["S1"])
    vals = {str(r["obs_time"]): r["S1"] for r in ta.collect()}
    assert vals["2024-06-01 00:00:00"] == 12.5  # 08:00 UTC - 8 h


def test_ep1_all_three_source_families_land_together(spark, tmp_path):
    """EP1 with WSC + provincial + USGS (NWIS leg via injected opener): the
    three conformed families union into one upsert and coexist in the
    partitioned store with their source lineage intact."""
    import io
    import json

    from nr_rfc_dischargeobs_spark import pipelines

    wsc = conform_wsc(
        spark.createDataFrame(
            [
                ("S1", "2024-06-01T10:00:00-07:00", None, "", "", "",
                 10.0, "", "", ""),
            ],
            schemas.WSC_SCHEMA,
        )
    ).filter(F.col("value").isNotNull())
    prov = conform_provincial(
        spark.createDataFrame(
            [("P1", "", "", "", "", "2024-06-01 18:00:00", "", 6.0)],
            schemas.PROVINCIAL_SCHEMA,
        ),
        spark.createDataFrame(
            [("P1", "S2")], schemas.PROVINCIAL_STATIONS_SCHEMA
        ),
        "Q",
    )
    payload = {
        "value": {
            "timeSeries": [
                {
                    "sourceInfo": {"siteCode": [{"value": "1200015"}]},
                    "variable": {
                        "variableCode": [{"value": "00060"}],
                        "noDataValue": -999999.0,
                    },
                    "values": [{"value": [{
                        "value": "353.147",
                        "dateTime": "2024-06-01T10:00:00.000-07:00",
                    }]}],
                }
            ]
        }
    }
    usgs = pipelines.usgs_instantaneous_frame(
        spark,
        ["12U015"],
        start_date="2024-05-31",
        end_date="2024-06-02",
        opener=lambda url: io.BytesIO(json.dumps(payload).encode()),
    )

    store = ObservationStore(spark, str(tmp_path / "ep3src"))
    pipelines.ingest_instantaneous(store, [wsc, prov, usgs])

    rows = store.read().filter(F.col("value").isNotNull()).collect()
    by_source = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r)
    assert set(by_source) == {"wsc", "prov", "usgs"}
    u = by_source["usgs"][0]
    assert u.station_id == "1200015" and u.datatype == "Q"
    assert u.value == 10.0  # 353.147 cfs -> 10 m³/s


def test_parse_swob_xml_survives_name_only_element(spark):
    """Review regression: a malformed element carrying @name but no
    @value shifts the positional zip — the row must degrade (''/
    misaligned values) instead of killing the job with ANSI
    INVALID_ARRAY_INDEX."""
    from pyspark.sql import functions as F

    from nr_rfc_dischargeobs_spark.sources import swob

    payloads = spark.createDataFrame(
        [
            (
                "CWXG",
                "<report><elements>"
                "<element name='air_temp'/>"
                "<element name='pcpn_amt_pst1hr' value='0.4'/>"
                "</elements></report>",
            ),
            (
                "CWOK",
                "<report><elements>"
                "<element name='air_temp' value='5.5'/>"
                "</elements></report>",
            ),
        ],
        ["station", "xml"],
    ).withColumn("obs_hour", F.lit("2024-01-01 00:00:00").cast("timestamp"))
    rows = {r["station"]: r for r in swob.parse_swob_xml(payloads).collect()}
    # the well-formed payload is untouched by the degradation
    assert rows["CWOK"]["air_temp"] == "5.5"
    # the malformed one produced A row (no crash); air_temp reads the
    # shifted value (documented misalignment), the out-of-range lookup
    # degrades to ''
    assert rows["CWXG"]["pcpn_amt_pst1hr"] == ""


def test_conformer_dedup_tie_break_is_deterministic(spark):
    """Review regression: the dedup order key (raw timestamp) is
    CONSTANT within a (station, slot) group, so the survivor was
    partition-order-dependent; the value tie-break pins it (smallest
    value, NULLS LAST) under any input order or partitioning."""
    from nr_rfc_dischargeobs_spark.sources.provincial import (
        conform_provincial,
    )

    dim = spark.createDataFrame([("L1", "PROV1")], ["ID", "ID2"])
    rows = [
        ("L1", "2024-06-01 17:00:00", 6.0),
        ("L1", "2024-06-01 17:00:00", 5.0),
        ("L1", "2024-06-01 17:00:00", None),
    ]
    for ordering in (rows, rows[::-1]):
        raw = spark.createDataFrame(
            ordering, "location_id string, datetime_utc string, value double"
        ).repartition(5)
        out = conform_provincial(raw, dim, "Q").collect()
        assert len(out) == 1 and out[0]["value"] == 5.0


def test_nwis_iv_records_keep_first_across_blocks(spark):
    """Review regression: a later duplicate instant (second values
    block, e.g. a provisional/approved re-emit or a noData placeholder)
    must not overwrite the earlier real measurement."""
    from nr_rfc_dischargeobs_spark.sources import nwis

    payload = {
        "value": {
            "timeSeries": [
                {
                    "sourceInfo": {"siteCode": [{"value": "08NL001"}]},
                    "variable": {
                        "variableCode": [{"value": "00060"}],
                        "noDataValue": -999999,
                    },
                    "values": [
                        {"value": [{"dateTime": "2024-01-10T08:00:00-08:00",
                                    "value": "353.1"}]},
                        {"value": [{"dateTime": "2024-01-10T08:00:00-08:00",
                                    "value": "-999999"}]},
                    ],
                }
            ]
        }
    }
    recs = nwis.iv_records(payload)
    assert len(recs) == 1 and recs[0]["discharge_cfs"] == 353.1

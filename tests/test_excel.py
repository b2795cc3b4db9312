"""Excel edge-adapter tests (S7 read, S12 xlsx sheet-replace, S13 legacy
xls).  The library-present paths use ``importorskip`` so they run wherever
openpyxl/xlwt exist and skip cleanly here; the fallback behavior is tested
deterministically by forcing the gate shut."""

from __future__ import annotations

import pytest

from nr_rfc_dischargeobs_spark.sources import excel


@pytest.fixture()
def wide(spark):
    return spark.createDataFrame(
        [("2024-01-01", 1.5, None), ("2024-01-02", None, 2.5)],
        ["day", "S1", "S2"],
    )


def test_export_frame_nan_to_blank(wide):
    pdf = excel.export_frame(wide, ["day"])
    assert list(pdf["day"]) == ["2024-01-01", "2024-01-02"]
    assert pdf.iloc[0]["S2"] == ""  # NaN→blank (reference convention)
    assert pdf.iloc[1]["S1"] == ""


def test_export_frame_matches_spark_order(spark):
    """The driver-side sort gives a multi-partition frame Spark's
    ascending NULLS FIRST order on timestamp and string keys (string
    order is by code point: "S10" < "S2" < "s1"), indexed 0..n-1.
    The fixture's session runs in UTC, as ``get_spark`` sets it: the
    driver sorts the wall-clock times ``toPandas`` renders in that zone."""
    import datetime as dt

    import pandas as pd

    def at(h):
        return None if h is None else dt.datetime(2024, 6, 1, h)

    rows = [
        (at(h), s, v)
        for h, s, v in [
            (3, "S2", 1.0), (None, "S1", 2.0), (1, None, None),
            (1, "S10", 4.0), (3, None, 5.0), (None, None, 6.0),
            (2, "S1", None), (1, "S2", 8.0), (2, "s1", 9.0),
            (3, "S1", 10.0), (None, "S2", 11.0), (2, "S10", 12.0),
        ]
    ]
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    wide = spark.createDataFrame(
        rows, "obs_time timestamp, station string, v double"
    ).repartition(4)
    keys = ["obs_time", "station"]
    got = excel.export_frame(wide, keys)
    want = wide.orderBy(*keys).toPandas().fillna("")
    pd.testing.assert_frame_equal(got, want)
    assert list(got.index) == list(range(len(rows)))


def test_write_sheet_falls_back_to_csv_without_openpyxl(
    wide, tmp_path, monkeypatch
):
    monkeypatch.setattr(excel, "_has", lambda m: False)
    out = excel.write_sheet(wide, str(tmp_path / "m.xlsx"), "2024", ["day"])
    assert out.endswith(".2024.csv")
    text = (tmp_path / "m.2024.csv").read_text()
    assert "2024-01-01" in text


def test_read_excel_raises_clearly_without_openpyxl(
    spark, tmp_path, monkeypatch
):
    monkeypatch.setattr(excel, "_has", lambda m: False)
    with pytest.raises(excel.ExcelSupportError, match="openpyxl"):
        excel.read_excel(spark, str(tmp_path / "x.xlsx"), "ALL_Q")


def test_legacy_xls_falls_back_to_csv_without_xlwt(
    wide, tmp_path, monkeypatch
):
    monkeypatch.setattr(excel, "_has", lambda m: False)
    out = excel.write_legacy_xls(
        wide, str(tmp_path / "obsflows.xls"), "FRASER", ["day"]
    )
    assert out.endswith(".FRASER.csv")


def test_xlsx_roundtrip_and_sheet_replace(spark, tmp_path):
    """S7+S12 with the real library: write two sheets, replace one, read
    both back — replaced content updated, sibling sheet preserved."""
    pytest.importorskip("openpyxl")
    path = str(tmp_path / "model.xlsx")
    df_a = spark.createDataFrame([("x", 1.0)], ["k", "v"])
    df_b = spark.createDataFrame([("y", 2.0)], ["k", "v"])
    df_a2 = spark.createDataFrame([("x", 9.0)], ["k", "v"])
    assert excel.write_sheet(df_a, path, "ALL_Q", ["k"]) == path
    assert excel.write_sheet(df_b, path, "ALL_H", ["k"]) == path
    assert excel.write_sheet(df_a2, path, "ALL_Q", ["k"]) == path  # replace
    q = excel.read_excel(spark, path, "ALL_Q").collect()
    h = excel.read_excel(spark, path, "ALL_H").collect()
    assert [(r["k"], r["v"]) for r in q] == [("x", 9.0)]
    assert [(r["k"], r["v"]) for r in h] == [("y", 2.0)]  # sibling intact


def test_legacy_xls_writes_with_xlwt(spark, tmp_path):
    pytest.importorskip("xlwt")
    path = str(tmp_path / "obsflows.xls")
    df = spark.createDataFrame([("2024-01-01", 1.0)], ["day", "S1"])
    assert excel.write_legacy_xls(df, path, "FRASER", ["day"]) == path

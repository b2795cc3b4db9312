"""register_tables skips only tables that are absent; a table that is
present but unreadable raises instead of silently going unregistered.
register_queries refuses a name it does not know."""

from __future__ import annotations

import os

import pytest

from nr_rfc_dischargeobs_spark.plans import _SCAN_MEMO, catalog


def test_register_tables_skips_absent_tables(spark, tmp_path):
    spark.range(3).write.parquet(str(tmp_path / "region.parquet"))
    try:
        assert catalog.register_tables(spark, str(tmp_path)) == ["region"]
        assert spark.table("region").count() == 3
    finally:
        # leave no view or scan memo entry for this temp dir behind
        spark.catalog.dropTempView("region")
        _SCAN_MEMO[spark].pop((os.path.normpath(tmp_path), "region"), None)


def test_register_tables_raises_on_a_corrupt_table(spark, tmp_path):
    bad = tmp_path / "lineitem.parquet"
    bad.mkdir()
    (bad / "part-00000.parquet").write_text("not a parquet file\n")
    # the footer read fails and names the file; it is not "absent"
    with pytest.raises(Exception, match="part-00000.parquet"):
        catalog.register_tables(spark, str(tmp_path))


def test_register_queries_refuses_unknown_names(spark, sf_dir):
    import __spark_entry__ as entrymod

    real = next(iter(entrymod.queries()))
    spark.catalog.dropTempView(real)
    with pytest.raises(ValueError, match="typo"):
        catalog.register_queries(spark, sf_dir, [real, "typo"])
    # nothing is registered, not even the name that exists
    assert not spark.catalog.tableExists(real)

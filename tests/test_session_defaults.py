"""Box-sized session defaults: core count and driver heap follow the
machine unless the environment pins them."""

from __future__ import annotations

import os

import pytest

from nr_rfc_dischargeobs_spark.session import (
    default_cpus,
    default_driver_memory,
)


def test_default_cpus_env_wins_else_machine(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3
    # anything but a positive integer names the variable: "0" would
    # otherwise reach local[0] and spark.sql.shuffle.partitions
    for bad in ("0", "-2", "x", "2.5"):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", bad)
        with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
            default_cpus()
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert default_cpus() == os.cpu_count()


def test_default_driver_memory_env_wins_else_half_of_ram(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert default_driver_memory() == "3g"
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    got = default_driver_memory()
    assert got.endswith("g")
    heap = int(got[:-1])
    assert 1 <= heap <= 24 and heap <= max(1, ram_gib / 2)

"""Session defaults that must fit the machine they run on."""

from __future__ import annotations

import os

from dibimbing_case_study_etl_spark.session import default_driver_memory


def test_driver_memory_default_fits_physical_memory(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    physical_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    got = default_driver_memory()
    assert got.endswith("g")
    assert 1 <= int(got[:-1]) <= max(1, physical_gb / 2)

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert default_driver_memory() == "3g"

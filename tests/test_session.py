"""The driver-memory default of session.get_spark: half the machine's
physical memory in whole GB, clamped to [1g, 16g]. Pure arithmetic over
a monkeypatched os.sysconf; no Spark session is started."""

from __future__ import annotations

import pytest

from data_engineering_1_spark import session

GB = 1024**3


@pytest.mark.parametrize(
    "phys, want",
    [
        (15 * GB + GB // 2, "7g"),
        (8 * GB, "4g"),
        (GB, "1g"),
        (GB // 2, "1g"),
        (32 * GB, "16g"),
        (256 * GB, "16g"),
    ],
    ids=["15.5g", "8g", "1g", "512m", "32g", "256g"],
)
def test_default_driver_memory(monkeypatch, phys, want):
    page = 4096
    values = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": phys // page}
    monkeypatch.setattr(session.os, "sysconf", values.__getitem__)
    assert session.default_driver_memory() == want

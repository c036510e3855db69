"""Session factory: the driver heap default is derived from the host."""

from __future__ import annotations

import pytest

from cs_5542_lab_6_spark import session

GB = 1024**3


@pytest.mark.parametrize(
    "phys_bytes, expected",
    [
        (int(15.7 * GB), "3g"),  # a quarter, rounded down to whole GB
        (64 * GB, "16g"),
        (2 * GB, "1g"),  # never below 1g
    ],
)
def test_default_driver_mem_is_quarter_of_physical_ram(
    monkeypatch, phys_bytes, expected
):
    page = 4096
    sysconf = {"SC_PHYS_PAGES": phys_bytes // page, "SC_PAGE_SIZE": page}
    monkeypatch.setattr(session.os, "sysconf", sysconf.__getitem__)
    assert session.default_driver_mem() == expected

"""Session defaults that need no running JVM."""

import os

import pytest

from ditto_spark.session import default_driver_memory


@pytest.mark.parametrize(
    "phys_gib, expected",
    [(16, "8192m"), (512, "65536m")],  # half of RAM; capped at 64g
)
def test_default_driver_memory(monkeypatch, phys_gib, expected):
    page = 4096
    vals = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": (phys_gib << 30) // page}
    monkeypatch.setattr(os, "sysconf", lambda name: vals[name])
    assert default_driver_memory() == expected

"""Driver-memory sizing of ``get_spark``: the smaller of 16g and half
the host's physical RAM, unless ``SPARK_DRIVER_MEMORY`` says otherwise."""

import os

import pytest

from syzgydb_spark.session import driver_memory

GIB = 1 << 30


def _host(monkeypatch, ram_bytes):
    page = 4096
    monkeypatch.setattr(
        os,
        "sysconf",
        lambda name: {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": ram_bytes // page}[name],
    )


@pytest.mark.parametrize(
    "ram_gib, expected",
    [(64, "16384m"), (32, "16384m"), (15, "7680m"), (4, "2048m")],
)
def test_default_is_half_of_ram_capped_at_16g(monkeypatch, ram_gib, expected):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    _host(monkeypatch, ram_gib * GIB)
    assert driver_memory() == expected


def test_env_var_wins(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    _host(monkeypatch, 64 * GIB)
    assert driver_memory() == "3g"


def test_no_sysconf_falls_back_to_16g(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)

    def unavailable(name):
        raise ValueError(name)

    monkeypatch.setattr(os, "sysconf", unavailable)
    assert driver_memory() == "16g"

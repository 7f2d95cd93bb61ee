"""session.py derives local parallelism and the driver heap from the host;
SPARK_GRAFT_CPUS and SPARK_DRIVER_MEMORY still override both."""

import os

import pytest

from posextract_spark import session


@pytest.fixture
def host(monkeypatch):
    """A host with ``cpus`` cores and ``ram_gb`` GB of physical memory."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)

    def make(cpus, ram_gb):
        monkeypatch.setattr(os, "cpu_count", lambda: cpus)
        sizes = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": ram_gb * 2**30 // 4096}
        monkeypatch.setattr(os, "sysconf", sizes.__getitem__)

    return make


def test_cpus_default_to_core_count(host):
    host(cpus=6, ram_gb=16)
    assert session.default_cpus() == "6"


def test_driver_memory_defaults_to_half_of_ram(host):
    host(cpus=4, ram_gb=15)
    assert session.default_driver_memory() == f"{15 * 1024 // 2}m"


def test_driver_memory_default_capped_at_48g(host):
    host(cpus=64, ram_gb=256)
    assert session.default_driver_memory() == f"{48 * 1024}m"


def test_environment_overrides_host(host, monkeypatch):
    host(cpus=6, ram_gb=16)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "5g")
    assert session.default_cpus() == "3"
    assert session.default_driver_memory() == "5g"


def test_build_session_uses_the_defaults(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.driver.memory") == session.default_driver_memory()

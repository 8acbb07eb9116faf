"""The engine's session conf defaults (session._engine_conf); starts no JVM."""

from __future__ import annotations

import os

from nyc_taxi_pyspark_spark import session


def test_driver_memory_defaults_to_half_the_host_capped(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    page = os.sysconf("SC_PAGE_SIZE")
    for phys_gb, want in ((8, "4096m"), (15, "7680m"), (32, "16384m"), (256, "16384m")):
        pages = (phys_gb << 30) // page
        monkeypatch.setattr(
            session.os, "sysconf", lambda k, pages=pages: page if k == "SC_PAGE_SIZE" else pages
        )
        assert session._engine_conf(4, None, None)["spark.driver.memory"] == want


def test_driver_memory_env_and_argument_override(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "2g")
    assert session._engine_conf(4, None, None)["spark.driver.memory"] == "2g"
    assert session._engine_conf(4, None, "3g")["spark.driver.memory"] == "3g"

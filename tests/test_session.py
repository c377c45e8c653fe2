"""Session factory defaults."""

from __future__ import annotations

import os
import types

from pyspark.sql import SparkSession

from rosreestr_xml_to_gis_converter_spark import session


def test_get_spark_master_defaults_to_host_cores(monkeypatch):
    """Without ``SPARK_GRAFT_CPUS`` the local master gets one task slot
    per core this process may run on, not a fixed count."""
    seen = {}

    def get_or_create(builder):
        seen.update(builder._options)
        return types.SimpleNamespace(sparkContext=types.SimpleNamespace(setLogLevel=lambda _: None))

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    session.get_spark("defaults")
    assert seen["spark.master"] == f"local[{len(os.sched_getaffinity(0))}]"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    session.get_spark("defaults")
    assert seen["spark.master"] == "local[3]"
    session.get_spark("defaults", cores=2)
    assert seen["spark.master"] == "local[2]"

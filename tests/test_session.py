"""``get_spark``'s defaults. Shuffle-partition count: an explicit
argument always wins; otherwise ``SPARK_GRAFT_CPUS`` when it is a number,
else 32. Driver memory: ``SPARK_DRIVER_MEM``, else 48g capped at half of
physical memory. One JVM serves each process, so the builder is
inspected, not started."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class _Builder:
    """Records the conf ``get_spark`` sets; ``getOrCreate`` returns it."""

    class sparkContext:
        @staticmethod
        def setLogLevel(level):
            pass

    def __init__(self):
        self.conf = {}

    def master(self, master):
        self.conf["master"] = master
        return self

    def appName(self, name):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self


class _Session:
    builder = None


@pytest.fixture
def builder(monkeypatch):
    import pyspark.sql

    b = _Builder()
    monkeypatch.setattr(_Session, "builder", b)
    monkeypatch.setattr(pyspark.sql, "SparkSession", _Session)
    return b


@pytest.mark.parametrize("cpus,arg,want", [
    ("4", None, "4"), ("4", 7, "7"),
    ("auto", None, "32"), ("auto", 7, "7"), ("", 3, "3")])
def test_shuffle_partitions(builder, monkeypatch, cpus, arg, want):
    from swiftsoup_spark.spark.session import get_spark

    monkeypatch.setenv("SPARK_GRAFT_CPUS", cpus)
    assert get_spark(master="local[1]", shuffle_partitions=arg) is builder
    assert builder.conf["spark.sql.shuffle.partitions"] == want


@pytest.mark.parametrize("env,phys_gib,want", [
    (None, 15, "7680m"), (None, 128, "48g"), (None, 96, "48g"),
    ("3g", 15, "3g"), ("64g", 15, "64g")])
def test_driver_memory_default(builder, monkeypatch, env, phys_gib, want):
    """The 48g default is capped at half of physical memory;
    ``SPARK_DRIVER_MEM`` wins either way."""
    from swiftsoup_spark.spark.session import get_spark

    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys_gib * 2**30 // 4096}
    monkeypatch.setattr(os, "sysconf", pages.__getitem__)
    if env is None:
        monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    else:
        monkeypatch.setenv("SPARK_DRIVER_MEM", env)
    get_spark(master="local[1]")
    assert builder.conf["spark.driver.memory"] == want

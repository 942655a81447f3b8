"""get_spark configuration: shuffle-partition sizing, codegen cache."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from linref_spark import session as S


class _Builder:
    """Records the config a get_spark call would build a session with."""

    def __init__(self):
        self.conf = {}

    def appName(self, _name):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


@pytest.mark.parametrize(
    "cpus, explicit, expected",
    [("6", None, "6"), ("6", 3, "3"), ("auto", None, "32"), ("auto", 7, "7")],
)
def test_shuffle_partitions(monkeypatch, cpus, explicit, expected):
    # an explicit shuffle_partitions wins even when SPARK_GRAFT_CPUS is
    # not numeric
    monkeypatch.setattr(S, "SparkSession", SimpleNamespace(builder=_Builder()))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", cpus)
    conf = S.get_spark(master="local[1]", shuffle_partitions=explicit)
    assert conf["spark.sql.shuffle.partitions"] == expected


def test_codegen_cache_sized_to_working_set(monkeypatch):
    # a static conf: it only takes effect if set on the builder
    monkeypatch.setattr(S, "SparkSession", SimpleNamespace(builder=_Builder()))
    conf = S.get_spark(master="local[1]")
    assert conf["spark.sql.codegen.cache.maxEntries"] == str(S.CODEGEN_CACHE_ENTRIES)

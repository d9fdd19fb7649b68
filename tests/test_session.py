"""get_spark's master default, checked on a stub builder (no JVM)."""

from types import SimpleNamespace


class _Builder:
    def __init__(self):
        self.conf = {}

    def appName(self, name):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


def _conf(monkeypatch, env):
    from code_indexer_spark import session

    for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_CPUS"):
        monkeypatch.delenv(k, raising=False)
    for k, v in env.items():
        monkeypatch.setenv(k, v)
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 2, 5})
    monkeypatch.setattr(session, "SparkSession",
                        SimpleNamespace(builder=_Builder()))
    return session.get_spark("t")


def test_default_master_is_the_usable_cpus(monkeypatch):
    conf = _conf(monkeypatch, {})
    assert conf["master"] == "local[3]"
    assert conf["spark.sql.files.minPartitionNum"] == "12"


def test_env_overrides_the_default_master(monkeypatch):
    assert _conf(monkeypatch, {"SPARK_GRAFT_CPUS": "2"})["master"] == "local[2]"
    assert _conf(monkeypatch, {"SPARK_GRAFT_MASTER": "local[1]",
                               "SPARK_GRAFT_CPUS": "2"})["master"] == "local[1]"


def test_local_star_sizes_splits_from_the_affinity_mask(monkeypatch):
    conf = _conf(monkeypatch, {"SPARK_GRAFT_MASTER": "local[*]"})
    assert conf["master"] == "local[*]"
    assert conf["spark.sql.files.minPartitionNum"] == "12"

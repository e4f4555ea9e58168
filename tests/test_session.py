"""Session config is resolved when get_spark is called, not at import."""

import os

from datamunging_spark import session


def test_env_read_at_call_time(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_MASTER", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "5g")
    master, conf = session._session_conf()
    assert master == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"
    assert conf["spark.driver.memory"] == "5g"


def test_unset_env_defaults_to_host_cores(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_MASTER", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    master, conf = session._session_conf()
    assert master == f"local[{os.cpu_count()}]"
    assert conf["spark.sql.shuffle.partitions"] == str(os.cpu_count())
    assert conf["spark.driver.memory"] == "8g"


def test_call_conf_overrides_env(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    _, conf = session._session_conf(**{"spark.sql.shuffle.partitions": 8})
    assert conf["spark.sql.shuffle.partitions"] == "8"

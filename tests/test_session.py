"""Session defaults sized to the machine (no Spark needed)."""

from __future__ import annotations

from pandabase_spark import session


def _machine(monkeypatch, *, gib: int, cpus: "int | None") -> None:
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * 2**30 // 4096}
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
    monkeypatch.setattr(session.os, "cpu_count", lambda: cpus)


def test_machine_defaults_fit_the_machine(monkeypatch):
    _machine(monkeypatch, gib=15, cpus=4)
    assert session.machine_defaults() == ("4", "7680m")
    _machine(monkeypatch, gib=256, cpus=32)
    assert session.machine_defaults() == ("32", "20480m")
    _machine(monkeypatch, gib=2, cpus=None)
    assert session.machine_defaults() == ("1", "1024m")


class _Builder:
    """Records what get_spark configures instead of starting a JVM."""

    def __init__(self):
        self.conf: dict = {}

    def appName(self, _name):
        return self

    def master(self, m):
        self.conf["master"] = m
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        return self.conf


def test_get_spark_derives_unset_variables_and_honours_set_ones(monkeypatch):
    class FakeSession:
        builder = _Builder()

    monkeypatch.setattr(session, "SparkSession", FakeSession)
    for var in ("SPARK_GRAFT_CPUS", "PANDABASE_DRIVER_MEM",
                "PANDABASE_SPARK_MASTER", "PANDABASE_SHUFFLE_PARTITIONS"):
        monkeypatch.delenv(var, raising=False)
    _machine(monkeypatch, gib=15, cpus=4)
    conf = session.get_spark()
    assert conf["master"] == "local[4]"
    assert conf["spark.driver.memory"] == "7680m"
    assert conf["spark.sql.shuffle.partitions"] == "4"

    FakeSession.builder = _Builder()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("PANDABASE_DRIVER_MEM", "6g")
    conf = session.get_spark()
    assert conf["master"] == "local[3]"
    assert conf["spark.driver.memory"] == "6g"

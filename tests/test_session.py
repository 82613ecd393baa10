"""Driver heap sizing: derived from the host's memory, and refused
before the JVM launches when the host cannot hold it. Spark-free: no
test here starts a session."""

from __future__ import annotations

import pytest

from debezium_spark import session


class _NoJvm:
    @property
    def builder(self):
        raise AssertionError("a session was being built")


@pytest.fixture()
def host_15g(monkeypatch):
    monkeypatch.setattr(session, "host_memory_mb", lambda: 15_000)
    monkeypatch.setattr(session, "SparkSession", _NoJvm())
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)


def test_default_heap_is_half_the_host(host_15g):
    assert session.driver_memory() == "7500m"


def test_heap_that_fits_is_kept(host_15g, monkeypatch):
    assert session.driver_memory("4g") == "4g"
    monkeypatch.setenv("SPARK_DRIVER_MEM", "12000m")
    assert session.driver_memory() == "12000m"


@pytest.mark.parametrize(
    "spec, mb",
    [("512m", 512), ("4g", 4096), ("4G", 4096), ("2gb", 2048), ("2048", 2048),
     ("1t", 2**20), ("1024k", 1)],
)
def test_memory_strings(spec, mb):
    assert session._memory_mb(spec) == mb


def test_oversized_env_heap_fails_before_the_jvm_launches(host_15g, monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "48g")
    with pytest.raises(ValueError, match="exceeds this host's 15000 MiB"):
        session.get_spark("oversized")


def test_oversized_conf_heap_fails_before_the_jvm_launches(host_15g):
    with pytest.raises(ValueError, match="'16g' exceeds"):
        session.get_spark(extra_conf={"spark.driver.memory": "16g"})


def test_host_memory_is_read():
    assert session.host_memory_mb() > 0


class _RecordingBuilder:
    def __init__(self):
        self.conf: dict[str, str] = {}

    def master(self, _):
        return self

    def appName(self, _):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        class _Session:
            class sparkContext:
                @staticmethod
                def setLogLevel(_):
                    pass

        return _Session()


def test_builder_turns_off_call_site_capture(host_15g, monkeypatch):
    """PySpark reads the flag once per process, at the first Column it
    builds, so the session builder is where it must be set."""
    builder = _RecordingBuilder()
    monkeypatch.setattr(
        session, "SparkSession", type("_S", (), {"builder": builder})
    )
    session.get_spark("flag", cores=1)
    assert builder.conf["spark.python.sql.dataFrameDebugging.enabled"] == "false"

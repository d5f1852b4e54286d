"""The session factory's JIT default: a one-shot batch session runs its
driver JVM at HotSpot's C1 tier only, and the long-lived test session
keeps the default tiered compilation (C2 included)."""

import types

import pytest

from kiwi_spark import session


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder``: records every ``.config``
    and starts no JVM."""

    def __init__(self):
        self.conf = {}

    def appName(self, _name):
        return self

    def master(self, master):
        self.conf["spark.master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


@pytest.fixture
def recorded(monkeypatch):
    builder = _RecordingBuilder()
    monkeypatch.setattr(
        session, "SparkSession", types.SimpleNamespace(builder=builder)
    )
    return builder


def test_get_spark_defaults_driver_to_c1(recorded):
    # perfbench-style extra options land in the other key and keep it
    conf = session.get_spark(
        "t", master="local[1]",
        extra_conf={"spark.driver.extraJavaOptions": "-XX:-UsePerfData"},
    )
    assert session.BATCH_DRIVER_JAVA_OPTIONS == "-XX:TieredStopAtLevel=1"
    assert conf["spark.driver.defaultJavaOptions"] == "-XX:TieredStopAtLevel=1"
    assert conf["spark.driver.extraJavaOptions"] == "-XX:-UsePerfData"


def test_extra_conf_overrides_the_c1_default(recorded):
    conf = session.get_spark(
        "t", master="local[1]",
        extra_conf={"spark.driver.defaultJavaOptions": ""},
    )
    assert conf["spark.driver.defaultJavaOptions"] == ""


def test_test_session_keeps_c2(spark):
    runtime = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    args = list(runtime.getInputArguments())
    assert args, "the probe reads the driver JVM's flags"
    assert not [a for a in args if "TieredStopAtLevel=1" in a]


def test_engine_builder_leaves_the_master_to_spark_submit(recorded):
    """The spark-submit scripts' session carries the engine's settings
    but no master, so spark-submit's --master wins."""
    conf = session.engine_builder("t").getOrCreate()
    assert "spark.master" not in conf
    assert conf["spark.sql.adaptive.enabled"] == "true"
    assert conf["spark.sql.autoBroadcastJoinThreshold"] == "128m"
    assert conf["spark.driver.defaultJavaOptions"] == "-XX:TieredStopAtLevel=1"

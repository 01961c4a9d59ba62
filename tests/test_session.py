"""get_spark's JVM options: the direct-memory cap is appended to the user's
own ``spark.driver.extraJavaOptions``, and a JVM that is already running
without it gets one warning line instead of a silent no-op."""

from __future__ import annotations

import logging

import pyspark.sql
from pyspark import SparkContext

import ferret_spark.session as S
from tests.conftest import spark  # noqa: F401


class _RecordingBuilder:
    def __init__(self):
        self.conf = {}

    def master(self, _m):
        return self

    def appName(self, _n):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self


def _recorded_conf(monkeypatch):
    rec = _RecordingBuilder()

    class _Session:
        builder = rec

    monkeypatch.setattr(pyspark.sql, "SparkSession", _Session)
    S._builder_spark(master="local[1]")
    return rec.conf


def test_direct_memory_cap_appends_to_user_java_options(tmp_path, monkeypatch):
    (tmp_path / "spark-defaults.conf").write_text(
        "# site defaults\n"
        "spark.driver.memory 1g\n"
        "spark.driver.extraJavaOptions  -Dsite.a=1 -XX:+UseG1GC\n"
    )
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    monkeypatch.setenv("FERRET_DIRECT_MEM", "3g")
    monkeypatch.setattr(SparkContext, "_jvm", None)
    conf = _recorded_conf(monkeypatch)
    assert conf["spark.driver.extraJavaOptions"] == (
        "-Dsite.a=1 -XX:+UseG1GC -XX:MaxDirectMemorySize=3g"
    )
    assert conf["spark.python.worker.reuse"] == "true"


def test_direct_memory_cap_alone_without_user_options(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))  # no defaults file
    monkeypatch.setenv("FERRET_DIRECT_MEM", "3g")
    monkeypatch.setattr(SparkContext, "_jvm", None)
    conf = _recorded_conf(monkeypatch)
    assert conf["spark.driver.extraJavaOptions"] == "-XX:MaxDirectMemorySize=3g"


def test_running_jvm_without_cap_warns_once(spark, monkeypatch, caplog):  # noqa: F811
    monkeypatch.setenv("FERRET_DIRECT_MEM", "777m")  # not what the JVM got
    with caplog.at_level(logging.WARNING, logger="ferret_spark.session"):
        conf = _recorded_conf(monkeypatch)
    assert "spark.driver.extraJavaOptions" not in conf
    msgs = [r.getMessage() for r in caplog.records if r.name == "ferret_spark.session"]
    assert len(msgs) == 1 and "-XX:MaxDirectMemorySize=777m" in msgs[0]


def test_running_jvm_with_cap_is_silent(spark, monkeypatch, caplog):  # noqa: F811
    args = list(
        SparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
        .getInputArguments()
    )
    flag = next(a for a in args if a.startswith("-XX:MaxDirectMemorySize="))
    monkeypatch.setenv("FERRET_DIRECT_MEM", flag.split("=", 1)[1])
    with caplog.at_level(logging.WARNING, logger="ferret_spark.session"):
        _recorded_conf(monkeypatch)
    assert not [r for r in caplog.records if r.name == "ferret_spark.session"]

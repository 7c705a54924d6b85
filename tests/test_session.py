"""The driver JVM's options: the engine's JIT policy reaches the running
JVM, and a caller's own options join the engine's instead of replacing
them."""

from __future__ import annotations

from types import SimpleNamespace

from cs186_query_optimization_project_spark import session


def test_join_java_options_puts_caller_last():
    """HotSpot honours a flag's last occurrence, so the caller's options
    follow the engine's: a caller's flag overrides the engine's flag of
    the same name and the engine's other flags stay."""
    engine = session.DRIVER_JAVA_OPTIONS
    for caller in (None, "", "  "):
        assert session._join_java_options(engine, caller) == engine
    opts = session._join_java_options(
        engine, " -XX:Tier4InvocationThreshold=7 ").split()
    assert opts[:-1] == engine.split()
    assert opts[-1] == "-XX:Tier4InvocationThreshold=7"


def test_get_spark_joins_caller_java_options(monkeypatch):
    """The caller's ``spark.driver.extraJavaOptions`` reach the builder
    after the engine's, checked on a recording builder (no JVM)."""
    conf = {}

    class Builder:
        def appName(self, _):
            return self

        master = appName

        def config(self, key, value):
            conf[key] = value
            return self

        def getOrCreate(self):
            return SimpleNamespace(
                sparkContext=SimpleNamespace(setLogLevel=lambda _: None))

    monkeypatch.setattr(session, "SparkSession",
                        SimpleNamespace(builder=Builder()))
    extra = {"spark.driver.extraJavaOptions": "-Dx=1", "spark.foo": "bar"}
    session.get_spark(extra_conf=extra)
    assert (conf["spark.driver.extraJavaOptions"]
            == session.DRIVER_JAVA_OPTIONS + " -Dx=1")
    assert conf["spark.foo"] == "bar"
    assert extra == {"spark.driver.extraJavaOptions": "-Dx=1",
                     "spark.foo": "bar"}


def test_running_driver_has_jit_policy(spark):
    args = list(spark._jvm.java.lang.management.ManagementFactory
                .getRuntimeMXBean().getInputArguments())
    for flag, default in session._TIER4_DEFAULTS.items():
        assert f"-XX:{flag}={default * session.C2_THRESHOLD_SCALE}" in args

"""The session factory's static JVM settings reach the driver JVM."""

from __future__ import annotations

from databricks_observe_spark.session import JVM_OPTIONS


def test_driver_jvm_carries_the_jit_policy(spark):
    """Every ``JVM_OPTIONS`` flag is on the driver JVM's command line once,
    and HotSpot reports the value it names, so the JVM applied it."""
    jvm = spark.sparkContext._jvm
    management = jvm.java.lang.management.ManagementFactory
    args = list(management.getRuntimeMXBean().getInputArguments())
    hotspot = management.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
    for option in JVM_OPTIONS:
        assert args.count(option) == 1, (option, args)
        name, value = option.removeprefix("-XX:").split("=")
        assert hotspot.getVMOption(name).getValue() == value, option

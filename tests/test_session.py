"""Session set-up: the driver JVM runs with the raised C2 thresholds."""

from __future__ import annotations


def test_driver_jvm_raises_c2_thresholds(spark):
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    got = {
        flag: int(bean.getVMOption(flag).getValue())
        for flag in (
            "Tier4InvocationThreshold",
            "Tier4MinInvocationThreshold",
            "Tier4CompileThreshold",
            "Tier4BackEdgeThreshold",
        )
    }
    # 10x the JVM defaults; the loop (back-edge) threshold keeps its default
    assert got == {
        "Tier4InvocationThreshold": 50000,
        "Tier4MinInvocationThreshold": 6000,
        "Tier4CompileThreshold": 150000,
        "Tier4BackEdgeThreshold": 40000,
    }

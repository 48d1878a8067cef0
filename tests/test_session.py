"""Session set-up: the driver JVM runs with the raised C2 thresholds, and
a malformed core count falls back to the CPU count with a warning."""

from __future__ import annotations

import logging
import os

import pytest

from bb_ocr_spark.session import default_cores


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


@pytest.mark.parametrize("raw", ["four", "2.5", "-3"])
def test_malformed_graft_cpus_falls_back(monkeypatch, caplog, raw):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    with caplog.at_level(logging.WARNING, logger="bb_ocr_spark.session"):
        assert default_cores() == (os.cpu_count() or 8)
    warned = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warned) == 1 and "SPARK_GRAFT_CPUS" in warned[0].getMessage()


@pytest.mark.parametrize("raw, want", [("3", 3), (" 5 ", 5), ("0", None), ("", None)])
def test_graft_cpus_is_read(monkeypatch, caplog, raw, want):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    with caplog.at_level(logging.WARNING, logger="bb_ocr_spark.session"):
        assert default_cores() == (want or os.cpu_count() or 8)
    assert not caplog.records

"""plan_gates: the one size probe behind every scale-adaptive plan choice."""

from __future__ import annotations

import logging
from pathlib import Path

from py4j.protocol import Py4JError

from bb_ocr_spark import plan_gates

REPO = Path(__file__).resolve().parents[1]


class _Unsizable:
    """Stand-in frame whose size probe fails the way a py4j call does."""

    def __init__(self, spark):
        self.sparkSession = spark
        self.columns = ["id"]
        self._jdf = self

    def queryExecution(self):
        raise Py4JError("no plan")


def _warnings(caplog):
    return [r.getMessage() for r in caplog.records if r.levelno == logging.WARNING]


def test_is_small_brackets_the_estimate(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(1000).write.parquet(path)
    df = spark.read.parquet(path)
    est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert 0 < est < plan_gates.UNKNOWN_SIZE
    assert plan_gates.is_small(df, est + 1, "t")
    assert not plan_gates.is_small(df, est, "t")
    assert not plan_gates.is_small(df, est - 1, "t")


def test_failed_probe_warns_and_takes_large_branch(spark, caplog):
    stand_in = _Unsizable(spark)
    derived = spark.range(3)
    with caplog.at_level(logging.WARNING, logger="bb_ocr_spark.plan_gates"):
        assert not plan_gates.is_small(stand_in, plan_gates.UNKNOWN_SIZE, "probe_test")
        [msg] = _warnings(caplog)
        assert "probe_test" in msg and "no plan" in msg

        caplog.clear()
        assert plan_gates.fanout(stand_in) is stand_in
        [msg] = _warnings(caplog)
        assert "fanout" in msg

        caplog.clear()
        assert plan_gates.broadcast_if_small(stand_in, derived) is derived
        [msg] = _warnings(caplog)
        assert "broadcast" in msg


def test_one_size_probe_and_no_gate_env_vars():
    sources = [
        *(REPO / "bb_ocr_spark").rglob("*.py"),
        *(REPO / "jobs").rglob("*.py"),
        *(REPO / "tools").rglob("*.py"),
        REPO / "__spark_entry__.py",
        *REPO.glob("bench*.py"),
    ]
    text = {p: p.read_text() for p in sources}
    probes = [
        p for p, t in text.items() for _ in range(t.count("optimizedPlan().stats()"))
    ]
    assert probes == [REPO / "bb_ocr_spark" / "plan_gates.py"]
    for var in (
        "FANOUT_BYTES_PER_CORE",
        "BCAST_CORPUS_BYTES",
        "MINHASH_PIN_BYTES",
        "CLUSTER_AQE_OFF_EDGES",
    ):
        assert not [p for p, t in text.items() if "BB_OCR_" + var in t], var

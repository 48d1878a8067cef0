"""Lineage assertions shared by the extraction-table tests."""

from __future__ import annotations

import glob
import json
import os
from contextlib import contextmanager

from pyspark.sql import functions as F

from bb_ocr_spark.plans import extract_job
from bb_ocr_spark.plans.extract_job import read_metrics


def assert_lineage_matches_manifest(spark, out, run_id):
    """The run's metrics rows sum and xor to what its manifest adds."""
    snaps = {}
    for path in glob.glob(os.path.join(out, "snapshots", "snap-*.json")):
        with open(path) as f:
            snap = json.load(f)
        snaps[snap["snapshot_id"]] = snap
    snap = next(s for s in snaps.values() if s["run_ids"][-1] == run_id)
    parent = snaps.get(snap["parent_id"])
    added = snap["n_docs_total"] - (parent["n_docs_total"] if parent else 0)
    m = read_metrics(spark, out).filter(F.col("run_id") == run_id)
    n, ck = m.agg(F.sum("n_docs"), F.expr("bit_xor(checksum)")).first()
    assert (n or 0, ck or 0) == (added, snap["run_checksum"])


@contextmanager
def jobs_outside_results_write(spark, monkeypatch):
    """Yields a set that, when the block exits, holds the ids of the jobs
    (outside any job group) the block started other than those inside
    extract_job.per_task_durations: the commit's results write."""
    tracker = spark.sparkContext.statusTracker()
    ids = lambda: set(tracker.getJobIdsForGroup(None))  # noqa: E731
    real, inside = extract_job.per_task_durations, set()

    @contextmanager
    def tracked(spark_, group):
        start = ids()
        with real(spark_, group) as out:
            yield out
        inside.update(ids() - start)

    monkeypatch.setattr(extract_job, "per_task_durations", tracked)
    before, outside = ids(), set()
    yield outside
    outside.update(ids() - before - inside)

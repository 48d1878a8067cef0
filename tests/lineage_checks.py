"""Lineage assertions shared by the extraction-table tests."""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import functions as F

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

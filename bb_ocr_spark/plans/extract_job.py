"""The production extraction job: resume → extract → commit → lineage.

North-rule semantics (BASELINE.json): every run commits per-partition
lineage and metrics (doc ranges, checksums, span counts, wall time) to a
metrics table, and resumes from the last snapshot via anti-join on
completed doc_ids. Reference analogs: batch summary sink
(batch_processor_enhanced.py:233-270), audit append (google_sheets.py:
111-203), has_output resume check (i2j_ui/app/main.py:851-858).

Layout (plain parquet standing in for Iceberg — jars not in this image;
`sources.tables.have_iceberg` gates a real catalog):

    <output_dir>/results/run_id=<run>/   doc_id, spans, checksum, part_id
    <output_dir>/metrics/run_id=<run>/   per-partition lineage rows
    <output_dir>/snapshots/snap-<n>.json manifests of committed runs

Commit protocol: results write, metrics write, then the snapshot manifest
(plans/snapshots.py), the ONLY commit point. Resume, read_results and
read_metrics see exactly the runs the current manifest lists, so a run that
crashed before its manifest landed is invisible and the next run
re-extracts its docs. The anti-join is a plain equi-join Catalyst executes
as sort-merge (or broadcast when the completed set is small).

Lineage is ONE aggregation over the committed run, re-read with its known
schema (no inference job): its per-partition rows are the metrics rows,
their sum the run's n_docs, their xor the manifest's run checksum. Per-task
wall time comes from a SparkListener scoped to the commit job's job group
(plans/task_metrics.py), merged onto the rows by partition id; the
run-level wall clock is kept alongside.
"""

from __future__ import annotations

import datetime
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import OUT_SCHEMA_DDL, checksum_spans_col, extract_inline
from .snapshots import RESULTS_DIR, commit_snapshot, current_snapshot, run_dir
from .task_metrics import per_task_durations

METRICS = "metrics"
# a results run dir's files (batch and streaming runs); no inference job
RESULTS_SCHEMA = f"{OUT_SCHEMA_DDL}, checksum bigint, part_id int"
METRICS_SCHEMA = (
    "part_id int, doc_id_min string, doc_id_max string, n_docs bigint, n_spans bigint, "
    "checksum bigint, wall_time_ms int, committed_at timestamp, task_wall_ms bigint"
)


def _committed_runs(output_dir: str) -> list[str]:
    snap = current_snapshot(output_dir)
    return snap["run_ids"] if snap else []


def _read_runs(spark: SparkSession, output_dir: str, run_ids: list[str]) -> DataFrame:
    """Result rows of the given runs, with their run_id partition column."""
    return (
        spark.read.schema(f"{RESULTS_SCHEMA}, run_id string")
        .option("basePath", os.path.join(output_dir, RESULTS_DIR))
        .parquet(*(run_dir(output_dir, r) for r in run_ids))
    )


def completed_doc_ids(spark: SparkSession, output_dir: str) -> DataFrame | None:
    """doc_ids of the runs the current snapshot lists (None before the
    first commit). A run that crashed before its manifest was published is
    not listed, so its docs are re-extracted, never silently skipped."""
    run_ids = _committed_runs(output_dir)
    return _read_runs(spark, output_dir, run_ids).select("doc_id") if run_ids else None


def run_extract_job(
    spark: SparkSession,
    documents_interleaved: DataFrame,
    output_dir: str,
    run_id: str | None = None,
) -> dict:
    """Extract all not-yet-completed docs; commit results + lineage.

    Returns run stats {run_id, n_docs, wall_ms, resumed_skipped,
    snapshot_id}.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    t0 = time.monotonic()

    parent = current_snapshot(output_dir)
    done = completed_doc_ids(spark, output_dir)
    remaining = documents_interleaved
    if done is not None:
        # resume: left-anti on completed ids (J6 / north_rule)
        remaining = documents_interleaved.join(done, "doc_id", "left_anti")

    extracted = (
        extract_inline(remaining)
        .withColumn("checksum", checksum_spans_col(F.col("spans")))
        .withColumn("part_id", F.spark_partition_id())
    )

    run_results = run_dir(output_dir, run_id)
    with per_task_durations(spark, f"extract-commit-{run_id}") as task_ms:
        extracted.write.mode("errorifexists").parquet(run_results)
    wall_ms = int((time.monotonic() - t0) * 1000)

    # lineage from the COMMITTED files, column-pruned to light columns
    parts = (
        spark.read.schema(RESULTS_SCHEMA)
        .parquet(run_results)
        .groupBy("part_id")
        .agg(
            F.min("doc_id").alias("doc_id_min"),
            F.max("doc_id").alias("doc_id_max"),
            F.count("*").alias("n_docs"),
            F.sum(F.size("spans")).alias("n_spans"),
            # order-insensitive partition checksum (xor: no ANSI overflow)
            F.expr("bit_xor(checksum)").alias("checksum"),
        )
        .collect()
    )
    # task_ms is keyed by write-task index == part_id (narrow plan)
    now = datetime.datetime.now(datetime.timezone.utc)
    rows = [(*p, wall_ms, now, task_ms.get(p.part_id)) for p in parts]
    # no run_id column: the partition directory supplies it on read-back
    run_metrics = os.path.join(output_dir, METRICS, f"run_id={run_id}")
    metrics = spark.createDataFrame(rows, METRICS_SCHEMA)
    metrics.write.mode("errorifexists").parquet(run_metrics)

    n_docs, run_ck = 0, 0
    for p in parts:
        n_docs, run_ck = n_docs + p.n_docs, run_ck ^ p.checksum
    snap = commit_snapshot(output_dir, run_id, n_docs, run_ck)
    return {
        "run_id": run_id,
        "n_docs": n_docs,
        "wall_ms": int((time.monotonic() - t0) * 1000),
        "resumed_skipped": parent["n_docs_total"] if parent else 0,
        "snapshot_id": snap["snapshot_id"],
    }


def read_results(spark: SparkSession, output_dir: str) -> DataFrame:
    """Result rows of the runs the current snapshot lists."""
    return _read_runs(spark, output_dir, _committed_runs(output_dir))


def read_metrics(spark: SparkSession, output_dir: str) -> DataFrame:
    """Lineage rows of the runs the current snapshot lists (streaming runs
    write none)."""
    return (
        spark.read.schema(f"{METRICS_SCHEMA}, run_id string")
        .parquet(os.path.join(output_dir, METRICS))
        .filter(F.col("run_id").isin(_committed_runs(output_dir)))
    )

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

Commit protocol (commit_run, for batch runs and streaming epochs alike):
results write, metrics write, then the snapshot manifest (plans/snapshots.py),
the ONLY commit point. Resume, read_results and read_metrics see exactly the
runs the current manifest lists, so a run that crashed before its manifest
landed is invisible and the next run re-extracts its docs. The anti-join is
a plain equi-join Catalyst executes as sort-merge (or broadcast when the
completed set is small).

Lineage is ONE aggregation over the committed run, re-read with its known
schema (no inference job) and written as the metrics rows without leaving
Spark; observe() on that write sums and xors the rows into the run's n_docs
and the manifest's run checksum. Per-task wall time is read from Spark's
status store for the write's result stage, scoped by a job tag
(per_task_durations), and looked up by partition id in a literal map: NULL
for a partition the status store has no successful task for.
"""

from __future__ import annotations

import datetime
import logging
import os
import time
import uuid
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import OUT_SCHEMA_DDL, checksum_spans_col, extract_inline
from .snapshots import RESULTS_DIR, commit_snapshot, current_snapshot, run_dir, write_run

METRICS = "metrics"
# a results run dir's files (batch and streaming runs); no inference job
RESULTS_SCHEMA = f"{OUT_SCHEMA_DDL}, checksum bigint, part_id int"
METRICS_SCHEMA = (
    "part_id int, doc_id_min string, doc_id_max string, n_docs bigint, n_spans bigint, "
    "checksum bigint, wall_time_ms int, committed_at timestamp, task_wall_ms bigint"
)


def _drain_listener_bus(sc) -> None:
    """Wait up to 10 s for queued listener events, which feed the status
    store; raises on a timeout."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)


def _result_stage_tasks(sc, tag: str) -> list[tuple[int, int]]:
    """(partition index, task ms) of each successful task of the result stage
    (highest stage id) of the highest job id tagged `tag`, stage attempt by
    attempt in task-id order. Reads Spark's status store; starts no job."""
    jvm = sc._jsc.sc()
    tracker, store = jvm.statusTracker(), jvm.statusStore()
    jobs = tracker.getJobIdsForTag(tag)
    if not jobs:
        return []
    stage = max(tracker.getJobInfo(max(jobs)).get().stageIds())
    out = []
    for attempt in range(tracker.getStageInfo(stage).get().currentAttemptId() + 1):
        tasks = store.taskList(stage, attempt, 2**31 - 1)
        for t in (tasks.apply(i) for i in range(tasks.size())):
            if t.status() == "SUCCESS":
                out.append((t.index(), int(t.duration().get())))
    return out


@contextmanager
def per_task_durations(spark: SparkSession, group: str):
    """Context manager: run ONE action inside; its result stage's
    {partition index -> task ms} fills the yielded dict AFTER the block exits
    (empty during it). With several actions inside, the last job's result
    stage is kept. Only successful tasks count, the first per index across
    stage attempts. The block's jobs carry a job tag unique to this entry, so
    a replayed run (same group) never reads an earlier attempt's tasks; the
    caller's job group, description and other tags are left as they were."""
    sc = spark.sparkContext
    tag = f"{group}-{uuid.uuid4().hex[:8]}"
    out: dict[int, int] = {}
    sc.addJobTag(tag)
    try:
        yield out
    finally:
        sc.removeJobTag(tag)
    try:
        _drain_listener_bus(sc)
    except (Py4JJavaError, TimeoutError) as e:
        # read what the store holds: a subset of the partitions, the rest NULL
        msg = "listener bus not drained for job group %s: %s"
        logging.getLogger(__name__).warning(msg, group, e)
    for index, ms in _result_stage_tasks(sc, tag):
        out.setdefault(index, ms)


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


def commit_run(
    spark: SparkSession, extracted: DataFrame, output_dir: str, run_id: str, *, keep_complete: bool
) -> tuple[dict, int]:
    """Commit `extracted` (doc_id, spans, checksum) as run `run_id`: results under
    write_run's replay rule, lineage from the committed files, then the manifest.
    Returns (manifest, n_docs); a run_id the manifest already lists writes nothing
    and returns it with 0 docs, so a committed run directory is never cleared."""
    t0 = time.monotonic()
    cur = current_snapshot(output_dir)
    if cur is not None and run_id in cur["run_ids"]:
        return cur, 0

    run_results = run_dir(output_dir, run_id)
    with per_task_durations(spark, f"extract-commit-{run_id}") as task_ms:
        part = extracted.withColumn("part_id", F.spark_partition_id())
        write_run(part, run_results, keep_complete=keep_complete)
    wall_ms = int((time.monotonic() - t0) * 1000)

    # lineage from the COMMITTED files; its rows never leave Spark
    totals = Observation()
    now = datetime.datetime.now(datetime.timezone.utc)
    run = [F.lit(wall_ms).cast("int").alias("wall_time_ms"), F.lit(now).alias("committed_at")]
    row = lambda ms=None: F.struct(*run, F.lit(ms).cast("long").alias("task_wall_ms"))  # noqa: E731
    # run values reach generated code only in map/struct literals, held by reference (an
    # inlined literal compiles a class per run); task_ms is keyed by write-task index == part_id
    task_map = F.create_map(*(c for p, ms in task_ms.items() for c in (F.lit(p), row(ms))))
    vals = F.coalesce(F.element_at(task_map, F.col("part_id")), row())  # NULL task time if missed
    metrics = (
        spark.read.schema(RESULTS_SCHEMA)
        .parquet(run_results)
        .groupBy("part_id")
        .agg(
            F.min("doc_id").alias("doc_id_min"),
            F.max("doc_id").alias("doc_id_max"),
            F.count("*").alias("n_docs"),
            F.sum(F.size("spans")).alias("n_spans"),
            # order-insensitive partition checksum (xor: no ANSI overflow)
            F.bit_xor("checksum").alias("checksum"),
        )
        .select("*", *(vals[c].alias(c) for c in ("wall_time_ms", "committed_at", "task_wall_ms")))
        # result stage (no Exchange above): retried tasks' totals count once
        .observe(totals, F.sum("n_docs").alias("n_docs"), F.bit_xor("checksum").alias("ck"))
    )
    # no run_id column: the partition directory supplies it on read-back;
    # rewritten on replay, its times are this attempt's
    run_metrics = os.path.join(output_dir, METRICS, f"run_id={run_id}")
    write_run(metrics, run_metrics, keep_complete=False)

    n_docs, run_ck = (totals.get[k] or 0 for k in ("n_docs", "ck"))  # NULL if empty
    return commit_snapshot(output_dir, run_id, n_docs, run_ck), n_docs


def run_extract_job(
    spark: SparkSession,
    documents_interleaved: DataFrame,
    output_dir: str,
    run_id: str | None = None,
) -> dict:
    """Extract all not-yet-completed docs; commit results + lineage.

    Returns run stats {run_id, n_docs, wall_ms, resumed_skipped,
    snapshot_id}. A committed run_id writes nothing and reports 0 docs; an
    uncommitted one (crash before its manifest) is rewritten.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    t0 = time.monotonic()

    parent = current_snapshot(output_dir)
    done = completed_doc_ids(spark, output_dir)
    remaining = documents_interleaved
    if done is not None:
        # resume: left-anti on completed ids (J6 / north_rule)
        remaining = documents_interleaved.join(done, "doc_id", "left_anti")

    extracted = extract_inline(remaining).withColumn("checksum", checksum_spans_col(F.col("spans")))
    # the resumed rows depend on the committed runs: an uncommitted dir is rewritten
    snap, n_docs = commit_run(spark, extracted, output_dir, run_id, keep_complete=False)
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
    """Lineage rows of the runs the current snapshot lists, batch and
    streaming alike: every run commits through commit_run."""
    return (
        spark.read.schema(f"{METRICS_SCHEMA}, run_id string")
        .parquet(os.path.join(output_dir, METRICS))
        .filter(F.col("run_id").isin(_committed_runs(output_dir)))
    )

"""Resume + lineage semantics: a second run after partial completion
processes exactly the complement; final results equal a one-shot run;
metrics cover every result partition; a run whose snapshot commit never
happened is invisible to resume and readers."""

from __future__ import annotations

import json
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from bb_ocr_spark import datagen
from bb_ocr_spark.plans import extract_job
from bb_ocr_spark.plans.extract_job import (
    read_metrics,
    read_results,
    run_extract_job,
)
from bb_ocr_spark.plans.snapshots import current_snapshot
from lineage_checks import assert_lineage_matches_manifest, jobs_outside_results_write

N = 80


def test_resume_and_lineage(spark, tmp_path):
    out = str(tmp_path / "job")
    full = datagen.generate_df(spark, N, partitions=4)
    half = full.filter(f"doc_id < '{datagen.doc_id_of(N // 2)}'")

    s1 = run_extract_job(spark, half, out, run_id="r1")
    assert s1["n_docs"] == N // 2 and s1["resumed_skipped"] == 0

    s2 = run_extract_job(spark, full, out, run_id="r2")
    assert s2["n_docs"] == N - N // 2, "resume must process exactly the complement"
    assert s2["resumed_skipped"] == N // 2

    res = read_results(spark, out)
    assert res.count() == N
    assert res.select("doc_id").distinct().count() == N, "no doc processed twice"

    # one-shot run elsewhere must produce identical (doc_id, checksum) pairs
    out2 = str(tmp_path / "oneshot")
    run_extract_job(spark, full, out2, run_id="r1")
    a = {(r["doc_id"], r["checksum"]) for r in res.select("doc_id", "checksum").collect()}
    b = {
        (r["doc_id"], r["checksum"])
        for r in read_results(spark, out2).select("doc_id", "checksum").collect()
    }
    assert a == b

    # lineage: metrics rows exist per (run, partition); totals reconcile
    m = read_metrics(spark, out)
    agg = m.groupBy().sum("n_docs").collect()[0][0]
    assert agg == N
    runs = {r["run_id"] for r in m.select("run_id").distinct().collect()}
    assert runs == {"r1", "r2"}
    # xor of partition checksums == xor of per-doc checksums
    total_ck = res.selectExpr("bit_xor(checksum)").collect()[0][0]
    m_ck = m.selectExpr("bit_xor(checksum)").collect()[0][0]
    assert total_ck == m_ck
    # per-task wall time from the status store: present on every lineage
    # row in local mode, positive, and no larger than the run-level clock
    tk = m.select("task_wall_ms", "wall_time_ms").collect()
    assert all(r["task_wall_ms"] is not None for r in tk)
    assert all(0 < r["task_wall_ms"] <= r["wall_time_ms"] for r in tk)
    for run_id in ("r1", "r2"):
        assert_lineage_matches_manifest(spark, out, run_id)
    # the files carry METRICS_SCHEMA's types in its column order
    written = spark.read.parquet(str(tmp_path / "job" / "metrics" / "run_id=r2")).schema
    assert written.simpleString() == StructType.fromDDL(extract_job.METRICS_SCHEMA).simpleString()


def test_crash_before_snapshot_commit(spark, tmp_path, monkeypatch):
    # r1 writes its results and metrics, then dies before its manifest is
    # published; r2 over the full corpus must re-extract r1's docs, and
    # results, lineage and the snapshot chain must all agree on N docs
    out = str(tmp_path / "job")
    full = datagen.generate_df(spark, N, partitions=4)
    half = full.filter(f"doc_id < '{datagen.doc_id_of(N // 2)}'")
    commit = extract_job.commit_snapshot
    crashed = []

    def crash_once(*args, **kwargs):
        if not crashed:
            crashed.append(args)
            raise RuntimeError("crash before the snapshot commit")
        return commit(*args, **kwargs)

    monkeypatch.setattr(extract_job, "commit_snapshot", crash_once)
    with pytest.raises(RuntimeError):
        run_extract_job(spark, half, out, run_id="r1")
    s2 = run_extract_job(spark, full, out, run_id="r2")
    assert (s2["n_docs"], s2["resumed_skipped"]) == (N, 0)

    res = read_results(spark, out)
    assert tuple(res.agg(F.count("*"), F.countDistinct("doc_id")).first()) == (N, N)
    assert current_snapshot(out)["n_docs_total"] == N
    res_ck = res.agg(F.expr("bit_xor(checksum)")).first()[0]
    m = read_metrics(spark, out)
    assert tuple(m.agg(F.sum("n_docs"), F.expr("bit_xor(checksum)")).first()) == (N, res_ck)
    assert {r["run_id"] for r in m.select("run_id").distinct().collect()} == {"r2"}
    assert_lineage_matches_manifest(spark, out, "r2")


def test_rerun_same_run_id_after_crash(spark, tmp_path, monkeypatch):
    # a retry with the SAME explicit run_id after a crash before the
    # manifest (extract_submit.py --run-id) rewrites the uncommitted run
    # directories instead of failing on them, and commits every doc
    out = str(tmp_path / "job")
    full = datagen.generate_df(spark, N, partitions=4)
    commit = extract_job.commit_snapshot
    crashed = []

    def crash_once(*args, **kwargs):
        if not crashed:
            crashed.append(args)
            raise RuntimeError("crash before the snapshot commit")
        return commit(*args, **kwargs)

    monkeypatch.setattr(extract_job, "commit_snapshot", crash_once)
    with pytest.raises(RuntimeError):
        run_extract_job(spark, full, out, run_id="r1")
    s = run_extract_job(spark, full, out, run_id="r1")
    assert (s["n_docs"], s["snapshot_id"]) == (N, 1)
    assert current_snapshot(out)["run_ids"] == ["r1"]
    res = read_results(spark, out)
    assert tuple(res.agg(F.count("*"), F.countDistinct("doc_id")).first()) == (N, N)
    assert_lineage_matches_manifest(spark, out, "r1")


def test_rerun_committed_run_id_writes_nothing(spark, tmp_path):
    # re-running a committed run_id leaves its result files (names and
    # mtimes) and the manifest chain as they were
    out = str(tmp_path / "job")
    full = datagen.generate_df(spark, N, partitions=4)
    run_extract_job(spark, full.filter(f"doc_id < '{datagen.doc_id_of(N // 2)}'"), out, "r1")

    def state():
        results = (tmp_path / "job" / "results" / "run_id=r1").iterdir()
        snaps = (tmp_path / "job" / "snapshots").iterdir()
        return {p.name: p.stat().st_mtime_ns for p in results}, {p.name: p.read_text() for p in snaps}

    before = state()
    s = run_extract_job(spark, full, out, run_id="r1")
    assert (s["n_docs"], s["snapshot_id"]) == (0, 1)
    assert state() == before
    assert_lineage_matches_manifest(spark, out, "r1")


def test_resumed_run_job_count(spark, tmp_path, monkeypatch):
    # besides its results write, a resumed run starts only the lineage
    # aggregation's map stage and the metrics write, which runs its result
    # stage and observes the run totals: the resume listing and the
    # post-write re-read pass a schema, so neither infers one, and the
    # task-time read starts none
    out = str(tmp_path / "job")
    full = datagen.generate_df(spark, N, partitions=4)
    run_extract_job(spark, full.filter(f"doc_id < '{datagen.doc_id_of(N // 2)}'"), out)
    with jobs_outside_results_write(spark, monkeypatch) as jobs:
        run_extract_job(spark, full, out)
    assert len(jobs) <= 2, sorted(jobs)


def test_rerun_compiles_no_new_code(spark, tmp_path):
    # a run's own values (wall time, commit time, task times) reach the
    # generated code by reference, not inlined: a second identical resumed
    # run hits the codegen cache instead of compiling a new class
    import shutil

    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    seed = str(tmp_path / "seed")
    full = datagen.generate_df(spark, N, partitions=4)
    run_extract_job(spark, full.filter(f"doc_id < '{datagen.doc_id_of(N // 2)}'"), seed)
    compiled = []
    for name in ("first", "second"):
        out = str(tmp_path / name)
        shutil.copytree(seed, out)
        before = codegen.METRIC_COMPILATION_TIME().getCount()
        run_extract_job(spark, full, out)
        compiled.append(codegen.METRIC_COMPILATION_TIME().getCount() - before)
    assert compiled[1] == 0, compiled


def test_resumed_run_ships_no_driver_rows(spark, tmp_path, monkeypatch):
    # the lineage rows and run totals stay in Spark: a resumed run commits
    # even when no local rows can be turned into a DataFrame
    from pyspark.sql import SparkSession

    out = str(tmp_path / "job")
    full = datagen.generate_df(spark, N, partitions=4)
    run_extract_job(spark, full.filter(f"doc_id < '{datagen.doc_id_of(N // 2)}'"), out, "r1")

    def no_local_rows(*args, **kwargs):
        raise AssertionError("driver-side rows shipped into Spark")

    monkeypatch.setattr(SparkSession, "createDataFrame", no_local_rows)
    s = run_extract_job(spark, full, out, run_id="r2")
    assert (s["n_docs"], s["snapshot_id"]) == (N - N // 2, 2)
    assert current_snapshot(out)["n_docs_total"] == N
    assert_lineage_matches_manifest(spark, out, "r2")


def test_run_without_task_times_commits(spark, tmp_path, monkeypatch):
    # the status store holds no task of the write: the run still commits,
    # every lineage row carries a NULL task_wall_ms and the observed totals
    # match the lineage rows
    monkeypatch.setattr(extract_job, "_result_stage_tasks", lambda sc, tag: [])
    out = str(tmp_path / "job")
    s = run_extract_job(spark, datagen.generate_df(spark, N, partitions=4), out, run_id="r1")
    assert s["n_docs"] == N and current_snapshot(out)["run_ids"] == ["r1"]
    tk = read_metrics(spark, out).select("task_wall_ms", "wall_time_ms").collect()
    assert tk and all(r["task_wall_ms"] is None for r in tk)
    assert all(r["wall_time_ms"] > 0 for r in tk)
    assert_lineage_matches_manifest(spark, out, "r1")


def test_per_task_durations_keeps_caller_job_group(spark):
    # a commit inside a streaming epoch runs in its query's job group: the
    # group and description must survive it, and the block's tag must not
    sc = spark.sparkContext
    sc.setJobGroup("outer-group", "outer description")
    try:
        with extract_job.per_task_durations(spark, "props-probe") as task_ms:
            spark.range(100, numPartitions=2).write.format("noop").mode("overwrite").save()
        assert set(task_ms) == {0, 1}
        assert sc.getLocalProperty("spark.jobGroup.id") == "outer-group"
        assert sc.getLocalProperty("spark.job.description") == "outer description"
        assert not sc.getJobTags()
    finally:
        sc._jsc.clearJobGroup()


def test_per_task_durations_warns_when_bus_not_drained(spark, monkeypatch, caplog):
    def timed_out(sc):
        raise TimeoutError("listener bus still busy")

    monkeypatch.setattr(extract_job, "_drain_listener_bus", timed_out)
    with caplog.at_level("WARNING"):
        with extract_job.per_task_durations(spark, "slow-bus") as task_ms:
            spark.range(100, numPartitions=2).write.format("noop").mode("overwrite").save()
    assert "not drained for job group slow-bus" in caplog.text
    # whatever arrived is still read: a subset of the write's partitions
    assert set(task_ms) <= {0, 1}


def test_no_listener_and_no_job_group_in_sources():
    # per-task times come from Spark's status store under a job tag: no
    # py4j listener, no callback server, no job group that would replace
    # the caller's
    repo = Path(__file__).resolve().parents[1]
    sources = [p for d in ("bb_ocr_spark", "jobs", "tools") for p in (repo / d).rglob("*.py")]
    for needle in ("addSparkListener", "ensure_callback_server_started", "setJobGroup"):
        assert not [p for p in sources if needle in p.read_text()], needle


def test_noop_rerun(spark, tmp_path):
    out = str(tmp_path / "job")
    df = datagen.generate_df(spark, 20, partitions=2)
    run_extract_job(spark, df, out, run_id="a")
    s = run_extract_job(spark, df, out, run_id="b")
    assert s["n_docs"] == 0, "fully-completed input must be a no-op"
    assert read_results(spark, out).count() == 20
    # the no-op run still commits: its manifest adds 0 docs and its
    # lineage holds no rows
    snap = current_snapshot(out)
    assert snap["run_ids"] == ["a", "b"] and snap["n_docs_total"] == 20
    assert snap["run_checksum"] == 0
    assert read_metrics(spark, out).filter("run_id = 'b'").count() == 0
    assert_lineage_matches_manifest(spark, out, "a")
    assert_lineage_matches_manifest(spark, out, "b")


def test_snapshot_time_travel(spark, tmp_path):
    from bb_ocr_spark.plans.snapshots import current_snapshot, read_results_as_of

    out = str(tmp_path / "job")
    df = datagen.generate_df(spark, 60, partitions=4)
    s1 = run_extract_job(spark, df.limit(40), out, run_id="a")
    s2 = run_extract_job(spark, df, out, run_id="b")
    assert (s1["snapshot_id"], s2["snapshot_id"]) == (1, 2)
    cur = current_snapshot(out)
    assert cur["snapshot_id"] == 2 and cur["run_ids"] == ["a", "b"]
    assert cur["n_docs_total"] == 60
    # time travel: snapshot 1 sees only run a's docs
    assert read_results_as_of(spark, out, 1).count() == s1["n_docs"]
    assert read_results_as_of(spark, out, 2).count() == 60
    assert_lineage_matches_manifest(spark, out, "a")
    assert_lineage_matches_manifest(spark, out, "b")
    # a crashed (uncommitted) run directory is invisible to snapshot reads
    os.makedirs(os.path.join(out, "results", "run_id=crashed"))
    assert read_results_as_of(spark, out, 2).count() == 60


def test_jsonl_ingestion(spark, tmp_path):
    from bb_ocr_spark.sources.tables import load_documents_jsonl

    p = tmp_path / "corpus.jsonl"
    lines = [
        json.dumps({"doc_id": "a", "text": "hello world", "lang": "en", "source": "web"}),
        json.dumps({"doc_id": "b", "text": "zweite zeile", "lang": "de", "source": "web"}),
        '{"doc_id": "c", "text": BROKEN',  # corrupt line -> NULL columns, no crash
    ]
    p.write_text("\n".join(lines))
    df = load_documents_jsonl(spark, str(p))
    rows = {r["doc_id"]: r for r in df.collect()}
    assert rows["a"]["text"] == "hello world" and rows["b"]["lang"] == "de"
    assert df.count() == 3 and df.filter("text IS NULL").count() == 1

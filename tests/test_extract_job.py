"""Resume + lineage semantics: a second run after partial completion
processes exactly the complement; final results equal a one-shot run;
metrics cover every result partition; a run whose snapshot commit never
happened is invisible to resume and readers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bb_ocr_spark import datagen
from bb_ocr_spark.plans import extract_job
from bb_ocr_spark.plans.extract_job import (
    read_metrics,
    read_results,
    run_extract_job,
)
from bb_ocr_spark.plans.snapshots import current_snapshot

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
    # per-task wall time from the SparkListener: present on every lineage
    # row in local mode, positive, and no larger than the run-level clock
    tk = m.select("task_wall_ms", "wall_time_ms").collect()
    assert all(r["task_wall_ms"] is not None for r in tk)
    assert all(0 < r["task_wall_ms"] <= r["wall_time_ms"] for r in tk)


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


def test_resumed_run_job_count(spark, tmp_path):
    # outside its commit job group, a resumed run starts only the lineage
    # aggregation (map and result stage) and the metrics write: the resume
    # listing and the post-write re-read pass a schema, so neither infers one
    sc = spark.sparkContext
    out = str(tmp_path / "job")
    full = datagen.generate_df(spark, N, partitions=4)
    run_extract_job(spark, full.filter(f"doc_id < '{datagen.doc_id_of(N // 2)}'"), out)
    before = set(sc.statusTracker().getJobIdsForGroup(None))
    run_extract_job(spark, full, out)
    assert len(set(sc.statusTracker().getJobIdsForGroup(None)) - before) <= 3


def test_per_task_durations_clears_job_properties(spark):
    from bb_ocr_spark.plans.task_metrics import per_task_durations

    sc = spark.sparkContext
    with per_task_durations(spark, "props-probe") as task_ms:
        spark.range(100, numPartitions=2).write.format("noop").mode("overwrite").save()
    assert set(task_ms) == {0, 1}
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    assert sc.getLocalProperty("spark.job.description") is None


def test_per_task_durations_warns_without_listener(spark, monkeypatch, caplog):
    import pyspark.java_gateway

    def unavailable(gateway):
        raise RuntimeError("no callback server")

    monkeypatch.setattr(pyspark.java_gateway, "ensure_callback_server_started", unavailable)
    from bb_ocr_spark.plans.task_metrics import per_task_durations

    with caplog.at_level("WARNING"), per_task_durations(spark, "no-listener") as task_ms:
        spark.range(10).count()
    assert task_ms == {}
    assert "listener not attached" in caplog.text


def test_noop_rerun(spark, tmp_path):
    out = str(tmp_path / "job")
    df = datagen.generate_df(spark, 20, partitions=2)
    run_extract_job(spark, df, out, run_id="a")
    s = run_extract_job(spark, df, out, run_id="b")
    assert s["n_docs"] == 0, "fully-completed input must be a no-op"
    assert read_results(spark, out).count() == 20


def test_snapshot_time_travel(spark, tmp_path):
    import os

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
    # a crashed (uncommitted) run directory is invisible to snapshot reads
    os.makedirs(os.path.join(out, "results", "run_id=crashed"))
    assert read_results_as_of(spark, out, 2).count() == 60


def test_jsonl_ingestion(spark, tmp_path):
    import json

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

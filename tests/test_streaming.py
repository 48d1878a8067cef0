"""Streaming semantics: windowed/session aggregations driven through a real
streaming query (memory sink, processAllAvailable) must equal the same
aggregation computed in batch over the same input."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from bb_ocr_spark.streaming.events import (
    deduped_stream,
    read_events_stream,
    run_to_memory,
    session_windows,
    windowed_counts,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    # streaming file source wants a directory of just this table
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(
        os.path.join(sf_dir, "events.parquet"), os.path.join(str(d), "events.parquet")
    )
    return str(d)


def test_windowed_counts_match_batch(spark, events_dir):
    stream = windowed_counts(read_events_stream(spark, events_dir))
    run_to_memory(stream, "win_out", output_mode="append")
    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in spark.sql("SELECT * FROM win_out").collect()
    }
    batch = (
        spark.read.parquet(events_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("tv"))
        .select(F.col("w.start").alias("ws"), "event_type", "n", "tv")
    )
    want = {
        (r["ws"], r["event_type"]): (r["n"], r["tv"]) for r in batch.collect()
    }
    # append mode emits only watermark-closed windows; every emitted window
    # must match batch exactly, and most windows must have been emitted
    assert got, "stream produced no output"
    for k, v in got.items():
        assert want[k] == v, k
    assert len(got) >= len(want) - 4  # trailing windows may still be open


def test_dedup_stream(spark, events_dir):
    stream = deduped_stream(read_events_stream(spark, events_dir))
    run_to_memory(stream, "dedup_out", output_mode="append")
    out = spark.sql("SELECT user_id, event_type, count(*) c FROM dedup_out GROUP BY 1,2")
    assert out.filter("c > 1").count() == 0, "stateful dedup must emit each key once"
    assert out.count() > 0


def test_session_windows(spark, events_dir):
    stream = session_windows(read_events_stream(spark, events_dir), gap="30 minutes")
    run_to_memory(stream, "sess_out", output_mode="append")
    rows = spark.sql("SELECT * FROM sess_out").collect()
    assert rows, "no sessions emitted"
    # sessions are disjoint per user and each covers >= 1 event
    by_user: dict[int, list[tuple]] = {}
    for r in rows:
        assert r["n_events"] >= 1
        by_user.setdefault(r["user_id"], []).append(
            (r["session_start"], r["session_end"])
        )
    for spans in by_user.values():
        spans.sort()
        for (s1, e1), (s2, _e2) in zip(spans, spans[1:]):
            assert e1 <= s2, "overlapping sessions for one user"


def test_streaming_extraction_equals_batch(spark, tmp_path):
    # the extraction hot path run under Structured Streaming (file source,
    # availableNow) must produce byte-identical span checksums to batch
    from pyspark.sql import functions as F

    from bb_ocr_spark import datagen
    from bb_ocr_spark.operators.extract import checksum_spans_col, extract_inline
    from bb_ocr_spark.streaming.extract_stream import (
        extract_stream,
        read_documents_stream,
    )

    path = str(tmp_path / "docs")
    datagen.generate_df(spark, 200, partitions=4).write.parquet(path)

    out = extract_stream(read_documents_stream(spark, path))
    q = (
        out.writeStream.format("memory")
        .queryName("ext_stream")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: r["checksum"]
        for r in spark.sql("SELECT doc_id, checksum FROM ext_stream").collect()
    }
    batch = {
        r["doc_id"]: r["checksum"]
        for r in extract_inline(spark.read.parquet(path))
        .withColumn("checksum", checksum_spans_col(F.col("spans")))
        .collect()
    }
    assert got == batch and len(got) == 200


def test_streaming_commit_snapshot_chain(spark, tmp_path):
    # continuous extraction with the batch commit contract: each
    # availableNow pass over NEW files appends a run + snapshot; the file
    # source checkpoint is the streaming analog of anti-join resume
    from pyspark.sql import functions as F

    from bb_ocr_spark import datagen
    from bb_ocr_spark.operators.extract import checksum_spans_col, extract_inline
    from bb_ocr_spark.plans.snapshots import current_snapshot, read_results_as_of
    from bb_ocr_spark.streaming.extract_stream import run_extract_stream

    docs_dir = str(tmp_path / "docs")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    full = datagen.generate_df(spark, 120, partitions=4)
    full.filter(F.col("doc_id") < datagen.doc_id_of(70)).write.parquet(docs_dir)

    run_extract_stream(spark, docs_dir, out, ckpt)
    s1 = current_snapshot(out)
    assert s1 is not None and s1["n_docs_total"] == 70

    # new files land; a second pass over the SAME checkpoint processes
    # only them and chains a second snapshot
    full.filter(F.col("doc_id") >= datagen.doc_id_of(70)).write.mode(
        "append"
    ).parquet(docs_dir)
    run_extract_stream(spark, docs_dir, out, ckpt)
    s2 = current_snapshot(out)
    assert s2["snapshot_id"] == s1["snapshot_id"] + 1
    assert s2["n_docs_total"] == 120

    # snapshot reads reconcile with a one-shot batch run, checksum-exact
    got = read_results_as_of(spark, out, s2["snapshot_id"])
    batch = extract_inline(full).withColumn(
        "checksum", checksum_spans_col(F.col("spans"))
    )
    a = {r["doc_id"]: r["checksum"] for r in got.select("doc_id", "checksum").collect()}
    b = {r["doc_id"]: r["checksum"] for r in batch.select("doc_id", "checksum").collect()}
    assert a == b and len(a) == 120


def test_commit_snapshot_concurrent_cas(tmp_path):
    # two committers racing on the same table must not mint the same
    # snapshot id or lose a commit (Iceberg's CAS requirement); the loser
    # retries against the new parent
    import threading

    from bb_ocr_spark.plans.snapshots import commit_snapshot, current_snapshot

    out = str(tmp_path / "tbl")
    n_threads, per_thread = 8, 5
    errs = []

    def worker(t):
        try:
            for i in range(per_thread):
                commit_snapshot(out, f"run-{t}-{i}", n_docs=1, checksum=t * 100 + i)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    ts = [threading.Thread(target=worker, args=(t,)) for t in range(n_threads)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    cur = current_snapshot(out)
    want = {f"run-{t}-{i}" for t in range(n_threads) for i in range(per_thread)}
    assert set(cur["run_ids"]) == want, "a concurrent commit was lost"
    assert cur["snapshot_id"] == n_threads * per_thread
    assert cur["n_docs_total"] == n_threads * per_thread


def test_commit_snapshot_no_link_fallback_concurrent(tmp_path, monkeypatch):
    # same CAS contract on a filesystem without hard links (object-store
    # mounts raising EPERM): the O_EXCL reservation + os.replace publish
    # must not mint duplicate ids or lose a commit either
    import errno
    import threading

    from bb_ocr_spark.plans import snapshots

    monkeypatch.setattr(
        snapshots.os,
        "link",
        lambda *a, **k: (_ for _ in ()).throw(
            OSError(errno.EPERM, "Operation not permitted")
        ),
    )
    out = str(tmp_path / "tbl")
    n_threads, per_thread = 8, 5
    errs = []

    def worker(t):
        try:
            for i in range(per_thread):
                snapshots.commit_snapshot(
                    out, f"run-{t}-{i}", n_docs=1, checksum=t * 100 + i
                )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    ts = [threading.Thread(target=worker, args=(t,)) for t in range(n_threads)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    cur = snapshots.current_snapshot(out)
    want = {f"run-{t}-{i}" for t in range(n_threads) for i in range(per_thread)}
    assert set(cur["run_ids"]) == want, "a concurrent commit was lost"
    assert cur["snapshot_id"] == n_threads * per_thread


def test_commit_snapshot_no_link_torn_publish_recovers(tmp_path, monkeypatch):
    # a reserver that died between its O_EXCL reserve and its os.replace
    # leaves an EMPTY max snap file: readers must fall back to the last
    # complete manifest, and the next committer must mint PAST the dead
    # id (never adopt it — an id belongs to its reserver forever, which
    # is what closes the takeover lost-commit window) instead of
    # wedging the chain
    import errno
    import os

    from bb_ocr_spark.plans import snapshots

    monkeypatch.setattr(
        snapshots.os,
        "link",
        lambda *a, **k: (_ for _ in ()).throw(
            OSError(errno.ENOTSUP, "Operation not supported")
        ),
    )
    out = str(tmp_path / "tbl")
    m1 = snapshots.commit_snapshot(out, "run-1", 1, 11)
    assert m1["snapshot_id"] == 1
    # simulate the dead reservation: empty snap-2 (crash between steps)
    dead = os.path.join(out, "snapshots", "snap-000002.json")
    open(dead, "w").close()
    # reader view: torn max manifest is invisible, snap-1 is current
    assert snapshots.current_snapshot(out)["snapshot_id"] == 1
    # committer view: skips the dead id, chain continues at 3
    m2 = snapshots.commit_snapshot(out, "run-2", 1, 22)
    assert m2["snapshot_id"] == 3
    cur = snapshots.current_snapshot(out)
    assert cur["snapshot_id"] == 3
    assert cur["run_ids"] == ["run-1", "run-2"]
    # the dead file stays a permanent, harmless gap
    assert os.path.getsize(dead) == 0
    m3 = snapshots.commit_snapshot(out, "run-3", 1, 33)
    assert m3["snapshot_id"] == 4


def test_commit_snapshot_superseded_fork_retries(tmp_path, monkeypatch):
    # the fork race: committer W reserves id N but stalls before its
    # os.replace; committer C (unable to parse the empty reservation)
    # mints N+1 chaining AROUND it. When W's publish finally lands, the
    # canonical chain (max parseable manifest) lacks W's run — W must
    # detect it and retry onto the canonical chain, not report success.
    import errno
    import os

    from bb_ocr_spark.plans import snapshots

    monkeypatch.setattr(
        snapshots.os,
        "link",
        lambda *a, **k: (_ for _ in ()).throw(
            OSError(errno.ENOTSUP, "Operation not supported")
        ),
    )
    out = str(tmp_path / "tbl")
    snapshots.commit_snapshot(out, "run-1", 1, 11)

    # W stalls between reserve and replace: emulate by making W's FIRST
    # publish attempt reserve the id, then "lose" (return False) while a
    # concurrent C commits past it — then let W proceed normally.
    real_publish = snapshots._publish_without_link
    state = {"intercepted": False}

    def stalled_publish(tmp, final):
        if not state["intercepted"]:
            state["intercepted"] = True
            fd = os.open(final, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.close(fd)  # W's reservation of id 2 is now on disk
            # C commits while W is stalled; C mints past W's reservation
            monkeypatch.setattr(
                snapshots, "_publish_without_link", real_publish
            )
            c = snapshots.commit_snapshot(out, "run-C", 1, 99)
            assert c["snapshot_id"] == 3 and "run-C" in c["run_ids"]
            monkeypatch.setattr(
                snapshots, "_publish_without_link", stalled_publish
            )
            # W now wakes and lands its bytes on its reserved id 2 — a
            # superseded side branch (max parseable is C's 3)
            os.replace(tmp, final)
            return True
        return real_publish(tmp, final)

    monkeypatch.setattr(snapshots, "_publish_without_link", stalled_publish)
    w = snapshots.commit_snapshot(out, "run-W", 1, 77)
    # W's returned manifest is on the canonical chain and includes C
    assert w["snapshot_id"] == 4
    assert set(w["run_ids"]) == {"run-1", "run-C", "run-W"}
    cur = snapshots.current_snapshot(out)
    assert cur["snapshot_id"] == 4
    assert set(cur["run_ids"]) == {"run-1", "run-C", "run-W"}


def test_commit_snapshot_replay_idempotent(tmp_path):
    from bb_ocr_spark.plans.snapshots import commit_snapshot, current_snapshot

    out = str(tmp_path / "tbl")
    m1 = commit_snapshot(out, "run-a", 10, 111)
    m2 = commit_snapshot(out, "run-a", 10, 111)  # replay: no new snapshot
    assert m2["snapshot_id"] == m1["snapshot_id"]
    assert current_snapshot(out)["run_ids"] == ["run-a"]


def test_commit_batch_replay_converges(spark, tmp_path):
    # foreachBatch is at-least-once: a replayed epoch after (a) a crash
    # between parquet write and snapshot commit, or (b) a crash after both,
    # must converge — no errorifexists failure, no duplicate manifest entry
    import os

    from pyspark.sql import functions as F

    from bb_ocr_spark import datagen
    from bb_ocr_spark.plans.extract_job import commit_run
    from bb_ocr_spark.plans.snapshots import current_snapshot
    from bb_ocr_spark.streaming.extract_stream import extract_stream
    from lineage_checks import assert_lineage_matches_manifest

    out = str(tmp_path / "out")
    batch = extract_stream(datagen.generate_df(spark, 30, partitions=2))

    # (a) partial run dir, no _SUCCESS, no snapshot — simulated crash
    run_dir = os.path.join(out, "results", "run_id=stream-000000")
    os.makedirs(run_dir)
    with open(os.path.join(run_dir, "part-garbage.parquet"), "w") as f:
        f.write("not parquet")
    commit_run(spark, batch, out, "stream-000000", keep_complete=True)
    s = current_snapshot(out)
    assert s["run_ids"] == ["stream-000000"] and s["n_docs_total"] == 30

    # (b) full replay after a successful commit: converges, nothing doubles
    commit_run(spark, batch, out, "stream-000000", keep_complete=True)
    s2 = current_snapshot(out)
    assert s2["snapshot_id"] == s["snapshot_id"]
    assert s2["run_ids"] == ["stream-000000"]

    # (c) complete results dir, partial lineage dir, no manifest: the
    # results are kept, the lineage is rewritten and matches the manifest
    out = str(tmp_path / "out_c")
    results = os.path.join(out, "results", "run_id=stream-000000")
    batch.withColumn("part_id", F.spark_partition_id()).write.parquet(results)
    kept = sorted(os.listdir(results))
    metrics_dir = os.path.join(out, "metrics", "run_id=stream-000000")
    os.makedirs(metrics_dir)
    with open(os.path.join(metrics_dir, "part-garbage.parquet"), "w") as f:
        f.write("not parquet")
    commit_run(spark, batch, out, "stream-000000", keep_complete=True)
    s3 = current_snapshot(out)
    assert s3["run_ids"] == ["stream-000000"] and s3["n_docs_total"] == 30
    assert sorted(os.listdir(results)) == kept
    assert_lineage_matches_manifest(spark, out, "stream-000000")


def test_streaming_runs_commit_lineage(spark, tmp_path):
    # every streaming epoch commits through the batch job's commit_run, so
    # each stream-* run has lineage rows that reconcile with its manifest
    from pyspark.sql import functions as F

    from bb_ocr_spark import datagen
    from bb_ocr_spark.plans.snapshots import current_snapshot
    from bb_ocr_spark.streaming.extract_stream import run_extract_stream
    from lineage_checks import assert_lineage_matches_manifest

    docs_dir = str(tmp_path / "docs")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    full = datagen.generate_df(spark, 60, partitions=4)
    cut = F.col("doc_id") < datagen.doc_id_of(25)
    full.filter(cut).write.parquet(docs_dir)
    run_extract_stream(spark, docs_dir, out, ckpt)
    full.filter(~cut).write.mode("append").parquet(docs_dir)
    run_extract_stream(spark, docs_dir, out, ckpt)

    snap = current_snapshot(out)
    assert snap["n_docs_total"] == 60 and len(snap["run_ids"]) == 2
    for run_id in snap["run_ids"]:
        assert run_id.startswith("stream-")
        assert_lineage_matches_manifest(spark, out, run_id)


def test_stream_commit_job_count(spark, tmp_path, monkeypatch):
    # besides its results write, a streaming epoch's commit starts only
    # the lineage aggregation's map stage and the metrics write: the
    # committed files are re-read with their known schema and the totals
    # are observed on the metrics write, not collected in a job of their own
    from lineage_checks import jobs_outside_results_write

    from bb_ocr_spark import datagen
    from bb_ocr_spark.plans.extract_job import commit_run
    from bb_ocr_spark.plans.snapshots import current_snapshot
    from bb_ocr_spark.streaming.extract_stream import extract_stream

    out = str(tmp_path / "out")
    batch = extract_stream(datagen.generate_df(spark, 40, partitions=4))
    with jobs_outside_results_write(spark, monkeypatch) as jobs:
        commit_run(spark, batch, out, "stream-000000", keep_complete=True)
    assert len(jobs) <= 2, sorted(jobs)
    assert current_snapshot(out)["n_docs_total"] == 40


def _jobs_started(spark) -> int:
    # every job counts, whatever its group (streaming sets its own)
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def test_stream_epoch_job_count(spark, tmp_path):
    # a one-epoch pass starts the results write, the lineage aggregation's
    # map stage and the metrics write; no job tests the epoch for rows
    from bb_ocr_spark import datagen
    from bb_ocr_spark.plans.snapshots import current_snapshot
    from bb_ocr_spark.streaming.extract_stream import run_extract_stream

    docs_dir = str(tmp_path / "docs")
    out = str(tmp_path / "out")
    datagen.generate_df(spark, 40, partitions=4).write.parquet(docs_dir)
    before = _jobs_started(spark)
    run_extract_stream(spark, docs_dir, out, str(tmp_path / "ckpt"))
    assert _jobs_started(spark) - before <= 3
    assert current_snapshot(out)["n_docs_total"] == 40


def test_stream_empty_epoch_commits_zero_docs(spark, tmp_path):
    # an epoch over a zero-row file commits a 0-doc run whose lineage
    # reconciles with its manifest, like a batch no-op rerun
    from bb_ocr_spark import datagen
    from bb_ocr_spark.operators.extract import SPANS_SCHEMA_DDL
    from bb_ocr_spark.plans.snapshots import current_snapshot
    from bb_ocr_spark.streaming.extract_stream import run_extract_stream
    from lineage_checks import assert_lineage_matches_manifest

    docs_dir = str(tmp_path / "docs")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    datagen.generate_df(spark, 20, partitions=2).write.parquet(docs_dir)
    run_extract_stream(spark, docs_dir, out, ckpt)
    s1 = current_snapshot(out)
    spark.createDataFrame([], SPANS_SCHEMA_DDL).coalesce(1).write.mode("append").parquet(
        docs_dir
    )
    run_extract_stream(spark, docs_dir, out, ckpt)
    s2 = current_snapshot(out)
    assert s2["snapshot_id"] == s1["snapshot_id"] + 1
    assert s2["n_docs_total"] == s1["n_docs_total"] == 20
    assert_lineage_matches_manifest(spark, out, s2["run_ids"][-1])


def test_curate_stream_empty_epoch_commits_zero_docs(spark, tmp_path):
    # an epoch over a zero-row delivery commits a 0-doc curation run
    import os

    from bb_ocr_spark.plans.snapshots import current_snapshot
    from bb_ocr_spark.streaming.curate_stream import (
        RAW_DOCS_SCHEMA_DDL,
        run_curate_stream,
    )

    inbox = str(tmp_path / "inbox")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    os.makedirs(inbox)
    spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j} the of and to" for j in range(12))) for i in range(6)],
        RAW_DOCS_SCHEMA_DDL,
    ).coalesce(1).write.parquet(os.path.join(inbox, "d1"))
    run_curate_stream(spark, inbox + "/*", state, ck)
    s1 = current_snapshot(state)
    spark.createDataFrame([], RAW_DOCS_SCHEMA_DDL).coalesce(1).write.parquet(
        os.path.join(inbox, "d2")
    )
    run_curate_stream(spark, inbox + "/*", state, ck)
    s2 = current_snapshot(state)
    assert s2["snapshot_id"] == s1["snapshot_id"] + 1
    assert s2["n_docs_total"] == s1["n_docs_total"] == 6


def test_snapshot_reader_ignores_stale_pointer_and_sorts_numerically(tmp_path):
    import json
    import os

    from bb_ocr_spark.plans.snapshots import commit_snapshot, current_snapshot

    out = str(tmp_path / "tbl")
    commit_snapshot(out, "run-1", 1, 1)
    commit_snapshot(out, "run-2", 1, 2)
    # the CURRENT pointer is a debug hint only: corrupt it, readers are
    # unaffected (they resolve the max on-disk manifest)
    with open(os.path.join(out, "snapshots", "CURRENT"), "w") as f:
        f.write("snap-000001.json")
    assert current_snapshot(out)["snapshot_id"] == 2

    # numeric ordering past the zero-padding: snap-1000000 must beat
    # snap-999999 (lexical sort would misorder and livelock the committer)
    snap_dir = os.path.join(out, "snapshots")
    for sid in (999_999, 1_000_000):
        with open(os.path.join(snap_dir, f"snap-{sid:06d}.json"), "w") as f:
            json.dump(
                {"snapshot_id": sid, "parent_id": None, "run_ids": [f"r{sid}"],
                 "n_docs_total": 0, "run_checksum": 0, "committed_at_ms": 0},
                f,
            )
    assert current_snapshot(out)["snapshot_id"] == 1_000_000
    m = commit_snapshot(out, "run-next", 1, 3)  # no livelock, chains on top
    assert m["snapshot_id"] == 1_000_001


def test_streaming_curation_accumulates_and_dedups(spark, tmp_path):
    """Streamed deliveries curate through the same incremental state as
    batch runs: cross-delivery dupes die, replays converge, and a batch
    delivery can interleave with streaming epochs on one state dir."""
    import os

    from bb_ocr_spark.plans.curate_incremental import (
        accumulated_fingerprints,
        run_incremental_curation,
    )
    from bb_ocr_spark.plans.snapshots import current_snapshot
    from bb_ocr_spark.streaming.curate_stream import run_curate_stream

    inbox = str(tmp_path / "inbox")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    os.makedirs(inbox)

    def doc(i, tag):
        return (i, " ".join(f"w{tag}_{j} the of and to" for j in range(12)))

    d1 = spark.createDataFrame(
        [doc(i, f"a{i}") for i in range(6)], "doc_id long, text string"
    )
    d1.coalesce(1).write.parquet(os.path.join(inbox, "d1"))
    run_curate_stream(spark, inbox + "/*", state, ck)
    cur = current_snapshot(state)
    assert cur["n_docs_total"] == 6

    # delivery 2: 2 new + 3 copies of delivery-1 texts → only 2 survive
    rows2 = [doc(100 + i, f"b{i}") for i in range(2)]
    rows2 += [(200 + i, d1.collect()[i]["text"]) for i in range(3)]
    spark.createDataFrame(rows2, "doc_id long, text string").coalesce(
        1
    ).write.parquet(os.path.join(inbox, "d2"))
    run_curate_stream(spark, inbox + "/*", state, ck)
    cur = current_snapshot(state)
    assert cur["n_docs_total"] == 8
    assert len(cur["run_ids"]) == 2

    # re-drain with nothing new: no epoch fires, chain unchanged
    run_curate_stream(spark, inbox + "/*", state, ck)
    assert current_snapshot(state)["n_docs_total"] == 8

    # a BATCH delivery interleaves on the same state
    b = spark.createDataFrame(
        [doc(300, "c0"), (301, d1.collect()[0]["text"])],
        "doc_id long, text string",
    )
    out = run_incremental_curation(spark, b, state, "batch-1")
    assert out["n_new"] == 1
    assert current_snapshot(state)["n_docs_total"] == 9
    assert accumulated_fingerprints(spark, state).count() == 9


def test_streaming_curation_classifier_stage(spark, tmp_path):
    """The learned quality filter runs inside streaming epochs too (the
    weight table broadcasts into each micro-batch): the stream's
    survivor set equals the batch incremental run's on the same
    delivery + weights."""
    import hashlib
    import os

    from bb_ocr_spark.plans.curate_incremental import run_incremental_curation
    from bb_ocr_spark.plans.snapshots import current_snapshot
    from bb_ocr_spark.streaming.curate_stream import run_curate_stream

    def doc(i, tag):
        return (i, " ".join(f"w{tag}_{j} the of and to" for j in range(12)))

    def bucket(s: str) -> int:
        return int(hashlib.md5(("qc" + s).encode()).hexdigest()[:15],
                   16) % 4096

    good = {bucket(f"wa0_{j}") for j in range(12)}
    weights = spark.createDataFrame(
        [(b, 10_000_000 if b in good else -1) for b in range(4096)],
        "bucket int, weight_micro long",
    )
    rows = [doc(i, f"a{i}") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    inbox = str(tmp_path / "inbox")
    os.makedirs(inbox)
    df.coalesce(1).write.parquet(os.path.join(inbox, "d1"))
    s_state = str(tmp_path / "s_state")
    run_curate_stream(
        spark, inbox + "/*", s_state, str(tmp_path / "ck"),
        classifier_weights=weights,
    )
    stream_n = current_snapshot(s_state)["n_docs_total"]

    b_state = str(tmp_path / "b_state")
    r = run_incremental_curation(
        spark, df, b_state, "run-1", classifier_weights=weights
    )
    assert stream_n == r["n_new"]
    assert 1 <= stream_n < 6  # the model actually filtered

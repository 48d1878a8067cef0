"""Incremental corpus curation: each run processes only NEW documents,
dedup state accumulates across runs, and every run commits a snapshot.

A growing corpus can't re-curate from scratch per delivery; the
production shape is:

  1. scrub + quality-filter the incoming batch (narrow);
  2. exact-dedup WITHIN the batch (min-id winner per fingerprint);
  3. drop docs whose normalized-text fingerprint is already in the
     ACCUMULATED fingerprint state from prior runs (left_anti on the
     16-byte fp — text never joins);
  4. append the survivors' curated rows and fingerprints as this run's
     immutable directories;
  5. commit a snapshot manifest (plans/snapshots.py) so readers get
     time travel over curation runs exactly like extraction runs.

Replay-safe: a run_id already in the chain returns without writing; an
UNCOMMITTED run dir (crash anywhere before the snapshot commit) is
always recomputed against the CURRENT accumulated state — keeping a
stale complete dir could commit fingerprints another run claimed in the
meantime. Deliveries must be curated SERIALLY: the snapshot CAS prevents
lost manifests, but two runs curating concurrently against the same
parent state could each keep the same new fingerprint.

At 100 TB the fingerprint state must NOT be re-shuffled per delivery —
pass `bucketed_fp_table` and the state accumulates as a table hash-
bucketed on fp: each run appends its (fp, run_id) rows bucketed once at
write time, and the per-delivery anti-join reads the state side with NO
Exchange (only the small batch side shuffles into the bucket layout).
Replays may append duplicate (fp, run_id) rows for an uncommitted run —
harmless, the anti-join is an existence check and only COMMITTED run_ids
count as state. Without the option the state is the accumulated per-run
parquet dirs (same plan, state side re-shuffles per delivery).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.sampling import split_col
from ..functions.scrub import pii_scrub_col
from ..functions.text import fingerprint_md5_col, quality_cols, token_count_col
from .snapshots import commit_snapshot, current_snapshot, run_dir, write_run

FP_DIR = "fingerprints"


def _fp_dirs(state_dir: str) -> list[str]:
    cur = current_snapshot(state_dir)
    if cur is None:
        return []
    return [
        os.path.join(state_dir, FP_DIR, f"run_id={r}")
        for r in cur["run_ids"]
    ]


def accumulated_fingerprints(spark: SparkSession, state_dir: str) -> DataFrame | None:
    dirs = [d for d in _fp_dirs(state_dir) if os.path.isdir(d)]
    if not dirs:
        return None
    # the state files hold one md5-hex column; a known schema skips inference
    return spark.read.schema("fp string").parquet(*dirs)


def append_bucketed(df: DataFrame, table: str, key: str, buckets: int) -> None:
    """Append rows to a state table hash-bucketed and sorted on `key` —
    the one-time shuffle that makes every later delivery's join read the
    state side Exchange-free."""
    (
        df.write.mode("append")
        .bucketBy(buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table)
    )


def committed_rows(
    spark: SparkSession, state_dir: str, table: str, *cols
) -> DataFrame | None:
    """`cols` of a state table's rows whose run_id is COMMITTED (a
    replayed uncommitted run may have appended rows that do not count
    yet); None while the table or the snapshot chain does not exist. The
    run_id filter does not disturb the scan's bucket layout, so the
    state side of a join stays Exchange-free."""
    if not spark.catalog.tableExists(table):
        return None
    cur = current_snapshot(state_dir)
    if cur is None:
        return None
    return (
        spark.table(table)
        .filter(F.col("run_id").isin(cur["run_ids"]))
        .select(*cols)
    )


def run_incremental_curation(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    run_id: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucketed_fp_table: str | None = None,
    fp_buckets: int = 16,
    minhash_state_table: str | None = None,
    near_dup_est_threshold: float = 0.5,
    substr_state_table: str | None = None,
    substr_k: int = 50,
    substr_method: str = "expr",
    classifier_weights: DataFrame | None = None,
    classifier_threshold_micro: int = 0,
    classifier_buckets: int = 4096,
    classifier_salt: str = "qc",
) -> dict:
    """Curate one delivery against the accumulated state; returns the
    committed manifest plus this run's survivor count.

    minhash_state_table additionally drops NEAR-dups of prior deliveries
    (estimated-Jaccard >= near_dup_est_threshold against the accumulated
    signature state — see near_dup_drops) and appends the survivors'
    signatures/band buckets for future deliveries. Exact fingerprints
    catch byte-identical resubmissions; this tier catches lightly-edited
    ones.

    substr_state_table adds the third granularity: token-k-gram
    substring excision (operators.dedup.substring_dedup_incremental)
    against accumulated gram state — a banner committed by delivery 1 is
    cut OUT of delivery 2's otherwise-unique docs (doc-level tiers keep
    such docs whole). Docs with at least one excised run store the
    token-level rebuild (lowercased, single-spaced — the artifact shape
    token-granular ExactSubstr emits); UNTOUCHED docs keep their
    original text byte-for-byte. The survivors' ORIGINAL-text gram
    inventory appends to the bucketed state, committed-run_ids-only
    like the other tiers.

    classifier_weights ((bucket, weight_micro) model rows) adds the
    learned fastText-style quality filter after the heuristic rules —
    stateless across deliveries (the model is a broadcast table)."""
    cur = current_snapshot(state_dir)
    if cur is not None and run_id in cur["run_ids"]:
        return {"manifest": cur, "n_new": 0, "replayed": True}

    scrubbed = batch.select(
        F.col(id_col).alias("id"), pii_scrub_col(F.col(text_col)).alias("text")
    )
    kept = (
        scrubbed.select("id", "text", *quality_cols(F.col("text")))
        .filter(F.col("quality_keep"))
        .select("id", "text")
    )
    if classifier_weights is not None:
        # optional learned filter after the heuristic rules (same
        # two-tier order as plans.curate.run_curation): the weight
        # table broadcasts, so the stage adds no per-delivery state
        from ..operators.selection import quality_classifier  # noqa: PLC0415

        qc = quality_classifier(
            kept,
            classifier_weights,
            id_col="id",
            text_col="text",
            buckets=classifier_buckets,
            salt=classifier_salt,
            threshold_micro=classifier_threshold_micro,
        )
        kept = kept.join(
            qc.filter(F.col("qc_keep")).select("id"), "id", "left_semi"
        )
    kept = kept.withColumn("fp", fingerprint_md5_col(F.col("text")))
    # within-batch winners: min id per fingerprint
    winners = kept.groupBy("fp").agg(F.min("id").alias("id"))
    batch_uniq = kept.join(
        winners.select("fp", F.col("id").alias("_wid")), "fp"
    ).filter(F.col("id") == F.col("_wid")).select("id", "text", "fp")
    # cross-run dedup: drop fingerprints already committed by prior runs
    if bucketed_fp_table is not None:
        seen = committed_rows(spark, state_dir, bucketed_fp_table, "fp")
    else:
        seen = accumulated_fingerprints(spark, state_dir)
    if seen is not None:
        batch_uniq = batch_uniq.join(seen, "fp", "left_anti")

    batch_sigs = None
    if minhash_state_table is not None:
        from ..cache import track_persist  # noqa: PLC0415
        from ..operators.dedup import minhash_signatures_pandas  # noqa: PLC0415

        # referenced by the drop join AND the survivor-state append
        batch_sigs = track_persist(
            minhash_signatures_pandas(
                batch_uniq, MINHASH_HASHES, 3, "id", "text"
            )
        )
        drops = near_dup_drops(
            spark,
            batch_sigs,
            state_dir,
            minhash_state_table,
            near_dup_est_threshold,
        )
        if drops is not None:
            batch_uniq = batch_uniq.join(drops, "id", "left_anti")

    batch_gram_occ = None
    if substr_state_table is not None:
        from ..cache import track_persist  # noqa: PLC0415
        from ..operators.dedup import (  # noqa: PLC0415
            substring_dedup_incremental,
        )

        seen_g = committed_rows(spark, state_dir, substr_state_table, "g")
        # batch_uniq feeds the dedup AND the rejoin of its non-text cols
        batch_uniq = track_persist(batch_uniq)
        deduped, batch_gram_occ = substring_dedup_incremental(
            batch_uniq,
            k=substr_k,
            id_col="id",
            text_col="text",
            method=substr_method,
            seen_grams=seen_g,
        )
        # Keep the ORIGINAL text byte-for-byte for docs with nothing to
        # excise: text_dedup is rebuilt from the token stream (lowercase,
        # single-space), and silently normalizing every untouched doc
        # corpus-wide would be destructive. Docs that DID lose runs store
        # the token-level rebuild — the same artifact shape Lee et al.'s
        # ExactSubstr emits, documented in the run docstring.
        batch_uniq = batch_uniq.join(
            deduped.select("id", "n_dup_tokens", "text_dedup"), "id"
        ).select(
            "id",
            F.when(F.col("n_dup_tokens") > 0, F.col("text_dedup"))
            .otherwise(F.col("text"))
            .alias("text"),
            "fp",
        )

    curated = batch_uniq.select(
        "id",
        "text",
        "fp",
        token_count_col(F.col("text")).cast("bigint").alias("n_tokens"),
        split_col(F.col("id")).alias("split"),
    )
    run_results = run_dir(state_dir, run_id)
    write_run(curated, run_results, keep_complete=False)
    # durable rows, read with the known schema (no inference job); the totals
    # are observed on the fp write, a result stage with no Exchange, so
    # retried tasks count once
    committed = spark.read.schema(curated.schema).parquet(run_results)
    totals = Observation()
    fps = committed.select("fp").observe(
        totals, F.count("*").alias("n"), F.bit_xor(F.xxhash64("fp")).alias("ck")
    )
    fp_dir = os.path.join(state_dir, FP_DIR, f"run_id={run_id}")
    write_run(fps, fp_dir, keep_complete=False)
    if bucketed_fp_table is not None:
        # append BEFORE the snapshot commit: the moment run_id becomes
        # committed, its fps must already be in the state table
        append_bucketed(
            committed.select("fp").withColumn("run_id", F.lit(run_id)),
            bucketed_fp_table,
            "fp",
            fp_buckets,
        )
    if minhash_state_table is not None:
        # survivors only: a dropped near-dup's representative is already
        # in state; same commit-before-snapshot ordering as the fps
        append_minhash_state(
            batch_sigs.join(committed.select("id"), "id"),
            run_id,
            minhash_state_table,
            fp_buckets,
        )
    if substr_state_table is not None:
        # distinct original-text grams of the docs actually committed
        append_bucketed(
            batch_gram_occ.join(committed.select("id"), "id", "left_semi")
            .select("g")
            .distinct()
            .withColumn("run_id", F.lit(run_id)),
            substr_state_table,
            "g",
            fp_buckets,
        )
    n, ck = (totals.get[k] or 0 for k in ("n", "ck"))  # xor is NULL if empty
    manifest = commit_snapshot(state_dir, run_id, n, ck)
    return {"manifest": manifest, "n_new": n, "replayed": False}


def compact_bucketed_fingerprints(
    spark: SparkSession, state_dir: str, table: str, buckets: int = 16
) -> dict:
    """Rewrite the bucketed fp state's N per-delivery appends into one
    compact file set, preserving the bucket scheme and the committed
    (fp, run_id) rows byte-for-byte.

    Every delivery appends new files per bucket, so after thousands of
    deliveries the anti-join's state side is a small-file swamp even
    though it stays Exchange-free. Compaction reads only COMMITTED rows
    (dropping orphans from crashed/uncommitted replays for free),
    repartitions into the bucket layout, and swaps tables via renames:

        write {table}__compacting  →  {table} → {table}__precompact
        → {table}__compacting → {table}  →  drop {table}__precompact

    so a reader always sees either the old or the new table; a crash
    mid-swap is rolled forward/back on the next call. Run it BETWEEN
    deliveries (the same serial discipline deliveries already require).
    Returns {"compacted", "files_before", "files_after", "rows"}."""
    tmp, old = f"{table}__compacting", f"{table}__precompact"
    # recover a crashed earlier compaction: if the swap died after the
    # first rename, the live name is missing — roll the original back
    if spark.catalog.tableExists(old) and not spark.catalog.tableExists(table):
        spark.sql(f"ALTER TABLE {old} RENAME TO {table}")
    for leftover in (tmp, old):
        if spark.catalog.tableExists(leftover):
            spark.sql(f"DROP TABLE {leftover}")
    committed = committed_rows(spark, state_dir, table, "*")
    if committed is None:
        return {"compacted": False}
    files_before = len(spark.table(table).inputFiles())
    # repartition into the bucket layout first so each bucket is written
    # by one task → one file per bucket (bucketBy assigns rows to buckets
    # by its own hash regardless, so correctness never depends on this)
    (
        committed.repartition(buckets, "fp")
        .write.mode("errorifexists")
        .bucketBy(buckets, "fp")
        .sortBy("fp")
        .format("parquet")
        .saveAsTable(tmp)
    )
    spark.sql(f"ALTER TABLE {table} RENAME TO {old}")
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")
    spark.sql(f"DROP TABLE {old}")
    compacted = spark.table(table)
    return {
        "compacted": True,
        "files_before": files_before,
        "files_after": len(compacted.inputFiles()),
        "rows": compacted.count(),
    }


# --------------------------------------------------------------------------
# cross-delivery NEAR-dup state (MinHash signatures + LSH band buckets)
# --------------------------------------------------------------------------

MINHASH_HASHES = 64
MINHASH_BANDS = 16


def _band_bucket_rows(sigs: DataFrame) -> DataFrame:
    """(id, sig) → (id, bucket): one row per LSH band; the band index is
    folded INTO the bucket hash (xxhash64(band, slots…)), so `bucket`
    alone is the join key — same formula as minhash_lsh_pairs."""
    r = MINHASH_HASHES // MINHASH_BANDS
    return sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(b), *[F.col("sig")[b * r + j] for j in range(r)]
                    )
                    for b in range(MINHASH_BANDS)
                ]
            )
        ).alias("bucket"),
    )


def append_minhash_state(
    sigs: DataFrame, run_id: str, table: str, buckets: int = 16
) -> None:
    """Append this run's signature + band-bucket rows to the two
    hash-bucketed state tables ({table}_buckets on `bucket`, {table}_sigs
    on `id`) — the one-time shuffles that keep every later delivery's
    candidate join and signature fetch Exchange-free on the state side."""
    append_bucketed(
        _band_bucket_rows(sigs).withColumn("run_id", F.lit(run_id)),
        f"{table}_buckets",
        "bucket",
        buckets,
    )
    append_bucketed(
        sigs.withColumn("run_id", F.lit(run_id)), f"{table}_sigs", "id", buckets
    )


def near_dup_drops(
    spark: SparkSession,
    batch_sigs: DataFrame,
    state_dir: str,
    table: str,
    est_threshold: float = 0.5,
    max_bucket: int = 1024,
) -> DataFrame | None:
    """ids of batch docs whose MinHash signature agrees with some
    COMMITTED prior doc's signature in >= est_threshold of slots, with
    the candidate set generated by LSH bucket collision against the
    accumulated state:

      batch bands ⋈ {table}_buckets (state side Exchange-free)
        → candidate (new, old) pairs, df-capped per state bucket
        → signatures fetched from {table}_sigs for candidates only
        → estimated-Jaccard filter.

    Returns None when no committed state exists yet. The estimate is the
    signature agreement rate (the standard incremental form — exact
    re-verification would need prior TEXT retained in state; signatures
    are 64 longs/doc forever, text is not). max_bucket drops degenerate
    state buckets before pairing (same cap rule as minhash_lsh_pairs)."""
    old_buckets = committed_rows(
        spark, state_dir, f"{table}_buckets", F.col("id").alias("old_id"), "bucket"
    )
    old_sigs = committed_rows(
        spark,
        state_dir,
        f"{table}_sigs",
        F.col("id").alias("old_id"),
        F.col("sig").alias("old_sig"),
    )
    if old_buckets is None or old_sigs is None:
        return None
    hot = (
        old_buckets.groupBy("bucket")
        .agg(F.count("*").alias("sz"))
        .filter(F.col("sz") > max_bucket)
        .select("bucket")
    )
    old_buckets = old_buckets.join(hot, "bucket", "left_anti")
    cand = (
        _band_bucket_rows(batch_sigs)
        .join(old_buckets, "bucket")
        .select("id", "old_id")
        .distinct()
    )
    est = F.size(
        F.filter(
            F.zip_with(F.col("sig"), F.col("old_sig"), lambda x, y: x == y),
            lambda eq: eq,
        )
    ).cast("double") / F.lit(MINHASH_HASHES)
    return (
        cand.join(batch_sigs, "id")
        .join(old_sigs, "old_id")
        .filter(est >= est_threshold)
        .select("id")
        .distinct()
    )

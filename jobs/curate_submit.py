"""spark-submit entrypoint for incremental corpus curation.

Cluster usage (same packaging contract as jobs/extract_submit.py):

    python tools/make_pyfiles.py                     # -> dist/bb_ocr_spark.zip
    spark-submit --py-files dist/bb_ocr_spark.zip \
        jobs/curate_submit.py \
        --input  <documents parquet path (doc_id, text, ...)> \
        --state  <curation state dir> \
        --run-id <delivery id> \
        [--fp-table NAME] [--minhash-table NAME] [--substr-table NAME]
        [--eval-input PATH] [--shard-budget N]
        [--materialize] [--compact-state]

Each invocation curates ONE delivery against the accumulated state
(plans/curate_incremental.py): scrub + quality, in-batch exact dedup,
anti-join against prior runs' fingerprints (optionally a hash-bucketed
state table via --fp-table so the history side never re-shuffles), then
a snapshot commit. Re-running a committed --run-id is a no-op; crashed
runs are recomputed against the current state. Deliveries must be
submitted serially (documented in the plan module).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--state", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--fp-table", default=None)
    ap.add_argument("--minhash-table", default=None,
                    help="base name for the MinHash near-dup state tables "
                         "(<name>_buckets / <name>_sigs): lightly-edited "
                         "resubmissions of prior deliveries are dropped by "
                         "estimated Jaccard against the accumulated "
                         "signatures")
    ap.add_argument("--substr-table", default=None,
                    help="gram state table for cross-delivery substring "
                         "excision: k-gram runs already committed by prior "
                         "deliveries are cut OUT of this delivery's docs "
                         "(operators/dedup.py::substring_dedup_incremental)")
    ap.add_argument("--substr-k", type=int, default=50,
                    help="token k-gram length for --substr-table (Lee et "
                         "al. use 50; the rolling-hash gram path engages "
                         "automatically for k >= 16)")
    ap.add_argument("--classifier-weights", default=None,
                    help="parquet path of a (bucket int, weight_micro "
                         "long) model table: adds the learned "
                         "fastText-style quality filter after the "
                         "heuristic rules (broadcast, stateless)")
    ap.add_argument("--classifier-threshold-micro", type=int, default=0,
                    help="keep iff score_sum_micro >= threshold * "
                         "n_features (integer mean-pool rule)")
    ap.add_argument("--classifier-buckets", type=int, default=4096,
                    help="hash-bucket count the weight table was trained "
                         "with (MUST match, or weights silently miss)")
    ap.add_argument("--classifier-salt", default="qc",
                    help="feature-hash salt the weight table was trained "
                         "with")
    ap.add_argument("--eval-input", default=None,
                    help="optional eval/benchmark docs to decontaminate against")
    ap.add_argument("--compact-state", action="store_true",
                    help="after the delivery commits, rewrite the bucketed "
                         "fp state's per-run file swamp into one compact "
                         "file set (requires --fp-table)")
    ap.add_argument("--shard-budget", type=int, default=None,
                    help="token budget per training shard; when set, this "
                         "run's survivors get (id, weight, prefix, shard_id) "
                         "written to <state>/shards/run_id=<run-id>")
    ap.add_argument("--materialize", action="store_true",
                    help="with --shard-budget: also write the training-file "
                         "rows (doc-atomic assignment, concatenated text + "
                         "doc offsets) to <state>/shard_files/run_id=<run-id>")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from bb_ocr_spark.plans.curate_incremental import run_incremental_curation

    builder = SparkSession.builder.appName("bb_ocr_curate")
    if args.fp_table or args.minhash_table or args.substr_table:
        # bucketed STATE tables must outlive this process: the default
        # in-memory catalog forgets both the table entry and its
        # BUCKETING spec at session exit — the next delivery's append
        # then dies with LOCATION_ALREADY_EXISTS, and even re-registering
        # the path would scan bucket-blind (silently forfeiting the
        # Exchange-free state join). Hive support persists the catalog in
        # the derby metastore under the working directory: submit every
        # delivery of one curation lineage from the same cwd (on a real
        # cluster, point spark.sql.catalogImplementation at the shared
        # metastore instead).
        builder = builder.enableHiveSupport()
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    batch = spark.read.parquet(args.input)
    if args.eval_input:
        from bb_ocr_spark.operators.decontaminate import decontaminate

        batch = decontaminate(batch, spark.read.parquet(args.eval_input))

    out = run_incremental_curation(
        spark,
        batch,
        args.state,
        args.run_id,
        bucketed_fp_table=args.fp_table,
        minhash_state_table=args.minhash_table,
        substr_state_table=args.substr_table,
        substr_k=args.substr_k,
        substr_method="rolling" if args.substr_k >= 16 else "expr",
        classifier_weights=(
            spark.read.parquet(args.classifier_weights)
            if args.classifier_weights
            else None
        ),
        classifier_threshold_micro=args.classifier_threshold_micro,
        classifier_buckets=args.classifier_buckets,
        classifier_salt=args.classifier_salt,
    )
    if args.compact_state and args.fp_table:
        from bb_ocr_spark.plans.curate_incremental import (
            compact_bucketed_fingerprints,
        )

        compact_bucketed_fingerprints(spark, args.state, args.fp_table)

    if args.shard_budget:
        import os

        from bb_ocr_spark.cache import release_persisted
        from bb_ocr_spark.operators.packing import assign_shards
        from bb_ocr_spark.plans.snapshots import run_dir, write_run

        committed = spark.read.parquet(run_dir(args.state, args.run_id))
        # deterministic given the committed run results, so a complete
        # shard dir is kept on replay
        write_run(
            assign_shards(committed, args.shard_budget, key_col="id"),
            os.path.join(args.state, "shards", f"run_id={args.run_id}"),
            keep_complete=True,
        )
        if args.materialize:
            from bb_ocr_spark.operators.packing import (
                assign_shards_atomic,
                materialize_shards,
            )

            atomic = assign_shards_atomic(
                committed.select("id", "n_tokens"),
                args.shard_budget,
                key_col="id",
            )
            write_run(
                materialize_shards(
                    atomic, committed.select("id", "text"), key_col="id"
                ),
                os.path.join(
                    args.state, "shard_files", f"run_id={args.run_id}"
                ),
                keep_complete=True,
            )
        release_persisted()

    print(json.dumps({
        "run_id": args.run_id,
        "n_new": out["n_new"],
        "replayed": out["replayed"],
        "snapshot_id": out["manifest"]["snapshot_id"],
        "n_docs_total": out["manifest"]["n_docs_total"],
    }))
    spark.stop()


if __name__ == "__main__":
    main()

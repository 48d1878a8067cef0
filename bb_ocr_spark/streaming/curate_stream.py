"""Continuous corpus curation: deliveries land as files, each
micro-batch curates incrementally against the accumulated state.

Composition, not new machinery: the file source provides exactly-once
input progress (its checkpoint tracks consumed files), and
plans/curate_incremental.run_incremental_curation is ALREADY the right
foreachBatch body — its replay contract (committed run_id → no-op;
uncommitted run dir → recompute against current state) is precisely
what foreachBatch's at-least-once semantics require, and a single
stream's serial epochs satisfy the module's deliveries-must-be-serial
rule by construction. Batch deliveries (curate_submit.py) and streaming
epochs share one snapshot chain and one fingerprint state, so a corpus
can mix both ingestion modes over its lifetime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

RAW_DOCS_SCHEMA_DDL = "doc_id long, text string"


def run_curate_stream(
    spark: SparkSession,
    input_path: str,
    state_dir: str,
    checkpoint: str,
    bucketed_fp_table: str | None = None,
    classifier_weights: DataFrame | None = None,
    classifier_threshold_micro: int = 0,
    classifier_buckets: int = 4096,
    classifier_salt: str = "qc",
) -> None:
    """Drain all currently-available deliveries (availableNow trigger),
    curating each micro-batch as one incremental run. Epoch ids are the
    run ids: a crashed epoch replays under the same run_id and converges
    through run_incremental_curation's recompute-if-uncommitted rule."""
    from ..plans.curate_incremental import (  # noqa: PLC0415
        run_incremental_curation,
    )

    # explicit schema, never inference — the same 100 TB rule as
    # sources.tables.load_documents_jsonl
    stream = spark.readStream.schema(RAW_DOCS_SCHEMA_DDL).parquet(input_path)

    # an epoch over a zero-row delivery commits a 0-doc run, like
    # run_extract_stream: no separate isEmpty() job ahead of the results
    # write, which scans and scrubs the same rows again
    def commit(batch_df: DataFrame, epoch_id: int) -> None:
        run_incremental_curation(
            spark,
            batch_df,
            state_dir,
            f"stream-{epoch_id:06d}",
            bucketed_fp_table=bucketed_fp_table,
            classifier_weights=classifier_weights,
            classifier_threshold_micro=classifier_threshold_micro,
            classifier_buckets=classifier_buckets,
            classifier_salt=classifier_salt,
        )

    (
        stream.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )

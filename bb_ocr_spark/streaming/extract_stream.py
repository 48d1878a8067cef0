"""Streaming ingest for the extraction pipeline.

The core extraction is a stateless narrow map (extract_inline), so it
runs UNCHANGED under Structured Streaming: point a file source at the
interleaved-docs directory and new documents are extracted incrementally
as they land — the continuous-ingest alternative to the batch-incremental
snapshot+anti-join resume of plans/extract_job (reference analog: the
upload→process flow of i2j_ui/app/main.py:714-837, minus the threads).

Checkpointing gives exactly-once file-source progress; each micro-batch
commits through the batch job's plans/extract_job.commit_run, so streaming
runs carry the same per-partition lineage rows and manifests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.extract import SPANS_SCHEMA_DDL, checksum_spans_col, extract_inline
from ..plans.extract_job import commit_run


def read_documents_stream(spark: SparkSession, path: str) -> DataFrame:
    return spark.readStream.schema(SPANS_SCHEMA_DDL).parquet(path)


def extract_stream(docs: DataFrame) -> DataFrame:
    """Identical plan to the batch hot path — stateless, no watermark
    needed, no shuffle; every micro-batch is pure data parallelism."""
    from pyspark.sql import functions as F

    return extract_inline(docs).withColumn(
        "checksum", checksum_spans_col(F.col("spans"))
    )


def run_extract_stream(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    checkpoint: str,
) -> None:
    """Continuous extraction with the SAME commit contract as the batch
    job: every micro-batch writes a results run directory and commits its
    lineage and a snapshot manifest through commit_run, so time travel and
    lineage hold across streaming and batch runs alike. An empty epoch (a
    zero-row file) commits a 0-doc run, as a batch no-op rerun does;
    testing for emptiness first would cost a job that extracts the rows
    the results write extracts again. The file source's checkpoint gives
    exactly-once input progress; replayed epochs (the at-least-once side of
    foreachBatch) converge because an epoch's rows are deterministic: a
    committed run_id writes nothing and a complete results dir is kept
    (keep_complete) — together that is the streaming analog of the
    anti-join resume."""
    out = extract_stream(read_documents_stream(spark, input_path))

    def commit(batch_df: DataFrame, epoch_id: int) -> None:
        commit_run(spark, batch_df, output_dir, f"stream-{epoch_id:06d}", keep_complete=True)

    (
        out.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )

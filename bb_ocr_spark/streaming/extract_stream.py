"""Streaming ingest for the extraction pipeline.

The core extraction is a stateless narrow map (extract_inline), so it
runs UNCHANGED under Structured Streaming: point a file source at the
interleaved-docs directory and new documents are extracted incrementally
as they land — the continuous-ingest alternative to the batch-incremental
snapshot+anti-join resume of plans/extract_job (reference analog: the
upload→process flow of i2j_ui/app/main.py:714-837, minus the threads).

Checkpointing gives exactly-once file-source progress; per-batch lineage
can reuse the same metrics schema via foreachBatch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.extract import checksum_spans_col, extract_inline

DOCS_SCHEMA_DDL = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


def read_documents_stream(spark: SparkSession, path: str) -> DataFrame:
    return spark.readStream.schema(DOCS_SCHEMA_DDL).parquet(path)


def extract_stream(docs: DataFrame) -> DataFrame:
    """Identical plan to the batch hot path — stateless, no watermark
    needed, no shuffle; every micro-batch is pure data parallelism."""
    from pyspark.sql import functions as F

    return extract_inline(docs).withColumn(
        "checksum", checksum_spans_col(F.col("spans"))
    )


def commit_batch(
    spark: SparkSession, output_dir: str, batch_df: DataFrame, run_id: str
) -> None:
    """Write one micro-batch's run directory and commit its snapshot —
    IDEMPOTENT, because foreachBatch is at-least-once: after a crash
    anywhere between the parquet write and the snapshot commit, the
    replayed epoch must converge, not fail or double-commit.

      - run dir already complete (_SUCCESS): skip the write (a plain
        mode('errorifexists') would fail the stream permanently here);
      - run dir partial (no _SUCCESS — crash mid-write): clear and rewrite;
      - run_id already in the snapshot chain: commit_snapshot returns the
        existing manifest instead of appending a duplicate entry.
    """
    from pyspark.sql import functions as F  # noqa: PLC0415

    from ..plans.snapshots import commit_snapshot, run_dir, write_run_once  # noqa: PLC0415

    out_dir = run_dir(output_dir, run_id)
    write_run_once(
        batch_df.withColumn("part_id", F.spark_partition_id()), out_dir
    )
    committed = spark.read.parquet(out_dir)  # lineage from durable data
    row = committed.selectExpr(
        "count(*) AS n", "bit_xor(checksum) AS ck"
    ).collect()[0]
    commit_snapshot(output_dir, run_id, row["n"], row["ck"] or 0)


def run_extract_stream(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    checkpoint: str,
) -> None:
    """Continuous extraction with the SAME commit contract as the batch
    job: every non-empty micro-batch writes a results run directory and
    commits a snapshot manifest (plans/snapshots.py), so time travel and
    lineage hold across streaming and batch runs alike. The file source's
    checkpoint gives exactly-once input progress; replayed epochs (the
    at-least-once side of foreachBatch) converge through the idempotent
    commit_batch — together that is the streaming analog of the
    anti-join resume."""
    out = extract_stream(read_documents_stream(spark, input_path))

    def commit(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        commit_batch(spark, output_dir, batch_df, f"stream-{epoch_id:06d}")

    (
        out.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )

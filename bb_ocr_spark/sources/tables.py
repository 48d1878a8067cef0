"""Source tables: the names of the test-data tables, the raw-corpus JSON
Lines reader and the Iceberg probe.

In production the tables would be Iceberg catalog tables
(`spark.read.table`); the test data is plain parquet, read with
`spark.read.parquet` — Catalyst still gets filter pushdown + column
pruning. The Iceberg binding is gated by have_iceberg (iceberg jars are
not in this image).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TPCH_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def have_iceberg(spark: SparkSession) -> bool:
    """True iff the iceberg runtime jar is actually on the classpath.
    Must go through Class.forName: py4j resolves a missing class path to
    a JavaPackage object WITHOUT raising, so attribute access alone
    reports present for any class name (caught by test_env_gates)."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.Table")
        return True
    except Exception:
        return False


DOCS_JSONL_DDL = "doc_id string, text string, lang string, source string"


def load_documents_jsonl(
    spark: SparkSession, path: str, schema: str = DOCS_JSONL_DDL
) -> DataFrame:
    """Raw-corpus ingestion from JSON Lines (the common pretraining dump
    format). An EXPLICIT schema is mandatory at scale: schema inference
    runs a full extra pass over 100 TB and silently widens types on dirty
    records; with a fixed schema, corrupt lines surface as NULL columns
    (Spark's PERMISSIVE mode) instead of failing the job — filter
    `text IS NULL` into a quarantine sink rather than crashing."""
    return spark.read.schema(schema).json(path)

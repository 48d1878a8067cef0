"""SparkSession factory tuned for the extraction workload.

Local-mode testing uses ``local[N]``; the same configs are what we would
ship to a multi-executor cluster via ``spark-submit --py-files`` (AQE on,
Arrow on, shuffle partitions sized to the cluster, UTC pinned for oracle
comparability).
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)


def default_cores() -> int:
    """`SPARK_GRAFT_CPUS` when it is a positive integer; unset, empty or 0
    means the machine's CPU count. Any other value logs a WARNING and falls
    back to the CPU count instead of failing the session start."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    try:
        cores = int(raw or "0")
    except ValueError:
        cores = -1
    if cores < 0:
        _log.warning(
            "SPARK_GRAFT_CPUS=%r is not a core count; using os.cpu_count()", raw
        )
    return cores if cores > 0 else (os.cpu_count() or 8)


def get_spark(
    app_name: str = "bb_ocr_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = default_cores()
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # shuffle/broadcast codec: zstd over the lz4 default (guide §2.3,
        # §9). Interleaved A/B at sf1.0, min-of-2 per pairing:
        # assemble_exploded 8.7→4.0, ngram_jaccard 16.2→8.7,
        # paragraph_dedup 4.0→1.6, substring_dedup 2.1→1.9,
        # extract_reassemble flat; the one loser is minhash_lsh
        # (5.6→7.0 — high-entropy signature payloads compress hard for
        # nothing), a net ~-13 s across the suite
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bound Arrow batches so span-heavy docs fit executor memory
        # (reference analog: per-image downscale caps)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # snappy-compressed TEXT is tiny on disk but heavy per row: the
        # default 128m split + 4m open-cost packed an 85 MB / 200k-doc
        # corpus into TWO input partitions on 32 cores (measured 7x
        # under-parallelism on the flagship extraction). 8m splits keep
        # scan tasks CPU-bound instead of starved; at 100 TB with
        # normal-sized files this simply yields more, still-large tasks
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.files.openCostInBytes", "131072")
        # local mode = one JVM; heap must cover all N executor threads'
        # aggregation buffers (mega-doc collect_list spikes)
        .config("spark.driver.memory", os.environ.get("BB_OCR_DRIVER_MEM", "64g"))
        # C2 thresholds at 10x the JVM defaults: planner code that runs a
        # few hundred times per job stays in C1, per-row code still reaches
        # C2 within a task. On a resumed extraction job the C2 threads spent
        # 1-2 s of CPU per run, still falling after ten runs, compiling
        # Catalyst code the job ran for 0.3 s
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000"
            " -XX:Tier4CompileThreshold=150000",
        )
        .config("spark.ui.enabled", "false")
        # collect_list/collect_set aggregations fall back to sort-based
        # merging (serialize per-group buffers) after this many groups per
        # partition; the 128 default is a 2.5-10x cliff for span assembly
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("BB_OCR_WAREHOUSE", "/tmp/bb_ocr_warehouse"),
        )
        # bucketed reads: one task per bucket pairing for co-located joins
        .config("spark.sql.sources.bucketing.enabled", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

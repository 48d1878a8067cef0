"""Scale-adaptive plan shape, decided in one place.

Every plan choice that depends on how big an input is reads the
optimizer's size estimate through `is_small`, the engine's one probe of
the optimized plan's stats. The estimate is free to take:
`queryExecution` and its optimized plan are lazy and the plan caches its
stats, so probing a frame twice re-optimizes nothing and no Spark job
runs. When the probe fails, the size is taken as `UNKNOWN_SIZE`, which
is what Spark itself reports for a relation it cannot size
(`spark.sql.defaultSizeInBytes`), so every gate takes its large-input
branch: no fanout, no broadcast hint, the minhash pin on.

Every branch is results-invariant (join strategy and partitioning only).
"""

from __future__ import annotations

import logging

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)

UNKNOWN_SIZE = 2**63 - 1

# per-core input share below which a read-side fanout repartition is
# worth its (tiny) shuffle
FANOUT_BYTES_PER_CORE = 32 << 20

# corpora whose size estimate stays under this many bytes get derived
# small frames (vocab tables, per-doc stats) broadcast into their
# scoring joins; bigger corpora keep shuffle joins (a derived frame can
# approach corpus size, so the gate is on the corpus itself)
BCAST_CORPUS_BYTES = 1 << 30

# corpus-size estimate above which minhash_lsh_pairs pins its candidate
# dedup exchange to full width (see comment at the use site); between
# the measured regimes: 0.6 MB (pin loses 2.5 s) and 5.9 MB (pin wins
# ~2 s)
MINHASH_PIN_BYTES = 2 << 20

# edge count under which dedup_clusters runs its label loop with AQE off
# (see comment at the use site)
CLUSTER_AQE_OFF_EDGES = 50_000_000


def is_small(df: DataFrame, limit_bytes: int, gate: str) -> bool:
    """True when `df`'s optimizer size estimate is under `limit_bytes`.
    `gate` names the decision in the log lines."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Py4JError as e:
        _log.warning(
            "plan gate %s: no size estimate (%s); taking the large-input branch",
            gate,
            e,
        )
        size = UNKNOWN_SIZE
    small = size < limit_bytes
    _log.debug(
        "plan gate %s: estimate=%d limit=%d small=%s", gate, size, limit_bytes, small
    )
    return small


def fanout(df: DataFrame) -> DataFrame:
    """Scale-adaptive read parallelism. The per-doc/per-vector operators
    are compute-heavy relative to their input bytes, and a small
    snappy-compressed parquet (one row group) caps scan parallelism far
    below the core count — sf1.0's 50k-doc documents.parquet is 5.9 MB =
    ONE scan split, so every downstream narrow stage (and every stage
    reachable from it through broadcast joins only) ran single-task
    (measured: ngram_jaccard 214 s at sf1.0 with 31 cores idle). Parquet
    cannot split inside a row group, so a floor on scan partitions can't
    help; fan the rows out once instead (the input-skew remedy:
    repartition immediately after the read).

    Partition COUNT cannot be the gate: Spark packs a small file into
    `defaultParallelism` byte-range splits (maxSplitBytes shrinks to
    totalBytes/parallelism), but a row group goes entirely to the split
    holding its midpoint — the sf1.0 scan reported 32 partitions of
    which 31 were EMPTY (event-log: stage with 1 task at 143 s CPU
    writing all 114M shuffle rows, 31 tasks at 0.1 s). Gate on the
    relation's size estimate instead: fan out only when the whole input
    is small enough that the repartition shuffle is trivially cheap
    (< FANOUT_BYTES_PER_CORE per core), which is exactly the regime
    where row-group granularity can starve the cores. Large tables
    (anything beyond ~32 MB/core) pass through untouched, so at 100 TB
    this is a no-op. Results are partitioning-invariant (deterministic
    hash repartition on the leading id column — no retry-determinism
    pre-sort needed, unlike round-robin; no query keys on partition
    identity — the one spark_partition_id user derives it from its own
    repartitionByRange)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if is_small(df, target * FANOUT_BYTES_PER_CORE, "fanout"):
        # hash-partition on the leading (id) column rather than
        # round-robin: no retry-determinism pre-sort on the map side
        # (A/B 0.30 s -> 0.21 s for the fanout stage alone), and a
        # downstream shuffle keyed the same way can reuse the layout
        return df.repartition(target, F.col(df.columns[0]))
    return df


def broadcast_if_small(corpus: DataFrame, derived: DataFrame) -> DataFrame:
    """Broadcast-hint `derived` when `corpus`'s size estimate is under
    BCAST_CORPUS_BYTES; identical results either way (join strategy
    only)."""
    if is_small(corpus, BCAST_CORPUS_BYTES, "broadcast"):
        return F.broadcast(derived)
    return derived

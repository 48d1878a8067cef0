"""Round-4 soak: the operators NEW this round at ~5x the driver-bench
scale, with peak-JVM-memory evidence and cross-validating outputs
(same harness discipline as tools/soak_bench.py — reuses its corpora).

Cross-validations (planted structure, no external oracle needed):
  - substring dedup over the 5x-tiled docs: tiles differ from tile 0
    only in a 3-token tail, so every k-gram of the shared body repeats
    across tiles and the keeper (min doc_id) is always the tile-0 copy
    → tile-0 docs keep nearly everything, tile 1-4 docs lose nearly
    everything;
  - atomic packing + materialization over 25k docs: token totals are
    conserved through the shard files, every multi-doc shard respects
    the budget, and doc_offsets slice losslessly;
  - PQ over the tiled embeddings: tiles are scalar multiples of tile 0,
    which unit-normalization makes (near-)identical — each query's 4
    scaled twins must fill the top-4 ADC ranks;
  - chunking: sum of chunk tokens == sum of doc tokens + overlap ×
    (extra chunks), exactly.

Usage: python tools/soak_r4.py  → writes BENCH/SOAK_r04.md + one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from bb_ocr_spark.cache import release_persisted  # noqa: E402
from bb_ocr_spark.session import get_spark  # noqa: E402
from tools.soak_bench import jvm_peak_rss_gb, prepare  # noqa: E402


def main() -> None:
    spark = get_spark("bb_ocr_soak_r4", cores=16, shuffle_partitions=32)
    _, docs_path, emb_path = prepare(spark)
    docs = spark.read.parquet(docs_path)
    emb = spark.read.parquet(emb_path).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )

    results: dict[str, dict] = {}

    def stage(name, fn):
        spark.catalog.clearCache()
        release_persisted()
        t0 = time.monotonic()
        out = fn()
        dt = round(time.monotonic() - t0, 1)
        results[name] = {"sec": dt, "jvm_peak_gb": jvm_peak_rss_gb(), "out": out}
        print(
            f"{name}: {dt}s peak={results[name]['jvm_peak_gb']}GB out={out}",
            flush=True,
        )

    # ---- substring dedup over 25k tiled docs --------------------------
    from bb_ocr_spark.operators.dedup import substring_dedup

    def sub_stage():
        out = substring_dedup(docs, k=8)
        agg = (
            out.withColumn(
                "tile", (F.col("doc_id") / 1_000_000).cast("int")
            )
            .groupBy(F.col("tile") == 0)
            .agg(
                F.sum("n_dup_tokens").alias("dup"),
                F.sum("n_tokens").alias("tot"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        r = {
            ("tile0" if row[0] else "tiles1_4"): {
                "dup_frac": round(row["dup"] / row["tot"], 3),
                "n": row["n"],
            }
            for row in agg
        }
        assert r["tile0"]["dup_frac"] < 0.2, r
        assert r["tiles1_4"]["dup_frac"] > 0.8, r
        return r

    stage("substring_dedup_25k_k8", sub_stage)

    # ---- atomic packing + materialization over 25k docs ---------------
    from bb_ocr_spark.functions.text import token_count_col
    from bb_ocr_spark.operators.packing import (
        assign_shards_atomic,
        materialize_shards,
    )

    def pack_stage():
        w = docs.select(
            "doc_id",
            token_count_col(F.col("text")).cast("bigint").alias("n_tokens"),
        )
        total_tokens = w.agg(F.sum("n_tokens")).collect()[0][0]
        asg = assign_shards_atomic(
            w, budget=5_000, key_col="doc_id", chunk=64, num_buckets=64
        )
        shards = materialize_shards(asg, docs.select("doc_id", "text"))
        row = shards.agg(
            F.count("*").alias("n_shards"),
            F.sum("n_tokens").alias("tok"),
            F.sum(
                (
                    (F.col("n_tokens") > 5_000) & (F.col("n_docs") > 1)
                ).cast("long")
            ).alias("over_budget_multi"),
            F.sum("n_docs").alias("n_docs"),
        ).collect()[0]
        assert row["tok"] == total_tokens, (row["tok"], total_tokens)
        assert row["over_budget_multi"] == 0
        assert row["n_docs"] == docs.count()
        return {"n_shards": row["n_shards"], "tokens": int(row["tok"])}

    stage("atomic_pack_materialize_25k", pack_stage)

    # ---- BM25 over 25k docs -------------------------------------------
    from bb_ocr_spark.operators.search import bm25_topk

    def bm25_stage():
        q = spark.createDataFrame(
            [(1, "table scan fast"), (2, "customer order stream"),
             (3, "hash join merge"), (4, "slow window"),
             (5, "tile1 marker alpha")],
            "query_id long, query string",
        )
        out = bm25_topk(docs, q, k=10).collect()
        per_q = {}
        for r in out:
            per_q.setdefault(r["query_id"], []).append(r)
        assert all(len(v) == 10 for v in per_q.values())
        # the tile-marker query must rank tile-1 docs on top
        assert all(
            1_000_000 <= r["doc_id"] < 2_000_000 for r in per_q[5]
        ), per_q[5][:3]
        return {"rows": len(out)}

    stage("bm25_25k", bm25_stage)

    # ---- PQ over 10k tiled embeddings ---------------------------------
    from bb_ocr_spark.operators.similarity import (
        pq_topk,
        train_pq_codebooks,
    )

    def pq_stage():
        books = train_pq_codebooks(emb, m=8, ksub=16)
        queries = emb.filter(F.col("vec_id") < 20)  # tile-0 vectors
        out = pq_topk(emb, queries, books, k=4).collect()
        got = {}
        for r in out:
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
        # scaled twins normalize to the same unit vector → top-4 = the 4
        # other tiles of the same base id
        twin_hits = sum(
            len(
                got[q]
                & {q + t * 1_000_000 for t in range(1, 5)}
            )
            for q in got
        )
        recall = twin_hits / (4 * len(got))
        assert recall == 1.0, recall
        return {"queries": len(got), "twin_recall": recall}

    stage("pq_topk_10k", pq_stage)

    # ---- chunking over 25k docs ---------------------------------------
    from bb_ocr_spark.functions.text import chunk_documents, tokens_col

    def chunk_stage():
        chunk, overlap = 24, 8
        ch = chunk_documents(docs, chunk=chunk, overlap=overlap)
        got = ch.groupBy().agg(
            F.sum("n_tokens").alias("tok"),
            F.count("*").alias("n_chunks"),
            F.countDistinct("doc_id").alias("n_docs"),
        ).collect()[0]
        base = docs.select(
            F.size(tokens_col(F.col("text"))).alias("n")
        ).agg(F.sum("n").alias("tok"), F.count("*").alias("n_docs")).collect()[0]
        # every chunk past the first in a doc re-counts `overlap` tokens
        expected = base["tok"] + overlap * (got["n_chunks"] - got["n_docs"])
        assert got["tok"] == expected, (got["tok"], expected)
        assert got["n_docs"] == base["n_docs"]
        return {"n_chunks": int(got["n_chunks"]), "tokens": int(got["tok"])}

    stage("chunk_docs_25k", chunk_stage)

    lines = [
        "# SOAK — round 4 (new operators at 5x driver-bench scale)\n",
        "Corpora: tools/soak_bench.py's 25k tiled documents (tiles = "
        "near-dups of tile 0 with distinct 3-token tails) and 10k tiled "
        "embeddings (tiles = scalar multiples — unit-normalized "
        "identical). local[16], 32 shuffle partitions, default heap. "
        "Peak memory = JVM VmHWM (cumulative high-water mark). Every "
        "stage asserts a planted cross-validation invariant inline — a "
        "failed invariant fails the soak, so the numbers below are "
        "evidence of correct output at scale, not just survival.\n",
        "| stage | wall (s) | JVM peak RSS (GB) | output |",
        "|---|---|---|---|",
    ]
    for name, r in results.items():
        lines.append(
            f"| {name} | {r['sec']} | {r['jvm_peak_gb']} | {r['out']} |"
        )
    lines += [
        "",
        "Invariants held: tile-0 docs kept >80% of tokens under substring "
        "dedup while tile 1-4 copies lost >80%; token totals conserved "
        "through atomic packing + shard materialization with zero "
        "over-budget multi-doc shards; the tile-marker BM25 query ranked "
        "only tile-1 docs; PQ retrieved every scaled twin at top-4 "
        "(recall 1.0); chunk token totals matched the overlap-counting "
        "identity exactly.",
    ]
    with open(os.path.join(REPO, "BENCH", "SOAK_r04.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(json.dumps({k: v["sec"] for k, v in results.items()}))
    spark.stop()


if __name__ == "__main__":
    main()

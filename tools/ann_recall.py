"""Recall@k of every ANN tier vs exact brute-force cosine, side by side.

The oracle gate proves each tier computes ITS OWN rule exactly; this
report puts on record how much retrieval quality each approximation
trades for its scan reduction (VERDICT r4 item #7). Ground truth is
brute_force_topk over the same corpus; recall@k for a query is
|approx_topk ∩ exact_topk| / k, averaged over all queries. Models
(IVF centroids, PQ codebooks, residual codebooks) train on the
canonical model dir exactly as the driver queries do.

Usage: python tools/ann_recall.py [sf_dir] [k] [n_queries]
Prints a markdown table (paste into BENCH/ANN_RECALL_r{N}.md).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main(sf_dir: str, k: int = 10, n_queries: int = 50) -> None:
    import __spark_entry__ as E
    from bb_ocr_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        ivfpq_topk,
        ivfpq_topk_residual,
        lsh_topk,
        pq_topk,
    )
    from bb_ocr_spark.session import get_spark

    spark = get_spark("ann_recall", cores=8)
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n_corpus = emb.count()
    queries = emb.filter(F.col("vec_id") < n_queries)
    model_dir = E._ivf_model_dir()
    cents, books, res_books = E._ann_model(model_dir)

    def topk_sets(df):
        rows = df.select("query_id", "vec_id").collect()
        out: dict[int, set] = {}
        for r in rows:
            out.setdefault(r["query_id"], set()).add(r["vec_id"])
        return out

    exact = topk_sets(brute_force_topk(emb, queries, k=k))

    tiers = {
        "lsh (10 planes, probe 2)": lambda: lsh_topk(
            emb, queries, dim=64, k=k, n_planes=10, n_probe=2
        ),
        "ivf (16 lists, probe 4)": lambda: ivf_topk(
            emb, queries, cents, k=k, n_probe=4
        ),
        "pq (m=8, ksub=16)": lambda: pq_topk(emb, queries, books, k=k),
        "ivfpq (direct)": lambda: ivfpq_topk(
            emb, queries, cents, books, k=k, n_probe=4
        ),
        "ivfpq (residual/IVFADC)": lambda: ivfpq_topk_residual(
            emb, queries, cents, res_books, k=k, n_probe=4
        ),
    }
    print(
        f"## Driver-config tiers on the gate corpus (isotropic embeddings)\n"
    )
    print(f"corpus={n_corpus} vectors (dim 64), {len(exact)} queries, k={k}")
    print(f"models trained on {model_dir} (the driver queries' canonical dir)\n")
    print("| tier | recall@k | mean hits | wall (s) |")
    print("|---|---|---|---|")
    for name, fn in tiers.items():
        t0 = time.time()
        got = topk_sets(fn())
        wall = time.time() - t0
        hits = [len(got.get(q, set()) & exact[q]) for q in exact]
        recall = sum(hits) / (k * len(exact))
        print(
            f"| {name} | {recall:.3f} | {sum(hits) / len(hits):.2f}/{k} "
            f"| {wall:.2f} |"
        )
    structured_report(spark, k=3, mode="twins")
    structured_report(spark, k=3, mode="clustered")
    spark.stop()


def structured_report(spark, k: int = 3, mode: str = "twins") -> None:
    """Same tiers on a PLANTED-NEIGHBOR corpus, models trained on the
    corpus itself — the regime quantized ANN is built for; the testdata
    embeddings are pure isotropic noise, where all cosines concentrate
    near 0 and ANY quantizer's ranking washes out, so the first table is
    a noise-floor reading, not a quality ranking.

    mode="twins": isotropic queries + twins + isotropic distractors —
    coarse clusters are LOOSE (mean residual norm^2 ~ 2 > 1 on the unit
    sphere), so residual encoding quantizes a BIGGER ball than direct
    encoding at the same bit budget and loses recall (verified against
    an independent numpy IVFADC reference: direct 1.0 vs residual 0.93
    under this generator — the Spark ordering matches, it is the data,
    not the implementation).
    mode="clustered": everything near 16 true centers (mean residual
    norm^2 ~ 0.8 < 1) — the classical IVFADC regime, residual wins.
    The pair documents the crossover rule: prefer residual encoding iff
    the coarse quantizer's residual norm is below the ambient norm."""
    import numpy as np

    from bb_ocr_spark.operators.similarity import (
        ivf_topk,
        ivfpq_topk,
        ivfpq_topk_residual,
        lsh_topk,
        pq_topk,
        train_centroids,
        train_pq_codebooks,
        train_residual_codebooks,
    )

    rng = np.random.RandomState(31)
    n_q, dim, n_noise = 100, 64, 3000
    if mode == "clustered":
        centers = rng.randn(16, dim)
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        qs = centers[rng.randint(16, size=n_q)] + 0.15 * rng.randn(n_q, dim)
        twin_noise = 0.1
        noise_vec = lambda: centers[rng.randint(16)] + 0.15 * rng.randn(dim)  # noqa: E731
    else:
        qs = rng.randn(n_q, dim)
        twin_noise = 0.4
        noise_vec = lambda: rng.randn(dim)  # noqa: E731
    rows, qrows = [], []
    vid = 10_000
    for i, base in enumerate(qs):
        qrows.append((i, [float(v) for v in base]))
        for _ in range(3):
            rows.append(
                (vid, [float(v) for v in base + twin_noise * rng.randn(dim)])
            )
            vid += 1
    for _ in range(n_noise):
        rows.append((vid, [float(v) for v in noise_vec()]))
        vid += 1
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    queries = spark.createDataFrame(
        qrows, "vec_id long, embedding array<double>"
    )
    planted = {i: {10_000 + 3 * i + j for j in range(3)} for i in range(n_q)}

    cents = train_centroids(corpus, n_centroids=16)
    books = train_pq_codebooks(corpus, m=8, ksub=16)
    res_books = train_residual_codebooks(corpus, cents, m=8, ksub=16)

    tiers = {
        "lsh (10 planes, probe 2)": lambda: lsh_topk(
            corpus, queries, dim=dim, k=k, n_planes=10, n_probe=2
        ),
        "ivf (16 lists, probe 4)": lambda: ivf_topk(
            corpus, queries, cents, k=k, n_probe=4
        ),
        "pq (m=8, ksub=16)": lambda: pq_topk(corpus, queries, books, k=k),
        "ivfpq (direct)": lambda: ivfpq_topk(
            corpus, queries, cents, books, k=k, n_probe=4
        ),
        "ivfpq (residual/IVFADC)": lambda: ivfpq_topk_residual(
            corpus, queries, cents, res_books, k=k, n_probe=4
        ),
    }
    print(
        f"\n## Planted-neighbor corpus, mode={mode} "
        f"({n_q} queries x 3 twins + {n_noise} distractors, models "
        f"trained on-corpus, k={k})\n"
    )
    print("| tier | planted recall@3 | wall (s) |")
    print("|---|---|---|")
    for name, fn in tiers.items():
        t0 = time.time()
        rows_out = fn().select("query_id", "vec_id").collect()
        wall = time.time() - t0
        got: dict[int, set] = {}
        for r in rows_out:
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
        hits = sum(len(planted[q] & got.get(q, set())) for q in planted)
        print(f"| {name} | {hits / (3 * n_q):.3f} | {wall:.2f} |")


if __name__ == "__main__":
    main(
        sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1",
        int(sys.argv[2]) if len(sys.argv) > 2 else 10,
        int(sys.argv[3]) if len(sys.argv) > 3 else 50,
    )

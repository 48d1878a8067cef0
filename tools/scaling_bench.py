"""Scaling-efficiency evidence: the identical extraction job at local[N]
vs local[4N] (fresh JVM each), same input, throughput at both + efficiency.

No real multi-node cluster exists in this sandbox (BASELINE.md), so the
north-rule's N→4N executor criterion is evidenced by parallelism scaling on
one box: efficiency = (T_N / T_4N) / 4.

Usage: python tools/scaling_bench.py [n_small] [n_docs]
Writes/updates BENCH/BASELINE.md and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER = r"""
import sys, time, json
sys.path.insert(0, {repo!r})
from bb_ocr_spark.session import get_spark
from bb_ocr_spark.operators.extract import extract_inline, checksum_spans_col
from bb_ocr_spark.operators.assemble import assemble_spans, explode_spans, filter_spans
from pyspark.sql import functions as F

cores = int(sys.argv[1]); path = sys.argv[2]
# Split-quantization was TESTED as a cause of sub-0.8 efficiency and
# ruled out (BENCH/BASELINE.md 2026-08-18): forcing one split per file
# (32 clean full-width waves at both levels via maxPartitionBytes=4m,
# shuffle_partitions=4x cores) measured 0.686/0.701 — no better than
# the default layout's 0.709/0.795 in the same hour. The default
# session config is therefore kept.
spark = get_spark(f"scale_{{cores}}", cores=cores, shuffle_partitions=cores)
df = spark.read.parquet(path)
def job():
    # zero-shuffle extraction (the headline narrow map)
    out = extract_inline(df).withColumn("ck", checksum_spans_col(F.col("spans")))
    return out.selectExpr("bit_xor(ck) as x", "count(*) as n").collect()[0]
def job_shuffle():
    # exploded-span reassembly: a REAL shuffle on doc_id, mega-doc tail
    # included — evidences that shuffle scaling also holds
    out = assemble_spans(filter_spans(explode_spans(df))).withColumn(
        "ck", checksum_spans_col(F.col("spans")))
    return out.selectExpr("bit_xor(ck) as x", "count(*) as n").collect()[0]
job(); job_shuffle()  # full warm-up: JIT-compile the actual codegen + page cache
best = sbest = None; row = srow = None
for _ in range(3):  # min-of-3: this sandbox host has high timing variance
    t0 = time.monotonic(); row = job(); dt = time.monotonic() - t0
    best = dt if best is None or dt < best else best
    t0 = time.monotonic(); srow = job_shuffle(); dt = time.monotonic() - t0
    sbest = dt if sbest is None or dt < sbest else sbest
print(json.dumps({{"cores": cores, "sec": round(best, 3), "n": row["n"],
                   "checksum": row["x"], "sec_shuffle": round(sbest, 3),
                   "n_shuffle": srow["n"], "checksum_shuffle": srow["x"]}}))
spark.stop()
"""


def run_at(cores: int, path: str) -> dict:
    script = WORKER.format(repo=REPO)
    out = subprocess.run(
        [sys.executable, "-c", script, str(cores), path],
        capture_output=True,
        text=True,
        timeout=1200,
        check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    n_small = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 20000
    from bb_ocr_spark.datagen import DATAGEN_VERSION  # noqa: PLC0415

    path = f"/tmp/bb_ocr_bench/spans_v{DATAGEN_VERSION}_{n_docs}"
    if not os.path.isdir(path):
        from bb_ocr_spark.session import get_spark  # noqa: PLC0415
        from bb_ocr_spark import datagen  # noqa: PLC0415

        sys.path.insert(0, REPO)
        spark = get_spark("scale_gen", cores=os.cpu_count())
        datagen.write_parquet(spark, n_docs, path)
        spark.stop()

    # interleave levels across rounds and take the min per level: host
    # contention on this sandbox comes in multi-minute bursts, so paired
    # adjacent runs are the only way to get comparable numbers
    rounds = int(os.environ.get("BB_SCALE_ROUNDS", "3"))
    small, big = None, None
    for _ in range(rounds):
        s = run_at(n_small, path)
        b = run_at(n_small * 4, path)
        if small is None or s["sec"] < small["sec"]:
            small = s
        if big is None or b["sec"] < big["sec"]:
            big = b
    assert small["checksum"] == big["checksum"], "results differ across parallelism!"
    assert small["checksum_shuffle"] == big["checksum_shuffle"], (
        "shuffle-path results differ across parallelism!")
    thr_small = small["n"] / small["sec"]
    thr_big = big["n"] / big["sec"]
    eff = (small["sec"] / big["sec"]) / 4
    eff_sh = (small["sec_shuffle"] / big["sec_shuffle"]) / 4
    result = {
        "n_docs": small["n"],
        "cores_small": n_small,
        "cores_big": n_small * 4,
        "sec_small": small["sec"],
        "sec_big": big["sec"],
        "docs_per_sec_small": round(thr_small, 1),
        "docs_per_sec_big": round(thr_big, 1),
        "scaling_efficiency": round(eff, 3),
        "shuffle_sec_small": small["sec_shuffle"],
        "shuffle_sec_big": big["sec_shuffle"],
        "shuffle_scaling_efficiency": round(eff_sh, 3),
        "checksum_equal": True,
    }
    print(json.dumps(result))

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    md = os.path.join(REPO, "BENCH", "BASELINE.md")
    stamp = time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime())
    with open(md, "a") as f:
        f.write(
            f"\n## Scaling run {stamp} UTC\n\n"
            f"Flagship extraction (`extract_inline` + checksum) over "
            f"{small['n']} interleaved docs (incl. mega-doc skew tail), "
            f"identical input and job at two parallelism levels, fresh JVM "
            f"each (sandbox stand-in for N vs 4N executors; no real cluster "
            f"available). Wall time is min-of-3 warm runs per level — this "
            f"host's timing variance is ~2x run-to-run. Host calibration: a "
            f"pure-CPU probe (multiprocessing sha256) scales 2->8 procs at "
            f"~0.93 efficiency but <0.45 beyond 8 — the VM does not back all "
            f"32 vCPUs — so N=2 vs 4N=8 is the largest honest ratio this "
            f"sandbox can evidence:\n\n"
            f"| cores | wall (s) | docs/sec |\n|---|---|---|\n"
            f"| local[{n_small}] | {small['sec']} | {thr_small:.1f} |\n"
            f"| local[{n_small * 4}] | {big['sec']} | {thr_big:.1f} |\n\n"
            f"**Scaling efficiency = (T_{n_small} / T_{n_small * 4}) / 4 = "
            f"{eff:.3f}** (target >= 0.8). Output checksums identical at "
            f"both levels.\n\n"
            f"Shuffle path (exploded-span reassembly, a real "
            f"doc_id shuffle): local[{n_small}] {small['sec_shuffle']}s vs "
            f"local[{n_small * 4}] {big['sec_shuffle']}s -> efficiency "
            f"**{eff_sh:.3f}**; checksums identical.\n"
        )


if __name__ == "__main__":
    sys.path.insert(0, REPO)
    main()

"""CPU s per op of the driver, its JVM and its Python workers by thread name
(digits folded to N), diffed from /proc/<pid>/task/*/stat: Spark's task
metrics miss driver, JIT, GC and Python-worker CPU. "(ended)" holds threads
that exited. `python3 tools/cpu_by_thread.py [ops]` times a resumed
`run_extract_job` over 10k generated docs (those ending in 0-8 committed,
restored before each op) after 3 warm-up ops."""

from __future__ import annotations

import os
import re
import shutil
import sys
import tempfile
from collections import Counter
from contextlib import suppress
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from perfbench.procs import process_tree  # noqa: E402


def _read(path: str, field: slice | None = None):
    with open(path) as f:
        text = f.read()
    return text.strip() if field is None else text[text.rindex(")") + 2 :].split()[field]


def sample(root: int) -> Counter:
    """CPU ticks (utime + stime) by (process, thread name) over `root`'s tree."""
    out: Counter = Counter()
    for pid in process_tree(root):
        with suppress(OSError):  # the process ended while it was read
            comm = _read(f"/proc/{pid}/comm")
            proc = "driver" if pid == root else "python worker" if "python" in comm else comm
            out[proc, "(ended)"] += sum(map(int, _read(f"/proc/{pid}/stat", slice(11, 13))))
            for tid in os.listdir(f"/proc/{pid}/task"):
                ticks = sum(map(int, _read(f"/proc/{pid}/task/{tid}/stat", slice(11, 13))))
                out[proc, re.sub(r"\d+", "N", _read(f"/proc/{pid}/task/{tid}/comm"))] += ticks
                out[proc, "(ended)"] -= ticks
    return out


def cpu_by_thread(op, ops: int, before=lambda: None) -> dict[tuple[str, str], float]:
    """{(process, thread name): mean CPU s per op}; `before` runs untimed."""
    total: Counter = Counter()
    for _ in range(ops):
        before()
        start = sample(os.getpid())
        op()
        total.update(sample(os.getpid()))
        total.subtract(start)
    return {k: v / os.sysconf("SC_CLK_TCK") / ops for k, v in total.most_common()}


if __name__ == "__main__":
    from bb_ocr_spark import datagen, session
    from bb_ocr_spark.plans.extract_job import run_extract_job

    spark = session.get_spark("cpu-by-thread", cores=4)
    with tempfile.TemporaryDirectory() as work:
        out, seed = f"{work}/out", f"{work}/seed"
        datagen.generate_df(spark, 10_000, partitions=4).write.parquet(f"{work}/corpus")
        corpus = spark.read.parquet(f"{work}/corpus")
        for upto in "89":
            run_extract_job(spark, corpus.filter(f"right(doc_id, 1) < '{upto}'"), seed)
        restore = lambda: shutil.rmtree(out, True) or shutil.copytree(seed, out)  # noqa: E731
        for n in (3, int(sys.argv[1]) if len(sys.argv) > 1 else 6):  # warm-up, measured
            rows = cpu_by_thread(partial(run_extract_job, spark, corpus, out), n, restore)
    spark.stop()
    procs = Counter(dict.fromkeys(("driver", "java", "python worker"), 0.0))
    for (proc, _), s in rows.items():
        procs[proc] += s
    print("| process | thread | CPU s/op |\n| --- | --- | --- |")
    print("\n".join(f"| {p} | {n} | {s:.3f} |" for (p, n), s in rows.items() if abs(s) >= 0.005))
    print("\n".join(f"| **{p}** | all | **{s:.3f}** |" for p, s in procs.items()))

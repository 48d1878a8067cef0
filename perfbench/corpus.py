"""Seeded interleaved-spans corpus and its oracle sample.

The seed picks which contiguous range of doc indexes is fed to
`datagen.gen_doc`; every range holds the same mix (a mega-doc at each
`i % 1000 == 7`, edge classes at `i % 97 in {3, 5}` and `i % 53 == 11`), so
seeds change the rows but not the shape of the work. The corpus is written
by pyarrow as a fixed number of files with one row group each, so its layout
does not follow the core count of the machine that builds it. Generation
runs in a fixed number of worker processes, started with `subprocess` and
waited for, so none outlives the build (a `multiprocessing` pool would leave
its resource-tracker process running until the interpreter exits).

    python3 -m perfbench.corpus <tasks.pkl> <kept.pkl>

is one worker: it writes the files listed in `tasks.pkl` and pickles the
kept docs' spans to `kept.pkl`.
"""

from __future__ import annotations

import os
import pickle
import random
import shutil
import subprocess
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

from bb_ocr_spark import datagen, oracle

N_DOCS = 10_000
N_FILES = 16
GEN_PROCS = 4

SPAN_TYPE = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN_TYPE))])


def first_doc(seed: int) -> int:
    """Start of the seed's doc-index range (ranges of distinct seeds below
    1000 do not overlap; doc ids stay nine digits)."""
    return 1_000_000 + (seed % 1000) * 100_000


def sample_indexes(seed: int, lo: int, n: int = N_DOCS) -> list[int]:
    """Every mega-doc and edge-class doc in the range, plus 1% at random."""
    picked = {
        i
        for i in range(lo, lo + n)
        if i % 1000 == 7 or i % 97 in (3, 5) or i % 53 == 11
    }
    picked.update(random.Random(f"perfbench:{seed}").sample(range(lo, lo + n), n // 100))
    return sorted(picked)


def _columnar(docs: list[tuple[str, list[dict]]]) -> pa.Table:
    kinds, texts, refs, offsets, bounds = [], [], [], [], [0]
    for _, spans in docs:
        for s in spans:
            kinds.append(s["kind"])
            texts.append(s["text"])
            refs.append(s["media_ref"])
            offsets.append(s["offset"])
        bounds.append(len(kinds))
    span_arr = pa.StructArray.from_arrays(
        [
            pa.array(kinds, pa.string()),
            pa.array(texts, pa.string()),
            pa.array(refs, pa.string()),
            pa.array(offsets, pa.int32()),
        ],
        fields=list(SPAN_TYPE),
    )
    return pa.table(
        {
            "doc_id": pa.array([d for d, _ in docs], pa.string()),
            "spans": pa.ListArray.from_arrays(pa.array(bounds, pa.int32()), span_arr),
        },
        schema=SCHEMA,
    )


def _write_file(task: tuple[str, int, int, frozenset[int]]) -> dict[str, list[dict]]:
    """Generate docs [lo, hi) into one single-row-group file; return the
    spans of the docs whose index is in `keep`."""
    path, lo, hi, keep = task
    docs = [datagen.gen_doc(i) for i in range(lo, hi)]
    pq.write_table(_columnar(docs), path, row_group_size=len(docs))
    with open(path, "rb") as f:  # page-cache warm for the timed reads
        while f.read(1 << 22):
            pass
    return {did: spans for i, (did, spans) in zip(range(lo, hi), docs) if i in keep}


def _worker(tasks_path: str, kept_path: str) -> None:
    with open(tasks_path, "rb") as f:
        tasks = pickle.load(f)
    kept: dict[str, list[dict]] = {}
    for task in tasks:
        kept.update(_write_file(task))
    with open(kept_path, "wb") as f:
        pickle.dump(kept, f)


def build(path: str, lo: int, keep: frozenset[int], n: int = N_DOCS) -> tuple[float, dict]:
    """Write docs [lo, lo + n) as N_FILES single-row-group parquet files
    with GEN_PROCS worker processes (file k goes to worker k % GEN_PROCS).

    Returns (seconds taken, {doc_id: spans} for the indexes in `keep`)."""
    t0 = time.monotonic()
    os.makedirs(path)
    scratch = path + ".gen"
    os.makedirs(scratch)
    bounds = [lo + n * k // N_FILES for k in range(N_FILES + 1)]
    tasks = [
        (
            os.path.join(path, f"part-{k:05d}.parquet"),
            bounds[k],
            bounds[k + 1],
            frozenset(i for i in keep if bounds[k] <= i < bounds[k + 1]),
        )
        for k in range(N_FILES)
    ]
    procs: list[subprocess.Popen] = []
    try:
        for w in range(GEN_PROCS):
            tasks_path = os.path.join(scratch, f"tasks-{w}.pkl")
            with open(tasks_path, "wb") as f:
                pickle.dump(tasks[w::GEN_PROCS], f)
            procs.append(
                subprocess.Popen(
                    [sys.executable, "-m", "perfbench.corpus", tasks_path,
                     os.path.join(scratch, f"kept-{w}.pkl")]
                )
            )
        codes = [p.wait() for p in procs]
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
    if any(codes):
        raise RuntimeError(f"corpus workers exited with {codes}")
    kept: dict[str, list[dict]] = {}
    for w in range(GEN_PROCS):
        with open(os.path.join(scratch, f"kept-{w}.pkl"), "rb") as f:
            kept.update(pickle.load(f))
    shutil.rmtree(scratch)
    return time.monotonic() - t0, kept


def oracle_sequences(docs: dict[str, list[dict]]) -> dict[str, list[tuple]]:
    return {did: oracle.extract_doc(spans) for did, spans in docs.items()}


if __name__ == "__main__":
    _worker(*sys.argv[1:])

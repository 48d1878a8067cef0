"""Extraction benchmark: one workload per invocation, one JSON line out.

    python3 perfbench/run.py --workload extract_resume --seed 1 --seconds 6 --trace 0

Run from the root of a source checkout. Everything the run writes (corpus,
job output, Spark scratch and event logs) lives under `.perfbench_work/`
in that checkout and is removed at exit.

Workloads (local[4], one driver process):

* extract_resume: `run_extract_job` over a seeded 10k-doc corpus and an
  output directory restored before each operation to two committed runs
  that cover the docs whose index ends in 0-8; the timed run extracts the
  last tenth.
* assemble_exploded: `explode_spans -> filter_spans -> assemble_spans` over
  the same corpus, forced with count(*) and sum(size(spans)).
* extract_cold: `run_extract_job` into an empty output directory. Not in
  BENCHMARK.json (see perfbench/NOTES.md); run it by name.

`--trace 0` prints the end-to-end metrics: the median CPU time of one
operation (driver, JVM and Python workers), docs per CPU-second, the oracle
match rate and the set-up time. `--trace 1` runs the same operations
untraced, then again in a second SparkContext with the event log on,
call-window wrappers installed and the RSS sampler running, and prints the
per-layer metrics, the fastest untraced operation's wall time and the
tracing overhead. Every operation's output is checked; a failed check fails
the command. Every process the run starts is ended and waited for before it
exits, on every path out.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

_T0 = time.monotonic()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
MIN_OPS = 3
CORPUS_BUILDS = 2


def log(msg: str) -> None:
    """Progress on stderr; stdout carries only the result line."""
    print(f"[perfbench {time.monotonic() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _fmt(values) -> str:
    return ", ".join(f"{v:.3f}" for v in values)


def _prepare_env() -> None:
    """Point every scratch location of Python, PySpark and the JVM inside WORK."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["BB_OCR_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # the workers PySpark forks must import the checkout's package
    sys.path.insert(0, ROOT)


def _spark_conf(event_log: str | None) -> dict[str, str]:
    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_log:
        os.makedirs(event_log)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------


class Workload:
    """One kind of timed operation over the seeded corpus.

    `op` is the timed call; everything else is untimed. `check` inspects
    one operation's result without running Spark jobs (apart from the
    reference, computed once); `final_check` runs the Spark-side checks on
    the last operation's output and returns its sampled docs for the oracle
    comparison."""

    # untimed operations before the first timed one: the first pays for
    # compiling the generated code, and the CPU time of an operation keeps
    # falling (JIT, heap growth) for about four more
    warmup_ops = 4

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.out = os.path.join(WORK, "out")

    def prepare(self) -> None:
        """Untimed work before the first operation: the warm-up operations."""
        for _ in range(self.warmup_ops):
            self.before_op()
            self.op()

    def before_op(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def op(self):
        raise NotImplementedError

    def docs(self, result) -> int:
        raise NotImplementedError

    def check(self, result) -> list[str]:
        raise NotImplementedError

    def final_check(self) -> dict[str, list[tuple]]:
        raise NotImplementedError

    def layers(self, log, tracer, rep: int) -> dict:
        raise NotImplementedError


class ExtractCold(Workload):
    """`run_extract_job` into an empty output directory."""

    def op(self):
        from bb_ocr_spark.plans.extract_job import run_extract_job

        return run_extract_job(self.ctx.spark, self.ctx.corpus, self.out)

    def docs(self, result) -> int:
        return result["n_docs"]

    def check(self, result) -> list[str]:
        from bb_ocr_spark.plans.snapshots import current_snapshot

        self.last = result
        snap = current_snapshot(self.out)
        problems = []
        if result["n_docs"] != self.ctx.n_docs:
            problems.append(f"committed {result['n_docs']} of {self.ctx.n_docs} docs")
        if snap["run_checksum"] != self.ctx.reference()["checksum"]:
            problems.append("run checksum differs from the direct extraction")
        return problems

    def final_check(self) -> dict[str, list[tuple]]:
        """Lineage rows of the last run sum to its docs and XOR to its
        snapshot checksum; every doc_id is committed exactly once."""
        from pyspark.sql import functions as F

        from bb_ocr_spark.plans.extract_job import read_metrics, read_results
        from bb_ocr_spark.plans.snapshots import current_snapshot

        spark, n = self.ctx.spark, self.ctx.n_docs
        lineage = (
            read_metrics(spark, self.out)
            .filter(F.col("run_id") == self.last["run_id"])
            .agg(F.sum("n_docs"), F.expr("bit_xor(checksum)"))
            .collect()[0]
        )
        if tuple(lineage) != (self.last["n_docs"], current_snapshot(self.out)["run_checksum"]):
            self.ctx.problems.append(f"lineage rows (n_docs, checksum) {tuple(lineage)} disagree")
        results = read_results(spark, self.out)
        ids = results.agg(F.count("*"), F.countDistinct("doc_id")).collect()[0]
        if tuple(ids) != (n, n):
            self.ctx.problems.append(f"{ids[0]} rows, {ids[1]} distinct ids for {n} docs")
        rows = (
            results.filter(F.col("doc_id").isin(list(self.ctx.oracle)))
            .select("doc_id", "spans")
            .collect()
        )
        return {r.doc_id: [tuple(s) for s in r.spans] for r in rows}

    def layers(self, log, tracer, rep: int) -> dict:
        from perfbench.tracing import extract_job_layers

        return extract_job_layers(log, tracer, rep, self.ctx.n_docs)


class ExtractResume(ExtractCold):
    """`run_extract_job` over an output directory holding committed runs
    for the docs whose index ends in 0-8; the timed run extracts the tenth
    ending in 9.

    The split follows the doc index (the last digit of the doc_id), not a
    hash, so every seed resumes the same mix: exactly a tenth of the docs
    and no mega-doc (those end in 7). A hash bucket holds 0-3 mega-docs
    depending on the seed."""


    warmup_ops = 3  # after two seeding runs of the same job

    def __init__(self, ctx: Context):
        super().__init__(ctx)
        self.seeded = os.path.join(WORK, "seeded")

    def prepare(self) -> None:
        """Commit digits 0-8 in two runs of the job (0-7 into an empty
        directory, then 8 resuming over them), kept as a pristine copy."""
        from pyspark.sql import functions as F

        from bb_ocr_spark.plans.extract_job import run_extract_job

        digit = F.substring("doc_id", -1, 1).cast("int")
        for upto in (8, 9):
            run_extract_job(self.ctx.spark, self.ctx.corpus.filter(digit < upto), self.seeded)
        super().prepare()

    def before_op(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        shutil.copytree(self.seeded, self.out)

    def check(self, result) -> list[str]:
        import glob

        from bb_ocr_spark.plans.snapshots import current_snapshot

        self.last = result
        n = self.ctx.n_docs
        problems = []
        if result["resumed_skipped"] + result["n_docs"] != n:
            problems.append("skipped + extracted docs != corpus docs")
        snap = current_snapshot(self.out)
        if snap["n_docs_total"] != n or len(snap["run_ids"]) != 3:
            problems.append("snapshot chain does not cover the three runs")
        xor = 0
        for path in glob.glob(os.path.join(self.out, "snapshots", "snap-*.json")):
            with open(path) as f:
                xor ^= json.load(f)["run_checksum"]
        if xor != self.ctx.reference()["checksum"]:
            problems.append("manifest checksums do not XOR to the cold-run checksum")
        return problems


class AssembleExploded(Workload):
    """explode_spans -> filter_spans -> assemble_spans, forced by one
    aggregate."""

    def _assembled(self):
        from bb_ocr_spark.operators.assemble import (
            assemble_spans,
            explode_spans,
            filter_spans,
        )

        return assemble_spans(filter_spans(explode_spans(self.ctx.corpus)))

    def op(self):
        return tuple(self._assembled().selectExpr("count(*)", "sum(size(spans))").collect()[0])

    def docs(self, result) -> int:
        return result[0]

    def check(self, result) -> list[str]:
        ref = self.ctx.reference()
        want = (ref["nonempty_docs"], ref["kept_spans"])
        return [] if result == want else [f"assembled (docs, spans) {result} != {want}"]

    def final_check(self) -> dict[str, list[tuple]]:
        """Every doc's checksum equals the inline extraction's (docs with no
        kept span are absent from the assembly): the XOR of
        xxhash64(doc_id, checksum) over the docs matches the reference's.
        One aggregation gives that XOR and the sampled docs' spans."""
        from pyspark.sql import functions as F

        from bb_ocr_spark.operators.extract import checksum_spans_col

        sampled = F.col("doc_id").isin(list(self.ctx.oracle))
        doc_xor, rows = (
            self._assembled()
            .agg(
                _doc_checksum_xor(checksum_spans_col(F.col("spans"))),
                F.collect_list(F.when(sampled, F.struct("doc_id", "spans"))),
            )
            .collect()[0]
        )
        if doc_xor != self.ctx.reference()["doc_checksum_xor"]:
            self.ctx.problems.append("assembled per-doc checksums differ from extraction")
        out = {did: [] for did in self.ctx.oracle}
        out.update((r.doc_id, [tuple(s) for s in r.spans]) for r in rows)
        return out

    def layers(self, log, tracer, rep: int) -> dict:
        from perfbench.tracing import assemble_layers

        return assemble_layers(log, tracer, rep)


def _doc_checksum_xor(ck, where=None):
    """XOR of xxhash64(doc_id, span checksum `ck`) over the docs (matching
    `where`): equal on two outputs iff, up to hash collisions, they hold the
    same docs with the same span sequences."""
    from pyspark.sql import functions as F

    h = F.xxhash64("doc_id", ck)
    return F.bit_xor(h if where is None else F.when(where, h))


WORKLOADS = {
    "extract_cold": ExtractCold,
    "extract_resume": ExtractResume,
    "assemble_exploded": AssembleExploded,
}

# every per-layer metric, with its unit; a workload that does not exercise
# a layer reports 0 for it
LAYER_UNITS = {
    "session.start_s": "s",
    "datagen.corpus_s": "s",
    "bench.prepare_s": "s",
    "process.peak_rss_mb": "MB",
    "bench.wall_s": "s",
    "bench.docs_per_s": "docs/s",
    "host.stolen_share": "ratio",
    "bench.traced_ops": "count",
    "trace.untraced_cpu_s": "s",
    "trace.traced_cpu_s": "s",
    "trace.overhead": "ratio",
    "plans.extract_job.spark_jobs": "count",
    "plans.extract_job.post_write_jobs": "count",
    "plans.extract_job.post_write_s": "s",
    "plans.extract_job.driver_s": "s",
    "plans.extract_job.resume_list_s": "s",
    "plans.extract_job.completed_ids_read": "count",
    "plans.extract_job.antijoin_shuffle_bytes": "bytes",
    "plans.extract_job.output_bytes": "bytes",
    "plans.extract_job.lineage_input_bytes": "bytes",
    "plans.task_metrics.drain_s": "s",
    "plans.snapshots.commit_s": "s",
    "plans.snapshots.manifests": "count",
    "operators.extract.tasks": "count",
    "operators.extract.nonempty_tasks": "count",
    "operators.extract.task_cpu_s": "s",
    "operators.extract.task_run_s": "s",
    "operators.extract.gc_s": "s",
    "operators.extract.skew": "ratio",
    "operators.extract.core_util": "ratio",
    "operators.extract.input_bytes": "bytes",
    "operators.extract.input_records": "count",
    "operators.assemble.stages": "count",
    "operators.assemble.tasks": "count",
    "operators.assemble.task_cpu_s": "s",
    "operators.assemble.gc_s": "s",
    "operators.assemble.shuffle_write_bytes": "bytes",
    "operators.assemble.shuffle_read_bytes": "bytes",
    "operators.assemble.spill_bytes": "bytes",
    "operators.assemble.skew": "ratio",
    "operators.assemble.core_util": "ratio",
}


# --------------------------------------------------------------------------
# driver
# --------------------------------------------------------------------------


class Context:
    """Session, corpus and the checks' shared state for one invocation."""

    def __init__(self, seed: int):
        from perfbench import corpus

        self.lo = corpus.first_doc(seed)
        self.n_docs = corpus.N_DOCS
        self.sample = frozenset(corpus.sample_indexes(seed, self.lo))
        self.spark = None
        self.corpus = None
        self.oracle: dict[str, list[tuple]] = {}
        self.problems: list[str] = []
        self._reference: dict | None = None
        self.jvm = None

    def start_session(self, event_log: str | None = None) -> float:
        from bb_ocr_spark.session import get_spark

        t0 = time.monotonic()
        self.spark = get_spark("perfbench", cores=4, extra_conf=_spark_conf(event_log))
        took = time.monotonic() - t0
        if self.jvm is None:
            from pyspark import SparkContext

            self.jvm = SparkContext._gateway.proc
        return took

    def load_corpus(self, path: str) -> None:
        self.corpus = self.spark.read.parquet(path)

    def reference(self) -> dict:
        """Direct inline extraction over the corpus: checksum XOR, docs with
        a kept span and kept spans (one untimed Spark job, computed once)."""
        if self._reference is None:
            from pyspark.sql import functions as F

            from bb_ocr_spark.operators.extract import checksum_spans_col, extract_inline

            row = (
                extract_inline(self.corpus)
                .select(
                    "doc_id",
                    checksum_spans_col(F.col("spans")).alias("ck"),
                    F.size("spans").alias("n"),
                )
                .agg(
                    F.expr("bit_xor(ck)"),
                    F.count(F.when(F.col("n") > 0, 1)),
                    F.sum("n"),
                    _doc_checksum_xor(F.col("ck"), F.col("n") > 0),
                )
                .collect()[0]
            )
            self._reference = {
                "checksum": row[0],
                "nonempty_docs": row[1],
                "kept_spans": row[2],
                "doc_checksum_xor": row[3],
            }
        return self._reference

    def shutdown(self) -> None:
        """Stop Spark, end the JVM and wait for every process it started."""
        from pyspark import SparkContext

        from perfbench.procs import process_tree, wait_gone

        gateway = SparkContext._gateway
        jvm = self.jvm or (gateway.proc if gateway is not None else None)
        if jvm is None:
            return
        # the JVM's children (PySpark's worker daemon and its workers)
        children = set(process_tree(jvm.pid)) - {jvm.pid}
        try:
            if self.spark is not None:
                self.spark.stop()
            if gateway is not None:
                gateway.shutdown()
        except Exception:
            traceback.print_exc()
        SparkContext._gateway = SparkContext._jvm = None
        self.spark = self.jvm = None
        jvm.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            jvm.wait(timeout=30)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait(timeout=30)
        wait_gone(children)


def _run_ops(ctx: Context, wl: Workload, seconds: float, tracer=None) -> list[dict]:
    """Timed operations until `seconds` have passed (at least MIN_OPS).

    With a tracer, each operation's window is marked as "op". No GC is
    forced, so the JVM keeps the heap it grew, as it would in use."""
    from perfbench.procs import stolen_s, tree_cpu_s
    from perfbench.tracing import now_ms

    ops = []
    t_loop = time.monotonic()
    while len(ops) < MIN_OPS or time.monotonic() - t_loop < seconds:
        wl.before_op()
        if tracer is not None:
            tracer.rep = len(ops)
        cpu0 = tree_cpu_s(os.getpid())
        start_ms, t0, st0 = now_ms(), time.monotonic(), stolen_s()
        result = wl.op()
        wall = time.monotonic() - t0
        stolen = stolen_s() - st0
        cpu = tree_cpu_s(os.getpid()) - cpu0
        end_ms = now_ms()
        if tracer is not None:
            tracer.mark("op", start_ms, end_ms)
        problems = wl.check(result)
        ops.append(
            {
                "wall": wall,
                "stolen": stolen,
                "cpu": cpu,
                "docs": wl.docs(result),
                "problems": problems,
            }
        )
    return ops


def _final_check(ctx: Context, wl: Workload) -> float:
    """Whole-output checks on the last operation; returns the share of
    sampled docs whose span sequence equals the oracle's."""
    got = wl.final_check()
    matched = sum(1 for did, want in ctx.oracle.items() if got.get(did) == want)
    if matched != len(ctx.oracle):
        ctx.problems.append(f"{len(ctx.oracle) - matched} sampled docs differ from the oracle")
    return matched / len(ctx.oracle)


def _build_corpus(ctx: Context) -> tuple[str, list[float]]:
    """Build the corpus CORPUS_BUILDS times (the set-up figure takes the
    median); the last copy is the one the workload reads."""
    from perfbench import corpus

    times, path = [], None
    for k in range(CORPUS_BUILDS):
        if path:
            shutil.rmtree(path)
        path = os.path.join(WORK, f"corpus-{k}")
        took, kept = corpus.build(path, ctx.lo, ctx.sample if k == 0 else frozenset())
        times.append(took)
        if k == 0:
            ctx.oracle = corpus.oracle_sequences(kept)
    return path, times


def run(workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict, list[str]]:
    from perfbench.procs import stolen_s, tree_cpu_s

    ctx = Context(seed)
    stolen0, cpu0 = stolen_s(), tree_cpu_s(os.getpid())
    try:
        session_s = ctx.start_session()
        log(f"session started in {session_s:.2f}s")
        path, corpus_times = _build_corpus(ctx)
        log(f"corpus built in {_fmt(corpus_times)}s")
        ctx.load_corpus(path)
        wl = WORKLOADS[workload](ctx)
        t0 = time.monotonic()
        wl.prepare()
        prepare_s = time.monotonic() - t0
        setup_s = session_s + statistics.median(corpus_times) + prepare_s
        log(
            f"{workload} prepared in {prepare_s:.2f}s; set-up {setup_s:.2f}s,"
            f" {tree_cpu_s(os.getpid()) - cpu0:.2f}s of CPU time,"
            f" {stolen_s() - stolen0:.2f}s of CPU stolen during it"
        )
        ctx.reference()

        ops = _run_ops(ctx, wl, seconds)
        log(f"timed ops: {_fmt(o['wall'] for o in ops)}s")
        log(f"CPU time of the processes: {_fmt(o['cpu'] for o in ops)}s")
        log(f"CPU stolen by the hypervisor during them: {_fmt(o['stolen'] for o in ops)}s")
        match_rate = _final_check(ctx, wl)
        log(f"oracle sample checked, match rate {match_rate}")
        # CPU time, not wall time: CPU stolen by other tenants of the host
        # adds wall time but no CPU time (see perfbench/NOTES.md)
        cpu = statistics.median(o["cpu"] for o in ops)
        if not trace:
            metrics = {
                "cpu_s": (cpu, "s"),
                "docs_per_cpu_s": (
                    statistics.median(o["docs"] / o["cpu"] for o in ops),
                    "docs/cpu_s",
                ),
                "exact_match_rate": (match_rate, "ratio"),
                "setup_s": (setup_s, "s"),
            }
        else:
            # the fastest untraced operation: steal only ever adds wall time
            fastest = min(ops, key=lambda o: o["wall"])
            stolen_share = sum(o["stolen"] for o in ops) / sum(o["wall"] for o in ops)
            metrics, traced = _traced(ctx, wl, path, seconds)
            ops += traced
            metrics.update(
                {
                    "session.start_s": (session_s, "s"),
                    "datagen.corpus_s": (statistics.median(corpus_times), "s"),
                    "bench.prepare_s": (prepare_s, "s"),
                    "bench.wall_s": (fastest["wall"], "s"),
                    "bench.docs_per_s": (fastest["docs"] / fastest["wall"], "docs/s"),
                    "host.stolen_share": (stolen_share, "ratio"),
                    "trace.untraced_cpu_s": (cpu, "s"),
                }
            )
            metrics["trace.overhead"] = (metrics["trace.traced_cpu_s"][0] / cpu - 1.0, "ratio")
    finally:
        ctx.shutdown()
    problems = ctx.problems + [p for o in ops for p in o["problems"]]
    failed = sum(1 for o in ops if o["problems"])
    if ctx.problems and not ops[-1]["problems"]:
        failed += 1  # whole-run checks cover the last operation's output
    return {
        "correct": not problems,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }, problems


def _traced(ctx: Context, wl: Workload, corpus_path: str, seconds: float):
    """Same operations in a fresh SparkContext with the event log on, the
    call wrappers installed and the RSS sampler running."""
    from perfbench.procs import RssSampler
    from perfbench.tracing import EventLog, Tracer

    log_dir = os.path.join(WORK, "eventlog")
    ctx.spark.stop()
    ctx.start_session(event_log=log_dir)
    ctx.load_corpus(corpus_path)
    tracer = Tracer()
    with tracer.installed(), RssSampler(ctx.jvm.pid) as rss:
        ops = _run_ops(ctx, wl, seconds, tracer)
    peak_rss_mb = rss.peak_bytes / 2**20
    log(f"traced ops: {_fmt(o['wall'] for o in ops)}s; rss high-water mark {peak_rss_mb:.1f} MB")
    snaps = os.path.join(wl.out, "snapshots")
    manifests = (
        sum(1 for n in os.listdir(snaps) if n.startswith("snap-")) if os.path.isdir(snaps) else 0
    )
    ctx.spark.stop()
    ctx.spark = None
    events = EventLog.read(log_dir)
    per_op = [wl.layers(events, tracer, rep) for rep in range(len(ops))]
    metrics = {name: (0, unit) for name, unit in LAYER_UNITS.items()}
    for name in per_op[0]:
        metrics[name] = (statistics.median(p[name] for p in per_op), LAYER_UNITS[name])
    metrics["plans.snapshots.manifests"] = (manifests, "count")
    metrics["bench.traced_ops"] = (len(ops), "count")
    metrics["trace.traced_cpu_s"] = (statistics.median(o["cpu"] for o in ops), "s")
    metrics["process.peak_rss_mb"] = (peak_rss_mb, "MB")
    return metrics, ops


def _become_subreaper() -> None:
    """Have orphaned descendants (PySpark's worker daemon once the JVM has
    exited) re-parented to this process, so `_end_descendants` finds and
    reaps them. Best effort: Linux only."""
    import ctypes

    try:
        prctl = ctypes.CDLL(None, use_errno=True).prctl
    except (OSError, AttributeError):
        return
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def _end_descendants() -> None:
    """Last guard on every way out: kill and reap any process this one
    started that is still running, and wait for its children to end."""
    from perfbench.procs import process_tree, wait_gone

    left = set(process_tree(os.getpid())) - {os.getpid()}
    if left:
        log(f"ending leftover processes {sorted(left)}")
        for pid in sorted(left):
            try:
                with open(f"/proc/{pid}/cmdline") as f:
                    log(f"  {pid}: {f.read().replace(chr(0), ' ')[:200]}")
            except OSError:
                pass
        wait_gone(left, timeout_s=0)
    while True:  # reap our own children so none is left as a zombie
        try:
            if os.waitpid(-1, os.WNOHANG) == (0, 0):
                break
        except ChildProcessError:
            break


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "bb_ocr_spark", "__init__.py")):
        print(f"no bb_ocr_spark package under {ROOT}: run from a source checkout", file=sys.stderr)
        return 2
    _become_subreaper()
    shutil.rmtree(WORK, ignore_errors=True)
    try:
        _prepare_env()
        result, problems = run(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        _end_descendants()
        shutil.rmtree(WORK, ignore_errors=True)
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

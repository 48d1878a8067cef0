"""Per-layer measurement from outside the program.

Two sources:

* Call windows. `Tracer.installed()` swaps wrappers into
  `bb_ocr_spark.plans.extract_job` around `completed_doc_ids`,
  `per_task_durations` and `commit_snapshot` (the names the job calls), and
  the benchmark marks whole operations itself. Each window is an epoch-ms
  interval on the same clock Spark stamps its events with.
* Spark's event log (`spark.eventLog.*`, set through
  `get_spark(extra_conf=...)`), parsed after the session stops. Jobs are
  attributed to a window by their submission time, never by job
  description or group: `per_task_durations` clears only
  `spark.jobGroup.id`, so the commit group's description leaks onto the
  jobs that follow the write.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from bb_ocr_spark.plans import extract_job

CORES = 4


def now_ms() -> float:
    return time.time() * 1000.0


@dataclass
class Window:
    name: str
    rep: int
    start: float
    end: float


@dataclass
class Tracer:
    """Collects call windows; `rep` tags the operation they belong to."""

    windows: list[Window] = field(default_factory=list)
    rep: int = 0

    def mark(self, name: str, start: float, end: float) -> None:
        self.windows.append(Window(name, self.rep, start, end))

    @contextmanager
    def span(self, name: str):
        start = now_ms()
        try:
            yield
        finally:
            self.mark(name, start, now_ms())

    def _wrap_call(self, name: str, fn):
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def _wrap_task_durations(self, real):
        @contextmanager
        def per_task_durations(spark, group):
            with real(spark, group) as out:
                start = now_ms()
                yield out
                body_end = now_ms()
            # the real context drains the listener bus on exit
            self.mark("write", start, body_end)
            self.mark("drain", body_end, now_ms())

        return per_task_durations

    @contextmanager
    def installed(self):
        names = ("completed_doc_ids", "per_task_durations", "commit_snapshot")
        saved = {n: getattr(extract_job, n) for n in names}
        extract_job.completed_doc_ids = self._wrap_call(
            "resume_list", saved["completed_doc_ids"]
        )
        extract_job.commit_snapshot = self._wrap_call("commit", saved["commit_snapshot"])
        extract_job.per_task_durations = self._wrap_task_durations(
            saved["per_task_durations"]
        )
        try:
            yield self
        finally:
            for n, fn in saved.items():
                setattr(extract_job, n, fn)


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------


@dataclass
class Task:
    launch: int
    finish: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    input_bytes: int
    input_records: int
    output_bytes: int
    shuffle_read_bytes: int
    shuffle_read_records: int
    shuffle_write_bytes: int
    spill_bytes: int


@dataclass
class Stage:
    sid: int
    submitted: int = 0
    completed: int = 0
    tasks: list[Task] = field(default_factory=list)


@dataclass
class Job:
    jid: int
    submitted: int
    completed: int = 0
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, Stage]

    @classmethod
    def read(cls, log_dir: str) -> EventLog:
        files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
        jobs: dict[int, Job] = {}
        stages: dict[int, Stage] = {}
        with open(files[0]) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = Job(
                        e["Job ID"], e["Submission Time"], stage_ids=list(e["Stage IDs"])
                    )
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]].completed = e["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
                    st.submitted = info.get("Submission Time", 0)
                    st.completed = info.get("Completion Time", 0)
                elif kind == "SparkListenerTaskEnd":
                    if e["Task End Reason"]["Reason"] != "Success":
                        continue
                    info, m = e["Task Info"], e.get("Task Metrics") or {}
                    rd = m.get("Shuffle Read Metrics", {})
                    stages.setdefault(e["Stage ID"], Stage(e["Stage ID"])).tasks.append(
                        Task(
                            launch=info["Launch Time"],
                            finish=info["Finish Time"],
                            run_ms=m.get("Executor Run Time", 0),
                            cpu_ns=m.get("Executor CPU Time", 0),
                            gc_ms=m.get("JVM GC Time", 0),
                            input_bytes=m.get("Input Metrics", {}).get("Bytes Read", 0),
                            input_records=m.get("Input Metrics", {}).get("Records Read", 0),
                            output_bytes=m.get("Output Metrics", {}).get("Bytes Written", 0),
                            shuffle_read_bytes=rd.get("Remote Bytes Read", 0)
                            + rd.get("Local Bytes Read", 0),
                            shuffle_read_records=rd.get("Total Records Read", 0),
                            shuffle_write_bytes=m.get("Shuffle Write Metrics", {}).get(
                                "Shuffle Bytes Written", 0
                            ),
                            spill_bytes=m.get("Disk Bytes Spilled", 0),
                        )
                    )
        return cls(jobs, stages)

    def jobs_in(self, w: Window) -> list[Job]:
        return sorted(
            (j for j in self.jobs.values() if w.start <= j.submitted <= w.end),
            key=lambda j: j.jid,
        )

    def stages_of(self, jobs: list[Job]) -> list[Stage]:
        """Stages that ran (skipped stages have no tasks)."""
        sids = sorted({s for j in jobs for s in j.stage_ids})
        return [self.stages[s] for s in sids if s in self.stages and self.stages[s].tasks]


def union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def skew(tasks: list[Task]) -> float:
    """max / median task duration (median floored at 1 ms)."""
    d = [t.finish - t.launch for t in tasks]
    return max(d) / max(statistics.median(d), 1.0) if d else 0.0


def _sum(tasks: list[Task], attr: str) -> int:
    return sum(getattr(t, attr) for t in tasks)


def extract_job_layers(log: EventLog, tracer: Tracer, rep: int, corpus_docs: int) -> dict:
    """Layer numbers of one `run_extract_job` call (operation `rep`)."""
    w = {x.name: x for x in tracer.windows if x.rep == rep}
    run, write = w["op"], w["write"]
    post = Window("post_write", rep, write.end, run.end)
    run_jobs = log.jobs_in(run)
    write_jobs = log.jobs_in(write)
    post_jobs = log.jobs_in(post)
    write_tasks = [t for s in log.stages_of(write_jobs) for t in s.tasks]
    # the results-write stage: result stage of the last job of the write
    result = log.stages[max(write_jobs[-1].stage_ids)]
    rt = result.tasks
    stage_wall = max(result.completed - result.submitted, 1)
    return {
        "plans.extract_job.spark_jobs": len(run_jobs),
        "plans.extract_job.post_write_jobs": len(post_jobs),
        "plans.extract_job.post_write_s": (post.end - post.start) / 1e3,
        "plans.extract_job.driver_s": (
            run.end
            - run.start
            - union_ms([(j.submitted, j.completed) for j in run_jobs], run.start, run.end)
        )
        / 1e3,
        "plans.extract_job.resume_list_s": (
            w["resume_list"].end - w["resume_list"].start
        )
        / 1e3,
        "plans.extract_job.completed_ids_read": _sum(write_tasks, "input_records")
        - corpus_docs,
        "plans.extract_job.antijoin_shuffle_bytes": _sum(write_tasks, "shuffle_write_bytes"),
        "plans.extract_job.output_bytes": _sum(write_tasks, "output_bytes"),
        "plans.extract_job.lineage_input_bytes": sum(
            _sum(s.tasks, "input_bytes") for s in log.stages_of(post_jobs)
        ),
        "plans.task_metrics.drain_s": (w["drain"].end - w["drain"].start) / 1e3,
        "plans.snapshots.commit_s": (w["commit"].end - w["commit"].start) / 1e3,
        "operators.extract.tasks": len(rt),
        "operators.extract.nonempty_tasks": sum(
            1 for t in rt if t.input_records + t.shuffle_read_records > 0
        ),
        "operators.extract.task_cpu_s": _sum(rt, "cpu_ns") / 1e9,
        "operators.extract.task_run_s": _sum(rt, "run_ms") / 1e3,
        "operators.extract.gc_s": _sum(rt, "gc_ms") / 1e3,
        "operators.extract.skew": skew(rt),
        "operators.extract.core_util": _sum(rt, "run_ms") / (stage_wall * CORES),
        "operators.extract.input_bytes": _sum(rt, "input_bytes"),
        "operators.extract.input_records": _sum(rt, "input_records"),
    }


def assemble_layers(log: EventLog, tracer: Tracer, rep: int) -> dict:
    """Layer numbers of one forced `assemble_spans` pass (operation `rep`)."""
    op = next(x for x in tracer.windows if x.rep == rep and x.name == "op")
    jobs = log.jobs_in(op)
    stages = log.stages_of(jobs)
    tasks = [t for s in stages for t in s.tasks]
    busy = union_ms([(j.submitted, j.completed) for j in jobs], op.start, op.end)
    longest = max(stages, key=lambda s: s.completed - s.submitted)
    return {
        "operators.assemble.stages": len(stages),
        "operators.assemble.tasks": len(tasks),
        "operators.assemble.task_cpu_s": _sum(tasks, "cpu_ns") / 1e9,
        "operators.assemble.gc_s": _sum(tasks, "gc_ms") / 1e3,
        "operators.assemble.shuffle_write_bytes": _sum(tasks, "shuffle_write_bytes"),
        "operators.assemble.shuffle_read_bytes": _sum(tasks, "shuffle_read_bytes"),
        "operators.assemble.spill_bytes": _sum(tasks, "spill_bytes"),
        "operators.assemble.skew": skew(longest.tasks),
        "operators.assemble.core_util": _sum(tasks, "run_ms") / (max(busy, 1.0) * CORES),
    }

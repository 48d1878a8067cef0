"""Per-task wall time for lineage rows, via a SparkListener.

The north rule's lineage metrics include wall time per partition. The
run-level clock (previous behavior) stamps the same number on every
partition row; the real per-task numbers come from the scheduler's
SparkListenerTaskEnd events — the same source the Spark UI uses — scoped
to our job via a job group.

py4j mechanics: the listener is a Python object implementing
org.apache.spark.scheduler.SparkListenerInterface through the gateway's
callback server. Spark's listener bus calls ~30 event methods; a
__getattr__ catch-all no-ops everything except onJobStart (captures the
stage ids of jobs in our group) and onTaskEnd (records per-partition task
duration). Events are posted asynchronously, so collection waits for the
bus to drain before reading. If the callback server cannot start
(restricted envs), the context logs a warning and yields an empty mapping;
callers keep the run-level clock. An undrained bus is warned about too.
"""

from __future__ import annotations

import logging
import time
from contextlib import contextmanager

from pyspark.sql import SparkSession


def _drain_listener_bus(sc) -> None:
    """Wait up to 10 s for queued listener events; raises on a timeout."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)


class _TaskTimeListener:
    """Collects {partition index -> task duration ms} for one job group."""

    def __init__(self, group: str):
        self.group = group
        # per-stage duration maps; the FINAL job's result stage is chosen
        # at drain time. Recording into one flat dict keyed by partition
        # index would let an earlier job/stage of the same group (AQE and
        # the resume anti-join split one action into several jobs) claim
        # the indexes first and silently shadow the real write stage.
        self.by_stage: dict[int, dict[int, int]] = {}
        self.result_stage_of_job: dict[int, int] = {}

    def onJobStart(self, event):  # noqa: N802 (Java interface name)
        props = event.properties()
        if props is not None and props.getProperty("spark.jobGroup.id") == self.group:
            ids = event.stageIds()
            sids = [ids.apply(i) for i in range(ids.size())]
            if sids:
                # the job's RESULT stage (highest id): its task index ==
                # output partition id
                self.result_stage_of_job[event.jobId()] = max(sids)
                self.by_stage.setdefault(max(sids), {})

    def onTaskEnd(self, event):  # noqa: N802
        stage = self.by_stage.get(event.stageId())
        if stage is None:
            return
        info = event.taskInfo()
        # only successful attempts: a failed/killed speculative attempt can
        # END AFTER the success and must not overwrite it; among duplicate
        # successes (speculation) the first to finish wins
        if not info.successful():
            return
        idx = info.index()
        if idx not in stage:
            stage[idx] = int(info.duration())

    def final_durations(self) -> dict[int, int]:
        """partition index → task ms for the LAST job's result stage —
        the write job of the action executed inside the context."""
        if not self.result_stage_of_job:
            return {}
        last_job = max(self.result_stage_of_job)
        return self.by_stage.get(self.result_stage_of_job[last_job], {})

    def __getattr__(self, name):  # every other listener event: no-op
        def _noop(*args, **kwargs):
            return None

        return _noop

    class Java:
        implements = ["org.apache.spark.scheduler.SparkListenerInterface"]


@contextmanager
def per_task_durations(spark: SparkSession, group: str):
    """Context manager: run exactly ONE action inside (under the given
    job group); its write/result stage's per-partition task durations are
    filled into the yielded dict AFTER the block exits (the dict is empty
    during the block — the listener bus is drained at exit). With several
    actions inside, only the LAST job's result stage is kept — wrap each
    action in its own context instead. Yields an empty dict and logs a
    warning if the py4j callback server is unavailable."""
    sc = spark.sparkContext
    listener = _TaskTimeListener(group)
    attached = False
    try:
        from pyspark.java_gateway import ensure_callback_server_started  # noqa: PLC0415

        ensure_callback_server_started(sc._gateway)
        sc._jsc.sc().addSparkListener(listener)
        attached = True
    except Exception as e:  # noqa: BLE001
        logging.getLogger(__name__).warning("task-time listener not attached: %s", e)
    sc.setJobGroup(group, f"task-timed job group {group}")
    out: dict[int, int] = {}
    try:
        yield out
        if attached:
            # listener bus is async; drain before reading durations
            try:
                _drain_listener_bus(sc)
            except Exception as e:  # noqa: BLE001
                msg = "listener bus not drained for job group %s: %s"
                logging.getLogger(__name__).warning(msg, group, e)
                time.sleep(0.5)
            # resolve AFTER the drain: the last job's result stage is the
            # write stage of the action run inside the context
            out.update(listener.final_durations())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        if attached:
            try:
                sc._jsc.sc().removeSparkListener(listener)
            except Exception:
                pass

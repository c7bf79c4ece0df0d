"""Execution metrics for a block of work: where its seconds and bytes go.

:func:`trace` is the one measurement span of the engine. It tags every
Spark job submitted inside it and, after the block, reads the jobs' stages
from Spark's in-process AppStatusStore (the same numbers the UI's Stages
tab shows; the store is kept with the UI disabled). Wall time says how
long a block took; the job, stage and task counts and the scan, shuffle
and spill bytes say why, and unlike seconds they are deterministic per
plan and input. bench.py, scaling_report.py and the job-count tests all
measure through it.

Job tags rather than job groups: tags nest (a job carries the tags of
every open span), and they leave the thread's job group untouched, so an
outer caller that charges jobs to its own job group still sees them.

Access note: ``SparkContext._jsc.sc().statusStore().stageList`` is a
Scala method with default parameters; py4j requires passing them
explicitly, which is what :func:`_stage_list` does via the compiler's
``stageList$default$N`` accessors.

Retention note: the store keeps a bounded number of jobs and stages
(``spark.ui.retainedJobs`` / ``spark.ui.retainedStages``, default 1000
each) and evicts the oldest first, so a span is exact unless the block
alone submits more than that."""

from __future__ import annotations

import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass


def _stage_list(spark):
    core = spark.sparkContext._jsc.sc().statusStore()
    statuses = spark._jvm.java.util.ArrayList()
    # Probe the compiler-synthesized default accessors dynamically instead
    # of hardcoding one Scala signature: a Spark upgrade that adds/removes
    # a default parameter would otherwise break all capture with an
    # opaque py4j error. getattr on a missing synthetic method raises
    # py4j.Py4JError only at CALL time, so probe by calling.
    args = []
    for i in range(2, 12):
        try:
            args.append(getattr(core, f"stageList$default${i}")())
        except Exception:
            break
    try:
        return core.stageList(statuses, *args)
    except Exception as exc:  # pragma: no cover - version-dependent
        raise RuntimeError(
            "unsupported Spark version: AppStatusStore.stageList signature "
            f"not recognized ({len(args)} default params probed) — "
            "metrics.trace is unavailable on this build"
        ) from exc


@dataclass
class Span:
    """What :func:`trace` measured. Stages that a job skipped (their
    shuffle output was already there) are not counted."""

    name: str
    tag: str
    wall_s: float = 0.0
    job_ids: tuple[int, ...] = ()
    stages: int = 0
    tasks: int = 0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    executor_cpu_s: float = 0.0

    @property
    def jobs(self) -> int:
        return len(self.job_ids)


@contextmanager
def trace(spark, name: str):
    """Measure the enclosed block as one :class:`Span`.

    >>> with trace(spark, "q1") as span:
    ...     df.collect()
    >>> span.jobs, span.shuffle_write_bytes

    The wall clock stops before the status store is read, so the read
    costs the block nothing. The span's fields are filled only when the
    block completes without raising."""
    sc = spark.sparkContext
    span = Span(name, f"trace-{uuid.uuid4().hex}")
    sc.addJobTag(span.tag)
    t0 = time.perf_counter()
    try:
        yield span
    finally:
        span.wall_s = time.perf_counter() - t0
        sc.removeJobTag(span.tag)
    # job and stage ends reach the store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    span.job_ids = tuple(
        sorted(sc._jsc.sc().statusTracker().getJobIdsForTag(span.tag))
    )
    tracker = sc.statusTracker()
    stage_ids: set[int] = set()
    for jid in span.job_ids:
        info = tracker.getJobInfo(jid)
        stage_ids.update(info.stageIds if info else ())
    if not stage_ids:
        return
    # stageList is newest first, so the walk stops at the span's oldest stage
    first = min(stage_ids)
    it = _stage_list(spark).iterator()
    while it.hasNext():
        s = it.next()
        sid = s.stageId()
        if sid < first:
            break
        if sid not in stage_ids or not s.numCompleteTasks():
            continue
        span.stages += 1
        span.tasks += s.numCompleteTasks()
        span.input_bytes += s.inputBytes()
        span.shuffle_read_bytes += s.shuffleReadBytes()
        span.shuffle_write_bytes += s.shuffleWriteBytes()
        span.spill_bytes += s.memoryBytesSpilled() + s.diskBytesSpilled()
        span.executor_cpu_s += s.executorCpuTime() / 1e9

"""Spark job and stage metrics read from the driver's status store.

``sc._jsc.sc().statusStore()`` is the store the web UI reads; it is
filled by the status listener whether or not the UI runs, so this works
with ``spark.ui.enabled=false``.  Everything goes through py4j; nothing
is scraped over HTTP.
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Stage:
    stage_id: int
    tasks: int
    executor_run_s: float
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    #: max / median task executor run time, None below two tasks
    task_skew: float | None


@dataclass
class Job:
    job_id: int
    submit: float
    complete: float
    stages: list[Stage] = field(default_factory=list)


def _opt_time(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StatusStore:
    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._seen_stages: set[int] = set()

    def drain(self, timeout_ms: int = 10_000) -> None:
        """Wait until the listener bus has delivered every event, so the
        store holds each job that has already finished."""
        self._jsc.listenerBus().waitUntilEmpty(timeout_ms)

    def next_job_id(self) -> int:
        """One past the highest job id the store holds."""
        jobs = self._store.jobsList(None)
        n = jobs.size()
        return 1 + max((jobs.apply(i).jobId() for i in range(n)), default=-1)

    def _job(self, job_id: int):
        try:
            return self._store.job(job_id)
        except Py4JJavaError:
            return None

    def jobs_from(self, first: int, gap: int = 8) -> list[Job]:
        """Every finished job with id ``>= first``.  Ids are dense; a run
        of ``gap`` missing ids ends the scan."""
        out: list[Job] = []
        missing = 0
        jid = first
        while missing < gap:
            j = self._job(jid)
            jid += 1
            if j is None:
                missing += 1
                continue
            missing = 0
            submit = _opt_time(j.submissionTime())
            complete = _opt_time(j.completionTime())
            if submit is None or complete is None:
                continue
            job = Job(j.jobId(), submit, complete)
            ids = j.stageIds()
            for k in range(ids.size()):
                st = self._stage(ids.apply(k))
                if st is not None:
                    job.stages.append(st)
            out.append(job)
        return out

    def _stage(self, stage_id: int) -> Stage | None:
        # a stage reused by a later job is listed again as skipped;
        # count its work once
        if stage_id in self._seen_stages:
            return None
        try:
            sd = self._store.lastStageAttempt(stage_id)
        except Py4JJavaError:
            return None
        tasks = sd.numCompleteTasks()
        if tasks == 0:
            return None
        self._seen_stages.add(stage_id)
        return Stage(
            stage_id,
            tasks,
            sd.executorRunTime() / 1000.0,
            sd.shuffleReadBytes(),
            sd.shuffleWriteBytes(),
            self._skew(stage_id, sd.attemptId()) if tasks >= 2 else None,
        )

    def _skew(self, stage_id: int, attempt: int) -> float | None:
        gw = self._sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self._store.taskSummary(stage_id, attempt, q)
        if not summary.isDefined():
            return None
        run = summary.get().executorRunTime()
        median, top = run.apply(0), run.apply(1)
        return top / median if median > 0 else None


def summarize(jobs: list[Job]) -> dict[str, float]:
    """Totals over ``jobs``; ``task_skew`` is the median over stages."""
    stages = [s for j in jobs for s in j.stages]
    skews = [s.task_skew for s in stages if s.task_skew is not None]
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s.tasks for s in stages),
        "executor_run_s": sum(s.executor_run_s for s in stages),
        "shuffle_read_bytes": sum(s.shuffle_read_bytes for s in stages),
        "shuffle_write_bytes": sum(s.shuffle_write_bytes for s in stages),
        "task_skew": statistics.median(skews) if skews else 1.0,
    }


def executor_totals(spark) -> dict[str, int]:
    """Cumulative input and shuffle-write bytes over all executors."""
    lst = spark.sparkContext._jsc.sc().statusStore().executorList(False)
    tot = {"input_bytes": 0, "shuffle_write_bytes": 0}
    for i in range(lst.size()):
        e = lst.apply(i)
        tot["input_bytes"] += e.totalInputBytes()
        tot["shuffle_write_bytes"] += e.totalShuffleWrite()
    return tot

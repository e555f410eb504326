"""Per-job counters read from Spark's in-process status store.

The store keeps job and stage data with ``spark.ui.enabled=false``. It
retains only the last ``spark.ui.retainedJobs`` (1000) jobs and stages,
so the benchmark reads one job group right after the build or action
that ran it, outside the timed interval.
"""

from __future__ import annotations

MB = 1024.0 * 1024.0


def _ms(opt_date) -> float | None:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else None


def read_group(sc, group: str, seen_stages: set[int]) -> list[dict]:
    """One dict per job of ``group``: its interval (epoch seconds) and
    the counters of the stages it ran. A stage already counted for an
    earlier job (``seen_stages``) is not counted again.

    The store is fed through the listener bus, so the bus is drained
    first: the last stage's task-end and completion events of an action
    may still be queued when the action returns."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    jobs = []
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        jd = store.job(jid)
        job = {
            "job_id": jid,
            "jobs": 1,
            "submit": _ms(jd.submissionTime()),
            "end": _ms(jd.completionTime()),
            "tasks": jd.numCompletedTasks(),
            "failed_tasks": jd.numFailedTasks(),
            "stages": 0,
            "stages_skipped": jd.numSkippedStages(),
            "task_run_s": 0.0,
            "task_cpu_s": 0.0,
            "shuffle_write_mb": 0.0,
            "shuffle_read_mb": 0.0,
            "spill_mb": 0.0,
            "peak_exec_mem_mb": 0.0,
        }
        it = jd.stageIds().iterator()
        while it.hasNext():
            sid = it.next()
            if sid in seen_stages:
                continue
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            seen_stages.add(sid)
            job["stages"] += 1
            job["task_run_s"] += sd.executorRunTime() / 1000.0
            job["task_cpu_s"] += sd.executorCpuTime() / 1e9
            job["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
            job["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
            job["spill_mb"] += sd.diskBytesSpilled() / MB
            # the store sums task metrics per stage: this is the sum of
            # the stage's task peaks, which grows with its task count
            job["peak_exec_mem_mb"] = max(
                job["peak_exec_mem_mb"], sd.peakExecutionMemory() / MB
            )
        jobs.append(job)
    return jobs


def gc_seconds(spark) -> float:
    """Total collection time of every JVM garbage collector so far."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0


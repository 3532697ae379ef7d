"""Spark's own counters, read from outside the program.

Reads the application status store over py4j.  It is populated with
``spark.ui.enabled=false`` too; the session must keep enough jobs and stages
(``spark.ui.retainedJobs`` / ``spark.ui.retainedStages``) for a whole run.
"""

from __future__ import annotations

from typing import Dict, List

from perfbench.trace import JobStats


def _epoch_s(opt) -> float:
    """scala.Option[java.util.Date] -> seconds since the epoch (nan if None)."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else float("nan")


def _items(seq) -> list:
    """Elements of a Scala collection proxied by py4j."""
    out, it = [], seq.iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def read_jobs(spark) -> List[JobStats]:
    """Every retained job with the counters of the stages it ran.

    A stage listed by several jobs (a shuffle reused by a later job) is
    counted once, under the first job that lists it; skipped stages report
    zero work.
    """
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    stage_rows: Dict[int, tuple] = {}
    stages = store.stageList(jvm.java.util.ArrayList(), False, False,
                             sc._gateway.new_array(jvm.double, 0),
                             jvm.java.util.ArrayList())
    for s in _items(stages):
        row = (s.numCompleteTasks(), s.executorRunTime() / 1e3,
               s.executorCpuTime() / 1e9, s.jvmGcTime() / 1e3,
               s.shuffleWriteBytes(), s.outputBytes())
        prev = stage_rows.get(s.stageId())
        # several attempts of one stage: keep the one that did the work
        if prev is None or row[1] > prev[1]:
            stage_rows[s.stageId()] = row
    jobs = []
    for j in _items(store.jobsList(None)):
        jobs.append((j.jobId(), _epoch_s(j.submissionTime()),
                     _items(j.stageIds())))
    jobs.sort()
    out, seen = [], set()
    for job_id, submitted, stage_ids in jobs:
        js = JobStats(job_id, submitted)
        for sid in stage_ids:
            if sid in seen or sid not in stage_rows:
                continue
            seen.add(sid)
            tasks, run_s, cpu_s, gc_s, shw, outb = stage_rows[sid]
            js.stages += 1
            js.tasks += tasks
            js.executor_run_s += run_s
            js.executor_cpu_s += cpu_s
            js.gc_s += gc_s
            js.shuffle_write_bytes += shw
            js.output_bytes += outb
        out.append(js)
    return out

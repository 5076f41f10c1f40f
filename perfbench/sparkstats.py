"""Per-job-group totals from Spark's status store.

The benchmark tags each forced prefix with a job group of its own and
reads the executor metrics of that group's stages afterwards.  The
status store is filled by an asynchronous listener, so every read first
waits for the listener bus to drain.
"""

from __future__ import annotations

from contextlib import contextmanager

FIELDS = ("jobs", "tasks", "cpu_s", "run_s", "shuffle_bytes")


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


@contextmanager
def job_group(spark, group: str):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def group_stats(spark, group: str) -> dict[str, float]:
    """Jobs, completed tasks, executor CPU and run seconds and shuffle
    read+write bytes of every stage run under ``group``."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    job_ids = sc.statusTracker().getJobIdsForGroup(group)
    stage_ids = set()
    for jid in job_ids:
        stage_ids.update(_seq(store.job(jid).stageIds()))
    out = dict.fromkeys(FIELDS, 0.0)
    out["jobs"] = float(len(job_ids))
    for sid in stage_ids:
        for st in _seq(store.stageData(sid, False, None, False, no_quantiles)):
            out["tasks"] += st.numCompleteTasks()
            out["cpu_s"] += st.executorCpuTime() / 1e9
            out["run_s"] += st.executorRunTime() / 1e3
            out["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
    return out


def jvm_gc_s(spark) -> float:
    """GC time of the Spark JVM so far, over all collectors (in local
    mode the driver and the executors share that JVM)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3

"""Per-job-group counters read from the Spark status store.

The benchmark tags each call into the program with a job group
(``SparkContext.setJobGroup``); after the run this module reads every
job of every group from the session's ``AppStatusStore`` and sums the
stage counters of those jobs. Nothing here runs inside the timed pass.
"""

from __future__ import annotations

from collections import defaultdict
from dataclasses import dataclass, fields

from pyspark.sql import SparkSession


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0

    def __iadd__(self, other: Counters) -> Counters:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))
        return self


def _scala(seq):
    """Iterate a Scala collection held through py4j."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def drain_listener_bus(spark: SparkSession) -> None:
    """Block until every queued listener event reached the status store."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def group_counters(spark: SparkSession, groups: set[str]) -> dict[str, Counters]:
    """Summed job and stage counters of each job group in ``groups``."""
    drain_listener_bus(spark)
    jvm = spark.sparkContext._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    stage_of: dict[int, list] = defaultdict(list)
    # Spark 4.1 signature: (statuses, details, withSummaries,
    # unsortedQuantiles, taskStatus); None for any argument raises NPE
    stages = store.stageList(
        jvm.java.util.ArrayList(),
        False,
        False,
        spark.sparkContext._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    for s in _scala(stages):
        stage_of[s.stageId()].append(s)
    out = {g: Counters() for g in groups}
    jobs = []
    for j in _scala(store.jobsList(jvm.java.util.ArrayList())):
        group = j.jobGroup()
        jobs.append(
            (j.jobId(), group.get() if group.isDefined() else None, list(_scala(j.stageIds())))
        )
    # a stage a later job reuses (skipped) counts for the job that ran it
    seen: set[int] = set()
    for _, group, stage_ids in sorted(jobs):
        fresh = [sid for sid in stage_ids if sid not in seen]
        seen.update(fresh)
        if group not in out:
            continue
        c = out[group]
        c.jobs += 1
        for s in (s for sid in fresh for s in stage_of.get(sid, [])):
            c.stages += 1
            c.tasks += s.numCompleteTasks()
            c.failed_tasks += s.numFailedTasks()
            c.input_bytes += s.inputBytes()
            c.output_bytes += s.outputBytes()
            c.shuffle_read_bytes += s.shuffleReadBytes()
            c.shuffle_write_bytes += s.shuffleWriteBytes()
            c.spill_bytes += s.diskBytesSpilled()
            c.executor_run_s += s.executorRunTime() / 1e3
            c.executor_cpu_s += s.executorCpuTime() / 1e9
            c.gc_s += s.jvmGcTime() / 1e3
    return out


def jvm_gc_s(spark: SparkSession) -> float:
    """Total collection time of the driver JVM's collectors, in seconds."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    total = 0
    for b in beans.getGarbageCollectorMXBeans():
        total += max(0, b.getCollectionTime())
    return total / 1e3

"""Job-group counter reader.

Wrap a call in :func:`job_group`, then :func:`read_group` sums what the
jobs of that group did, read from the JVM status store
(``SparkContext.statusStore``, which is populated with or without the
Spark UI). No package code is involved: the benchmark sets the group
around its own calls into the package.
"""

from __future__ import annotations

import contextlib
import itertools
from collections.abc import Iterator

from pyspark import SparkContext

FIELDS = (
    "jobs", "stages", "tasks", "run_s", "cpu_s", "input_bytes",
    "shuffle_read_bytes", "shuffle_read_records",
    "shuffle_write_bytes", "shuffle_write_records", "spill_bytes",
    "max_task_s",
)

_ids = itertools.count()


@contextlib.contextmanager
def job_group(sc: SparkContext, name: str) -> Iterator[str]:
    """Run the body under a fresh job group; yields the group id. The
    previous group (if any) is restored on exit, so groups nest."""
    gid = f"perfbench-{name}-{next(_ids)}"
    prior = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(gid, name)
    try:
        yield gid
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prior)


def read_group(sc: SparkContext, gid: str, task_times: bool = False) -> dict[str, float]:
    """Sum the counters of every stage run by the jobs of group ``gid``.

    Skipped stages (a reused shuffle) ran no tasks and add nothing.
    ``max_task_s`` (the longest task) needs a per-task listing, so it is
    only read when ``task_times`` is set."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = dict.fromkeys(FIELDS, 0.0)
    seen: set[int] = set()
    for jid in sc.statusTracker().getJobIdsForGroup(gid):
        out["jobs"] += 1
        ids = store.job(jid).stageIds()
        for i in range(ids.size()):
            sid = ids.apply(i)
            if sid in seen:
                continue
            seen.add(sid)
            attempts = store.stageData(
                sid, False, getattr(store, "stageData$default$3")(), False,
                getattr(store, "stageData$default$5")(),
            )
            for a in range(attempts.size()):
                _add_stage(store, attempts.apply(a), out, task_times)
    return out


def _add_stage(store, st, out: dict[str, float], task_times: bool) -> None:
    done = st.numCompleteTasks() + st.numFailedTasks()
    if done == 0:
        return
    out["stages"] += 1
    out["tasks"] += done
    out["run_s"] += st.executorRunTime() / 1e3
    out["cpu_s"] += st.executorCpuTime() / 1e9
    out["input_bytes"] += st.inputBytes()
    out["shuffle_read_bytes"] += st.shuffleReadBytes()
    out["shuffle_read_records"] += st.shuffleReadRecords()
    out["shuffle_write_bytes"] += st.shuffleWriteBytes()
    out["shuffle_write_records"] += st.shuffleWriteRecords()
    out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    if task_times:
        tasks = store.taskList(st.stageId(), st.attemptId(), done)
        for t in range(tasks.size()):
            d = tasks.apply(t).duration()
            if d.isDefined():
                out["max_task_s"] = max(out["max_task_s"], d.get() / 1e3)


def add(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    """Field-wise sum; ``max_task_s`` takes the maximum."""
    out = {k: a.get(k, 0.0) + b.get(k, 0.0) for k in FIELDS}
    out["max_task_s"] = max(a.get("max_task_s", 0.0), b.get("max_task_s", 0.0))
    return out

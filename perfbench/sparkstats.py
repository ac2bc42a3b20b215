"""Spark-layer counters, read without the Spark UI.

Work is tagged with ``setJobGroup``; after the tagged action returns,
the job group's stages are looked up in the Spark driver's status store and
their task metrics summed.  Plan-level row counts come from the SQL
metrics of the executed physical plan.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError

COUNTERS = ("jobs", "stages", "tasks", "executor_cpu_s", "executor_run_s",
            "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
            "spill_bytes", "input_bytes", "peak_exec_mem_bytes")

# status store events arrive through the listener bus, asynchronously
# to the action that caused them; drain it before reading
_DRAIN_MS = 30_000


def group_counters(spark, group: str) -> dict:
    """Summed task metrics of every stage that ran for job ``group``."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(_DRAIN_MS)
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = dict.fromkeys(COUNTERS, 0)
    out["jobs"] = len(jobs)
    for sid in sorted(stage_ids):
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # a stage skipped by reuse never runs
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
        out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
        out["executor_run_s"] += sd.executorRunTime() / 1e3
        out["gc_s"] += sd.jvmGcTime() / 1e3
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["spill_bytes"] += sd.diskBytesSpilled()
        out["input_bytes"] += sd.inputBytes()
        out["peak_exec_mem_bytes"] = max(out["peak_exec_mem_bytes"],
                                         sd.peakExecutionMemory())
    return out


def add_counters(into: dict, more: dict) -> dict:
    for k in COUNTERS:
        if k == "peak_exec_mem_bytes":
            into[k] = max(into.get(k, 0), more[k])
        else:
            into[k] = into.get(k, 0) + more[k]
    return into


def _children(node):
    """Physical-plan children, stepping through the wrappers whose
    real plan is not among their ``children()``: the adaptive root and
    materialized query stages."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    seq = node.children()
    return [seq.apply(i) for i in range(seq.size())]


def refine_rows(df) -> tuple:
    """(rows out, rows in) of the exact ``s12 <=`` refine filter in the
    executed plan of ``df``: its yield is the share of the cell
    prefilter's candidates that are real matches.  In the physical
    plan the filter reads the geodesic UDF's output column, which
    Spark names ``pythonUDF<n>``."""
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        if (node.nodeName() == "Filter"
                and "pythonUDF" in node.condition().toString()):
            rows_out = node.metrics().get("numOutputRows").get().value()
            below = _children(node)
            while below:
                child = below.pop(0)
                metric = child.metrics().get("numOutputRows")
                if metric.isDefined():
                    return rows_out, metric.get().value()
                below = _children(child) + below
            return rows_out, 0
        stack.extend(_children(node))
    return 0, 0

"""Counters Spark already records: SQL metrics of an executed plan and
task counts per job group.

The plan walk descends through adaptive execution: an
``AdaptiveSparkPlanExec`` is a leaf whose real plan is its
``executedPlan``, and each ``*QueryStageExec`` is a leaf whose plan is
``plan``. A walk over ``children`` alone sees none of the scan, shuffle
or Python nodes.
"""

from __future__ import annotations

# Spark metric name -> (benchmark layer metric, its unit)
SQL_METRICS = {
    "numFiles": ("scan.files", "count"),
    "filesSize": ("scan.bytes", "bytes"),
    "scanTime": ("scan.time", "task-ms"),
    "shuffleBytesWritten": ("shuffle.bytes_written", "bytes"),
    "shuffleWriteTime": ("shuffle.write_time", "task-ms"),
    "pythonBootTime": ("python.boot_time", "task-ms"),
    "pythonInitTime": ("python.init_time", "task-ms"),
    "pythonTotalTime": ("python.total_time", "task-ms"),
    "pythonDataSent": ("python.bytes_sent", "bytes"),
    "pythonDataReceived": ("python.bytes_received", "bytes"),
}

# SQLMetric.metricType -> (unit, factor to that unit). "timing" metrics
# are milliseconds and "nsTiming" nanoseconds, each summed over the
# node's tasks.
TYPE_UNITS = {
    "timing": ("task-ms", 1.0),
    "nsTiming": ("task-ms", 1e-6),
    "size": ("bytes", 1.0),
    "sum": ("count", 1.0),
}


def plan_nodes(node):
    """Every physical node under ``node``, adaptive stages included."""
    stack = [node]
    while stack:
        n = stack.pop()
        yield n
        cls = n.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(n.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(n.plan())
        ch = n.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))


def plan_metrics(root, node_key=id) -> dict:
    """(node key, benchmark metric) -> value for the SQL_METRICS found
    under ``root``, converted to the metric's unit by its Spark type. A
    negative (unset) value reads as 0. A type whose unit differs from
    the one SQL_METRICS declares raises: the value cannot be converted."""
    out = {}
    for n in plan_nodes(root):
        seq = n.metrics().toSeq()
        key = None
        for i in range(seq.size()):
            pair = seq.apply(i)
            spark_name = pair._1()
            if spark_name not in SQL_METRICS:
                continue
            name, declared = SQL_METRICS[spark_name]
            m = pair._2()
            kind = m.metricType()
            unit, factor = TYPE_UNITS.get(kind, (None, 0.0))
            if unit != declared:
                raise ValueError(f"{spark_name} has metric type {kind!r}; "
                                 f"expected a type measured in {declared}")
            if key is None:
                key = node_key(n)
            out[(key, name)] = max(0, m.value()) * factor
    return out


class PlanMetricDeltas:
    """Work one execution of a DataFrame did, per benchmark metric.

    Re-collecting a cached DataFrame re-runs only its final stage: the
    earlier stages' nodes keep the values of their first run. Values are
    therefore taken as deltas against the previous reading of the same
    DataFrame, node by node (JVM identity), so a skipped stage counts 0.
    Callers keep the DataFrames alive between readings."""

    def __init__(self, jvm):
        self._ident = jvm.java.lang.System.identityHashCode
        self._last: dict[int, dict] = {}

    def sample(self, df) -> dict[str, float]:
        now = plan_metrics(df._jdf.queryExecution().executedPlan(),
                           self._ident)
        prev = self._last.get(id(df), {})
        self._last[id(df)] = now
        out = {name: 0.0 for name, _ in SQL_METRICS.values()}
        for key, v in now.items():
            out[key[1]] += v - prev.get(key, 0.0)
        return out


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, tasks completed, tasks failed) of one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in (info.stageIds if info else ()):
            si = st.getStageInfo(s)
            if si is not None:
                tasks += si.numCompletedTasks
                failed += si.numFailedTasks
    return len(jobs), tasks, failed

"""The plan walker on a stand-in for Spark's py4j plan objects, and on a
tiny real plan run with adaptive execution."""

import pytest

from perfbench.sparkmetrics import (PlanMetricDeltas, plan_metrics,
                                    plan_nodes)


class _Seq:
    def __init__(self, items):
        self.items = list(items)

    def size(self):
        return len(self.items)

    def apply(self, i):
        return self.items[i]


class _Pair:
    def __init__(self, a, b):
        self.a, self.b = a, b

    def _1(self):
        return self.a

    def _2(self):
        return self.b


class _Metric:
    def __init__(self, kind, value):
        self.kind, self.v = kind, value

    def metricType(self):
        return self.kind

    def value(self):
        return self.v


class _Class:
    def __init__(self, name):
        self.name = name

    def getSimpleName(self):
        return self.name


class _Node:
    def __init__(self, cls, metrics=None, children=(), inner=None):
        self.cls, self.m, self.kids, self.inner = cls, metrics or {}, \
            children, inner

    def getClass(self):
        return _Class(self.cls)

    def metrics(self):
        return _Map(self.m)

    def children(self):
        return _Seq(self.kids)

    def executedPlan(self):
        return self.inner

    def plan(self):
        return self.inner


class _Map:
    def __init__(self, m):
        self.m = m

    def toSeq(self):
        return _Seq(_Pair(k, v) for k, v in self.m.items())


def _aqe_tree(init_ms=1500, shuffle_ns=2_000_000):
    scan = _Node("FileSourceScanExec", {
        "numFiles": _Metric("sum", 3), "filesSize": _Metric("size", 4096),
        "scanTime": _Metric("timing", 7)})
    exchange = _Node("ShuffleExchangeExec", {
        "shuffleBytesWritten": _Metric("size", 512),
        "shuffleWriteTime": _Metric("nsTiming", shuffle_ns),
        "dataSize": _Metric("size", 999)}, [scan])
    stage = _Node("ShuffleQueryStageExec", inner=exchange)
    py = _Node("FlatMapGroupsInPandasExec", {
        "pythonInitTime": _Metric("timing", init_ms),
        "pythonBootTime": _Metric("timing", -1),
        "pythonDataSent": _Metric("size", 2048)}, [stage])
    return _Node("AdaptiveSparkPlanExec", inner=_Node(
        "WholeStageCodegenExec", children=[py]))


def test_walker_descends_into_adaptive_stages():
    root = _aqe_tree()
    names = [n.cls for n in plan_nodes(root)]
    assert "FileSourceScanExec" in names
    assert "ShuffleExchangeExec" in names
    got = {name: v for (_, name), v in plan_metrics(root).items()}
    assert got["scan.files"] == 3
    assert got["scan.bytes"] == 4096
    assert got["scan.time"] == 7                       # timing: ms
    assert got["shuffle.write_time"] == pytest.approx(2.0)  # nsTiming -> ms
    assert got["python.init_time"] == 1500
    assert got["python.boot_time"] == 0                # unset reads 0
    assert len(got) == 8                               # dataSize not mapped


def test_unit_mismatch_raises():
    root = _Node("FileSourceScanExec", {"scanTime": _Metric("size", 7)})
    with pytest.raises(ValueError, match="scanTime"):
        plan_metrics(root)


def test_flat_walk_finds_nothing():
    root = _aqe_tree()
    flat = [root] + list(root.kids)  # children alone: AQE is a leaf
    assert not any(n.m for n in flat)


class _JVM:
    class java:
        class lang:
            class System:
                identityHashCode = staticmethod(id)


class _DF:
    def __init__(self, root):
        self.root = root
        self._jdf = self

    def queryExecution(self):
        return self

    def executedPlan(self):
        return self.root


def test_deltas_count_a_skipped_stage_as_zero():
    root = _aqe_tree()
    df = _DF(root)
    pm = PlanMetricDeltas(_JVM)
    first = pm.sample(df)
    assert first["shuffle.bytes_written"] == 512
    # re-collect: a new final stage, the shuffle stage reused untouched
    py = root.inner.kids[0]
    root.inner = _Node("WholeStageCodegenExec", children=[_Node(
        "FlatMapGroupsInPandasExec",
        {"pythonInitTime": _Metric("timing", 900)}, py.kids)])
    again = pm.sample(df)
    assert again["shuffle.bytes_written"] == 0
    assert again["scan.files"] == 0
    assert again["python.init_time"] == 900


def test_walker_on_a_real_adaptive_plan():
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[1]")
             .appName("perfbench-walker")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.ui.enabled", "false").getOrCreate())
    try:
        df = (spark.range(0, 1000, 1, 4).selectExpr("id % 7 AS k")
              .groupBy("k").count())
        df.collect()
        root = df._jdf.queryExecution().executedPlan()
        assert root.getClass().getSimpleName() == "AdaptiveSparkPlanExec"
        assert root.children().size() == 0
        got = {name: v for (_, name), v in plan_metrics(root).items()}
        assert got["shuffle.bytes_written"] > 0
        assert got["shuffle.write_time"] > 0
    finally:
        spark.stop()

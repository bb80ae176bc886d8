"""One walk over a Spark plan (the package's only one), the views built
on it, a job counter, a compile counter and a JIT-time reader.
``pipeline/skew.py`` walks optimized plans with it; :func:`plan_nodes`
and :func:`udf_sites` walk executed plans."""

from __future__ import annotations

import uuid
from collections import Counter

from pyspark import SparkContext

__all__ = ["walk", "plan_nodes", "udf_sites", "count_jobs", "count_compiles",
           "jit_seconds"]

_PANDAS_FUNC_NODES = ("FlatMapGroupsInPandasExec", "MapInPandasExec",
                      "FlatMapCoGroupsInPandasExec")


def walk(plan):
    """Each node of the JVM ``plan`` once, as ``(simple class name, node)``.

    Walks into ``AdaptiveSparkPlanExec`` plans, query stages and the
    cached plans of ``InMemoryTableScanExec`` relations; no logical node
    has those classes, so an optimized plan is walked node by node.  A
    node reached twice (a cache read by several scans, a reused
    exchange) is yielded once, by JVM identity.  The walk goes no
    further than its consumer reads."""
    identity = SparkContext._jvm.System.identityHashCode
    seen: set[int] = set()
    todo = [plan]
    while todo:
        p = todo.pop()
        key = identity(p)
        if key in seen:
            continue
        seen.add(key)
        cls = p.getClass().getSimpleName()
        yield cls, p
        if cls == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(p.plan())
        elif cls == "InMemoryTableScanExec":
            todo.append(p.relation().cachedPlan())
        ch = p.children()
        todo.extend(ch.apply(i) for i in range(ch.size()))


def plan_nodes(df):
    """Each node of ``df``'s executed physical plan, once (see :func:`walk`)."""
    for _, p in walk(df._jdf.queryExecution().executedPlan()):
        yield p


def udf_sites(df) -> Counter:
    """Python UDF evaluation sites in ``df``'s executed plan, counted by UDF
    name: one per UDF on each ``*EvalPythonExec`` node, one per
    grouped-aggregate pandas UDF on each ``ArrowAggregatePythonExec``
    node, and one per ``applyInPandas`` / ``mapInPandas`` / cogrouped
    node by its function's name."""
    sites: Counter = Counter()
    for cls, p in walk(df._jdf.queryExecution().executedPlan()):
        if cls.endswith("EvalPythonExec"):
            it = p.udfs().iterator()
            while it.hasNext():
                sites[it.next().name()] += 1
        elif cls in _PANDAS_FUNC_NODES:
            sites[p.func().name()] += 1
        elif cls == "ArrowAggregatePythonExec":
            it = p.aggExpressions().iterator()
            while it.hasNext():
                sites[it.next().aggregateFunction().name()] += 1
    return sites


def count_jobs(spark, fn):
    """Run ``fn()`` in a job group of its own; return its result and the
    number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count jobs")
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def count_compiles(spark, fn):
    """Run ``fn()``; return its result, the number of generated classes
    Janino compiled meanwhile (codegen cache misses) and their compile
    seconds (``CodeGenerator.compileTime()``).  The counters are
    JVM-wide: in local mode, compiles of work running concurrently in
    the same JVM count too."""
    jvm = spark._jvm
    gen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    n0, ns0 = hist.getCount(), gen.compileTime()
    out = fn()
    return out, hist.getCount() - n0, (gen.compileTime() - ns0) / 1e9


def jit_seconds(spark) -> float:
    """Seconds the JVM's JIT compilers (C1 and C2) have spent compiling
    since it started (``CompilationMXBean.getTotalCompilationTime()``);
    take the difference around a piece of work.  JVM-wide, and it counts
    compiler threads that have since exited, which a per-thread CPU
    reading loses: HotSpot starts and stops compiler threads on demand."""
    mx = spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    return mx.getTotalCompilationTime() / 1e3

"""The plan walk of ``rasterframes_spark/observe.py`` against the
benchmark tracer's own copy in ``perfbench/harness.py``: on one plan
both count the same Python UDF sites, so the two walks cannot drift.
And the compile counter: a session's repeated query hits the codegen
cache however many classes were compiled in between.  And the driver
JIT default: raised C2 thresholds, C2 still on."""

import functools
from pathlib import Path
import types

import pandas as pd
import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from rasterframes_spark import session
from rasterframes_spark.observe import count_compiles, jit_seconds, plan_nodes, udf_sites


def _harness():
    """``perfbench/harness.py`` as a module, read without writing
    anything under ``perfbench/``."""
    path = Path(__file__).resolve().parents[1] / "perfbench" / "harness.py"
    mod = types.ModuleType("perfbench_harness")
    mod.__file__ = str(path)
    exec(compile(path.read_text(), str(path), "exec"), mod.__dict__)
    return mod


def test_udf_sites_match_the_bench_tracer(spark):
    @pandas_udf("long")
    def inc(x: pd.Series) -> pd.Series:
        return x + 1

    @F.udf("long")
    def dbl(x):
        return x * 2

    # two pipelined UDFs inside a cached relation (an Arrow and a plain
    # one, which Spark cannot chain into one node), a third after an AQE
    # shuffle stage
    cached = (spark.range(0, 64, 1, 4)
              .select("id", inc("id").alias("a"))
              .select("id", dbl("a").alias("b"))
              .cache())
    cached.count()
    out = (cached.groupBy((F.col("id") % 4).alias("k"))
           .agg(F.sum("b").alias("s"))
           .select("k", inc("s").alias("t")))
    assert sorted(out.collect()) == sorted(
        (k, 2 * sum(i + 1 for i in range(k, 64, 4)) + 1) for k in range(4))

    classes = [p.getClass().getSimpleName() for p in plan_nodes(out)]
    assert "AdaptiveSparkPlanExec" in classes
    assert "ShuffleQueryStageExec" in classes
    assert "InMemoryTableScanExec" in classes
    assert classes.count("ArrowEvalPythonExec") == 2
    assert classes.count("BatchEvalPythonExec") == 1

    sites = udf_sites(out)
    assert sites == {"inc": 2, "dbl": 1}
    acc: dict = {}
    _harness().Tracer(spark, True)._plan_metrics(out, acc)
    assert acc["udf_sites"] == sum(sites.values())
    cached.unpersist()


def test_udf_sites_count_grouped_aggregate_udfs(spark):
    """A grouped-aggregate pandas UDF runs in ``ArrowAggregatePythonExec``;
    each of its aggregate functions is one site."""
    @pandas_udf("double")
    def mean_of(v: pd.Series) -> float:
        return float(v.mean())

    out = (spark.range(0, 40, 1, 4).groupBy((F.col("id") % 3).alias("k"))
           .agg(mean_of("id").alias("m")))
    assert sorted(out.collect()) == [(k, float(sum(range(k, 40, 3)))
                                      / len(range(k, 40, 3)))
                                     for k in range(3)]
    assert udf_sites(out) == {"mean_of": 1}


def test_repeated_query_hits_the_codegen_cache(spark):
    """A query run again after 200 cache entries of other generated
    classes compiles nothing.  Spark's default cap of 100 is split into
    4 LRU segments of 25; 200 new entries, ~50 a segment, evict the
    query's classes there."""
    def q():
        # one stage: Range -> Project -> Filter, no exchange
        return (spark.range(0, 512, 1, 2)
                .select(((F.col("id") * 37 + 11) % 101).alias("v"))
                .where("v > 50").collect())

    want = sorted(v for v in ((i * 37 + 11) % 101 for i in range(512)) if v > 50)
    rows, first, _ = count_compiles(spark, q)
    assert sorted(r.v for r in rows) == want and first > 0

    filler, k = 0, 0
    while filler < 200:
        # a union of 16 one-stage branches, each with its own inlined
        # literals: new classes for every branch
        k += 1
        parts = [spark.range(0, 1, 1, 1).select((F.col("id") * (16 * k + j) + j).alias("w"))
                 for j in range(16)]
        _, n, _ = count_compiles(
            spark, lambda: functools.reduce(lambda a, b: a.union(b), parts).collect())
        filler += n
    rows, again, secs = count_compiles(spark, q)
    assert sorted(r.v for r in rows) == want
    assert (again, secs) == (0, 0.0)
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        session.CODEGEN_CACHE_ENTRIES)


def _built_options(monkeypatch, **configs) -> dict:
    """The options ``create_rf_spark_session(**configs)`` hands Spark."""
    class Built(Exception):
        pass

    def capture(builder):
        raise Built(dict(builder._options))

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    with pytest.raises(Built) as built:
        session.create_rf_spark_session(master="local[1]", **configs)
    return built.value.args[0]


def test_codegen_cache_default_yields_to_configs(monkeypatch):
    """``create_rf_spark_session`` sets the cache cap; an explicit entry
    in ``configs`` wins.  Read from the builder: the cap is static, so a
    running JVM keeps the one it started with."""
    key = "spark.sql.codegen.cache.maxEntries"
    for configs, want in (({}, str(session.CODEGEN_CACHE_ENTRIES)),
                          ({key: "64"}, "64")):
        assert _built_options(monkeypatch, **configs)[key] == want


def test_jit_default_keeps_a_callers_extra_java_options(monkeypatch):
    """The tier-4 thresholds go in ``defaultJavaOptions``, which Spark's
    launcher puts in front of ``extraJavaOptions``: a caller's own JVM
    flags (perfbench's tmpdir flags) leave the default set, and an
    explicit ``defaultJavaOptions`` entry replaces it."""
    key = "spark.driver.defaultJavaOptions"
    assert _built_options(monkeypatch)[key] == session.JIT_JAVA_OPTIONS
    extra = "-Djava.io.tmpdir=/tmp/x -XX:-UsePerfData"
    opts = _built_options(monkeypatch, **{"spark.driver.extraJavaOptions": extra})
    assert opts[key] == session.JIT_JAVA_OPTIONS
    assert opts["spark.driver.extraJavaOptions"] == extra
    assert _built_options(monkeypatch, **{key: ""})[key] == ""


def test_session_jvm_runs_the_jit_default(spark):
    """The running JVM has the four tier-4 thresholds of the default and
    still compiles at tier 4 (C2); its JIT clock has started."""
    jvm = spark._jvm
    mx = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
    flags = dict(f[len("-XX:"):].split("=") for f in session.JIT_JAVA_OPTIONS.split())
    assert len(flags) == 4
    for name, want in flags.items():
        assert mx.getVMOption(name).getValue() == want, name
    assert mx.getVMOption("TieredStopAtLevel").getValue() == "4"
    assert jit_seconds(spark) > 0

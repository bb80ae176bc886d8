"""The plan walk of ``rasterframes_spark/observe.py`` against the
benchmark tracer's own copy in ``perfbench/harness.py``: on one plan
both count the same Python UDF sites, so the two walks cannot drift."""

from pathlib import Path
import types

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from rasterframes_spark.observe import plan_nodes, udf_sites


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

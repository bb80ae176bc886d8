"""SparkSession bootstrap for the engine.

Analog of the reference's ``create_rf_spark_session``
(``python/pyrasterframes/utils.py``) and ``SparkSession.withRasterFrames``
(``core/.../rasterframes/package.scala:79-82``) — minus any JVM extension:
everything the engine needs is Arrow + sensible shuffle/AQE defaults.
"""

from __future__ import annotations

import os

import pandas as pd  # module-global: grouped-agg UDF type hints resolve here

from pyspark.sql import SparkSession

# default size of the JVM's codegen cache (spark.sql.codegen.cache.maxEntries)
CODEGEN_CACHE_ENTRIES = 3000
# default driver JVM flags (spark.driver.defaultJavaOptions): HotSpot's
# tier-4 (C2) thresholds at ten times their defaults
JIT_JAVA_OPTIONS = ("-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000"
                    " -XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000")


def create_rf_spark_session(master: str | None = None, app_name: str = "rasterframes-spark",
                            **configs) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # Arrow is the data plane for every kernel. Batch by BYTES, not rows:
        # tile rows are ~128KB (a 32MB batch is ~250 tiles) while exploded
        # cell rows are ~20B (the same 32MB batch is ~1.6M rows) — a row cap
        # tuned for one starves the other.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1048576")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(32 * 1024 * 1024))
        # scale posture: AQE re-plans shuffles, coalesces partitions, and
        # handles skew joins at runtime (SURVEY.md §4)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", cpus)
        # let the planner pick shuffled-hash over sort-merge when its
        # size conditions hold (guide §3.1/§9): the engine's shuffled
        # joins key on 8-byte hashes/ids with bounded build sides, and
        # skipping both sorts is pure win there; joins too big to hash
        # still fall back to sort-merge by the planner's own check.
        # Tradeoff: the planner's check is ESTIMATE-based and SHJ build
        # maps can't spill — a badly under-estimated build side (e.g. a
        # post-UDF frame whose stat reads KB for MB) can OOM where SMJ
        # would have spilled. The default is global (it also shapes
        # user joins on the session); a deployment that hits the edge
        # passes configs={"spark.sql.join.preferSortMergeJoin": "true"}
        # (applied after, wins).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.parquet.filterPushdown", "true")
        # testdata events.parquet carries TIMESTAMP(NANOS); read as long
        # (consumers normalize via timestamp_micros(nanos div 1000))
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # workers fork from a daemon that has imported the package (see
        # _pyworker): no per-task zip re-reads, no per-worker imports
        .config("spark.python.daemon.module", "rasterframes_spark._pyworker")
        # Generated classes (whole-stage codegen, projections, orderings)
        # are compiled by Janino and kept in a cache that Spark caps at
        # 100 entries.  One pass of the perfbench shuffle-and-write
        # workload needs ~187 entries and the 50 oracle queries 1255, so
        # at 100 a repeated query compiles all of its classes again.  The
        # cap is over twice the largest census (CHANGES.md).  Static: it
        # takes effect only when the session's JVM starts.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # A short session spends much of its driver CPU in C2 compiling
        # lukewarm Catalyst planning code (a perfbench join_export_dedup
        # pass after the warm-up: 10-14 s of JIT time at HotSpot's
        # defaults, 5-8 s here), so only methods ten times hotter reach
        # C2; the rest stays in C1.  C2 stays on: C1 alone ran bench.py
        # cells up to 3x slower (README).
        # defaultJavaOptions, not extraJavaOptions: the launcher puts it
        # in front of a caller's extraJavaOptions, so both apply and a
        # repeated flag takes the caller's value.  Only when this call
        # launches the JVM; the driver JVM only (local mode: it also
        # runs the tasks).
        .config("spark.driver.defaultJavaOptions", JIT_JAVA_OPTIONS)
    )
    # Object-store transport env reaches executor Python workers (r14):
    # RangeSource's s3:// signing and retry knobs read the standard AWS /
    # RASTERFRAMES_IO_* variables AT FETCH TIME in whatever process runs
    # the read.  Harmless in local mode (workers inherit the JVM env);
    # required in cluster mode, where executors don't see the driver's
    # environment unless forwarded.  Explicit spark.executorEnv.* in
    # `configs` wins.
    for var in ("AWS_ACCESS_KEY_ID", "AWS_SECRET_ACCESS_KEY",
                "AWS_SESSION_TOKEN", "AWS_REGION", "AWS_DEFAULT_REGION",
                "AWS_ENDPOINT_URL", "AWS_ENDPOINT_URL_S3",
                "RASTERFRAMES_IO_RETRIES", "RASTERFRAMES_IO_BACKOFF",
                "RASTERFRAMES_IO_TIMEOUT"):
        if var in os.environ:
            b = b.config(f"spark.executorEnv.{var}", os.environ[var])
    # The worker daemon imports this package, so workers must find it also
    # where only this process's sys.path does: put its parent directory on
    # their PYTHONPATH (Spark appends the inherited one).  An explicit
    # spark.executorEnv.PYTHONPATH in `configs` wins.
    b = b.config("spark.executorEnv.PYTHONPATH",
                 os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    for k, v in configs.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    register_sql_functions(spark)
    # fluent surface: df.raster_join(...), df.with_center(), ... — the
    # reference attaches these to DataFrame too (pyrasterframes __init__)
    from rasterframes_spark.dataframe_api import install_dataframe_methods

    install_dataframe_methods()
    return spark


def register_sql_functions(spark: SparkSession) -> None:
    """Register the rf_*/st_* surface for SQL use — the engine's analog of
    the reference's FunctionRegistry registration
    (``core/.../expressions/package.scala:89-189``). After this,
    ``SELECT rf_tile_mean(tile) FROM tiles`` works in spark.sql."""
    from pyspark.sql.functions import pandas_udf

    import rasterframes_spark.functions.tilestats as ts
    import rasterframes_spark.functions.constructors as ctor
    import rasterframes_spark.geom.functions as gf

    def reg(name, lazy_fn):
        # lazy_pandas_udf wrappers carry (.fn, .returnType)
        spark.udf.register(name, pandas_udf(lazy_fn.returnType)(lazy_fn.fn))

    # tile -> scalar functions (single-arg, directly SQL-registrable)
    for name, op in {
        "rf_tile_sum": ts.rf_tile_sum, "rf_tile_mean": ts.rf_tile_mean,
        "rf_tile_min": ts.rf_tile_min, "rf_tile_max": ts.rf_tile_max,
        "rf_data_cells": ts.rf_data_cells, "rf_no_data_cells": ts.rf_no_data_cells,
        "rf_exists": ts.rf_exists, "rf_for_all": ts.rf_for_all,
        "rf_is_no_data_tile": ts.rf_is_no_data_tile,
    }.items():
        reg(name, op.udf)

    reg("rf_tile_stats", ts._tile_stats_udf)
    reg("rf_tile_histogram", ts._tile_hist_udf)
    reg("rf_tile_to_array_double", ctor._tile_to_array_double_udf)
    reg("rf_tile_to_array_int", ctor._tile_to_array_int_udf)
    reg("rf_xz2_index", gf._xz2_udf_at(18))
    reg("rf_z2_index", gf._z2_udf(31))
    # the st_* surface: one table of the Column API's kernels and SQL
    # function bodies (geom/functions.py)
    registry = spark._jsparkSession.sessionState().functionRegistry()
    for name, fn in gf.SQL_FUNCTIONS.items():
        if isinstance(fn, str):
            # A SQL function cannot replace a built-in one, and Spark 4.1
            # has its own geometry-typed st_asBinary and st_geomFromWKB
            # (off unless spark.sql.geospatial.enabled): drop the name
            # from this session's registry first, as udf.register does.
            registry.dropFunction(
                spark._jvm.org.apache.spark.sql.catalyst.FunctionIdentifier(name))
            spark.sql(f"CREATE TEMPORARY FUNCTION {name}{fn}")
        else:
            reg(name, fn)
    _register_sql_aggregates(spark)


def _register_sql_aggregates(spark: SparkSession) -> None:
    """SQL-callable tile aggregates as grouped-agg pandas UDFs:
    ``SELECT grp, rf_agg_mean(tile) FROM tiles GROUP BY grp``.

    Grouped-agg pandas UDFs have no partial (map-side) aggregation and no
    struct returns, so the struct-valued ``rf_agg_stats`` is exposed as its
    scalar components; the DataFrame-level ``rf_agg_stats``/
    ``rf_agg_approx_histogram`` compositions remain the scale path (per-
    tile partials combined by Spark built-ins)."""
    from pyspark.sql.functions import pandas_udf

    from rasterframes_spark.functions.aggregates import cell_stats
    from rasterframes_spark.functions.constructors import _tiles_from_dict_series

    def stats_of(s: pd.Series):
        tot = tot2 = 0.0
        n = nd = 0
        mn, mx = float("inf"), float("-inf")
        for t in _tiles_from_dict_series(s):
            if t is None:
                continue
            c, tnd, tmn, tmx, sm, ssq = cell_stats(t.masked())
            if c:
                tot, tot2 = tot + sm, tot2 + ssq
                mn, mx = min(mn, tmn), max(mx, tmx)
            n += c
            nd += tnd
        return n, nd, mn, mx, tot, tot2

    def agg_mean(t: pd.Series) -> float:
        n, _, _, _, tot, _ = stats_of(t)
        return tot / n if n else None

    def agg_data_cells(t: pd.Series) -> int:
        return stats_of(t)[0]

    def agg_no_data_cells(t: pd.Series) -> int:
        return stats_of(t)[1]

    def agg_min(t: pd.Series) -> float:
        n, _, mn, _, _, _ = stats_of(t)
        return mn if n else None

    def agg_max(t: pd.Series) -> float:
        n, _, _, mx, _, _ = stats_of(t)
        return mx if n else None

    def agg_variance(t: pd.Series) -> float:
        n, _, _, _, tot, tot2 = stats_of(t)
        if not n:
            return None
        mean = tot / n
        return tot2 / n - mean * mean

    spark.udf.register("rf_agg_mean", pandas_udf(agg_mean, "double"))
    spark.udf.register("rf_agg_data_cells", pandas_udf(agg_data_cells, "long"))
    spark.udf.register("rf_agg_no_data_cells", pandas_udf(agg_no_data_cells, "long"))
    spark.udf.register("rf_agg_min", pandas_udf(agg_min, "double"))
    spark.udf.register("rf_agg_max", pandas_udf(agg_max, "double"))
    spark.udf.register("rf_agg_variance", pandas_udf(agg_variance, "double"))

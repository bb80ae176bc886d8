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
        # user joins on the session); deployments that hit the edge can
        # flip it per-session via RASTERFRAMES_PREFER_SORT_MERGE_JOIN=true
        # or any explicit `configs` override (applied after, wins).
        .config("spark.sql.join.preferSortMergeJoin",
                os.environ.get("RASTERFRAMES_PREFER_SORT_MERGE_JOIN", "false"))
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
    reg("st_point", gf._point_udf)
    reg("st_geom_from_wkt", gf._from_wkt_udf)
    reg("st_distance", gf._distance_udf)
    reg("st_distance_sphere", gf._distance_sphere_udf)
    reg("st_envelope", gf._envelope_udf)
    reg("rf_xz2_index", gf._xz2_udf_at(18))
    reg("rf_z2_index", gf._z2_udf(31))
    # _binary_pred returns the lazy UDF itself
    for name, pred in {
        "st_intersects": gf._intersects, "st_contains": gf._contains,
        "st_within": gf._within, "st_disjoint": gf._disjoint,
        "st_equals": gf._equals, "st_covers": gf._covers,
        "st_coveredBy": gf._covered_by, "st_touches": gf._touches,
        "st_crosses": gf._crosses, "st_overlaps": gf._overlaps,
    }.items():
        reg(name, pred)
    reg("st_relate", gf._relate_udf)
    reg("st_closestPoint", gf._closest_point_udf)
    # reference-exact camelCase names for the already-registered pandas UDFs
    reg("st_geomFromWKT", gf._from_wkt_udf)
    reg("st_makePoint", gf._point_udf)
    reg("st_distanceSphere", gf._distance_sphere_udf)
    spark.udf.register("st_geomFromWKB", lambda b: b, "binary")
    spark.udf.register("st_asBinary", lambda b: b, "binary")
    _register_sql_longtail(spark)
    _register_sql_aggregates(spark)


def _register_sql_longtail(spark: SparkSession) -> None:
    """Register the long-tail st_* surface for SQL — plain (row-at-a-time)
    UDFs over the same pure-python geometry core the vectorized Column API
    uses. SQL registration is the convenience surface (catalogs, ad-hoc
    queries); hot paths should use the Arrow-vectorized DataFrame functions.
    Mirrors the reference's full FunctionRegistry registration
    (``core/.../expressions/package.scala:89-189``)."""
    import rasterframes_spark.geom.core as G
    import rasterframes_spark.geom.functions as gf

    def wkb_in(fn):
        def f(b, *a):
            return None if b is None else fn(G.wkb_loads(bytes(b)), *a)
        return f

    def wkb_out(fn):
        def f(*a):
            g = fn(*a)
            return None if g is None else G.wkb_dumps(g)
        return f

    unary = {
        "st_asText": (wkb_in(G.wkt_dumps), "string"),
        "st_asGeoJSON": (wkb_in(gf._as_geojson), "string"),
        "st_asLatLonText": (wkb_in(
            lambda g: f"{gf._dms(g[1][1], 'N', 'S')} {gf._dms(g[1][0], 'E', 'W')}"
            if g[0] == "Point" and g[1] else None), "string"),
        "st_geometryType": (wkb_in(lambda g: g[0]), "string"),
        "st_x": (wkb_in(lambda g: float(g[1][0]) if g[0] == "Point" and g[1] else None), "double"),
        "st_y": (wkb_in(lambda g: float(g[1][1]) if g[0] == "Point" and g[1] else None), "double"),
        "st_centroid": (wkb_in(lambda g: G.wkb_dumps(("Point", G.centroid(g)))), "binary"),
        "st_area": (wkb_in(lambda g: float(G.area(g))), "double"),
        "st_length": (wkb_in(lambda g: float(G.length(g))), "double"),
        "st_lengthSphere": (wkb_in(gf._length_sphere), "double"),
        "st_numPoints": (wkb_in(lambda g: len(G._points(g))), "int"),
        "st_numGeometries": (wkb_in(lambda g: len(gf._sub_geoms(g))), "int"),
        "st_exteriorRing": (wkb_in(
            lambda g: G.wkb_dumps(("LineString", g[1][0])) if g[0] == "Polygon" else None),
            "binary"),
        "st_boundary": (wkb_in(lambda g: G.wkb_dumps(gf._boundary_of(g))), "binary"),
        "st_dimension": (wkb_in(gf._dimension_of), "int"),
        "st_coordDim": (wkb_in(lambda g: 2), "int"),
        "st_isValid": (wkb_in(gf._is_valid), "boolean"),
        "st_isEmpty": (wkb_in(lambda g: bool(gf._is_empty(g))), "boolean"),
        "st_isSimple": (wkb_in(lambda g: bool(gf._is_simple(g))), "boolean"),
        "st_isClosed": (wkb_in(lambda g: bool(gf._is_closed(g))), "boolean"),
        "st_isRing": (wkb_in(
            lambda g: bool(g[0] == "LineString" and gf._is_closed(g) and gf._is_simple(g))),
            "boolean"),
        "st_isCollection": (wkb_in(
            lambda g: g[0] in ("MultiPoint", "MultiLineString", "MultiPolygon",
                               "GeometryCollection")), "boolean"),
        "st_castToPoint": (wkb_in(
            lambda g: G.wkb_dumps(g) if g[0] == "Point" else None), "binary"),
        "st_castToLineString": (wkb_in(
            lambda g: G.wkb_dumps(g) if g[0] == "LineString" else None), "binary"),
        "st_castToPolygon": (wkb_in(
            lambda g: G.wkb_dumps(g) if g[0] == "Polygon" else None), "binary"),
        "st_pointFromWKB": (wkb_in(
            lambda g: G.wkb_dumps(g) if g[0] == "Point" else None), "binary"),
        "st_antimeridianSafeGeom": (wkb_in(
            lambda g: G.wkb_dumps(gf._antimeridian_safe(g))), "binary"),
        "st_makePolygon": (wkb_in(
            lambda g: G.wkb_dumps(("Polygon", [gf._close_ring(g[1])]))
            if g[0] == "LineString" and len(g[1]) >= 3 else None), "binary"),
    }
    for name, (fn, rt) in unary.items():
        spark.udf.register(name, fn, rt)
    spark.udf.register("st_polygon", unary["st_makePolygon"][0], "binary")

    for expect, name in [("Point", "st_pointFromText"), ("LineString", "st_lineFromText"),
                         ("Polygon", "st_polygonFromText"), ("MultiPoint", "st_mPointFromText"),
                         ("MultiLineString", "st_mLineFromText"),
                         ("MultiPolygon", "st_mPolyFromText")]:
        fn = gf._typed_from_wkt(expect)
        spark.udf.register(name, lambda t, _f=fn: None if t is None else _f(t), "binary")

    spark.udf.register(
        "st_geomFromGeoHash",
        lambda gh, p=None: None if gh is None
        else G.wkb_dumps(gf._geohash_box(gh, None if p is None else int(p))),
        "binary")
    spark.udf.register(
        "st_pointFromGeoHash",
        lambda gh, p=None: None if gh is None
        else G.wkb_dumps(("Point", G.centroid(
            gf._geohash_box(gh, None if p is None else int(p))))), "binary")
    def _geohash_or_null(g, p=12):
        c = G.centroid(g)
        if not c:
            return None  # empty geometry
        return G.geohash(c[0], c[1], int(p) if p is not None else 12)

    spark.udf.register("st_geoHash", wkb_in(_geohash_or_null), "string")
    spark.udf.register(
        "st_byteArray", lambda s: None if s is None else s.encode("utf-8"), "binary")
    spark.udf.register(
        "st_translate",
        wkb_in(lambda g, dx, dy: G.wkb_dumps(G.translate(g, float(dx), float(dy)))),
        "binary")
    spark.udf.register(
        "st_bufferPoint",
        wkb_in(lambda g, r: G.wkb_dumps(G.buffer_point_geodesic(g[1], float(r)))
               if g[0] == "Point" and g[1] else None), "binary")
    spark.udf.register(
        "st_reproject",
        wkb_in(lambda g, s, d: G.wkb_dumps(
            __import__("rasterframes_spark.geom.proj", fromlist=["proj"])
            .transform_geom(g, str(s), str(d)))), "binary")
    spark.udf.register(
        "st_relateBool",
        lambda a, b, pat: None if (a is None or b is None) else bool(
            __import__("rasterframes_spark.geom.relate", fromlist=["relate"])
            .relate_pattern(G.wkb_loads(bytes(a)), G.wkb_loads(bytes(b)), str(pat))),
        "boolean")

    def geometry_n(b, n):
        if b is None or n is None:
            return None
        subs = gf._sub_geoms(G.wkb_loads(bytes(b)))
        n = int(n)
        return G.wkb_dumps(subs[n - 1]) if 1 <= n <= len(subs) else None

    def point_n(b, n):
        if b is None or n is None:
            return None
        g = G.wkb_loads(bytes(b))
        if g[0] != "LineString":
            return None
        pts = g[1]
        n = int(n)
        if n < 0:
            n = len(pts) + n + 1
        return G.wkb_dumps(("Point", tuple(pts[n - 1]))) if 1 <= n <= len(pts) else None

    def interior_ring_n(b, n):
        if b is None or n is None:
            return None
        g = G.wkb_loads(bytes(b))
        if g[0] != "Polygon":
            return None
        holes = g[1][1:]
        n = int(n)
        return G.wkb_dumps(("LineString", holes[n - 1])) if 1 <= n <= len(holes) else None

    spark.udf.register("st_geometryN", geometry_n, "binary")
    spark.udf.register("st_pointN", point_n, "binary")
    spark.udf.register("st_interiorRingN", interior_ring_n, "binary")

    def make_line(arr):
        if arr is None:
            return None
        pts = []
        for b in arr:
            if b is None:
                continue
            g = G.wkb_loads(bytes(b))
            if g[0] == "Point" and g[1]:
                pts.append(g[1])
            elif g[0] in ("MultiPoint", "LineString"):
                pts.extend(g[1])
        return G.wkb_dumps(("LineString", pts)) if len(pts) >= 2 else None

    spark.udf.register("st_makeLine", make_line, "binary")

    def make_box2d(a, b):
        if a is None or b is None:
            return None
        ga, gb = G.wkb_loads(bytes(a)), G.wkb_loads(bytes(b))
        if ga[0] != "Point" or gb[0] != "Point":
            return None
        return G.wkb_dumps(G.box_polygon(ga[1][0], ga[1][1], gb[1][0], gb[1][1]))

    spark.udf.register("st_makeBox2D", make_box2d, "binary")
    spark.udf.register(
        "st_makeBBox",
        lambda xmin, ymin, xmax, ymax: None if xmin is None else G.wkb_dumps(
            G.box_polygon(float(xmin), float(ymin), float(xmax), float(ymax))),
        "binary")
    spark.udf.register(
        "st_makePointM",
        lambda x, y, m: None if (x is None or y is None)
        else G.wkb_dumps(("Point", (float(x), float(y)))), "binary")

    def agg_distance_sphere(arr):
        if arr is None:
            return None
        pts = [G.wkb_loads(bytes(b))[1] for b in arr if b is not None]
        total = 0.0
        for a, b in zip(pts[:-1], pts[1:]):
            total += G.distance_sphere(a, b)
        return total

    spark.udf.register("st_aggregateDistanceSphere", agg_distance_sphere, "double")


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

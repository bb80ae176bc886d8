"""raster_join semantics — mirrors RasterJoinSpec (SURVEY §5, §2.3):
left row count preserved; RHS merged into LHS grid; NoData where no
coverage; different-CRS right side reprojects correctly."""

import warnings

import numpy as np
import pytest

from pyspark.sql import functions as F

from rasterframes_spark.tile import Tile
from rasterframes_spark.operators import raster_join
from rasterframes_spark.geom import proj as P
from tests.conftest import count_jobs, udf_sites

TILE_T = "struct<cell_type:string,cols:int,rows:int,cells:binary>"
EXT_T = "struct<xmin:double,ymin:double,xmax:double,ymax:double>"
SCHEMA = f"id int, tile {TILE_T}, extent {EXT_T}, crs string"


def ext(xmin, ymin, xmax, ymax):
    return {"xmin": float(xmin), "ymin": float(ymin), "xmax": float(xmax), "ymax": float(ymax)}


def row(i, tile, extent, crs="EPSG:4326"):
    return {"id": i, "tile": tile.to_row(), "extent": extent, "crs": crs}


def get_tile(r):
    t = r["tile"]
    return Tile.from_parts(t["cell_type"], t["cols"], t["rows"], bytes(t["cells"]))


@pytest.fixture(scope="module")
def left_df(spark):
    # one 8x8 left tile covering (0,0)-(8,8); 1 unit per pixel
    t = Tile(np.zeros((8, 8), dtype="float64"), "float64")
    return spark.createDataFrame(
        [row(0, t, ext(0, 0, 8, 8)), row(1, t, ext(100, 100, 108, 108))],
        schema=SCHEMA,
    )


def test_same_crs_exact_overlay(spark, left_df):
    # right tile congruent with left id=0: constant 7
    rt = Tile(np.full((8, 8), 7.0), "float64")
    right = spark.createDataFrame([row(0, rt, ext(0, 0, 8, 8))], schema=SCHEMA)
    out = raster_join(left_df, right, left_tile="tile", right_tiles=["tile"]).orderBy("id")
    rows = out.collect()
    assert len(rows) == 2  # left count preserved
    merged0 = get_tile(rows[0].asDict() | {"tile": rows[0]["tile_right"]})
    assert merged0.masked().count() == 64
    assert float(merged0.masked().mean()) == 7.0
    merged1 = get_tile({"tile": rows[1]["tile_right"]})
    assert merged1.masked().count() == 0  # no coverage -> all NoData


def test_partial_coverage_and_multi_merge(spark, left_df):
    # two right tiles each covering half of left id=0
    r1 = Tile(np.full((8, 4), 1.0), "float64")  # west half (cols=4)
    r2 = Tile(np.full((8, 4), 2.0), "float64")  # east half
    right = spark.createDataFrame(
        [row(10, r1, ext(0, 0, 4, 8)), row(11, r2, ext(4, 0, 8, 8))], schema=SCHEMA
    )
    out = raster_join(left_df, right).where(F.col("id") == 0).head()
    t = get_tile({"tile": out["tile_right"]})
    a = t.masked()
    assert a.count() == 64
    assert float(a[:, :4].mean()) == 1.0 and float(a[:, 4:].mean()) == 2.0


def test_null_left_tile_with_coverage_gives_null(spark):
    rt = Tile(np.full((8, 8), 7.0), "float64")
    left = spark.createDataFrame(
        [{"id": 0, "tile": None, "extent": ext(0, 0, 8, 8), "crs": "EPSG:4326"},
         row(1, rt, ext(0, 0, 8, 8))], schema=SCHEMA)
    right = spark.createDataFrame([row(0, rt, ext(0, 0, 8, 8))], schema=SCHEMA)
    rows = raster_join(left, right).orderBy("id").collect()
    assert rows[0]["tile_right"]["cells"] is None
    assert get_tile({"tile": rows[1]["tile_right"]}) == rt


def test_cross_crs_merge(spark):
    # left in UTM 17N around (-78.5, 38.0); right the same square in 4326
    e, n = P.transform_points([-78.5], [38.0], "EPSG:4326", "EPSG:32617")
    e, n = float(e[0]), float(n[0])
    lt = Tile(np.zeros((8, 8), dtype="float64"), "float64")
    left = spark.createDataFrame(
        [row(0, lt, ext(e - 400, n - 400, e + 400, n + 400), "EPSG:32617")], schema=SCHEMA
    )
    # right: 4326 tile covering a generous box around the same area, value 5
    rt = Tile(np.full((32, 32), 5.0), "float64")
    right = spark.createDataFrame(
        [row(0, rt, ext(-78.52, 37.98, -78.48, 38.02))], schema=SCHEMA
    )
    out = raster_join(left, right).head()
    t = get_tile({"tile": out["tile_right"]})
    assert t.masked().count() == 64  # fully covered
    assert float(t.masked().mean()) == 5.0


def test_bilinear_resampling(spark):
    lt = Tile(np.zeros((4, 4), dtype="float64"), "float64")
    left = spark.createDataFrame([row(0, lt, ext(0, 0, 4, 4))], schema=SCHEMA)
    # right: 2x2 gradient over same box
    rt = Tile(np.array([[0.0, 1.0], [2.0, 3.0]]), "float64")
    right = spark.createDataFrame([row(0, rt, ext(0, 0, 4, 4))], schema=SCHEMA)
    out = raster_join(left, right, resampling="bilinear").head()
    t = get_tile({"tile": out["tile_right"]})
    a = np.asarray(t.masked())
    # interpolated values should vary smoothly between 0 and 3
    assert a.min() >= 0.0 and a.max() <= 3.0
    assert a[0, 0] < a[-1, -1]


def _bilinear_reference(a, src_ext, dst_ext, rows, cols):
    """Per-pixel loop: sample ``a`` (float64, NaN = NoData) laid over
    ``src_ext`` at the pixel centres of a rows x cols grid over ``dst_ext``,
    both in one CRS. Bilinear between the four nearest source centres,
    clamped at the edges; NaN where a neighbour is NoData or the centre
    falls off the source."""
    import math

    sxmin, symin, sxmax, symax = src_ext
    dxmin, dymin, dxmax, dymax = dst_ext
    h, w = a.shape
    pw, ph = (dxmax - dxmin) / cols, (dymax - dymin) / rows
    spw, sph = (sxmax - sxmin) / w, (symax - symin) / h
    out = np.full((rows, cols), np.nan)
    for r in range(rows):
        for c in range(cols):
            fc = (dxmin + (c + 0.5) * pw - sxmin) / spw
            fr = (symax - (dymax - (r + 0.5) * ph)) / sph
            if not (0 <= fc <= w and 0 <= fr <= h):
                continue
            x, y = fc - 0.5, fr - 0.5
            x0 = min(max(math.floor(x), 0), w - 1)
            y0 = min(max(math.floor(y), 0), h - 1)
            x1, y1 = min(x0 + 1, w - 1), min(y0 + 1, h - 1)
            wx, wy = min(max(x - x0, 0.0), 1.0), min(max(y - y0, 0.0), 1.0)
            out[r, c] = (a[y0, x0] * (1 - wx) * (1 - wy) + a[y0, x1] * wx * (1 - wy)
                         + a[y1, x0] * (1 - wx) * wy + a[y1, x1] * wx * wy)
    return out


def test_bilinear_equals_one_warp(spark):
    """A bilinear join of one uint16 and one float64 band equals a single
    warp of each right tile onto the left grid: no second resampling of
    the merged result (which truncated uint16 cells and nudged floats)."""
    rng = np.random.default_rng(21)
    u16 = rng.integers(1, 60000, (40, 40)).astype("uint16")
    u16[rng.random((40, 40)) < 0.05] = 0  # NoData of uint16
    f64 = rng.random((40, 40)) * 1000
    f64[rng.random((40, 40)) < 0.05] = np.nan
    src_ext, dst_ext = (0.0, 0.0, 10.0, 10.0), (-0.3, 0.21, 9.7, 10.21)
    lt = Tile(np.zeros((50, 50), "float64"), "float64")
    left = spark.createDataFrame([row(0, lt, ext(*dst_ext))], schema=SCHEMA)
    right = spark.createDataFrame(
        [{"id": 0, "u16": Tile(u16, "uint16").to_row(),
          "f64": Tile(f64, "float64").to_row(), "extent": ext(*src_ext),
          "crs": "EPSG:4326"}],
        schema=f"id int, u16 {TILE_T}, f64 {TILE_T}, extent {EXT_T}, crs string")
    out = raster_join(left, right, right_tiles=["u16", "f64"],
                      resampling="bilinear").head()
    for band, src, ct in (("u16", np.where(u16 == 0, np.nan, u16), "uint16"),
                          ("f64", f64, "float64")):
        want = _bilinear_reference(src.astype("float64"), src_ext, dst_ext, 50, 50)
        got = get_tile({"tile": out[band]})
        assert got.cell_type.name == ct
        m = got.masked()
        assert np.array_equal(np.ma.getmaskarray(m), np.isnan(want))
        assert 0 < m.count() < m.size
        ok = ~np.isnan(want)
        assert np.array_equal(m.data[ok], want[ok].astype(ct))


@pytest.mark.parametrize("kw", [{"max_fan_in": None}, {"max_fan_in": 0},
                                {"max_fan_in": -4}, {"max_fan_in": 2.5},
                                {"resampling": "cubic"}])
def test_raster_join_rejects_bad_arguments(left_df, kw):
    with pytest.raises(ValueError):
        raster_join(left_df, left_df, **kw)


def test_deep_stack_bounded_fan_in(spark, left_df):
    """500 right tiles over ONE left tile. The DEFAULT (max_fan_in=256)
    must route this >256-fan-in row through the chunked pre-merge (each
    grouped task buffers <= N payloads) and produce a result identical to
    both a single chunk (1000) and a tighter bound (32)."""
    rng = np.random.default_rng(5)
    rows = []
    # 500 quarter-tiles scattered over the left extent; distinct values so
    # first-non-NoData-wins ordering is observable
    for i in range(500):
        x0 = float(rng.integers(0, 5))
        y0 = float(rng.integers(0, 5))
        t = Tile(np.full((4, 4), float(i + 1)), "float64")
        rows.append(row(i, t, ext(x0, y0, x0 + 4, y0 + 4)))
    right = spark.createDataFrame(rows, schema=SCHEMA)

    unbounded = raster_join(left_df, right, max_fan_in=1000).orderBy("id").collect()
    default = raster_join(left_df, right).orderBy("id").collect()
    bounded = raster_join(left_df, right, max_fan_in=32).orderBy("id").collect()
    assert len(unbounded) == len(default) == len(bounded) == 2
    for ru, rd, rb in zip(unbounded, default, bounded):
        tu = ru["tile_right"]
        if tu is None:
            assert rd["tile_right"] is None and rb["tile_right"] is None
            continue
        a = Tile.from_parts(tu["cell_type"], tu["cols"], tu["rows"], bytes(tu["cells"]))
        for other in (rd["tile_right"], rb["tile_right"]):
            b = Tile.from_parts(other["cell_type"], other["cols"],
                                other["rows"], bytes(other["cells"]))
            assert np.array_equal(np.ma.getmaskarray(a.masked()),
                                  np.ma.getmaskarray(b.masked()))
            # every path must pick the same (rid-ordered) winner per cell
            assert np.ma.allequal(a.masked(), b.masked())


def test_zonal_stats_operator(spark):
    """zonal_stats (zones broadcast -> rasterize -> mask -> agg) matches a
    numpy pixel-center oracle exactly."""
    import numpy as np
    import rasterframes_spark as rf
    from rasterframes_spark import sources as S
    from pyspark.sql import functions as F

    rng = np.random.default_rng(9)
    arr = (rng.random((128, 128)) * 100).astype("float64")
    raster = S.raster_from_array(spark, arr, (0.0, 0.0, 32.0, 32.0),
                                 tile_dimensions=(64, 64))
    zones = spark.createDataFrame([
        {"zone_id": 1, "wkt": "POLYGON ((2 2, 14 2, 14 14, 2 14, 2 2))"},
        {"zone_id": 2, "wkt": "POLYGON ((18 18, 30 18, 30 30, 18 30, 18 18))"},
    ]).select("zone_id", rf.st_geom_from_wkt("wkt").alias("geom"))
    out = {r["zone_id"]: r for r in rf.zonal_stats(
        raster, zones, stats=("mean", "data_cells", "min", "max")).collect()}
    cw = 32.0 / 128
    xs = (np.arange(128) + 0.5) * cw
    ys = 32.0 - (np.arange(128) + 0.5) * cw
    X, Y = np.meshgrid(xs, ys)
    for zid, (x0, y0, x1, y1) in {1: (2, 2, 14, 14), 2: (18, 18, 30, 30)}.items():
        m = (X > x0) & (X < x1) & (Y > y0) & (Y < y1)
        r = out[zid]
        assert abs(r["mean"] - arr[m].mean()) < 1e-9
        assert r["data_cells"] == int(m.sum())
        assert r["min"] == arr[m].min() and r["max"] == arr[m].max()


def test_zonal_stats_single_cell_stats_site(spark):
    """min/max/sum come from the same per-tile cell-statistics partial as
    mean/data_cells: asking for them adds no Python site, and a zone whose
    cells are all NoData keeps a null sum (its null mean is checked by
    test_all_nodata_mean_is_null)."""
    import rasterframes_spark as rf
    from rasterframes_spark import sources as S

    arr = (np.random.default_rng(5).random((128, 128)) * 100).astype("float64")
    arr[:60, :60] = np.nan
    raster = S.raster_from_array(spark, arr, (0.0, 0.0, 32.0, 32.0),
                                 tile_dimensions=(64, 64))
    boxes = {1: (2, 2, 14, 14), 2: (18, 18, 30, 30), 3: (2, 18, 14, 30)}
    zones = spark.createDataFrame([
        {"zone_id": z, "wkt": f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, "
                              f"{x0} {y1}, {x0} {y0}))"}
        for z, (x0, y0, x1, y1) in boxes.items()
    ]).select("zone_id", rf.st_geom_from_wkt("wkt").alias("geom"))
    full = rf.zonal_stats(raster, zones,
                          stats=("mean", "data_cells", "min", "max", "sum"))
    sites = udf_sites(full)
    assert sites["_zone_partial_udf"] == 1
    assert sites == udf_sites(rf.zonal_stats(raster, zones))
    out = {r["zone_id"]: r for r in rf.zonal_stats(
        raster, zones, stats=("data_cells", "min", "max", "sum")).collect()}
    assert out[3]["data_cells"] == 0
    assert out[3]["sum"] is None and out[3]["min"] is None and out[3]["max"] is None
    xs = (np.arange(128) + 0.5) * 0.25
    X, Y = np.meshgrid(xs, 32.0 - xs)
    for zid in (1, 2):
        x0, y0, x1, y1 = boxes[zid]
        v = arr[(X > x0) & (X < x1) & (Y > y0) & (Y < y1)]
        v = v[~np.isnan(v)]
        assert out[zid]["data_cells"] == v.size
        assert out[zid]["sum"] == pytest.approx(v.sum(), rel=1e-12)
        assert (out[zid]["min"], out[zid]["max"]) == (v.min(), v.max())


def test_zonal_stats_edge_tiles_without_build_job(spark):
    """A 100x100 raster in 64x64 tiles has 36-wide edge tiles: each tile's
    pixel centres come from its own dims, so the zone matches the numpy
    pixel-centre oracle.  Building the query runs no Spark job, each (tile, zone) pair
    crosses into Python once, and an empty raster gives an empty frame of
    the same schema."""
    import rasterframes_spark as rf
    from rasterframes_spark import sources as S

    arr = np.random.default_rng(8).random((100, 100)) * 100
    raster = S.raster_from_array(spark, arr, (0.0, 0.0, 100.0, 100.0),
                                 tile_dimensions=(64, 64))
    zones = spark.createDataFrame([(1, "POLYGON ((50.2 10.2, 90.2 10.2, "
                                       "90.2 40.2, 50.2 40.2, 50.2 10.2))")],
                                  "zone_id int, wkt string") \
        .select("zone_id", rf.st_geom_from_wkt("wkt").alias("geom"))
    q, jobs = count_jobs(spark, lambda: rf.zonal_stats(
        raster, zones, stats=("data_cells", "sum", "min", "max")))
    assert jobs == 0
    X, Y = np.meshgrid(np.arange(100) + 0.5, 100.0 - (np.arange(100) + 0.5))
    v = arr[(X > 50.2) & (X < 90.2) & (Y > 10.2) & (Y < 40.2)]
    assert v.size == 1200
    (r,) = q.collect()
    assert r["data_cells"] == 1200
    assert r["sum"] == pytest.approx(v.sum(), rel=1e-12)
    assert (r["min"], r["max"]) == (v.min(), v.max())
    sites = udf_sites(q)
    assert (sites["_zone_partial_udf"], sites["_envelope_udf"]) == (1, 1)
    assert not {"udf", "_intersects", "_partial_udf"} & set(sites)
    empty = rf.zonal_stats(raster.where(F.lit(False)), zones,
                           stats=("data_cells", "sum", "min", "max"))
    assert empty.schema == q.schema and empty.collect() == []


def test_all_nodata_mean_is_null(spark):
    """Under ANSI, a group or zone whose cells are all NoData gets a null
    mean and variance, not DIVIDE_BY_ZERO."""
    import rasterframes_spark as rf
    from rasterframes_spark import sources as S

    nd = Tile(np.ma.masked_array(np.zeros((4, 4)), mask=True), "float64")
    full = Tile(np.full((4, 4), 2.0), "float64")
    df = spark.createDataFrame(
        [(1, nd.to_row()), (1, nd.to_row()), (2, full.to_row())],
        schema=f"g int, tile {TILE_T}")
    got = {r["g"]: r for r in df.groupBy("g").agg(
        rf.rf_agg_mean("tile").alias("mean"),
        rf.rf_agg_stats("tile").alias("stats")).collect()}
    assert got[1]["mean"] is None
    s = got[1]["stats"]
    assert (s["data_cells"], s["no_data_cells"]) == (0, 32)
    assert s["mean"] is None and s["variance"] is None
    assert got[2]["mean"] == 2.0 and got[2]["stats"]["variance"] == 0.0

    arr = np.full((64, 64), 5.0)
    arr[:32, :32] = np.nan
    raster = S.raster_from_array(spark, arr, (0.0, 0.0, 16.0, 16.0),
                                 tile_dimensions=(32, 32))
    zones = spark.createDataFrame([
        {"zone_id": 1, "wkt": "POLYGON ((1 9, 7 9, 7 15, 1 15, 1 9))"},
        {"zone_id": 2, "wkt": "POLYGON ((9 1, 15 1, 15 7, 9 7, 9 1))"},
    ]).select("zone_id", rf.st_geom_from_wkt("wkt").alias("geom"))
    out = {r["zone_id"]: r for r in rf.zonal_stats(raster, zones).collect()}
    assert out[1]["mean"] is None and out[1]["data_cells"] == 0
    assert out[2]["mean"] == 5.0


def test_release_raster_join_cache(spark, left_df):
    """cache_inputs=True persists stamped inputs; the release helper
    unpersists them (ADVICE r5: no silent accumulation across calls)."""
    from rasterframes_spark.operators import release_raster_join_cache

    t = Tile(np.full((8, 8), 7.0), "float64")
    right = spark.createDataFrame([row(0, t, ext(0, 0, 8, 8))], schema=SCHEMA)
    out = raster_join(left_df, right)
    out.count()
    cached = out._rf_cached_inputs
    assert cached and all(df.storageLevel.useMemory for df in cached)
    assert release_raster_join_cache(out) is True
    assert all(not df.storageLevel.useMemory for df in cached)
    assert release_raster_join_cache(out) is False  # idempotent
    # lazy mode never stamps the attribute
    lazy = raster_join(left_df, right, cache_inputs=False)
    assert getattr(lazy, "_rf_cached_inputs", None) is None


def test_raster_join_single_extent_reprojection_eval(spark, left_df):
    """r15 (§4.4): each side's extent→EPSG:4326 reprojection evaluates
    exactly ONCE — the pair join's bbox-overlap condition lets Catalyst
    infer isnotnull constraints on the projected __e4326 fields and push
    them below the projection, duplicating the UDF (was 2 eval sites per
    side); ``.once`` removes the licence.  Values pinned
    by the reprojection tests above (bit-identical kernel)."""
    rt = Tile(np.full((8, 8), 7.0), "float64")
    right = spark.createDataFrame(
        [row(0, rt, ext(0, 0, 8, 8))], schema=SCHEMA)
    out = raster_join(left_df, right, left_tile="tile",
                      right_tiles=["tile"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert udf_sites(out)["_extent_to_4326_udf"] == 2, plan  # one per side


def test_raster_join_build_job_budget(spark):
    """Building the plan runs no Spark job with a given grid cell size,
    cached inputs or not; with ``cell_size_deg=None`` it runs only the
    percentile ``.head()`` that picks the cell size (its stages plus the
    input cache it materializes).  Every build merges the same values."""
    from rasterframes_spark.operators import release_raster_join_cache

    # rows no other test builds, so no earlier test's materialized input
    # cache serves the percentile pass
    t = Tile(np.zeros((8, 8), dtype="float64"), "float64")
    left = spark.createDataFrame(
        [row(10, t, ext(0, 0, 8, 8)), row(11, t, ext(100, 100, 108, 108))],
        schema=SCHEMA)
    rt = Tile(np.full((8, 8), 7.0), "float64")
    right = spark.createDataFrame([row(0, rt, ext(0, 0, 8, 8))],
                                  schema=SCHEMA)
    built = {}
    for name, kw in (("cached", {"cell_size_deg": 8.0}),
                     ("uncached", {"cell_size_deg": 8.0,
                                   "cache_inputs": False}),
                     ("grid_from_data", {})):
        built[name] = count_jobs(
            spark, lambda kw=kw: raster_join(left, right, **kw))
    jobs = {name: n for name, (_, n) in built.items()}
    assert jobs == {"cached": 0, "uncached": 0, "grid_from_data": 3}
    for name, (df, _) in built.items():
        r0 = df.orderBy("id").collect()[0]
        t = get_tile({"tile": r0["tile_right"]})
        assert (t.masked().count(), float(t.masked().sum())) \
            == (64, 448.0), name
        release_raster_join_cache(df)


def test_raster_join_build_warns_nothing(spark):
    """Every grouped-map kernel of the plan annotates all its parameters,
    so Spark infers their eval type without a type-hint warning."""
    t = Tile(np.zeros((8, 8), dtype="float64"), "float64")
    left = spark.createDataFrame([row(20, t, ext(0, 0, 8, 8))], schema=SCHEMA)
    right = spark.createDataFrame(
        [row(0, Tile(np.full((8, 8), 7.0), "float64"), ext(0, 0, 8, 8))],
        schema=SCHEMA)
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        raster_join(left, right, cell_size_deg=8.0, cache_inputs=False)


def _tile_frame(spark, n, shift=0.0):
    """``n`` random 64x64 float64 tiles made by ``mapInPandas`` and
    ``localCheckpoint``ed: Catalyst prices the checkpoint from its origin
    plan, so the frame's size statistic reads KBs for MBs of tiles."""
    import pandas as pd

    def gen(batches):
        # self-contained: executors do not import this test module
        import numpy as np

        for pdf in batches:
            yield pd.DataFrame([{
                "id": int(i),
                "tile": {"cell_type": "float64", "cols": 64, "rows": 64,
                         "cells": np.random.default_rng(int(i))
                         .random((64, 64)).tobytes()},
                "extent": {"xmin": i + shift, "ymin": 0.0,
                           "xmax": i + shift + 1.0, "ymax": 1.0},
                "crs": "EPSG:4326"} for i in pdf["id"]])

    return (spark.range(n).repartition(4)
            .mapInPandas(gen, schema=SCHEMA.replace("id int", "id long"))
            .localCheckpoint())


def test_payload_join_is_shuffled_hash_under_hostile_stats(spark):
    """The payload join on ``__rid`` is a shuffled hash join that builds
    the pairs side, even when the payload's size statistic reads far
    under the broadcast threshold: a broadcast would ship the whole
    payload to every task, and a sort-merge join would sort it."""
    from tests.conftest import plan_nodes

    left, right = _tile_frame(spark, 64), _tile_frame(spark, 64, shift=0.5)
    stat = float(str(right._jdf.queryExecution().optimizedPlan()
                     .stats().sizeInBytes()))
    payload = 64 * 64 * 64 * 8  # 2 MiB of cells
    threshold = float(spark.conf.get(
        "spark.sql.autoBroadcastJoinThreshold").rstrip("b"))
    assert stat * 100 < payload and stat < threshold, stat
    out = raster_join(left, right, cell_size_deg=1.0, cache_inputs=False)
    assert len(out.collect()) == 64  # runs out's own plan to its final form

    def keys(j):
        ks = j.leftKeys()
        return {ks.apply(i).name() for i in range(ks.size())}

    joins = [p for p in plan_nodes(out)
             if p.getClass().getSimpleName().endswith("JoinExec")
             and "__rid" in keys(p)]
    kinds = [p.getClass().getSimpleName() for p in joins]
    assert kinds == ["ShuffledHashJoinExec"], kinds
    assert joins[0].buildSide().getClass().getSimpleName() == "BuildLeft$"

"""raster_join semantics — mirrors RasterJoinSpec (SURVEY §5, §2.3):
left row count preserved; RHS merged into LHS grid; NoData where no
coverage; different-CRS right side reprojects correctly."""

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


def test_merge_shuffle_partitions_scale_with_volume(spark, left_df):
    """VERDICT r13 #2: merge shuffles size from estimated tile volume.
    Small joins estimate under the session default and keep unsized
    plans (None); metadata claiming ~8 GB of payload sizes the count
    to ~2x(L+R)/32MiB; absurd volumes cap at 4096."""
    from rasterframes_spark.operators.raster_join import (
        _MERGE_TARGET_BYTES, _merge_shuffle_partitions)

    # the module fixture's two 8x8 float64 tiles: far under default
    assert _merge_shuffle_partitions(
        left_df, left_df, ["tile"], "tile") is None

    def claimed(n_rows, cols, rows, ct="uint16ud0"):
        # metadata-only estimate: cells can stay tiny/imaginary
        return spark.range(n_rows).select(
            F.struct(F.lit(ct).alias("cell_type"),
                     F.lit(cols).alias("cols"), F.lit(rows).alias("rows"),
                     F.lit(b"").alias("cells")).alias("tile"))

    big = claimed(8000, 256, 256)          # 8000 x 256^2 x 2B ~ 1 GB
    n = _merge_shuffle_partitions(big, big, ["tile"], "tile")
    want = int(4 * 8000 * 256 * 256 * 2 // _MERGE_TARGET_BYTES) + 1
    assert n == want > int(spark.conf.get("spark.sql.shuffle.partitions"))

    huge = claimed(4000000, 512, 512, "float64")
    assert _merge_shuffle_partitions(
        huge, huge, ["tile"], "tile") == 4096

    # a sized join's executed plan carries the explicit partition count
    t = Tile(np.arange(64, dtype="float64").reshape(8, 8), "float64")
    small_real = spark.createDataFrame(
        [row(0, t, ext(0, 0, 8, 8))], schema=SCHEMA)
    import importlib
    rj = importlib.import_module("rasterframes_spark.operators.raster_join")
    orig = rj._MERGE_TARGET_BYTES
    rj._MERGE_TARGET_BYTES = 16  # force sizing on the tiny fixture
    try:
        out = raster_join(small_real, small_real, cache_inputs=False)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "REPARTITION_BY_NUM" in plan or "hashpartitioning(__lid" \
            in plan
        r = out.collect()[0]
        merged = get_tile({"tile": r["tile_right"]})
        assert float(merged.masked().sum()) == float(np.arange(64).sum())
    finally:
        rj._MERGE_TARGET_BYTES = orig


def test_raster_join_lazy_and_pinned_partition_modes(spark, left_df,
                                                     monkeypatch):
    """merge_partitions=None + cache_inputs=False builds the plan with
    ZERO eager jobs (the pre-r14 lazy contract, restored as an explicit
    mode); an int pins the count without any estimate job; both produce
    values identical to auto."""
    from pyspark.sql import DataFrame

    rt = Tile(np.full((8, 8), 7.0), "float64")
    right = spark.createDataFrame([row(0, rt, ext(0, 0, 8, 8))],
                                  schema=SCHEMA)

    def boom(self):
        raise AssertionError("lazy raster_join ran an eager job")

    monkeypatch.setattr(DataFrame, "count", boom)
    monkeypatch.setattr(DataFrame, "head", boom)
    monkeypatch.setattr(DataFrame, "collect", boom)
    lazy = raster_join(left_df, right, cache_inputs=False,
                       merge_partitions=None, cell_size_deg=8.0)
    pinned = raster_join(left_df, right, cache_inputs=False,
                         merge_partitions=7, cell_size_deg=8.0)
    assert lazy._jdf.queryExecution().analyzed() is not None
    monkeypatch.undo()
    vals = {}
    for name, df in (("lazy", lazy), ("pinned", pinned),
                     ("auto", raster_join(left_df, right,
                                          cell_size_deg=8.0))):
        r0 = df.orderBy("id").collect()[0]
        t = get_tile({"tile": r0["tile_right"]})
        vals[name] = (t.masked().count(), float(t.masked().sum()))
    assert vals["lazy"] == vals["pinned"] == vals["auto"] == (64, 448.0)


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


def test_merge_sizing_free_for_small_trusted_joins(spark, monkeypatch):
    """r15 (VERDICT r14 #1): merge_partitions='auto' launches ZERO eager
    jobs when both inputs' Catalyst size stats price the real payload
    and read far under the sized threshold — the bench-cell shape
    (cache_inputs=False over the caller's materialized caches).  The
    sized path is untouched: UDF-derived / Range-built / checkpointed
    frames stay untrusted and still run the metadata estimate."""
    import pandas as pd

    from pyspark.sql import DataFrame

    from rasterframes_spark.operators.raster_join import _stat_trustworthy

    t = Tile(np.full((8, 8), 7.0), "float64")
    left = spark.createDataFrame(
        [row(0, t, ext(0, 0, 8, 8))], schema=SCHEMA).cache()
    right = spark.createDataFrame(
        [row(0, t, ext(0, 0, 8, 8))], schema=SCHEMA).cache()
    left.count(), right.count()   # materialize: stats become exact

    def boom(self, *a, **k):
        raise AssertionError(
            "auto raster_join ran an eager job on a small trusted join")

    monkeypatch.setattr(DataFrame, "count", boom)
    monkeypatch.setattr(DataFrame, "head", boom)
    monkeypatch.setattr(DataFrame, "collect", boom)
    out = raster_join(left, right, cache_inputs=False,
                      cell_size_deg=8.0)       # merge_partitions="auto"
    assert out._jdf.queryExecution().analyzed() is not None
    monkeypatch.undo()
    r0 = out.collect()[0]
    merged = get_tile({"tile": r0["tile_right"]})
    assert (merged.masked().count(), float(merged.masked().sum())) \
        == (64, 448.0)

    # trust boundary: materialized cache yes; UDF projections, Range
    # frames and localCheckpoints (origin-stats, measured ~1000x under
    # real mapInPandas payloads) no
    from rasterframes_spark.functions._kernel import lazy_pandas_udf

    @lazy_pandas_udf("long")
    def ident(s: pd.Series) -> pd.Series:
        return s

    assert _stat_trustworthy(left)
    assert _stat_trustworthy(left.select("id", "tile"))
    assert not _stat_trustworthy(
        left.select(ident(F.col("id")).alias("id")))
    assert not _stat_trustworthy(spark.range(4))
    assert not _stat_trustworthy(left.localCheckpoint())
    left.unpersist(), right.unpersist()


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

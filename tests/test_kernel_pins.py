"""Output pins for the per-row tile kernels.

Every kernel runs on the same four rows: an ordinary uint16 tile, an
int32 tile with NoData cells, an all-NoData tile and a null tile.  Each
output value is reduced to a canonical JSON form (Rows as dicts, bytes as
a sha256 prefix, floats by ``repr``) and compared against the digest
pinned below, so any change in values, cell types, NoData masks or
null-in behaviour fails here.  ``rf_tile_stats`` is pinned field by field:
its mean and variance are compared at rel 1e-12, the rest exactly.

When a kernel's output is *meant* to change, re-pin it from
``_canon`` / ``_digest`` below and say why in the change log.
"""

from __future__ import annotations

import hashlib
import json

import numpy as np
import pytest

from pyspark.sql import Row, functions as F

NC, NR = 8, 6


def _inputs():
    from rasterframes_spark.tile import CellType, Tile

    n = NC * NR
    u16 = (np.arange(n) * 1237 % 60000 + 1).astype("uint16").reshape(NR, NC)
    i32 = (5000 - np.arange(n) * 977).astype("int32").reshape(NR, NC)
    i32_mask = (np.arange(n) % 5 == 2).reshape(NR, NC)
    return [
        Tile(np.ma.masked_array(u16), CellType.parse("uint16")),
        Tile(np.ma.masked_array(i32, mask=i32_mask), CellType.parse("int32")),
        Tile(np.ma.masked_array(np.zeros((NR, NC), "uint16"), mask=True),
             CellType.parse("uint16")),
        None,
    ]


def _companion():
    from rasterframes_spark.tile import CellType, Tile

    u = np.arange(NC * NR, dtype="float64").reshape(NR, NC) / 7.0 - 2.0
    return Tile(np.ma.masked_array(u, mask=(u == u[1, 3])), CellType.parse("float64"))


def _kernels():
    import rasterframes_spark as rf

    t = "t"
    f64 = rf.rf_convert_cell_type(t, "float64")
    return {
        "where": rf.rf_where(t, "u", t),
        "local_is_in_array": rf.rf_local_is_in(t, F.col("arr")),
        "array_to_tile": rf.rf_array_to_tile(
            rf.rf_tile_to_array_double(t), NC, NR, "float32"),
        "tile_to_array_double": rf.rf_tile_to_array_double(t),
        "tile_to_array_int": rf.rf_tile_to_array_int(t),
        "convert_cell_type": rf.rf_convert_cell_type(t, "float32"),
        "interpret_cell_type_as": rf.rf_interpret_cell_type_as(t, "int16"),
        "with_no_data": rf.rf_with_no_data(t, 5000),
        "tile_histogram": rf.rf_tile_histogram(t),
        "slope": rf.rf_slope(f64, "ext"),
        "aspect": rf.rf_aspect(f64, "ext"),
        "hillshade": rf.rf_hillshade(f64, "ext", z_factor=0.01),
        "render_ascii": rf.rf_render_ascii(t),
        "render_matrix": rf.rf_render_matrix(f64),
        "rgb_composite": rf.rf_rgb_composite(t, "u", t),
        "render_png": rf.rf_render_png(t),
        "render_png_rgb": rf.rf_render_png(rf.rf_rgb_composite(t, "u", t), "rgb"),
        "render_color_ramp_png": rf.rf_render_color_ramp_png(t, "magma"),
        "tile_sum": rf.rf_tile_sum(t),
        "tile_mean": rf.rf_tile_mean(t),
        "tile_min": rf.rf_tile_min(t),
        "tile_max": rf.rf_tile_max(t),
        "data_cells": rf.rf_data_cells(t),
        "no_data_cells": rf.rf_no_data_cells(t),
        "exists": rf.rf_exists(t),
        "for_all": rf.rf_for_all(t),
        "is_no_data_tile": rf.rf_is_no_data_tile(t),
        "fused_tile": rf.rf_local_multiply(rf.rf_local_add(t, 3), "u"),
        "fused_column_scalar": rf.rf_local_add.scalar(t, F.col("k")),
        "fused_scalar": rf.rf_tile_sum(rf.rf_local_add(t, 3)),
        "tile_stats": rf.rf_tile_stats(t),
    }


def _canon(v):
    if isinstance(v, Row):
        return {k: _canon(x) for k, x in v.asDict().items()}
    if isinstance(v, (bytes, bytearray)):
        return "sha256:" + hashlib.sha256(bytes(v)).hexdigest()[:16]
    if isinstance(v, dict):
        return [[_canon(k), _canon(x)] for k, x in sorted(v.items())]
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    if isinstance(v, float):
        return repr(v)
    return v


def _digest(v) -> str:
    return hashlib.sha256(json.dumps(_canon(v)).encode()).hexdigest()[:12]


@pytest.fixture(scope="module")
def outputs(spark):
    from pyspark.sql.types import (ArrayType, DoubleType, IntegerType,
                                   StructField, StructType)
    from rasterframes_spark.tile import TILE_SCHEMA

    ext_t = StructType([StructField(f, DoubleType()) for f in
                        ("xmin", "ymin", "xmax", "ymax")])
    schema = StructType([
        StructField("id", IntegerType()), StructField("t", TILE_SCHEMA),
        StructField("u", TILE_SCHEMA), StructField("arr", ArrayType(DoubleType())),
        StructField("ext", ext_t), StructField("k", DoubleType())])
    u = _companion().to_row()
    rows = [(i, None if t is None else t.to_row(), u, [1.0, 5000.0, -18448.0],
             (0.0, 0.0, 30.0 * NC, 30.0 * NR), 2.5)
            for i, t in enumerate(_inputs())]
    df = spark.createDataFrame(rows, schema)
    ks = _kernels()
    got = df.select("id", *[c.alias(n) for n, c in ks.items()]).orderBy("id").collect()
    assert [r["id"] for r in got] == [0, 1, 2, 3]
    return {n: [r[n] for r in got] for n in ks}


# name -> digests of the outputs for (uint16, int32 with NoData, all-NoData, null)
PINS = {
    "array_to_tile": ["382595dc29d6", "730ea8a5dd1f", "62365b85b676", "56fe6f601975"],
    "aspect": ["ad85ec843ede", "7715c626991c", "0893b1da78ac", "56fe6f601975"],
    "convert_cell_type": ["382595dc29d6", "730ea8a5dd1f", "62365b85b676", "56fe6f601975"],
    "data_cells": ["98010bd9270f", "aea92132c4cb", "5feceb66ffc8", "74234e98afe7"],
    "exists": ["b5bea41b6c62", "b5bea41b6c62", "fcbcf165908d", "74234e98afe7"],
    "for_all": ["b5bea41b6c62", "fcbcf165908d", "fcbcf165908d", "74234e98afe7"],
    "fused_column_scalar": ["83c6142e9c98", "9894f4a60074", "0893b1da78ac", "56fe6f601975"],
    "fused_scalar": ["fff31adc6263", "ba5a27a26d92", "74234e98afe7", "74234e98afe7"],
    "fused_tile": ["5c74f14e377d", "7365da2d3b9a", "0893b1da78ac", "56fe6f601975"],
    "hillshade": ["6cc9f5cdbc51", "9449844c0eb9", "0893b1da78ac", "56fe6f601975"],
    "interpret_cell_type_as": ["56e7f0503ae1", "4d5fa2a4485c", "c20cd013bb98", "56fe6f601975"],
    "is_no_data_tile": ["fcbcf165908d", "fcbcf165908d", "b5bea41b6c62", "74234e98afe7"],
    "local_is_in_array": ["b705ecacc820", "3cd52f5db43d", "5e48ee5c067e", "56fe6f601975"],
    "no_data_cells": ["5feceb66ffc8", "4a44dc153642", "98010bd9270f", "74234e98afe7"],
    "render_ascii": ["c33aa20ef407", "c114faafdb21", "8339492499dc", "74234e98afe7"],
    "render_color_ramp_png": ["b005db4c8270", "99ca143b73d9", "2cf4b337b357", "74234e98afe7"],
    "render_matrix": ["341d3a331643", "8e3fbca48a20", "2610115feb62", "74234e98afe7"],
    "render_png": ["8db74727efbe", "25eea45daa68", "91aad98d5d70", "74234e98afe7"],
    "render_png_rgb": ["7de9b2366b68", "062be35eaa49", "ccb17409d9ec", "74234e98afe7"],
    "rgb_composite": ["57d5da83e9ec", "43a49c43a69f", "ffe0d966a86e", "56fe6f601975"],
    "slope": ["5408cc843bfb", "a4593688f638", "0893b1da78ac", "56fe6f601975"],
    "tile_histogram": ["5c5180bdaff1", "0b8028e5d1f6", "4f53cda18c2b", "74234e98afe7"],
    "tile_max": ["d0919cbd08bb", "c70d005e147b", "74234e98afe7", "74234e98afe7"],
    "tile_mean": ["96a3a523a2e5", "ae037d0b30dd", "74234e98afe7", "74234e98afe7"],
    "tile_min": ["a51162aeeb05", "a05aae5d596e", "74234e98afe7", "74234e98afe7"],
    "tile_sum": ["2e3e0335c0f9", "77633260342b", "74234e98afe7", "74234e98afe7"],
    "tile_to_array_double": ["33868b462600", "2abc074bc4d1", "6c381433aa5e", "74234e98afe7"],
    "tile_to_array_int": ["26527225b00a", "f022e00343ab", "1a34f420d438", "74234e98afe7"],
    "where": ["1fcc8f6036b0", "29529246b1fe", "0893b1da78ac", "56fe6f601975"],
    "with_no_data": ["a1b2ea001723", "e63aca21a95d", "c8a8b3f7020c", "56fe6f601975"],
}

# (data_cells, no_data_cells, min, max, mean, variance) per input row
STATS_PINS = [
    (48, 0, 1.0, 58140.0, 29070.5, 293664933.91666675),
    (38, 10, -39942.0, 5000.0, -17702.394736842107, 179272312.55470908),
    (0, 48, None, None, None, None),
]


@pytest.mark.parametrize("name", sorted(PINS))
def test_kernel_output_pinned(outputs, name):
    assert [_digest(v) for v in outputs[name]] == PINS[name], \
        json.dumps(_canon(outputs[name]))[:2000]


def test_null_tile_gives_all_null_struct(outputs):
    for name in ("where", "convert_cell_type", "slope", "rgb_composite", "fused_tile"):
        assert outputs[name][3] == Row(cell_type=None, cols=None, rows=None, cells=None)
    assert outputs["tile_stats"][3] == Row(
        data_cells=None, no_data_cells=None, min=None, max=None, mean=None, variance=None)


def test_tile_stats_pinned(outputs):
    got = outputs["tile_stats"]
    for row, pin in zip(got[:3], STATS_PINS):
        vals = tuple(row)
        assert vals[:4] == pin[:4]
        for g, p in zip(vals[4:], pin[4:]):
            assert g == (None if p is None else pytest.approx(p, rel=1e-12))


def test_tile_sum_mean_accumulate_float32_in_float64(spark):
    """A float32 tile sums in float64, fused or not, like ``rf_agg_stats``
    and the reference (float32 accumulation gives 32783808.0 here)."""
    import rasterframes_spark as rf
    from rasterframes_spark.tile import Tile
    from tests.conftest import make_tile_df

    a = (np.random.default_rng(1).random((256, 256)) * 1000).astype("float32")
    exact = float(a.astype("float64").sum())
    assert exact == pytest.approx(32783808.4677, abs=1e-3)
    df = make_tile_df(spark, [Tile(a, "float32")])
    fused = rf.rf_local_add("tile", 0.0)
    r = df.select(rf.rf_tile_sum("tile").alias("s"), rf.rf_tile_mean("tile").alias("m"),
                  rf.rf_tile_sum(fused).alias("fs"),
                  rf.rf_tile_mean(fused).alias("fm")).head()
    agg = df.agg(rf.rf_agg_stats("tile").alias("a")).head()["a"]
    for s in (r["s"], r["fs"], agg["mean"] * a.size):
        assert s == pytest.approx(exact, rel=1e-12)
    for m in (r["m"], r["fm"], agg["mean"]):
        assert m == pytest.approx(exact / a.size, rel=1e-12)


# ---------------------------------------------------------------------------
# Warp-and-merge pins: raster_join, the overview raster and the slippy export
# all sample tiles at another grid's pixel centres, first non-NoData wins.
# ---------------------------------------------------------------------------

RJ_SCHEMA = ("id int, tile struct<cell_type:string,cols:int,rows:int,cells:binary>, "
             "extent struct<xmin:double,ymin:double,xmax:double,ymax:double>, crs string")


def _rj_df(spark, rows, num_slices=None):
    data = [(i, None if t is None else t.to_row(),
             dict(zip(("xmin", "ymin", "xmax", "ymax"), map(float, e))), crs)
            for i, t, e, crs in rows]
    if num_slices is None:
        return spark.createDataFrame(data, RJ_SCHEMA)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(data, num_slices), RJ_SCHEMA)


def _masked_tile(a, mask, ct):
    from rasterframes_spark.tile import Tile

    return Tile(np.ma.masked_array(a, mask=mask), ct)


def _joined_digests(out):
    return [_digest([r["id"], r["tile_right"]]) for r in out.orderBy("id").collect()]


def test_raster_join_cross_crs_pinned(spark):
    """uint16 EPSG:4326 right tiles (one raw, one null) merged nearest onto
    an int16 EPSG:32617 left grid: overlapping, edge, uncovered and null
    left rows."""
    from rasterframes_spark.geom import proj as P
    from rasterframes_spark.operators import raster_join
    from rasterframes_spark.tile import Tile

    e, n = (float(v[0]) for v in P.transform_points([-78.5], [38.0],
                                                    "EPSG:4326", "EPSG:32617"))
    lt = Tile(np.zeros((16, 16), "int16"), "int16")
    left = _rj_df(spark, [
        (0, lt, (e - 800, n - 800, e, n), "EPSG:32617"),
        (1, lt, (e, n - 800, e + 800, n), "EPSG:32617"),
        (2, lt, (e - 800, n, e, n + 800), "EPSG:32617"),
        (3, lt, (e + 5000, n + 5000, e + 5800, n + 5800), "EPSG:32617"),
        (4, None, (e + 9000, n + 9000, e + 9800, n + 9800), "EPSG:32617"),
    ])
    rng = np.random.default_rng(11)
    rights = []
    for i, (x0, y0, ct) in enumerate([(-78.512, 37.990, "uint16"),
                                      (-78.503, 37.996, "uint16raw"),
                                      (-78.507, 37.986, "uint16")]):
        a = rng.integers(0, 60000, (12, 12)).astype("uint16")
        a[rng.random((12, 12)) < 0.15] = 0
        rights.append((10 + i, Tile(a, ct), (x0, y0, x0 + 0.011, y0 + 0.009),
                       "EPSG:4326"))
    rights.append((20, None, (-78.51, 37.99, -78.49, 38.01), "EPSG:4326"))
    out = raster_join(left, _rj_df(spark, rights))
    assert _joined_digests(out) == [
        "91d5ac30b741", "f56b7c60ac4f", "9945ac939baa", "4e703cdf610c", "d14797f4f6a0"]


def test_raster_join_same_crs_partial_pinned(spark):
    """float64 right tiles with NaN holes over a float32 EPSG:4326 left grid,
    off the left pixel grid and covering only part of it."""
    from rasterframes_spark.operators import raster_join
    from rasterframes_spark.tile import Tile

    lt = Tile(np.zeros((10, 10), "float32"), "float32")
    left = _rj_df(spark, [(0, lt, (0, 0, 10, 10), "EPSG:4326"),
                          (1, lt, (10, 0, 20, 10), "EPSG:4326")])
    rng = np.random.default_rng(12)
    rights = []
    for i, (x0, y0) in enumerate([(1.3, 2.7), (6.45, -1.2), (8.9, 5.05)]):
        a = rng.random((7, 7)) * 100
        a[rng.random((7, 7)) < 0.2] = np.nan
        rights.append((i, Tile(a, "float64"), (x0, y0, x0 + 5.6, y0 + 4.9),
                       "EPSG:4326"))
    out = raster_join(left, _rj_df(spark, rights))
    assert _joined_digests(out) == ["33cdbf29de33", "741867770086"]


def test_raster_join_chunked_stack_pinned(spark):
    """40 overlapping right tiles over one left tile with max_fan_in=8: five
    chunk partials overlay in chunk order."""
    from rasterframes_spark.operators import raster_join
    from rasterframes_spark.tile import Tile

    lt = Tile(np.zeros((12, 12), "float64"), "float64")
    left = _rj_df(spark, [(0, lt, (0, 0, 12, 12), "EPSG:4326")])
    rng = np.random.default_rng(13)
    rights = []
    for i in range(40):
        x0, y0 = rng.random(2) * 8
        mask = rng.random((4, 4)) < 0.25
        rights.append((i, _masked_tile(np.full((4, 4), i + 1, "uint8"), mask, "uint8"),
                       (x0, y0, x0 + 4.5, y0 + 4.5), "EPSG:4326"))
    out = raster_join(left, _rj_df(spark, rights), max_fan_in=8)
    assert _joined_digests(out) == ["2259c4ff73e1"]


def test_overview_raster_pinned(spark):
    """Six EPSG:4326 float32 tiles with NoData, in three partitions, painted
    onto an EPSG:3857 canvas that covers part of them."""
    import rasterframes_spark as rf
    from rasterframes_spark.geom import proj as P

    rng = np.random.default_rng(14)
    rows = []
    for i in range(6):
        x0, y0 = -80.0 + (i % 3) * 0.5, 37.0 + (i // 3) * 0.5
        a = (rng.random((9, 9)) * 50).astype("float32")
        rows.append((i, _masked_tile(a, rng.random((9, 9)) < 0.2, "float32"),
                     (x0, y0, x0 + 0.5, y0 + 0.5), "EPSG:4326"))
    df = _rj_df(spark, rows, num_slices=3)
    dest = P.transform_extent((-79.9, 37.1, -78.7, 37.95), "EPSG:4326", "EPSG:3857")
    ov = rf.rf_agg_overview_raster(df, "tile", "extent", "crs", 40, 30, dest,
                                   dest_crs="EPSG:3857", merge_partitions=2)
    m = ov.masked()
    assert _digest([ov.cell_type.name, m.data.tobytes(),
                    np.ma.getmaskarray(m).tobytes()]) == "d260364a4653"


def test_write_slippy_pinned(spark, tmp_path):
    """Overlapping EPSG:4326 tiles and one EPSG:3857 tile exported at zoom 2."""
    from rasterframes_spark.sources.sinks import write_slippy

    rng = np.random.default_rng(15)
    world = 2 * 3.141592653589793 * 6378137.0 / 2
    rows = []
    for i, (x0, y0) in enumerate([(-100.0, 10.0), (-60.0, 30.0), (20.0, -50.0)]):
        a = rng.random((16, 20)) * 1000
        a[rng.random((16, 20)) < 0.1] = np.nan
        rows.append((i, _masked_tile(a, np.isnan(a), "float64"),
                     (x0, y0, x0 + 70.0, y0 + 40.0), "EPSG:4326"))
    a = rng.integers(1, 500, (8, 8)).astype("int32")
    rows.append((3, _masked_tile(a, a % 7 == 0, "int32"),
                 (-world / 3, -world / 5, world / 6, world / 4), "EPSG:3857"))
    out = tmp_path / "slippy"
    write_slippy(_rj_df(spark, rows), str(out), zoom=2)
    files = sorted(p for p in out.rglob("*.png"))
    assert _digest([[str(p.relative_to(out)), p.read_bytes()] for p in files]) == "24174aa7bd31"


# ---------------------------------------------------------------------------
# Zonal pins: zones burned at the tile's pixel centres (even-odd rule;
# no vertex lies on a centre), NoData and null tiles, exact intersects test.
# ---------------------------------------------------------------------------

ZONES = {
    1: "POLYGON ((1 9, 6 9, 6 14, 1 14, 1 9))",
    2: "POLYGON ((5 3, 12 3, 12 12, 5 12, 5 3))",
    # L-shape: its bbox overlaps the top-right tile, the shape does not
    3: "POLYGON ((1 1, 14 1, 14 4, 4 4, 4 14, 1 14, 1 1))",
    4: "MULTIPOLYGON (((9 9, 15 9, 15 15, 9 15, 9 9), (11 11, 13 11, 13 13, "
       "11 13, 11 11)), ((2.3 1.3, 6.7 1.3, 6.7 3.7, 2.3 3.7, 2.3 1.3)))",
    # touches only the raster's right edge: intersects, covers no centre
    5: "POLYGON ((16 10, 20 10, 20 12, 16 12, 16 10))",
    # inside the top-right tile, touching the top-left tile's edge
    6: "POLYGON ((8 12, 10.6 12.2, 10 14, 8 14, 8 12))",
    # off the raster
    7: "POLYGON ((30 30, 31 30, 31 31, 30 31, 30 30))",
}


def _zonal_inputs(spark):
    import rasterframes_spark as rf

    v = (np.arange(64) * 37 % 101 * 0.25 - 5.0).reshape(8, 8)
    nd = (np.arange(64) % 7 == 3).reshape(8, 8)
    iv = (np.arange(64) * 53 % 97 - 40).astype("int32").reshape(8, 8)
    raster = _rj_df(spark, [
        (0, _masked_tile(v, nd, "float64"), (0, 8, 8, 16), "EPSG:4326"),
        (1, _masked_tile(v[::-1] * 2.0, nd.T, "float64"), (8, 8, 16, 16), "EPSG:4326"),
        (2, _masked_tile(iv, nd[:, ::-1], "int32"), (0, 0, 8, 8), "EPSG:4326"),
        (3, None, (8, 0, 16, 8), "EPSG:4326"),
    ])
    zones = spark.createDataFrame(sorted(ZONES.items()), "zone_id int, wkt string") \
        .select("zone_id", rf.st_geom_from_wkt("wkt").alias("geom"))
    return raster, zones


def test_zonal_stats_pinned(spark):
    """Rectangles, an L-shape, a MultiPolygon with a hole, edge-touching
    zones, NoData cells, an int32 tile and a null tile; zone 7 misses."""
    from rasterframes_spark.operators import zonal_stats

    raster, zones = _zonal_inputs(spark)
    digests = {}
    for stats in (("stats", "sum"), ("mean", "data_cells", "min", "max")):
        rows = zonal_stats(raster, zones, stats=stats).orderBy("zone_id").collect()
        digests[stats] = [_digest(r) for r in rows]
    assert digests == {
        ("stats", "sum"): ["74bf4a8f5dd4", "875751a6f892", "1185daced913",
                           "5d67f7a30e16", "145f4f1608d5", "f53a5df0f814"],
        ("mean", "data_cells", "min", "max"): [
            "7fcaf191f105", "5b2e45a4fad3", "625bc475c139", "fb3775affeb8",
            "37e49156a96e", "bce624ba5edd"],
    }, digests


def test_rasterize_zones_pinned(spark):
    """rf_rasterize of the zonal pin shapes on a 16x16 and a 12x10 grid."""
    import rasterframes_spark as rf

    _, zones = _zonal_inputs(spark)
    ext = F.struct(*[F.lit(float(v)).alias(k) for k, v in
                     zip(("xmin", "ymin", "xmax", "ymax"), (0, 0, 16, 16))])
    rows = zones.select(
        "zone_id", rf.rf_rasterize("geom", ext, F.col("zone_id"), 16, 16).alias("a"),
        rf.rf_rasterize("geom", ext, 3, 12, 10).alias("b")).orderBy("zone_id").collect()
    assert [_digest(r) for r in rows] == [
        "f89c4f0046dc", "eed90fe59365", "2ea66f3215cc", "112db8dc00e1",
        "75d643ba04e5", "e340b878c213", "592b44e5f658"], [_digest(r) for r in rows]

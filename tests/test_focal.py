"""Focal ops vs hand-computed numpy oracles — mirrors FocalFunctionsSpec."""

import numpy as np
import pytest

import rasterframes_spark as rf
from rasterframes_spark.tile import Tile

TILE_T = "struct<cell_type:string,cols:int,rows:int,cells:binary>"
EXT_T = "struct<xmin:double,ymin:double,xmax:double,ymax:double>"


def one_tile(df, col):
    r = df.select(col).head()[0]
    return Tile.from_parts(r["cell_type"], r["cols"], r["rows"], bytes(r["cells"]))


@pytest.fixture(scope="module")
def focal_df(spark):
    arr = np.arange(25, dtype="float64").reshape(5, 5)
    t = Tile(arr, "float64")
    nd = Tile(np.ma.masked_array(arr, mask=(arr == 12)), "float64")
    return spark.createDataFrame(
        [{"tile": t.to_row(), "nd": nd.to_row(),
          "extent": {"xmin": 0.0, "ymin": 0.0, "xmax": 5.0, "ymax": 5.0}}],
        schema=f"tile {TILE_T}, nd {TILE_T}, extent {EXT_T}",
    )


def test_focal_mean_center_and_edge(spark, focal_df):
    t = one_tile(focal_df.select(rf.rf_focal_mean("tile").alias("r")), "r")
    a = np.arange(25).reshape(5, 5)
    # center cell (2,2): mean of 3x3 block = 12
    assert t.masked()[2, 2] == 12.0
    # corner (0,0): mean of the 4 available cells (0,1,5,6) = 3
    assert t.masked()[0, 0] == 3.0


def test_focal_mean_skips_nodata(spark, focal_df):
    t = one_tile(focal_df.select(rf.rf_focal_mean("nd").alias("r")), "r")
    # neighborhood of (1,1): 0,1,2,5,6,7,10,11,12(ND) -> mean of 8 = 5.25
    assert t.masked()[1, 1] == 5.25
    # default target='all' (reference default): the ND center (2,2) is
    # GAP-FILLED with its neighborhood mean (neighbors exclude itself)
    nbrs = [6, 7, 8, 11, 13, 16, 17, 18]
    assert t.masked()[2, 2] == np.mean(nbrs)
    # target='data': ND centers keep NoData (TargetCell.Data)
    td = one_tile(focal_df.select(
        rf.rf_focal_mean("nd", target="data").alias("r")), "r")
    assert np.ma.getmaskarray(td.masked())[2, 2]
    assert td.masked()[1, 1] == 5.25
    # target='nodata': data cells keep their INPUT value, ND cells fill
    tn = one_tile(focal_df.select(
        rf.rf_focal_mean("nd", target="nodata").alias("r")), "r")
    assert tn.masked()[2, 2] == np.mean(nbrs)
    assert tn.masked()[1, 1] == 6.0  # original value at (1,1)


def test_focal_min_max_median_stddev(spark, focal_df):
    got = focal_df.select(
        rf.rf_focal_min("tile").alias("mn"), rf.rf_focal_max("tile").alias("mx"),
        rf.rf_focal_median("tile").alias("md"), rf.rf_focal_stddev("tile").alias("sd"),
    )
    row = got.head()
    mn = Tile.from_parts(row["mn"]["cell_type"], 5, 5, bytes(row["mn"]["cells"]))
    mx = Tile.from_parts(row["mx"]["cell_type"], 5, 5, bytes(row["mx"]["cells"]))
    md = Tile.from_parts(row["md"]["cell_type"], 5, 5, bytes(row["md"]["cells"]))
    assert mn.masked()[2, 2] == 6.0 and mx.masked()[2, 2] == 18.0
    assert md.masked()[2, 2] == 12.0


def test_focal_mode(spark, spark_session=None):
    arr = np.array([[1, 1, 2], [1, 3, 2], [4, 4, 4]], dtype="float64")
    df = spark.createDataFrame([{"t": Tile(arr, "float64").to_row()}], schema=f"t {TILE_T}")
    t = one_tile(df.select(rf.rf_focal_mode("t").alias("r")), "r")
    assert t.masked()[1, 1] == 1.0  # 1 appears 3x in the 3x3


def test_convolve_identity_and_sum(spark, focal_df):
    ident = [[0, 0, 0], [0, 1, 0], [0, 0, 0]]
    t = one_tile(focal_df.select(rf.rf_convolve("tile", ident).alias("r")), "r")
    assert np.allclose(np.asarray(t.masked()), np.arange(25).reshape(5, 5))
    box = [[1, 1, 1], [1, 1, 1], [1, 1, 1]]
    t2 = one_tile(focal_df.select(rf.rf_convolve("tile", box).alias("r")), "r")
    assert t2.masked()[2, 2] == 9 * 12.0  # sum of 3x3 around center


def test_slope_flat_and_plane(spark):
    flat = Tile(np.full((4, 4), 7.0), "float64")
    # plane rising 1 unit per cell eastward, cell size 1 -> slope = 45 deg
    plane = Tile(np.tile(np.arange(4, dtype="float64"), (4, 1)), "float64")
    df = spark.createDataFrame(
        [{"f": flat.to_row(), "p": plane.to_row(),
          "extent": {"xmin": 0.0, "ymin": 0.0, "xmax": 4.0, "ymax": 4.0}}],
        schema=f"f {TILE_T}, p {TILE_T}, extent {EXT_T}",
    )
    sf = one_tile(df.select(rf.rf_slope("f", "extent").alias("r")), "r")
    assert float(np.abs(np.asarray(sf.masked())).max()) == 0.0
    sp = one_tile(df.select(rf.rf_slope("p", "extent").alias("r")), "r")
    assert abs(sp.masked()[1, 1] - 45.0) < 1e-9
    asp = one_tile(df.select(rf.rf_aspect("p", "extent").alias("r")), "r")
    assert abs(asp.masked()[1, 1] - 270.0) < 1e-9  # rises east -> downslope faces west
    hs = one_tile(df.select(rf.rf_hillshade("p", "extent").alias("r")), "r")
    assert 0 <= hs.masked()[1, 1] <= 255


def test_moransi_stripes(spark):
    # alternating column stripes -> negative autocorrelation under queen
    # adjacency (checkerboard would be exactly 0: diagonals cancel)
    arr = np.tile(np.arange(6) % 2, (6, 1))
    df = spark.createDataFrame(
        [{"t": Tile(arr.astype("float64"), "float64").to_row()}], schema=f"t {TILE_T}"
    )
    t = one_tile(df.select(rf.rf_focal_moransi("t").alias("r")), "r")
    assert float(t.masked()[2:4, 2:4].mean()) < 0


def test_focal_neighborhood_shapes(spark):
    """circle / nesw / annulus / wedge footprints vs direct numpy oracles
    (the reference's full neighborhood grammar, util/package.scala:190-225;
    previously every spec silently behaved as a square)."""
    from rasterframes_spark.functions.focal import _footprint

    rng = np.random.default_rng(5)
    arr = rng.uniform(0, 10, (9, 9))
    t = Tile(arr, "float64")
    df = spark.createDataFrame([{"t": t.to_row()}], schema=f"t {TILE_T}")

    def got(spec):
        row = df.select(rf.rf_focal_mean("t", spec).alias("r")).head()["r"]
        out = Tile.from_parts(row["cell_type"], row["cols"], row["rows"],
                              bytes(row["cells"]))
        return np.asarray(out.masked())

    def oracle(spec):
        r, m = _footprint(spec)
        if m is None:
            m = np.ones((2 * r + 1, 2 * r + 1), dtype=bool)
        exp = np.zeros_like(arr)
        for i in range(9):
            for j in range(9):
                vals = []
                for dy in range(-r, r + 1):
                    for dx in range(-r, r + 1):
                        if not m[dy + r, dx + r]:
                            continue
                        y, x = i + dy, j + dx
                        if 0 <= y < 9 and 0 <= x < 9:
                            vals.append(arr[y, x])
                exp[i, j] = np.mean(vals)
        return exp

    for spec in ("square-1", "circle-1.5", "nesw-2", "annulus-1-2",
                 "wedge-2-0-90"):
        np.testing.assert_allclose(got(spec), oracle(spec), rtol=1e-12,
                                   err_msg=spec)
    # distinct specs give distinct results (no silent square fallback)
    assert not np.allclose(got("circle-1.5"), got("square-2"))
    assert not np.allclose(got("nesw-1"), got("square-1"))
    import pytest as _pytest
    with _pytest.raises(Exception):
        df.select(rf.rf_focal_mean("t", "blob-3").alias("r")).head()


def test_target_slot_conflict_raises(spark, focal_df):
    """A string in the 3rd positional slot (reference target signature)
    combined with an explicit non-default target= kwarg must raise, not
    silently discard the kwarg (ADVICE r5)."""
    with pytest.raises(ValueError, match="both"):
        rf.rf_focal_mean("tile", "square-1", "data", target="nodata")
    # the compat slot alone still works
    got = focal_df.select(
        rf.rf_focal_mean("tile", "square-1", "data").alias("r")).head()["r"]
    assert got is not None


def test_moransi_honors_neighborhood_footprint(spark, focal_df):
    """rf_focal_moransi with a nesw footprint must differ from the full
    square (it previously parsed only the radius — ADVICE r5), and must
    match a python oracle of the nesw neighbor mean."""
    sq = focal_df.select(rf.rf_focal_moransi("tile", "square-1").alias("r")).head()["r"]
    ne = focal_df.select(rf.rf_focal_moransi("tile", "nesw-1").alias("r")).head()["r"]

    def cells(row):
        return np.frombuffer(row["cells"], dtype="float64").reshape(5, 5)

    a_sq, a_ne = cells(sq), cells(ne)
    assert not np.allclose(a_sq, a_ne)

    arr = np.arange(25, dtype="float64").reshape(5, 5)
    z = arr - arr.mean()
    var = arr.var()
    exp = np.zeros((5, 5))
    for i in range(5):
        for j in range(5):
            vals = []
            for dy, dx in ((-1, 0), (1, 0), (0, -1), (0, 1)):  # nesw, no center
                y, x = i + dy, j + dx
                if 0 <= y < 5 and 0 <= x < 5:
                    vals.append(z[y, x])
            exp[i, j] = z[i, j] * np.mean(vals) / var
    np.testing.assert_allclose(a_ne, exp, rtol=1e-12)


def test_dem_ops_on_integer_tile(spark):
    """rf_slope, rf_aspect and rf_hillshade accept an int16 DEM with NoData
    and give the same tiles as the float64 copy of it."""
    z = (np.arange(36).reshape(6, 6) * 7 % 23 * 3).astype("int16")
    nd = np.zeros((6, 6), bool)
    nd[2, 3] = True
    dem = Tile(np.ma.masked_array(z, mask=nd), "int16")
    df = spark.createDataFrame(
        [{"i": dem.to_row(),
          "extent": {"xmin": 0.0, "ymin": 0.0, "xmax": 60.0, "ymax": 60.0}}],
        schema=f"i {TILE_T}, extent {EXT_T}",
    ).withColumn("f", rf.rf_convert_cell_type("i", "float64"))
    for op in (rf.rf_slope, rf.rf_aspect, rf.rf_hillshade):
        got = one_tile(df.select(op("i", "extent").alias("r")), "r").masked()
        want = one_tile(df.select(op("f", "extent").alias("r")), "r").masked()
        assert np.array_equal(np.ma.getmaskarray(got), np.ma.getmaskarray(want))
        assert np.ma.allequal(got, want)
        assert np.isfinite(got.compressed()).any()


def test_render_matrix_shows_nodata(spark):
    """rf_render_matrix prints NoData cells as ``--`` for integer and float
    tiles alike."""
    mask = np.zeros((2, 3), bool)
    mask[0, 1] = True
    tiles = {
        "i": Tile(np.ma.masked_array(np.arange(6, dtype="int32").reshape(2, 3),
                                     mask=mask), "int32"),
        "u": Tile(np.ma.masked_array(np.arange(1, 7, dtype="uint8").reshape(2, 3),
                                     mask=mask), "uint8"),
        "f": Tile(np.ma.masked_array(np.arange(6.0).reshape(2, 3) / 3, mask=mask),
                  "float64"),
        "n": Tile(np.ma.masked_array(np.zeros((2, 3)), mask=True), "float32"),
    }
    df = spark.createDataFrame([{k: t.to_row() for k, t in tiles.items()}],
                               schema=", ".join(f"{k} {TILE_T}" for k in tiles))
    got = df.select(*[rf.rf_render_matrix(k).alias(k) for k in tiles]).head()
    assert got["i"] == "[[0 -- 2]\n [3 4 5]]"
    assert got["u"] == "[[1 -- 3]\n [4 5 6]]"
    assert got["f"] == "[[0.0 -- 0.6667]\n [1.0 1.3333 1.6667]]"
    assert got["n"] == "[[-- -- --]\n [-- -- --]]"

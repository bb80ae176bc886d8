"""Explode/assemble round-trip — mirrors ExplodeSpec + TileAssemblerSpec."""

import numpy as np
import pytest

from pyspark.sql import functions as F

import rasterframes_spark as rf
from rasterframes_spark.tile import Tile

TILE_T = "struct<cell_type:string,cols:int,rows:int,cells:binary>"


@pytest.fixture(scope="module")
def tile_df(spark, rng):
    tiles = []
    for i in range(4):
        arr = rng.integers(0, 100, (6, 5)).astype("int32")  # 5 cols x 6 rows
        mask = rng.random((6, 5)) < 0.15
        tiles.append(Tile(np.ma.masked_array(arr, mask=mask), "int32"))
    return (
        spark.createDataFrame(
            [{"tile_id": f"t{i}", "tile": t.to_row()} for i, t in enumerate(tiles)],
            schema=f"tile_id string, tile {TILE_T}",
        ),
        tiles,
    )


def test_explode_shape_and_values(spark, tile_df):
    df, tiles = tile_df
    cells = rf.explode_tiles(df, ["tile"])
    assert set(cells.columns) == {"tile_id", "column_index", "row_index", "tile"}
    assert cells.count() == 4 * 30
    got = {
        (r["tile_id"], r["row_index"], r["column_index"]): r["tile"]
        for r in cells.collect()
    }
    for i, t in enumerate(tiles):
        a = t.masked()
        for rr in range(6):
            for cc in range(5):
                v = got[(f"t{i}", rr, cc)]
                if np.ma.getmaskarray(a)[rr, cc]:
                    assert v is None or np.isnan(v)
                else:
                    assert v == float(a[rr, cc])


def test_explode_sample(spark, tile_df):
    df, _ = tile_df
    n = rf.explode_tiles(df, ["tile"], sample_fraction=0.5).count()
    assert 20 < n < 100


def test_assemble_roundtrip(spark, tile_df):
    df, tiles = tile_df
    cells = rf.explode_tiles(df, ["tile"])
    back = rf.assemble_tiles(
        cells, ["tile_id"], "column_index", "row_index", "tile", cols=5, rows=6,
        cell_type="int32",
    )
    got = {r["tile_id"]: r["tile"] for r in back.collect()}
    for i, orig in enumerate(tiles):
        t = Tile.from_parts(*[got[f"t{i}"][k] for k in ("cell_type", "cols", "rows")],
                            bytes(got[f"t{i}"]["cells"]))
        assert np.array_equal(np.ma.getmaskarray(t.masked()), np.ma.getmaskarray(orig.masked()))
        assert np.ma.allequal(t.masked(), orig.masked().astype("int32"))


@pytest.mark.parametrize("ctname,dtype,lo,hi", [
    ("uint16ud255", "uint16", 0, 255),
    ("int16", "int16", -3000, 3000),
    ("int8ud-128", "int8", -127, 127),
    ("uint8", "uint8", 1, 250),   # uint8 NoData sentinel is 0 — keep values off it
    ("bool", "uint8", 0, 2),
])
def test_assemble_packed_matches_dual(spark, rng, ctname, dtype, lo, hi):
    """The packed-int32 collect path is byte-identical to the dual-list path
    for every packed-eligible cell type, including signed sign-extension."""
    tiles = []
    for i in range(5):
        arr = rng.integers(lo, hi, (16, 16)).astype(dtype)
        mask = rng.random((16, 16)) < 0.2
        tiles.append(Tile(np.ma.masked_array(arr, mask=mask), ctname))
    df = spark.createDataFrame(
        [{"tile_id": f"t{i}", "tile": t.to_row()} for i, t in enumerate(tiles)],
        schema=f"tile_id string, tile {TILE_T}",
    ).repartition(3)
    cells = rf.explode_tiles(df, ["tile"])

    def grab(method):
        out = rf.assemble_tiles(cells, ["tile_id"], "column_index", "row_index",
                                "tile", cols=16, rows=16, cell_type=ctname,
                                method=method)
        return {r["tile_id"]: (r["tile"]["cell_type"],
                               bytes(r["tile"]["cells"])) for r in out.collect()}

    packed, dual = grab("collect_packed"), grab("collect_dual")
    assert packed == dual


def test_assemble_packed_rejects_wide_types(spark, tile_df):
    df, _ = tile_df
    cells = rf.explode_tiles(df, ["tile"])
    with pytest.raises(ValueError, match="collect_packed"):
        rf.assemble_tiles(cells, ["tile_id"], "column_index", "row_index",
                          "tile", cols=5, rows=6, cell_type="int32",
                          method="collect_packed")


def test_assemble_unknown_method_raises(spark, tile_df):
    df, _ = tile_df
    cells = rf.explode_tiles(df, ["tile"])
    for method in ("chunked", "Collect", ""):
        with pytest.raises(ValueError, match="unknown assemble_tiles method"):
            rf.assemble_tiles(cells, ["tile_id"], "column_index", "row_index",
                              "tile", cols=5, rows=6, method=method)


def test_tile_to_array_and_back(spark, tile_df):
    df, tiles = tile_df
    out = df.select("tile_id", rf.rf_array_to_tile(
        rf.rf_tile_to_array_double("tile"), 5, 6, "float64").alias("t2"))
    row = out.where(F.col("tile_id") == "t0").head()["t2"]
    t2 = Tile.from_parts(row["cell_type"], row["cols"], row["rows"], bytes(row["cells"]))
    assert np.ma.allequal(t2.masked(), tiles[0].masked().astype("float64"))

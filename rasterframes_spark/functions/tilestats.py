"""Per-tile scalar statistics (SURVEY.md §2.8) and tile predicates (§2.2).

Reference parity: ``core/.../expressions/tilestats/*.scala`` (file:line in
each function). All NoData-aware: statistics run over data cells only.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, functions as F, types as T

from rasterframes_spark.tile import Tile
from rasterframes_spark.functions._kernel import col_or_name, tile_to_scalar, tile_udf
from rasterframes_spark.functions.aggregates import cell_stats

__all__ = [
    "rf_tile_sum", "rf_tile_mean", "rf_tile_min", "rf_tile_max",
    "rf_data_cells", "rf_no_data_cells", "rf_tile_stats",
    "rf_exists", "rf_for_all", "rf_is_no_data_tile",
    "rf_dimensions", "rf_cell_type", "rf_tile_histogram",
]


def _none_if_masked(v):
    return None if v is np.ma.masked else v


# tilestats/Sum.scala:43, TileMean.scala:43, TileMin.scala:43, TileMax.scala:43
# (sum and mean accumulate in double, as the reference and rf_agg_stats do)
rf_tile_sum = tile_to_scalar(
    lambda a: _none_if_masked(float(a.sum(dtype="float64"))) if a.count() else None, "double")
rf_tile_mean = tile_to_scalar(
    lambda a: float(a.mean(dtype="float64")) if a.count() else None, "double")
rf_tile_min = tile_to_scalar(lambda a: float(a.min()) if a.count() else None, "double")
rf_tile_max = tile_to_scalar(lambda a: float(a.max()) if a.count() else None, "double")

# tilestats/DataCells.scala:43, NoDataCells.scala:43
rf_data_cells = tile_to_scalar(lambda a: int(a.count()), "long")
rf_no_data_cells = tile_to_scalar(lambda a: int(np.ma.getmaskarray(a).sum()), "long")

# tilestats/Exists.scala:27, ForAll.scala:27, IsNoDataTile.scala:43
rf_exists = tile_to_scalar(lambda a: bool((a.filled(0) != 0).any()), "boolean")
rf_for_all = tile_to_scalar(
    lambda a: bool((a.filled(0) != 0).all()) and a.count() == a.size, "boolean"
)
rf_is_no_data_tile = tile_to_scalar(lambda a: bool(a.count() == 0), "boolean")


_STATS_T = T.StructType(
    [T.StructField(n, T.LongType()) for n in ("data_cells", "no_data_cells")]
    + [T.StructField(n, T.DoubleType()) for n in ("min", "max", "mean", "variance")])


@tile_udf(_STATS_T)
def _tile_stats_udf(tile: Tile) -> tuple:
    n, nd, mn, mx, sm, ssq = cell_stats(tile.masked())
    if n == 0:
        return (0, nd, None, None, None, None)
    mean = sm / n
    return (n, nd, mn, mx, mean, ssq / n - mean * mean)


def rf_tile_stats(tile) -> Column:
    """struct{data_cells,no_data_cells,min,max,mean,variance}
    (tilestats/TileStats.scala:44). Variance is population variance."""
    return _tile_stats_udf(col_or_name(tile))


def rf_dimensions(tile) -> Column:
    """Tile dims as struct{cols,rows} — pure Catalyst field access, no UDF
    (accessors/GetDimensions.scala:43)."""
    t = col_or_name(tile)
    return F.struct(t.getField("cols").alias("cols"), t.getField("rows").alias("rows"))


def rf_cell_type(tile) -> Column:
    """Cell type name — pure Catalyst field access (accessors/GetCellType.scala:38)."""
    return col_or_name(tile).getField("cell_type")


_HIST_T = "map<double,bigint>"


@tile_udf(_HIST_T)
def _tile_hist_udf(tile: Tile) -> dict:
    vals = np.asarray(tile.masked().compressed(), dtype="float64")
    uniq, counts = np.unique(vals, return_counts=True)
    return {float(v): int(c) for v, c in zip(uniq, counts)}


def rf_tile_histogram(tile) -> Column:
    """Exact per-tile value histogram as map<value,count>
    (tilestats/TileHistogram.scala:44 — the reference uses a streaming
    histogram; exact counts are a strict-stronger result at tile scale)."""
    return _tile_hist_udf(col_or_name(tile))

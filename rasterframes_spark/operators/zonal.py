"""Zonal statistics: vector zones x raster tiles -> per-zone aggregates.

The reference ships this as a documented workflow (python/docs/
zonal-algebra.pymd: intersects-join + rf_rasterize + rf_mask + rf_agg_*),
not a packaged operator; here it is one call, and the burned mask tile is
gone: as in Raptor (VLDB 2019), the cells under each polygon are
aggregated in place.

Plan shape (the 100 TB posture): zones broadcast (vector dims are small
next to imagery — same `.hint('broadcast')` the reference docs use), each
with its envelope computed once on the broadcast side.  The cross join
keeps only the (tile, zone) pairs whose bounding boxes overlap — a JVM
comparison, so pairs that cannot meet never reach Python.  Each remaining
pair crosses into Python once: one kernel runs the exact intersects test
(a disjoint pair gives null and is dropped), selects the tile's pixel
centres inside the zone by the rule ``rf_rasterize`` burns with, and
returns the cell-statistics partial of those cells.  Built-in aggregates
combine the partials per zone, and the raster side never shuffles until
then.  Grid dims come from each tile, so edge tiles need no special case
and building the plan runs no job.  For a zone table too large to
broadcast, pre-bucket both sides on grid cells as ``raster_join`` does and
feed each bucket through this operator.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

from rasterframes_spark.functions._kernel import lazy_pandas_udf
from rasterframes_spark.functions.aggregates import (
    _NO_CELLS, _PARTIAL_FIELDS, _PARTIAL_T, cell_stats, mean_of_partials,
    stats_of_partials)
from rasterframes_spark.geom import core as G
from rasterframes_spark.geom.functions import _envelope_udf
from rasterframes_spark.tile import decode_struct_pdf

__all__ = ["zonal_stats"]

_STAT_FNS = ("mean", "data_cells", "min", "max", "sum", "stats")


def _zone_partial(tile, bounds: np.ndarray, wkb):
    """Cell-statistics partial of the cells of ``tile`` (over ``bounds``)
    whose centres lie in the zone; None when the two do not intersect."""
    if wkb is None or np.isnan(bounds).any():
        return None
    zone = G.wkb_loads(bytes(wkb))
    bounds = tuple(float(v) for v in bounds)
    if not G.intersects(G.box_polygon(*bounds), zone):
        return None
    if tile is None:
        return _NO_CELLS
    a = tile.masked()
    cnt, _, mn, mx, sm, ssq = cell_stats(
        a[G.pixel_centres_in(zone, bounds, tile.cols, tile.rows)])
    # every other cell of the tile, outside the zone or NoData, is no-data
    return (cnt, a.size - cnt, mn, mx, sm, ssq)


@lazy_pandas_udf(_PARTIAL_T)
def _zone_partial_udf(t: pd.DataFrame, e: pd.DataFrame, g: pd.Series) -> pd.DataFrame:
    bounds = e[["xmin", "ymin", "xmax", "ymax"]].to_numpy(dtype="float64")
    rows = [_zone_partial(tile, b, wkb)
            for tile, b, wkb in zip(decode_struct_pdf(t), bounds, g.values)]
    none = (None,) * len(_PARTIAL_FIELDS)
    return pd.DataFrame([none if r is None else r for r in rows], columns=_PARTIAL_FIELDS)


def zonal_stats(raster: DataFrame, zones: DataFrame,
                zone_id: str = "zone_id", geom_col: str = "geom",
                tile_col: str = "tile", extent_col: str = "extent",
                stats: tuple = ("mean", "data_cells")) -> DataFrame:
    """Per-zone cell statistics over every tile each zone intersects.

    ``raster``: tiles + extents (one CRS — reproject first if mixed).
    ``zones``: (zone_id, geometry) — broadcast, so keep it dimension-sized.
    ``stats``: any of mean | data_cells | min | max | sum | stats
    (stats -> the full rf_agg_stats struct). Returns one row per zone that
    intersects at least one tile.  A cell counts when its centre lies in
    the zone; the rest of every intersecting tile counts as no-data.
    """
    for s in stats:
        if s not in _STAT_FNS:
            raise ValueError(f"unknown stat {s!r}; pick from {_STAT_FNS}")

    # .once on both UDFs: the filters on their columns (the ones the join
    # infers, the null-pair filter) would otherwise run them a second time
    z = zones.select(F.col(zone_id), F.col(geom_col).alias("__g"),
                     _envelope_udf.once(F.col(geom_col)).alias("__env"))
    r = raster.select(F.col(tile_col).alias("__t"), F.col(extent_col).alias("__e"))
    e, b = F.col("__e"), F.col("__env")
    # closed comparisons: a zone touching a tile edge reaches the exact test
    overlap = ((b["xmin"] <= e["xmax"]) & (b["xmax"] >= e["xmin"])
               & (b["ymin"] <= e["ymax"]) & (b["ymax"] >= e["ymin"]))
    parts = r.join(F.broadcast(z), overlap).select(
        F.col(zone_id),
        _zone_partial_udf.once(F.col("__t"), e, F.col("__g")).alias("__zp"),
    ).where(F.col("__zp.cnt").isNotNull())
    # every statistic reads the one per-pair partial
    p = F.col("__zp")
    aggs = {
        "mean": mean_of_partials(p),
        "data_cells": F.sum(p.getField("cnt")),
        "min": F.min(p.getField("mn")),
        "max": F.max(p.getField("mx")),
        # pairs without data cells add nothing, so an empty zone is null
        "sum": F.sum(F.when(p.getField("cnt") > 0, p.getField("sm"))),
        "stats": stats_of_partials(p),
    }
    return parts.groupBy(zone_id).agg(*[aggs[s].alias(s) for s in stats])

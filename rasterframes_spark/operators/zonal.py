"""Zonal statistics: vector zones x raster tiles -> per-zone aggregates.

The reference ships this as a documented workflow (python/docs/
zonal-algebra.pymd: intersects-join + rf_rasterize + rf_mask + rf_agg_*),
not a packaged operator; here it is one call.

Plan shape (the 100 TB posture): zones broadcast (vector dims are small
next to imagery — same `.hint('broadcast')` the reference docs use), the
raster side never shuffles until the final per-zone aggregation of masked
partials, and the zone burn + mask fuse into the tile-kernel chain. For a
zone table too large to broadcast, pre-bucket both sides on grid cells as
``raster_join`` does and feed each bucket through this operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["zonal_stats"]

_STAT_FNS = ("mean", "data_cells", "min", "max", "sum", "stats")


def zonal_stats(raster: DataFrame, zones: DataFrame,
                zone_id: str = "zone_id", geom_col: str = "geom",
                tile_col: str = "tile", extent_col: str = "extent",
                stats: tuple = ("mean", "data_cells")) -> DataFrame:
    """Per-zone cell statistics over every tile each zone intersects.

    ``raster``: tiles + extents (one CRS — reproject first if mixed).
    ``zones``: (zone_id, geometry) — broadcast, so keep it dimension-sized.
    ``stats``: any of mean | data_cells | min | max | sum | stats
    (stats -> the full rf_agg_stats struct). Returns one row per zone that
    intersects at least one tile.
    """
    import rasterframes_spark as rf
    from rasterframes_spark.functions.aggregates import _partials

    for s in stats:
        if s not in _STAT_FNS:
            raise ValueError(f"unknown stat {s!r}; pick from {_STAT_FNS}")

    # rasterize needs literal grid dims; read them from one tile header
    # (metadata-only — uniform tile grids are the layer invariant)
    head = raster.select(
        F.col(tile_col).getField("cols").alias("c"),
        F.col(tile_col).getField("rows").alias("r")).first()
    if head is None:
        return raster.sparkSession.createDataFrame(
            [], raster.select(zone_id).schema) if zone_id in raster.columns \
            else zones.select(zone_id).limit(0)
    dims_c, dims_r = int(head["c"]), int(head["r"])

    pairs = raster.crossJoin(F.broadcast(zones)).where(
        rf.st_intersects(rf.st_geometry(F.col(extent_col)), F.col(geom_col)))
    burned = pairs.select(
        F.col(zone_id),
        rf.rf_mask(
            F.col(tile_col),
            rf.rf_rasterize(F.col(geom_col), F.col(extent_col), 1,
                            dims_c, dims_r),
        ).alias("__zt"),
    )
    # every statistic reads the one per-tile cell-statistics partial, so
    # the aggregation crosses into Python once whatever ``stats`` asks for
    p = _partials("__zt")
    aggs = []
    for s in stats:
        if s == "mean":
            aggs.append(rf.rf_agg_mean("__zt").alias("mean"))
        elif s == "data_cells":
            aggs.append(rf.rf_agg_data_cells("__zt").alias("data_cells"))
        elif s == "min":
            aggs.append(F.min(p.getField("mn")).alias("min"))
        elif s == "max":
            aggs.append(F.max(p.getField("mx")).alias("max"))
        elif s == "sum":
            # tiles without data cells add nothing, so an empty zone is null
            aggs.append(F.sum(F.when(p.getField("cnt") > 0, p.getField("sm")))
                        .alias("sum"))
        elif s == "stats":
            aggs.append(rf.rf_agg_stats("__zt").alias("stats"))
    return burned.groupBy(zone_id).agg(*aggs)

"""Tile pyramid construction: 2x2 child tiles -> one parent tile at half
resolution, repeated per zoom level.

The reference delegates pyramids to GeoTrellis layer pyramiding; here it is
a DataFrame operator: one ``applyInPandas`` pass per level, grouped on the
parent spatial key — a single shuffle per level, each group holding at most
4 child tiles. Writing each level with ``write_tile_layer`` under
``<path>/z<level>`` gives the slippy-style multi-zoom store.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

__all__ = ["pyramid_up", "build_pyramid"]


def pyramid_up(layer: DataFrame, tile_col: str = "tile",
               key_col: str = "spatial_key", extent_col: str = "extent",
               method: str = "mean") -> DataFrame:
    """One level up: children at spatial_key (c, r) aggregate into the
    parent at (c//2, r//2); each child lands in its quadrant of a double-
    size canvas which is then 2x2-pooled back to the child tile size.

    ``method``: 'mean' (NoData-aware average of each 2x2 block) or
    'nearest' (top-left pixel — exact decimation). Cells where every
    contributing pixel is NoData stay NoData; missing children leave their
    parent quadrant NoData. Extents union.
    """
    if method not in ("mean", "nearest"):
        raise ValueError("method must be 'mean' or 'nearest'")

    from rasterframes_spark.tile import (
        CellType, TILE_SCHEMA, Tile, decode_struct_pdf)

    out_schema = (
        f"spatial_key struct<col:int,row:int>, tile {TILE_SCHEMA.simpleString()}, "
        "extent struct<xmin:double,ymin:double,xmax:double,ymax:double>"
    )

    src = layer.select(
        F.struct(
            (F.col(f"{key_col}.col") / 2).cast("int").alias("col"),
            (F.col(f"{key_col}.row") / 2).cast("int").alias("row"),
        ).alias("__pkey"),
        (F.col(f"{key_col}.col") % 2).alias("__qx"),
        (F.col(f"{key_col}.row") % 2).alias("__qy"),
        F.col(tile_col).alias("__t"),
        F.col(extent_col).alias("__e"),
    )

    def agg(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        structs = pd.DataFrame([
            t if t is not None else
            {"cell_type": None, "cols": None, "rows": None, "cells": None}
            for t in pdf["__t"]])
        tiles = decode_struct_pdf(structs)
        first = next((t for t in tiles if t is not None), None)
        if first is None:
            return pd.DataFrame({"spatial_key": [], "tile": [], "extent": []})
        th, tw = first.rows, first.cols
        canvas = np.full((2 * th, 2 * tw), np.nan, dtype="float64")
        xmin = ymin = np.inf
        xmax = ymax = -np.inf
        for i, t in enumerate(tiles):
            if t is None:
                continue
            qx, qy = int(pdf["__qx"].iloc[i]), int(pdf["__qy"].iloc[i])
            canvas[qy * th:(qy + 1) * th, qx * tw:(qx + 1) * tw] = \
                t.masked().astype("float64").filled(np.nan)
            e = pdf["__e"].iloc[i]
            xmin = min(xmin, e["xmin"]); ymin = min(ymin, e["ymin"])
            xmax = max(xmax, e["xmax"]); ymax = max(ymax, e["ymax"])
        if method == "nearest":
            pooled = canvas[0::2, 0::2]
        else:
            blocks = canvas.reshape(th, 2, tw, 2).transpose(0, 2, 1, 3) \
                .reshape(th, tw, 4)
            with np.errstate(invalid="ignore"):
                pooled = np.nanmean(blocks, axis=2)
        mask = np.isnan(pooled)
        tile = Tile(np.ma.masked_array(np.where(mask, 0, pooled), mask=mask),
                    CellType.parse("float64"))
        return pd.DataFrame({
            "spatial_key": [{"col": key[0]["col"], "row": key[0]["row"]}],
            "tile": [tile.to_row()],
            "extent": [{"xmin": float(xmin), "ymin": float(ymin),
                        "xmax": float(xmax), "ymax": float(ymax)}],
        })

    return src.groupBy("__pkey").applyInPandas(agg, schema=out_schema)


def build_pyramid(layer: DataFrame, levels: int, base_path: str | None = None,
                  tile_col: str = "tile", key_col: str = "spatial_key",
                  extent_col: str = "extent", method: str = "mean",
                  crs_col: str = "crs") -> list:
    """Iterate ``pyramid_up`` ``levels`` times. With ``base_path``, each
    level is written as a Z2-clustered layer at ``<base_path>/z<i>``
    (z0 = input); returns the list of level DataFrames, coarsest last."""
    from rasterframes_spark.sources.layer import write_tile_layer

    crs_val = "EPSG:4326"
    if crs_col in layer.columns:
        head = layer.select(crs_col).first()
        if head is not None:
            crs_val = head[0]
    out = [layer]
    cur = layer
    for _ in range(levels):
        nxt = pyramid_up(cur, tile_col=tile_col, key_col=key_col,
                         extent_col=extent_col, method=method)
        # levels beyond the first aggregate the previous level's output
        # columns (spatial_key/tile/extent)
        tile_col, key_col, extent_col = "tile", "spatial_key", "extent"
        nxt = nxt.withColumn("crs", F.lit(crs_val))
        out.append(nxt)
        cur = nxt
    if base_path:
        for i, lv in enumerate(out):
            write_tile_layer(lv, f"{base_path}/z{i}", extent_col="extent")
    return out

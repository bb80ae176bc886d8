"""proj_raster construction/accessors, rasterize, render, RGB composite
(SURVEY.md §2.10-2.11).

proj_raster = struct{tile, extent, crs} (ProjectedRasterTile.scala:37-45).
Accessors are pure Catalyst field access — no UDF, no Python — so metadata
queries (extents, CRS, dims) never touch cell payloads: the same I/O-pruning
property the reference gets from laziness (SURVEY §4).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, functions as F

from rasterframes_spark.tile import CellType, Tile, TILE_SCHEMA
from rasterframes_spark.functions._kernel import col_or_name, lazy_pandas_udf, tile_udf
from rasterframes_spark.geom import core as G, proj as P

__all__ = [
    "rf_proj_raster", "rf_tile", "rf_extent", "rf_crs", "rf_geometry",
    "rf_rasterize", "rf_render_ascii", "rf_render_matrix",
    "rf_rgb_composite", "rf_render_png", "rf_render_color_ramp_png",
]


def rf_proj_raster(tile, extent, crs) -> Column:
    """(tile, extent, crs) -> proj_raster struct
    (transformers/CreateProjectedRaster.scala:44-81)."""
    return F.struct(
        col_or_name(tile).alias("tile"),
        col_or_name(extent).alias("extent"),
        col_or_name(crs).alias("crs"),
    )


def rf_tile(proj_raster) -> Column:
    """Extract/realize the tile (accessors/RealizeTile.scala:42). For lazy
    refs see sources.raster_reader.realize_tiles."""
    return col_or_name(proj_raster).getField("tile")


def rf_extent(proj_raster) -> Column:
    """(accessors/GetExtent.scala:47) — pure field access."""
    return col_or_name(proj_raster).getField("extent")


def rf_crs(proj_raster) -> Column:
    """(accessors/GetCRS.scala:55)"""
    return col_or_name(proj_raster).getField("crs")


def rf_geometry(proj_raster) -> Column:
    """Extent as polygon geometry (accessors/GetGeometry.scala:47)."""
    from rasterframes_spark.geom.functions import st_geometry

    return st_geometry(col_or_name(proj_raster).getField("extent"))


# ---------------------------------------------------------------------------
# warp-and-merge: the reproject-and-merge kernel (functions/package.scala:
# 102-137) that raster_join, the overview raster and the slippy export share
# ---------------------------------------------------------------------------

RESAMPLING = ("nearest", "bilinear")


def extent_bounds(extent) -> tuple:
    """(xmin, ymin, xmax, ymax) floats of an extent struct (dict or Row)."""
    return tuple(float(extent[k]) for k in ("xmin", "ymin", "xmax", "ymax"))


def overlay(canvas: np.ndarray, mask: np.ndarray, src: np.ndarray,
            src_mask: np.ndarray) -> None:
    """Same-grid merge in place: ``src`` fills the ``canvas`` cells still
    set in ``mask`` wherever ``src_mask`` is unset — the first value that
    is not NoData wins (GeoTrellis merge) — and those cells leave ``mask``."""
    fill = mask & ~src_mask
    canvas[fill] = src[fill]
    mask &= ~fill


def paint(canvas: np.ndarray, mask: np.ndarray, dest_extent, dest_crs: str,
          tile: Tile, src_extent, src_crs: str,
          resampling: str = "nearest") -> bool:
    """Warp ``tile`` (over ``src_extent`` in ``src_crs``) onto the float64
    ``canvas`` (a north-up grid over ``dest_extent`` in ``dest_crs``) and
    :func:`overlay` it there. Each destination pixel centre is transformed
    into ``src_crs`` and sampled nearest or bilinear (one of
    :data:`RESAMPLING`); centres off the tile stay NoData. Extents are
    (xmin, ymin, xmax, ymax). True when any centre falls on the tile."""
    rows, cols = canvas.shape
    dxmin, dymin, dxmax, dymax = dest_extent
    pw = (dxmax - dxmin) / cols
    ph = (dymax - dymin) / rows
    gx, gy = np.meshgrid(dxmin + (np.arange(cols) + 0.5) * pw,
                         dymax - (np.arange(rows) + 0.5) * ph)
    tx, ty = P.transform_points(gx.ravel(), gy.ravel(), dest_crs, src_crs)
    sxmin, symin, sxmax, symax = src_extent
    spw = (sxmax - sxmin) / tile.cols
    sph = (symax - symin) / tile.rows
    fc = (tx - sxmin) / spw
    fr = (symax - ty) / sph
    sample = _bilinear if resampling == "bilinear" else _nearest
    values, vmask, on_tile = sample(tile, fc, fr)
    overlay(canvas, mask, values.reshape(rows, cols), vmask.reshape(rows, cols))
    return bool(on_tile.any())


def _nearest(tile: Tile, fc: np.ndarray, fr: np.ndarray):
    """Sample of the cell holding each fractional pixel coordinate:
    (values, NoData mask, on-tile mask)."""
    ci = np.floor(fc).astype("int64")
    ri = np.floor(fr).astype("int64")
    valid = (ci >= 0) & (ci < tile.cols) & (ri >= 0) & (ri < tile.rows)
    values = np.zeros(ci.shape, dtype="float64")
    vmask = ~valid
    if valid.any():
        sv = tile.masked().astype("float64")[ri[valid], ci[valid]]
        values[valid] = sv.filled(0)
        vmask[valid] |= np.ma.getmaskarray(sv)
    return values, vmask, valid


def _bilinear(tile: Tile, fc: np.ndarray, fr: np.ndarray):
    """Bilinear sample at fractional pixel coords (pixel-center convention):
    (values, NoData mask, on-tile mask)."""
    filled = tile.masked().astype("float64").filled(np.nan)
    x = fc - 0.5
    y = fr - 0.5
    x0 = np.clip(np.floor(x).astype("int64"), 0, tile.cols - 1)
    y0 = np.clip(np.floor(y).astype("int64"), 0, tile.rows - 1)
    x1 = np.clip(x0 + 1, 0, tile.cols - 1)
    y1 = np.clip(y0 + 1, 0, tile.rows - 1)
    wx = np.clip(x - x0, 0, 1)
    wy = np.clip(y - y0, 0, 1)
    values = (filled[y0, x0] * (1 - wx) * (1 - wy) + filled[y0, x1] * wx * (1 - wy)
              + filled[y1, x0] * (1 - wx) * wy + filled[y1, x1] * wx * wy)
    inside = (fc >= 0) & (fc <= tile.cols) & (fr >= 0) & (fr <= tile.rows)
    return values, ~inside | np.isnan(values), inside


# ---------------------------------------------------------------------------
# rasterize: burn geometry into a tile (functions/package.scala:162-169)
# ---------------------------------------------------------------------------


def rf_rasterize(geometry, bounds_extent, value, cols, rows) -> Column:
    """Burn `value` into a cols×rows int32 tile where cells (pixel centers)
    fall inside the geometry; NoData elsewhere. `geometry` is WKB,
    `bounds_extent` the tile's georeferencing extent. ``cols``/``rows``
    may be python ints or COLUMNS (the reference's num_cols_col /
    num_rows_col signature, rasterfunctions.py:161-167)."""
    cols_c = (F.lit(int(cols)) if isinstance(cols, (int, float))
              else col_or_name(cols)).cast("int")
    rows_c = (F.lit(int(rows)) if isinstance(rows, (int, float))
              else col_or_name(rows)).cast("int")

    @lazy_pandas_udf(TILE_SCHEMA)
    def udf(geom: pd.Series, ext: pd.DataFrame, val: pd.Series,
            ncs: pd.Series, nrs: pd.Series) -> pd.DataFrame:
        from rasterframes_spark.tile import tiles_to_struct_pdf

        out = []
        for i in range(len(geom)):
            g = geom.values[i]
            if g is None:
                out.append(None)
                continue
            nc, nr = int(ncs.values[i]), int(nrs.values[i])
            shape = G.wkb_loads(bytes(g))
            bounds = (float(ext["xmin"].values[i]), float(ext["ymin"].values[i]),
                      float(ext["xmax"].values[i]), float(ext["ymax"].values[i]))
            v = int(val.values[i])
            inside = G.pixel_centres_in(shape, bounds, nc, nr)
            arr = np.where(inside, v, 0).astype("int32")
            out.append(Tile(np.ma.masked_array(arr, mask=~inside), CellType.parse("int32")))
        return tiles_to_struct_pdf(out)

    return udf(col_or_name(geometry), col_or_name(bounds_extent),
               col_or_name(value).cast("long") if not isinstance(value, (int, float))
               else F.lit(int(value)), cols_c, rows_c)


# ---------------------------------------------------------------------------
# rendering (transformers/DebugRender.scala, RenderPNG.scala, RGBComposite)
# ---------------------------------------------------------------------------

_ASCII_RAMP = " .:oO0@"


def _rescale(tile: Tile, top: int, fill: int = 0) -> np.ndarray:
    """Cells stretched linearly from the tile's own [min, max] onto
    [0, top]; NoData cells read ``fill``."""
    a = tile.masked().astype("float64")
    lo, hi = float(a.min()), float(a.max())
    span = (hi - lo) or 1.0
    return np.clip(((a - lo) / span * top).filled(fill), fill, top)


def rf_render_ascii(tile) -> Column:
    """Coarse ASCII-art render (DebugRender.scala:56)."""

    @tile_udf("string")
    def udf(tl: Tile) -> str:
        idx = _rescale(tl, len(_ASCII_RAMP) - 1, fill=-1).astype(int)
        return "\n".join("".join("∘" if j < 0 else _ASCII_RAMP[j] for j in r) for r in idx)

    return udf(col_or_name(tile))


def rf_render_matrix(tile) -> Column:
    """Numeric matrix render (DebugRender.scala:71)."""

    @tile_udf("string")
    def udf(tl: Tile) -> str:
        m = tl.masked()
        mask = np.ma.getmaskarray(m)
        if not mask.any():
            return np.array2string(m, max_line_width=200, precision=4)
        # NoData cells print as "--", data cells rounded to 4 places
        cells = (np.round(m.data.astype("float64"), 4) if m.dtype.kind == "f"
                 else m.data).astype(object)
        cells[mask] = "--"
        return np.array2string(cells, max_line_width=200, formatter={"all": str})

    return udf(col_or_name(tile))


def rf_rgb_composite(red, green, blue) -> Column:
    """Pack 3 tiles into one int32 0xRRGGBB tile (RGBComposite.scala:50-97);
    each band rescaled to its own [min,max] -> 8 bits."""

    @tile_udf(TILE_SCHEMA)
    def udf(r: Tile, g: Tile, b: Tile) -> Tile:
        packed = ((_rescale(r, 255).astype("int64") << 16)
                  | (_rescale(g, 255).astype("int64") << 8)
                  | _rescale(b, 255).astype("int64"))
        mask = (np.ma.getmaskarray(r.masked()) & np.ma.getmaskarray(g.masked())
                & np.ma.getmaskarray(b.masked()))
        return Tile(np.ma.masked_array(packed.astype("int32"), mask=mask),
                    CellType.parse("int32raw"))

    return udf(col_or_name(red), col_or_name(green), col_or_name(blue))


# compact perceptual ramps: anchor RGBs, linearly interpolated to 256.
# Name set mirrors the reference's ColorRampNames registry
# (util/package.scala:156-181); anchor values are approximations of the
# well-known palettes, not copies of GeoTrellis constants.
_RAMPS = {
    "viridis": [(68, 1, 84), (70, 50, 127), (54, 92, 141), (39, 127, 142),
                (31, 161, 135), (74, 194, 109), (159, 218, 58), (253, 231, 37)],
    "magma": [(0, 0, 4), (40, 11, 84), (101, 21, 110), (159, 42, 99),
              (212, 72, 66), (245, 125, 21), (250, 193, 39), (252, 253, 191)],
    "inferno": [(0, 0, 4), (40, 11, 84), (101, 21, 110), (182, 54, 85),
                (229, 92, 48), (251, 155, 6), (247, 209, 61), (252, 255, 164)],
    "plasma": [(13, 8, 135), (84, 2, 163), (139, 10, 165), (185, 50, 137),
               (219, 92, 104), (244, 136, 73), (254, 188, 43), (240, 249, 33)],
    "heat": [(0, 0, 0), (128, 0, 0), (255, 0, 0), (255, 128, 0),
             (255, 255, 0), (255, 255, 128), (255, 255, 255), (255, 255, 255)],
    "bluetoorange": [(0, 0, 255), (80, 120, 230), (170, 200, 220),
                     (255, 255, 200), (255, 200, 120), (255, 140, 40),
                     (255, 110, 0), (230, 90, 0)],
    "lightyellowtoorange": [(255, 255, 200), (255, 240, 160),
                            (255, 220, 120), (255, 200, 90), (255, 170, 60),
                            (255, 140, 30), (250, 110, 10), (235, 90, 0)],
    "bluetored": [(0, 0, 255), (90, 90, 240), (170, 170, 225),
                  (235, 235, 210), (235, 180, 160), (230, 120, 100),
                  (225, 60, 50), (215, 0, 0)],
    "greentoredorange": [(0, 130, 0), (90, 170, 40), (180, 210, 90),
                         (240, 240, 140), (250, 200, 100), (250, 150, 60),
                         (245, 100, 30), (235, 60, 0)],
    "lighttodarksunset": [(255, 255, 230), (250, 220, 200), (245, 180, 170),
                          (235, 135, 145), (210, 95, 135), (160, 60, 120),
                          (100, 35, 100), (40, 15, 70)],
    "lighttodarkgreen": [(230, 255, 230), (190, 240, 190), (150, 220, 150),
                         (110, 195, 110), (75, 165, 75), (45, 130, 45),
                         (20, 95, 20), (0, 60, 0)],
    "heatmapyellowtored": [(255, 255, 0), (255, 220, 0), (255, 180, 0),
                           (255, 140, 0), (255, 100, 0), (255, 60, 0),
                           (240, 30, 0), (220, 0, 0)],
    "heatmapbluetoyellowtoredspectrum": [(0, 0, 160), (0, 90, 230),
                                         (0, 190, 230), (110, 230, 140),
                                         (230, 230, 60), (250, 170, 30),
                                         (250, 90, 10), (220, 0, 0)],
    "heatmapdarkredtoyellowwhite": [(90, 0, 0), (160, 20, 0), (220, 60, 0),
                                    (250, 110, 0), (255, 165, 10),
                                    (255, 210, 60), (255, 240, 150),
                                    (255, 255, 255)],
    "heatmaplightpurpletodarkpurpletowhite": [(235, 220, 245),
                                              (205, 175, 230),
                                              (170, 125, 210),
                                              (135, 80, 185),
                                              (100, 45, 155),
                                              (70, 20, 120),
                                              (160, 130, 200),
                                              (255, 255, 255)],
    "classificationboldlanduse": [(180, 100, 50), (230, 200, 80),
                                  (90, 170, 60), (30, 120, 40),
                                  (70, 150, 220), (30, 70, 180),
                                  (200, 80, 180), (130, 130, 130)],
    "classificationmutedterrain": [(90, 120, 80), (140, 160, 110),
                                   (190, 200, 150), (225, 220, 180),
                                   (210, 190, 150), (180, 150, 120),
                                   (150, 120, 100), (240, 240, 240)],
}


def _ramp_lut(name: str) -> np.ndarray:
    key = str(name).lower()
    if key.startswith("greyscale") or key.startswith("grayscale"):
        # GreyscaleN: grayscale quantized to N steps
        digits = "".join(ch for ch in key if ch.isdigit())
        steps = int(digits) if digits else 256
        g = (np.arange(256) // max(1, 256 // steps)
             * max(1, 256 // steps)).astype("float64")
        g = np.clip(g * 255.0 / max(g.max(), 1.0), 0, 255)
        return np.stack([g, g, g], axis=1).astype("uint8")
    if key not in _RAMPS:
        raise ValueError(
            f"unknown color ramp {name!r}; known: "
            f"{sorted(_RAMPS)} + GreyscaleN")
    anchors = np.array(_RAMPS[key], dtype="float64")
    xs = np.linspace(0, 255, len(anchors))
    lut = np.stack([np.interp(np.arange(256), xs, anchors[:, c]) for c in range(3)],
                   axis=1)
    return lut.astype("uint8")


def rf_render_color_ramp_png(tile, ramp: str = "viridis") -> Column:
    """Tile -> PNG bytes through a color ramp
    (transformers/RenderPNG.scala:47-81 color-ramp variant)."""
    lut = _ramp_lut(ramp)

    @tile_udf("binary")
    def udf(tl: Tile) -> bytes:
        from rasterframes_spark.sources.png import encode_png

        return encode_png(lut[_rescale(tl, 255).astype("uint8")])

    return udf(col_or_name(tile))


def rf_render_png(tile, ramp: str = "grayscale") -> Column:
    """Tile -> PNG bytes (RenderPNG.scala:47-81). Pure-stdlib PNG encoder
    (zlib deflate, no PIL): grayscale ramp, or 'rgb' to unpack 0xRRGGBB
    composites from rf_rgb_composite."""

    @tile_udf("binary")
    def udf(tl: Tile) -> bytes:
        from rasterframes_spark.sources.png import encode_png

        if ramp == "rgb":
            v = tl.masked().astype("float64").filled(0).astype("int64")
            rgb = np.stack([(v >> 16) & 0xFF, (v >> 8) & 0xFF, v & 0xFF], axis=-1)
            return encode_png(rgb.astype("uint8"))
        return encode_png(_rescale(tl, 255).astype("uint8"))

    return udf(col_or_name(tile))

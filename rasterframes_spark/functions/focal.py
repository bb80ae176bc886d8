"""Focal / neighborhood operations (SURVEY.md §2.9).

Reference: ``core/.../expressions/focalops/*.scala`` — each op takes a
neighborhood spec (e.g. ``square-1`` = 3x3) and runs GeoTrellis focal
kernels, using BufferTile halos when the scan over-read them.

Engine implementation: ``numpy.lib.stride_tricks.sliding_window_view`` over
edge-padded masked arrays — vectorized, no scipy. NoData handling matches
GeoTrellis: NoData cells are excluded from the neighborhood statistic; a
cell with an all-NoData neighborhood is NoData.

Halo/buffer posture for scale: focal ops over *chunked* rasters need
cross-tile halos. The reference over-reads a pixel buffer at scan time
(``ref/RasterRef.scala:49-64``) — no shuffle-based halo exchange. This
engine does the same through ``buffer_size`` in read_raster / with_buffer;
within a single tile, edges are computed from the available neighborhood
(same fallback as the reference when no BufferTile is present).
"""

from __future__ import annotations

import math

import numpy as np

from pyspark.sql import Column

from rasterframes_spark.tile import CellType, Tile, TILE_SCHEMA
from rasterframes_spark.functions._kernel import col_or_name, tile_udf, unary_tile_op

__all__ = [
    "rf_focal_mean", "rf_focal_median", "rf_focal_mode", "rf_focal_max",
    "rf_focal_min", "rf_focal_stddev", "rf_convolve", "rf_focal_moransi",
    "rf_slope", "rf_aspect", "rf_hillshade",
]


def _footprint(neighborhood):
    """Parse the reference's full neighborhood grammar
    (util/package.scala:190-225): square-N, circle-r, nesw-N,
    wedge-r-a0-a1, annulus-ri-ro, or a bare radius int. Returns
    (radius, mask) where mask is a (2r+1, 2r+1) bool footprint
    (None = full square). Cells outside the footprint are excluded
    from the statistic (set NaN before reduction)."""
    import math

    if isinstance(neighborhood, int):
        return int(neighborhood), None
    s = str(neighborhood).lower().strip()
    if not s or "-" not in s:
        return int(s), None
    kind, rest = s.split("-", 1)
    if kind == "square":
        return int(rest), None
    dy_dx = None

    def grid(r):
        dy, dx = np.mgrid[-r:r + 1, -r:r + 1]
        return dy.astype("float64"), dx.astype("float64")

    if kind == "circle":
        rad = float(rest)
        r = int(math.ceil(rad))
        dy, dx = grid(r)
        return r, (dy * dy + dx * dx) <= rad * rad
    if kind == "nesw":
        r = int(rest)
        dy, dx = grid(r)
        return r, (dy == 0) | (dx == 0)
    if kind == "annulus":
        ri, ro = (float(v) for v in rest.split("-"))
        r = int(math.ceil(ro))
        dy, dx = grid(r)
        d2 = dy * dy + dx * dx
        return r, (d2 >= ri * ri) & (d2 <= ro * ro)
    if kind == "wedge":
        rad, a0, a1 = (float(v) for v in rest.split("-"))
        r = int(math.ceil(rad))
        dy, dx = grid(r)
        ang = np.degrees(np.arctan2(-dy, dx)) % 360.0
        in_ang = (((ang - a0 % 360.0) % 360.0)
                  <= ((a1 % 360.0 - a0 % 360.0) % 360.0))
        m = ((dy * dy + dx * dx) <= rad * rad) & in_ang
        m[r, r] = True  # center cell always participates
        return r, m
    raise ValueError(f"unrecognized neighborhood {neighborhood!r}")


def _windows(a: np.ma.MaskedArray, r: int):
    """(rows, cols, k, k) view of NaN-padded data; NaN marks NoData + edge pad."""
    filled = np.where(np.ma.getmaskarray(a), np.nan, np.asarray(a.data, dtype="float64"))
    padded = np.pad(filled, r, mode="constant", constant_values=np.nan)
    return np.lib.stride_tricks.sliding_window_view(padded, (2 * r + 1, 2 * r + 1))


def _target_slot(buffer, target):
    """Reference-signature compat (rasterfunctions.py rf_focal_* take
    ``(tile, neighborhood, target)``): a string in the 3rd positional slot
    is TARGET, not buffer.  Raises instead of silently discarding an
    explicitly passed target kwarg when both are given."""
    if isinstance(buffer, str):
        if target != "all":
            raise ValueError(
                "focal op got a target in both the 3rd positional slot "
                f"({buffer!r}) and the target= kwarg ({target!r}) — "
                "pass one")
        return 0, buffer
    return buffer, target


def _slice_core(ma: np.ma.MaskedArray, b: int) -> np.ma.MaskedArray:
    """Drop a ``b``-pixel halo, keeping the tile core (BufferTile semantics:
    the halo feeds the neighborhood but is not part of the output)."""
    if b <= 0:
        return ma
    return ma[b:-b, b:-b]


def _apply_target(a: "np.ma.MaskedArray", computed: "np.ma.MaskedArray",
                  target: str) -> "np.ma.MaskedArray":
    """GeoTrellis TargetCell semantics (util/package.scala:275-283):
    which cells RECEIVE the focal result vs keep their input value.
    'all' -> computed everywhere (NoData centers gap-fill from their
    neighborhood); 'data' -> computed only where input has data;
    'nodata' -> input value at data cells, computed at NoData cells."""
    t = str(target).lower()
    am = np.ma.getmaskarray(a)
    cm = np.ma.getmaskarray(computed)
    cv = np.ma.getdata(computed)
    if t == "all":
        return computed
    if t == "data":
        return np.ma.masked_array(cv, mask=cm | am)
    if t == "nodata":
        vals = np.where(am, cv, np.asarray(a.data, dtype="float64"))
        return np.ma.masked_array(vals, mask=am & cm)
    raise ValueError(f"unrecognized target cell {target!r} "
                     "(use 'all' | 'data' | 'nodata')")


def _focal(reducer, neighborhood="square-1", buffer=0, target="all"):
    r, fp = _footprint(neighborhood)
    b = int(buffer)

    def fn(a):
        w = _windows(a, r)
        if fp is not None:
            w = np.where(fp, w, np.nan)  # non-footprint cells drop out
        with np.errstate(invalid="ignore", divide="ignore"):
            res = reducer(w.reshape(w.shape[0], w.shape[1], -1))
        computed = np.ma.masked_array(res, mask=np.isnan(res))
        return _slice_core(_apply_target(a, computed, target), b)

    return fn


def rf_focal_mean(tile, neighborhood="square-1", buffer: int = 0,
                  target: str = "all") -> Column:
    """(focalops/FocalMean.scala:41). ``buffer`` is the halo width carried
    in the tile (read_raster's buffer_size / an assembled halo): the
    neighborhood consumes it, the output is the core tile — so focal values
    at tile seams match a whole-image computation
    (ref/RasterRef.scala:49-64, focalops/FocalNeighborhoodOp.scala:35-62)."""
    buffer, target = _target_slot(buffer, target)
    return unary_tile_op(_focal(lambda w: np.nanmean(w, axis=2), neighborhood, buffer, target),
                         out_ct="float64")(tile)


def rf_focal_median(tile, neighborhood="square-1", buffer: int = 0,
                  target: str = "all") -> Column:
    buffer, target = _target_slot(buffer, target)
    return unary_tile_op(_focal(lambda w: np.nanmedian(w, axis=2), neighborhood, buffer, target),
                         out_ct="float64")(tile)


def rf_focal_min(tile, neighborhood="square-1", buffer: int = 0,
                  target: str = "all") -> Column:
    buffer, target = _target_slot(buffer, target)
    return unary_tile_op(_focal(lambda w: np.nanmin(w, axis=2), neighborhood, buffer, target),
                         out_ct="float64")(tile)


def rf_focal_max(tile, neighborhood="square-1", buffer: int = 0,
                  target: str = "all") -> Column:
    buffer, target = _target_slot(buffer, target)
    return unary_tile_op(_focal(lambda w: np.nanmax(w, axis=2), neighborhood, buffer, target),
                         out_ct="float64")(tile)


def rf_focal_stddev(tile, neighborhood="square-1", buffer: int = 0,
                  target: str = "all") -> Column:
    buffer, target = _target_slot(buffer, target)
    return unary_tile_op(_focal(lambda w: np.nanstd(w, axis=2), neighborhood, buffer, target),
                         out_ct="float64")(tile)


def rf_focal_mode(tile, neighborhood="square-1", buffer: int = 0,
                  target: str = "all") -> Column:
    """Most frequent neighborhood value (FocalMode.scala)."""
    buffer, target = _target_slot(buffer, target)
    r, fp = _footprint(neighborhood)
    b = int(buffer)

    def fn(a):
        w = _windows(a, r)
        if fp is not None:
            w = np.where(fp, w, np.nan)
        w = w.reshape(a.shape[0], a.shape[1], -1)
        res = np.empty(a.shape, dtype="float64")
        mask = np.zeros(a.shape, dtype=bool)
        for i in range(a.shape[0]):
            for j in range(a.shape[1]):
                vals = w[i, j]
                vals = vals[~np.isnan(vals)]
                if len(vals) == 0:
                    mask[i, j] = True
                    res[i, j] = 0
                else:
                    uq, ct = np.unique(vals, return_counts=True)
                    res[i, j] = uq[np.argmax(ct)]
        computed = np.ma.masked_array(res, mask=mask)
        return _slice_core(_apply_target(a, computed, target), b)

    return unary_tile_op(fn, out_ct="float64")(tile)


def rf_convolve(tile, kernel, buffer: int = 0,
                target: str = "all") -> Column:
    """Kernel convolution (focalops/Convolve.scala:52-85). ``kernel`` is a
    2-D nested list / numpy array. NoData cells contribute 0 (GeoTrellis
    Kernel convolve skips NoData). TargetCell semantics: with the default
    ``target='all'`` every cell (including NoData centers) receives the
    0-filled convolution value; ``target='data'`` keeps NoData centers
    NoData; ``target='nodata'`` keeps data cells' input values and writes
    the convolution only at NoData cells."""
    k = np.asarray(kernel, dtype="float64")
    kr, kc = k.shape[0] // 2, k.shape[1] // 2
    b = int(buffer)

    def fn(a):
        filled = np.where(np.ma.getmaskarray(a), 0.0, np.asarray(a.data, dtype="float64"))
        padded = np.pad(filled, ((kr, kr), (kc, kc)), mode="constant")
        w = np.lib.stride_tricks.sliding_window_view(padded, k.shape)
        res = np.einsum("ijkl,kl->ij", w, k[::-1, ::-1])
        computed = np.ma.masked_array(res, mask=np.isnan(res))
        return _slice_core(_apply_target(a, computed, target), b)

    return unary_tile_op(fn, out_ct="float64")(tile)


def rf_focal_moransi(tile, neighborhood="square-1", buffer: int = 0,
                     target: str = "all") -> Column:
    """Local Moran's I spatial autocorrelation (focalops/FocalMoransI.scala:53):
    I_i = z_i * mean(z_neighbors) / var(z), z = x - mean(x), neighbors
    exclude the center cell. With a halo, the global stats come from the
    tile CORE (the halo only extends neighborhoods). Honors the full
    neighborhood grammar (circle/nesw/wedge/annulus footprints restrict
    which neighbors contribute, like every other focal op)."""
    buffer, target = _target_slot(buffer, target)
    r, fp = _footprint(neighborhood)
    b = int(buffer)

    def fn(a):
        core = _slice_core(a, b).astype("float64")
        mu = core.mean()
        var = core.var()
        z = np.where(np.ma.getmaskarray(a), np.nan,
                     np.asarray(a.data, dtype="float64") - float(mu))
        padded = np.pad(z, r, mode="constant", constant_values=np.nan)
        w = np.lib.stride_tricks.sliding_window_view(padded, (2 * r + 1, 2 * r + 1))
        if fp is not None:
            w = np.where(fp, w, np.nan)  # non-footprint neighbors drop out
        w = w.reshape(a.shape[0], a.shape[1], -1).copy()
        center = (2 * r + 1) * (2 * r + 1) // 2
        w[:, :, center] = np.nan  # exclude self
        with np.errstate(invalid="ignore"):
            nbr_mean = np.nanmean(w, axis=2)
        res = z * nbr_mean / (float(var) if var else 1.0)
        computed = np.ma.masked_array(res, mask=np.isnan(res))
        return _slice_core(_apply_target(a, computed, target), b)

    return unary_tile_op(fn, out_ct="float64")(tile)


# ---------------------------------------------------------------------------
# DEM derivatives (Horn's method, as GeoTrellis surface ops)
# ---------------------------------------------------------------------------


def _horn_gradients(a: np.ma.MaskedArray, cw: float, ch: float):
    """dz/dx, dz/dy via Horn 1981 3x3 weights (edge-replicated)."""
    filled = a.astype("float64").filled(np.nan)  # integer DEMs fill too
    p = np.pad(filled, 1, mode="edge")
    # neighborhood shorthand (z1..z9, row-major from top-left)
    z1 = p[:-2, :-2]; z2 = p[:-2, 1:-1]; z3 = p[:-2, 2:]
    z4 = p[1:-1, :-2];                   z6 = p[1:-1, 2:]
    z7 = p[2:, :-2];  z8 = p[2:, 1:-1];  z9 = p[2:, 2:]
    dzdx = ((z3 + 2 * z6 + z9) - (z1 + 2 * z4 + z7)) / (8 * cw)
    dzdy = ((z7 + 2 * z8 + z9) - (z1 + 2 * z2 + z3)) / (8 * ch)
    return dzdx, dzdy


def _cell_size_expr(extent_col, tile_col, buffer: int = 0):
    """Cell width/height from extent + dims, computed Catalyst-side. The
    extent describes the tile CORE, so halo pixels are excluded from the
    dimension count."""
    e = col_or_name(extent_col)
    t = col_or_name(tile_col)
    cols = t.getField("cols").cast("double") - 2.0 * buffer
    rows = t.getField("rows").cast("double") - 2.0 * buffer
    cw = (e.getField("xmax") - e.getField("xmin")) / cols
    ch = (e.getField("ymax") - e.getField("ymin")) / rows
    return cw, ch


def _dem_op(make_result, buffer: int = 0, target: str = "all"):
    b = int(buffer)

    @tile_udf(TILE_SCHEMA)
    def udf(tl, cw, ch, p1, p2, p3):
        a = tl.masked()
        res = make_result(a, float(cw), abs(float(ch)), float(p1), float(p2), float(p3))
        computed = np.ma.masked_array(res, mask=np.isnan(res))
        return Tile(_slice_core(_apply_target(a, computed, target), b),
                    CellType.parse("float64"))

    return udf


def rf_slope(tile, extent, z_factor: float = 1.0, buffer: int = 0,
             target: str = "all") -> Column:
    """Slope in degrees (focalops/Slope.scala:51-89, Horn's method)."""
    from pyspark.sql import functions as F

    def mk(a, cw, ch, zf, _p2, _p3):
        dzdx, dzdy = _horn_gradients(a, cw, ch)
        return np.degrees(np.arctan(zf * np.hypot(dzdx, dzdy)))

    cw, ch = _cell_size_expr(extent, tile, buffer)
    return _dem_op(mk, buffer, target)(col_or_name(tile), cw, ch,
                                       F.lit(float(z_factor)),
                                       F.lit(0.0), F.lit(0.0))


def rf_aspect(tile, extent, buffer: int = 0,
              target: str = "all") -> Column:
    """Aspect in degrees clockwise from north (focalops/Aspect.scala:49-83)."""
    from pyspark.sql import functions as F

    def mk(a, cw, ch, _p1, _p2, _p3):
        dzdx, dzdy = _horn_gradients(a, cw, ch)
        az = np.degrees(np.arctan2(dzdy, -dzdx))
        asp = (90.0 - az) % 360.0
        flat = (dzdx == 0) & (dzdy == 0)
        return np.where(flat, 0.0, asp)

    cw, ch = _cell_size_expr(extent, tile, buffer)
    return _dem_op(mk, buffer, target)(col_or_name(tile), cw, ch, F.lit(0.0),
                                       F.lit(0.0), F.lit(0.0))


def rf_hillshade(tile, extent, azimuth: float = 315.0, altitude: float = 45.0,
                 z_factor: float = 1.0, buffer: int = 0,
                 target: str = "all") -> Column:
    """Hillshade 0-255 (focalops/Hillshade.scala:54-103 — the reference's
    5-ary QuinaryExpression)."""
    from pyspark.sql import functions as F

    def mk(a, cw, ch, az, alt, zf):
        dzdx, dzdy = _horn_gradients(a, cw, ch)
        slope_r = np.arctan(zf * np.hypot(dzdx, dzdy))
        aspect_r = np.arctan2(dzdy, -dzdx)
        az_r = math.radians(360.0 - az + 90.0)
        alt_r = math.radians(alt)
        shaded = (np.sin(alt_r) * np.cos(slope_r)
                  + np.cos(alt_r) * np.sin(slope_r) * np.cos(az_r - aspect_r))
        return np.clip(np.round(255 * shaded), 0, 255)

    cw, ch = _cell_size_expr(extent, tile, buffer)
    return _dem_op(mk, buffer, target)(col_or_name(tile), cw, ch,
                                       F.lit(float(azimuth)),
                                       F.lit(float(altitude)),
                                       F.lit(float(z_factor)))

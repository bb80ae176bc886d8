"""Local (cell-wise) map algebra — the rf_local_* zoo.

Parity with SURVEY.md §2.6: every function here corresponds to a reference
Catalyst expression under ``core/.../expressions/localops/`` or
``transformers/`` (file:line cited per function). Semantics:

- NoData in => NoData out (mask propagation), except ``rf_local_add`` /
  ``BiasedAdd``-style aggregate support which is handled in aggregates.
- tile ⊕ scalar and tile ⊕ tile both supported (BinaryRasterFunction.scala:34).
- Cell-type promotion: comparisons return ``uint8ud255`` 0/1 tiles;
  ratio/transcendental ops return float64 (reference promotes via ``fpTile``,
  ``core/.../expressions/package.scala:56-59`` — we use float64 rather than
  float32 for oracle-exact double math).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, functions as F

from rasterframes_spark.tile import CellType, Tile, TILE_SCHEMA
from rasterframes_spark.functions._kernel import (
    binary_tile_op,
    col_or_name,
    tile_to_scalar,
    tile_udf,
    unary_tile_op,
)

__all__ = [
    "rf_local_add", "rf_local_subtract", "rf_local_multiply", "rf_local_divide",
    "rf_local_min", "rf_local_max", "rf_local_clamp", "rf_where",
    "rf_local_less", "rf_local_less_equal", "rf_local_greater",
    "rf_local_greater_equal", "rf_local_equal", "rf_local_unequal",
    "rf_local_is_in", "rf_local_no_data", "rf_local_data",
    "rf_round", "rf_abs", "rf_sqrt",
    "rf_log", "rf_log10", "rf_log2", "rf_log1p",
    "rf_exp", "rf_exp10", "rf_exp2", "rf_expm1",
    "rf_normalized_difference", "rf_standardize", "rf_rescale",
    "rf_local_extract_bits", "rf_identity", "rf_resample_nearest",
    "rf_resample", "rf_local_algebra",
]

_F64 = "float64"
_BOOLCT = "uint8ud255"


def _f64(ma: np.ma.MaskedArray) -> np.ma.MaskedArray:
    return ma.astype("float64") if ma.dtype.kind != "f" else ma


# -- arithmetic (localops/Add.scala:46, Subtract, Multiply, Divide) ----------

rf_local_add = binary_tile_op(lambda a, b: a + b)
rf_local_subtract = binary_tile_op(lambda a, b: a - b)
rf_local_multiply = binary_tile_op(lambda a, b: a * b)
rf_local_divide = binary_tile_op(lambda a, b: _f64(a) / b, out_ct=_F64)

# -- min/max/clamp (localops/Min.scala, Max.scala, Clamp.scala) --------------

rf_local_min = binary_tile_op(lambda a, b: np.ma.minimum(a, b))
rf_local_max = binary_tile_op(lambda a, b: np.ma.maximum(a, b))


def rf_local_clamp(tile, lo, hi) -> Column:
    """Clamp cells to [lo, hi] (localops/Clamp.scala). Bounds may be
    scalars or TILE columns (the reference's Clamp accepts both) —
    tile bounds route through min/max composition."""
    if isinstance(lo, (int, float)) and isinstance(hi, (int, float)):
        lo_f, hi_f = float(lo), float(hi)
        return unary_tile_op(lambda a: np.ma.clip(a, lo_f, hi_f))(tile)
    return rf_local_min(rf_local_max(tile, lo), hi)


# -- rf_where (localops/Where.scala:24-90): condition ? x : y ----------------


@tile_udf(TILE_SCHEMA)
def _where_udf(c: Tile, x: Tile, y: Tile) -> Tile:
    cond = c.masked()
    res = np.ma.where(cond.filled(0) != 0, _f64(x.masked()), _f64(y.masked()))
    # NoData in condition => NoData out
    res = np.ma.masked_array(res, mask=np.ma.getmaskarray(res) | np.ma.getmaskarray(cond))
    return Tile(res, CellType.parse(_F64))


def rf_where(condition, x, y) -> Column:
    return _where_udf(col_or_name(condition), col_or_name(x), col_or_name(y))


# -- comparisons -> 0/1 uint8ud255 tiles (localops/Less.scala:53 etc.) -------


def _cmp(npop):
    def fn(a, b):
        res = npop(a, b).astype("uint8")
        return np.ma.masked_array(res, mask=np.ma.getmaskarray(res))
    return binary_tile_op(fn, out_ct=_BOOLCT)


rf_local_less = _cmp(np.ma.less)
rf_local_less_equal = _cmp(np.ma.less_equal)
rf_local_greater = _cmp(np.ma.greater)
rf_local_greater_equal = _cmp(np.ma.greater_equal)
rf_local_equal = _cmp(np.ma.equal)
rf_local_unequal = _cmp(np.ma.not_equal)


# -- membership / definedness -------------------------------------------------


def rf_local_is_in(tile, values) -> Column:
    """Cell ∈ values -> 0/1 tile (localops/IsIn.scala:48-88). ``values``
    may be a python list (embedded constant) or an ``array`` COLUMN — the
    reference's python signature accepts both
    (rasterfunctions.py:398-404)."""
    if isinstance(values, (Column, str)):
        @tile_udf(TILE_SCHEMA)
        def udf(t: Tile, arr) -> Tile:
            vals = np.asarray(list(arr), dtype="float64")
            return Tile(_is_in(t.masked(), vals), CellType.parse(_BOOLCT))

        return udf(col_or_name(tile), col_or_name(values))
    vals = np.asarray(list(values), dtype="float64")
    return unary_tile_op(lambda a: _is_in(a, vals), out_ct=_BOOLCT)(tile)


def _is_in(a, vals: np.ndarray):
    res = np.isin(np.asarray(a.data, dtype="float64"), vals).astype("uint8")
    return np.ma.masked_array(res, mask=np.ma.getmaskarray(a))


def _nodata_fn(a):
    return np.ma.masked_array(np.ma.getmaskarray(a).astype("uint8"))


def _data_fn(a):
    return np.ma.masked_array((~np.ma.getmaskarray(a)).astype("uint8"))


rf_local_no_data = unary_tile_op(_nodata_fn, out_ct="uint8raw")
rf_local_data = unary_tile_op(_data_fn, out_ct="uint8raw")


# -- rounding / abs / sqrt / logs / exps (localops/Round Abs Sqrt Log Exp) ---

rf_round = unary_tile_op(lambda a: np.ma.round(a))
rf_abs = unary_tile_op(lambda a: np.ma.abs(a))
rf_sqrt = unary_tile_op(lambda a: np.ma.sqrt(_f64(a)), out_ct=_F64)
rf_log = unary_tile_op(lambda a: np.ma.log(_f64(a)), out_ct=_F64)
rf_log10 = unary_tile_op(lambda a: np.ma.log10(_f64(a)), out_ct=_F64)
rf_log2 = unary_tile_op(lambda a: np.ma.log2(_f64(a)), out_ct=_F64)
rf_log1p = unary_tile_op(lambda a: np.ma.log1p(_f64(a)), out_ct=_F64)
rf_exp = unary_tile_op(lambda a: np.ma.exp(_f64(a)), out_ct=_F64)
rf_exp10 = unary_tile_op(lambda a: np.ma.power(10.0, _f64(a)), out_ct=_F64)
rf_exp2 = unary_tile_op(lambda a: np.ma.exp2(_f64(a)), out_ct=_F64)
rf_expm1 = unary_tile_op(lambda a: np.ma.expm1(_f64(a)), out_ct=_F64)
rf_identity = unary_tile_op(lambda a: a)


# -- normalized difference (localops/NormalizedDifference.scala) -------------


def _ndiff(a, b):
    af, bf = _f64(a), _f64(b)
    return (af - bf) / (af + bf)


rf_normalized_difference = binary_tile_op(_ndiff, out_ct=_F64)


# -- standardize / rescale (transformers/Standardize.scala, Rescale.scala) ---


def rf_standardize(tile, mean=None, stddev=None) -> Column:
    """(x - mean)/stddev; per-tile stats when mean/stddev omitted
    (transformers/Standardize.scala:49-100)."""
    if mean is None or stddev is None:
        def fn(a):
            af = _f64(a)
            mu = af.mean()
            sd = af.std()
            return (af - mu) / sd
        return unary_tile_op(fn, out_ct=_F64)(tile)
    m, s = float(mean), float(stddev)
    return unary_tile_op(lambda a: (_f64(a) - m) / s, out_ct=_F64)(tile)


def rf_rescale(tile, min=None, max=None) -> Column:
    """Linear rescale to [0,1] (transformers/Rescale.scala:49-100)."""
    if min is None or max is None:
        def fn(a):
            af = _f64(a)
            lo, hi = af.min(), af.max()
            return (af - lo) / (hi - lo)
        return unary_tile_op(fn, out_ct=_F64)(tile)
    lo, hi = float(min), float(max)
    return unary_tile_op(lambda a: (_f64(a) - lo) / (hi - lo), out_ct=_F64)(tile)


# -- bit extraction (transformers/ExtractBits.scala:47-87) -------------------


def rf_local_extract_bits(tile, start_bit, num_bits=1) -> Column:
    sb, nb = int(start_bit), int(num_bits)
    mask = (1 << nb) - 1

    def fn(a):
        vals = (np.asarray(a.data).astype("int64") >> sb) & mask
        return np.ma.masked_array(vals.astype("int32"), mask=np.ma.getmaskarray(a))

    return unary_tile_op(fn, out_ct="int32")(tile)


rf_local_extract_bit = rf_local_extract_bits


# -- resample (localops/Resample.scala:56-126, nearest only; others via
#    the same index math with interpolation weights later) -------------------


def rf_resample_nearest(tile, factor) -> Column:
    f = float(factor)

    def fn(a):
        rows, cols = a.shape
        nr, nc = max(1, int(round(rows * f))), max(1, int(round(cols * f)))
        return _resample_to(a, nr, nc, "nearest")

    return unary_tile_op(fn)(tile)


def _cubic_w(t: "np.ndarray", a: float = -0.5) -> "np.ndarray":
    """Keys cubic-convolution kernel (a=-0.5 — Catmull-Rom, GDAL/GeoTrellis
    default)."""
    at = np.abs(t)
    w = np.where(
        at <= 1, (a + 2) * at**3 - (a + 3) * at**2 + 1,
        np.where(at < 2, a * at**3 - 5 * a * at**2 + 8 * a * at - 4 * a, 0.0))
    return w


def _block_edges(n_src: int, n_dst: int) -> "np.ndarray":
    """Source start index of each dest bin for aggregate resampling."""
    return (np.arange(n_dst) * n_src) // n_dst


_POINT_METHODS = {"nearest", "nearest_neighbor", "near", "bilinear",
                  "cubic", "cubic_convolution"}
_AGG_METHODS = {"average", "sum", "min", "max", "median", "mode"}


def _resample_to(a: "np.ma.MaskedArray", nr: int, nc: int,
                 method: str) -> "np.ma.MaskedArray":
    """Resample `a` to target dims (nr, nc); per-axis factors may differ
    (tile-target form). NoData: point methods propagate through NaN taps;
    aggregate methods skip NoData cells and emit NoData only for
    all-NoData blocks."""
    rows, cols = a.shape
    fy, fx = nr / rows, nc / cols
    if method in ("nearest", "nearest_neighbor", "near"):
        ri = np.minimum((np.arange(nr) / fy).astype(int), rows - 1)
        ci = np.minimum((np.arange(nc) / fx).astype(int), cols - 1)
        return a[np.ix_(ri, ci)]

    if method in ("bilinear", "cubic", "cubic_convolution"):
        filled = a.astype("float64").filled(np.nan)
        y = (np.arange(nr) + 0.5) / fy - 0.5
        x = (np.arange(nc) + 0.5) / fx - 0.5
        if method == "bilinear":
            y0 = np.clip(np.floor(y).astype(int), 0, rows - 1)
            x0 = np.clip(np.floor(x).astype(int), 0, cols - 1)
            y1 = np.clip(y0 + 1, 0, rows - 1)
            x1 = np.clip(x0 + 1, 0, cols - 1)
            wy = np.clip(y - y0, 0, 1)[:, None]
            wx = np.clip(x - x0, 0, 1)[None, :]
            res = (filled[np.ix_(y0, x0)] * (1 - wx) * (1 - wy)
                   + filled[np.ix_(y0, x1)] * wx * (1 - wy)
                   + filled[np.ix_(y1, x0)] * (1 - wx) * wy
                   + filled[np.ix_(y1, x1)] * wx * wy)
        else:
            y0 = np.floor(y).astype(int)
            x0 = np.floor(x).astype(int)
            res = np.zeros((nr, nc))
            wsum = np.zeros((nr, nc))
            for dy in (-1, 0, 1, 2):
                wy = _cubic_w(y - (y0 + dy))[:, None]
                ri = np.clip(y0 + dy, 0, rows - 1)
                for dx in (-1, 0, 1, 2):
                    wx = _cubic_w(x - (x0 + dx))[None, :]
                    ci = np.clip(x0 + dx, 0, cols - 1)
                    w = wy * wx
                    res += filled[np.ix_(ri, ci)] * w
                    wsum += w
            res /= wsum  # edge-clamped taps renormalize
        return np.ma.masked_array(res, mask=np.isnan(res))

    if method in ("average", "sum", "min", "max"):
        v = a.astype("float64").filled(np.nan)
        re_, ce = _block_edges(rows, nr), _block_edges(cols, nc)
        if method in ("average", "sum"):
            cnt2 = np.add.reduceat(np.add.reduceat(
                (~np.isnan(v)).astype("float64"), re_, 0), ce, 1)
            s = np.add.reduceat(np.add.reduceat(
                np.nan_to_num(v), re_, 0), ce, 1)
            with np.errstate(invalid="ignore"):
                res = np.where(cnt2 > 0,
                               s / cnt2 if method == "average" else s,
                               np.nan)
        else:
            op = np.fmin if method == "min" else np.fmax
            res = op.reduceat(op.reduceat(v, re_, 0), ce, 1)
        return np.ma.masked_array(res, mask=np.isnan(res))

    if method in ("median", "mode"):
        if rows % nr or cols % nc:
            raise ValueError(
                f"resample method {method!r} needs integer downsample "
                f"blocks; got {rows}x{cols} -> {nr}x{nc}")
        ky, kx = rows // nr, cols // nc
        v = a.astype("float64").filled(np.nan)
        blocks = v.reshape(nr, ky, nc, kx).transpose(0, 2, 1, 3) \
            .reshape(nr, nc, ky * kx)
        if method == "median":
            with np.errstate(all="ignore"):
                res = np.nanmedian(blocks, axis=2)
        else:
            res = np.full((nr, nc), np.nan)
            for i in range(nr):
                for j in range(nc):
                    b = blocks[i, j]
                    b = b[~np.isnan(b)]
                    if len(b):
                        vals, cnts = np.unique(b, return_counts=True)
                        res[i, j] = vals[np.argmax(cnts)]
        return np.ma.masked_array(res, mask=np.isnan(res))

    raise ValueError(f"unsupported resampling method: {method}")


def rf_resample(tile, factor, method: str = "nearest") -> Column:
    """Up/down-sample (localops/Resample.scala:56-126): by numeric
    ``factor``, or — like the reference — to MATCH another tile's
    dimensions when ``factor`` is a tile column (per-axis factors may
    then differ).

    ``method`` mirrors the GeoTrellis surface: point methods ``nearest``
    / ``bilinear`` / ``cubic_convolution`` (Keys a=-0.5, 4x4 separable;
    NoData propagates through NaN), and aggregate (downsample) methods
    ``average`` / ``sum`` / ``min`` / ``max`` (any factor,
    reduceat-separable) plus ``median`` / ``mode`` (integer blocks).
    Aggregates ignore NoData cells; an all-NoData block is NoData."""
    if method not in _POINT_METHODS | _AGG_METHODS:
        raise ValueError(f"unsupported resampling method: {method}")
    is_point = method in ("nearest", "nearest_neighbor", "near")
    out_ct = None if is_point else _F64
    if isinstance(factor, (int, float, np.integer, np.floating)):
        f = float(factor)
        if method in ("median", "mode"):
            inv = 1.0 / f
            if f >= 1 or abs(inv - round(inv)) > 1e-9:
                raise ValueError(
                    f"resample method {method!r} needs an integer downsample "
                    f"block (factor = 1/k); got {factor}")

        def fn(a):
            rows, cols = a.shape
            nr, nc = max(1, int(round(rows * f))), max(1, int(round(cols * f)))
            return _resample_to(a, nr, nc, method)

        return unary_tile_op(fn, out_ct=out_ct)(tile)

    def fn2(a, b):
        if not hasattr(b, "shape"):
            raise ValueError("rf_resample: column factor must be a tile")
        nr, nc = b.shape
        return _resample_to(a, int(nr), int(nc), method)

    return binary_tile_op(fn2, out_ct=out_ct)(tile, factor)


def rf_local_algebra(np_fn, *tiles, out_ct: str | None = None) -> Column:
    """Escape hatch: lift any numpy function over masked arrays into a tile
    op (the reference's rf_local_algebra wraps arbitrary GeoTrellis
    LocalTileBinaryOps, functions/LocalFunctions.scala:120-122)."""
    if len(tiles) == 1:
        return unary_tile_op(np_fn, out_ct=out_ct)(tiles[0])
    if len(tiles) == 2:
        return binary_tile_op(np_fn, out_ct=out_ct)(tiles[0], tiles[1])
    raise ValueError("rf_local_algebra supports 1 or 2 tile arguments")

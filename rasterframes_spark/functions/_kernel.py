"""Kernel framework: lift numpy functions over masked arrays into
Arrow-vectorized pandas UDFs over tile struct columns.

This is the engine's replacement for the reference's Catalyst-expression
zoo (``core/.../expressions/``): instead of per-row JVM ``eval`` with
CodegenFallback (see SURVEY.md §3.2), each kernel receives an Arrow batch,
decodes tile structs to ``numpy.ma`` arrays, applies a SIMD numpy ufunc,
and re-encodes. NoData == mask propagation comes free from ``numpy.ma``.

Scale notes: kernels are stateless and embarrassingly parallel — one
Python worker per core, Arrow batches of whole tiles. The per-row Python
loop is over *tiles* (~64K cells each), so interpreter overhead is
amortized ~1e4× per iteration.
"""

from __future__ import annotations

import functools
import re
from typing import Callable

import numpy as np
import pandas as pd

from pyspark.sql import Column, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StructType

from rasterframes_spark.tile import (
    CellType,
    Tile,
    TILE_SCHEMA,
    decode_struct_pdf,
    tiles_to_struct_pdf,
)

__all__ = [
    "col_or_name",
    "lazy_pandas_udf",
    "unary_tile_op",
    "binary_tile_op",
    "tile_to_scalar",
    "tile_udf",
    "TileExpr",
]


def col_or_name(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


def lazy_pandas_udf(return_type):
    """Defer pandas_udf creation until first call — DDL-string return types
    need an active SparkSession to parse, and this package must be importable
    without one (driver imports __spark_entry__ before building the session).

    ``.once(*cols)`` applies the same kernel as a *nondeterministic* UDF —
    the single-eval shape for a kernel column that is both filtered on and
    kept.  When a filter on a deterministic Python-UDF column (or an
    ``isnotnull`` Catalyst infers from a join condition) is pushed below
    the projection, the optimizer re-evaluates the UDF inside the pushed
    filter, so every row pays the kernel and its Arrow crossing twice.  The
    nondeterministic flag only withdraws the optimizer's licence to
    reorder or duplicate the call; the kernel is the same function, so
    values stay bit-identical.  The trade: a filter a *user* places on any
    column above such a projection is not pushed through it either (for
    example into a Parquet scan's ``PushedFilters``)."""

    def deco(fn):
        holder: dict = {}

        @functools.wraps(fn)
        def call(*cols):
            if "udf" not in holder:
                holder["udf"] = pandas_udf(return_type)(fn)
            return holder["udf"](*cols)

        def once(*cols):
            if "once" not in holder:
                holder["once"] = pandas_udf(return_type)(fn).asNondeterministic()
            return holder["once"](*cols)

        call.fn = fn
        call.once = once
        call.returnType = return_type
        return call

    return deco


def _encode_result(res: np.ndarray | np.ma.MaskedArray, out_ct: CellType | None) -> Tile:
    if not isinstance(res, np.ma.MaskedArray):
        res = np.ma.masked_array(res)
    if out_ct is None:
        ct = CellType.from_numpy(res.dtype, "default")
    else:
        ct = out_ct
    return Tile(res, ct)


# ---------------------------------------------------------------------------
# kernel fusion
# ---------------------------------------------------------------------------
#
# Every tile op attaches a symbolic kernel DAG (``TileExpr``) to the Column
# it returns. When an op's input Column carries such a DAG, the numpy
# kernels are *composed* and compiled into ONE pandas UDF, so a chain like
# ``rf_mask(rf_local_clamp(rf_local_add(t, b), 0, 10), m)`` crosses the
# Arrow boundary once instead of three times. This removes the dominant
# per-op fixed cost (Arrow serialization + Python runner round-trip) for
# chained local algebra — the reference gets the same effect from JVM-side
# Catalyst expression trees (``core/.../expressions/``), which fuse free
# inside whole-stage codegen.
#
# Semantics are identical to the unfused path: each interior node applies
# its declared output CellType cast (via ``_encode_result(...).masked()``)
# before feeding the next kernel, exactly as the Arrow round-trip would.


class TileExpr:
    """A fusable kernel DAG: ``fn(vals)`` over ``inputs`` -> masked array.

    ``inputs`` is a list of ``(key, Column)``: tile-struct columns, which
    reach ``fn`` as masked arrays, and numeric columns cast to double,
    which reach it as floats (see ``tile_udf``). ``fn`` receives values
    aligned to ``inputs``.
    """

    __slots__ = ("fn", "inputs", "out_ct")

    def __init__(self, fn, inputs, out_ct: CellType | None = None):
        self.fn = fn
        self.inputs = inputs
        self.out_ct = out_ct


_PLAIN_COL_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_.]*")


def _expr_key(col: Column) -> str:
    try:
        s = str(col._jc)
    except Exception:
        return f"@{id(col)}"
    if _PLAIN_COL_RE.fullmatch(s):
        return s  # plain named column: dedupe by name is safe
    # opaque expressions (e.g. two distinct pandas UDF calls both named
    # 'udf(...)') can stringify identically — key on object identity so a
    # fused binary op never silently feeds one column to both sides
    return f"{s}@{id(col)}"


def _as_tile_expr(arg) -> TileExpr:
    col = col_or_name(arg)
    e = getattr(col, "_rf_expr", None)
    if isinstance(e, TileExpr):
        return e
    return TileExpr(lambda vals: vals[0], [(_expr_key(col), col)], None)


def _boundary(e: TileExpr):
    """Eval fn reproducing the full Arrow round-trip of the unfused path:
    Tile construction (dtype cast) -> encode_cells (sentinel fill of masked
    cells) -> mask re-derivation via ``CellType.mask_of`` (exactly what
    ``Tile.from_parts`` does on decode). Values equal to the NoData
    sentinel therefore become NoData at every op boundary, fused or not —
    bit-identical chains."""

    def fn(vals, _f=e.fn, _ct=e.out_ct):
        t = _encode_result(_f(vals), _ct)
        raw = t.to_numpy()
        return np.ma.masked_array(raw, t.cell_type.mask_of(raw))

    return fn


def _merge_inputs(e1: TileExpr, e2: TileExpr):
    inputs = list(e1.inputs)
    pos = {k: i for i, (k, _) in enumerate(inputs)}
    idx2 = []
    for k, c in e2.inputs:
        if k in pos:
            idx2.append(pos[k])
        else:
            pos[k] = len(inputs)
            inputs.append((k, c))
            idx2.append(len(inputs) - 1)
    return inputs, idx2


def _decode_batch_cols(args):
    """Tile-struct columns (pandas DataFrames) decode to Tiles; any other
    column is its values array."""
    return [decode_struct_pdf(a) if isinstance(a, pd.DataFrame) else a.values
            for a in args]


def _row_vals(cols, i):
    """Row i's arguments as Tiles and plain Python values, or None if any
    is null (a null double arrives from Arrow as NaN)."""
    vals = []
    for c in cols:
        v = c[i]
        if v is None or (isinstance(v, float) and np.isnan(v)):
            return None
        vals.append(v.item() if isinstance(v, np.generic) else v)
    return vals


def tile_udf(return_type):
    """Per-row tile kernel as a ``lazy_pandas_udf``: the one decode ->
    compute -> encode loop every tile kernel runs through.

    ``fn(*row)`` receives each tile-struct argument (proj_raster structs
    too) as a ``Tile`` and every other argument as a plain Python value.
    It returns a ``Tile`` when ``return_type`` is ``TILE_SCHEMA``, a tuple
    for any other ``StructType``, else a scalar (``np.ma.masked`` reads as
    null).  A row with any null argument gives a null result without
    calling ``fn``; null structs come back as all-null-field structs."""

    def deco(fn):
        def batch(*args):
            cols = _decode_batch_cols(args)
            out = []
            for i in range(len(cols[0])):
                vals = _row_vals(cols, i)
                out.append(None if vals is None else fn(*vals))
            if return_type is TILE_SCHEMA:
                return tiles_to_struct_pdf(out)
            if isinstance(return_type, StructType):
                names = return_type.fieldNames()
                none = (None,) * len(names)
                return pd.DataFrame([none if r is None else r for r in out],
                                    columns=names)
            return pd.Series([None if v is np.ma.masked else v for v in out],
                             dtype=object)

        batch.__name__ = batch.__qualname__ = fn.__name__
        return lazy_pandas_udf(return_type)(batch)

    return deco


def _masked(row):
    return [v.masked() if isinstance(v, Tile) else v for v in row]


def _compile_tile(e: TileExpr) -> Column:
    fn, out_ct = e.fn, e.out_ct

    @tile_udf(TILE_SCHEMA)
    def udf(*row):
        return _encode_result(fn(_masked(row)), out_ct)

    col = udf(*[c for _, c in e.inputs])
    try:
        col._rf_expr = e
    except Exception:
        pass
    return col


def _compile_scalar(e: TileExpr, fn, return_type: str) -> Column:
    inner = _boundary(e)

    @tile_udf(return_type)
    def sudf(*row):
        return fn(inner(_masked(row)))

    return sudf(*[c for _, c in e.inputs])


def unary_tile_op(fn: Callable[[np.ma.MaskedArray], np.ma.MaskedArray], out_ct: str | None = None):
    """(tile) -> tile column function from a masked-array kernel."""
    octype = CellType.parse(out_ct) if out_ct else None

    def op(tile) -> Column:
        e = _as_tile_expr(tile)
        inner = _boundary(e)
        return _compile_tile(
            TileExpr(lambda vals, _i=inner: fn(_i(vals)), e.inputs, octype))

    return op


def binary_tile_op(
    fn: Callable[[np.ma.MaskedArray, np.ma.MaskedArray | float], np.ma.MaskedArray],
    out_ct: str | None = None,
):
    """(tile, tile|scalar) -> tile column function.

    Mirrors the reference's ``BinaryRasterFunction`` dispatch
    (``core/.../expressions/BinaryRasterFunction.scala:34``): the rhs may be
    a tile column or a numeric scalar/column. A python numeric is lifted to
    a closure constant; a Column rhs is treated as tile-struct (numeric
    column rhs goes through ``op.scalar``).
    """
    octype = CellType.parse(out_ct) if out_ct else None

    def op(left, right) -> Column:
        e1 = _as_tile_expr(left)
        i1 = _boundary(e1)
        if isinstance(right, (int, float, np.integer, np.floating)):
            rv = float(right)
            return _compile_tile(
                TileExpr(lambda vals, _a=i1: fn(_a(vals), rv), e1.inputs, octype))
        e2 = _as_tile_expr(right)
        i2 = _boundary(e2)
        inputs, idx2 = _merge_inputs(e1, e2)
        n1 = len(e1.inputs)

        def nf(vals, _a=i1, _b=i2, _idx=tuple(idx2), _n1=n1):
            return fn(_a(vals[:_n1]), _b([vals[i] for i in _idx]))

        return _compile_tile(TileExpr(nf, inputs, octype))

    def scalar(left, right):
        e1 = _as_tile_expr(left)
        i1 = _boundary(e1)
        rc = col_or_name(right).cast("double")
        inputs = e1.inputs + [(_expr_key(rc), rc)]
        n1 = len(e1.inputs)

        def nf(vals, _a=i1, _n1=n1):
            return fn(_a(vals[:_n1]), vals[_n1])

        return _compile_tile(TileExpr(nf, inputs, octype))

    op.scalar = scalar
    op.tile_tile = lambda left, right: op(col_or_name(left), col_or_name(right))
    return op


def tile_to_scalar(fn: Callable[[np.ma.MaskedArray], object], return_type: str):
    """(tile) -> scalar column function (double/long/boolean). A fused-DAG
    input collapses the whole chain + reduction into one UDF crossing.
    ``op.udf`` is the unfused kernel (what SQL registration exposes)."""

    @tile_udf(return_type)
    def udf(tile):
        return fn(tile.masked())

    def op(tile) -> Column:
        col = col_or_name(tile)
        e = getattr(col, "_rf_expr", None)
        if isinstance(e, TileExpr):
            return _compile_scalar(e, fn, return_type)
        return udf(col)

    op.udf = udf
    return op

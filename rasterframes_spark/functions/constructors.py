"""Tile constructors, converters, and the explode/assemble pair
(SURVEY.md §2.10 generators + §2.11 converters).

- ``rf_explode_tiles``: reference is a Catalyst Generator
  (``core/.../expressions/generators/ExplodeTiles.scala:40-111``). Here it
  is a DataFrame-level helper built from a tile→array kernel + posexplode,
  which Catalyst plans as a whole-stage-codegen Generate — no Python in the
  row-expansion hot path, only one Arrow pass to flatten each tile.
- ``rf_assemble_tile``: reference is a TypedImperativeAggregate
  (``core/.../expressions/TileAssembler.scala:60-199``); here an
  ``applyInPandas`` group map (NoData-fill + scatter), used via
  ``assemble_tiles`` or as an agg-style helper.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F

from rasterframes_spark.tile import CellType, Tile, TILE_SCHEMA, decode_struct_pdf
from rasterframes_spark.functions._kernel import col_or_name, tile_udf

__all__ = [
    "rf_make_constant_tile", "rf_make_zeros_tile", "rf_make_ones_tile",
    "rf_array_to_tile", "rf_tile_to_array_double", "rf_tile_to_array_int",
    "explode_tiles", "assemble_tiles", "rf_convert_cell_type",
    "rf_interpret_cell_type_as", "rf_with_no_data",
]


# -- constant tiles (core/.../functions/package.scala:80-100) ----------------


def rf_make_constant_tile(value, cols: int, rows: int, cell_type: str = "float64") -> Column:
    ct = CellType.parse(cell_type)
    tile = Tile(np.full((rows, cols), value, dtype=ct.dtype), ct)
    row = tile.to_row()
    return F.struct(
        F.lit(row["cell_type"]).alias("cell_type"),
        F.lit(row["cols"]).cast("int").alias("cols"),
        F.lit(row["rows"]).cast("int").alias("rows"),
        F.lit(row["cells"]).alias("cells"),
    )


def rf_make_zeros_tile(cols: int, rows: int, cell_type: str = "float64") -> Column:
    return rf_make_constant_tile(0, cols, rows, cell_type)


def rf_make_ones_tile(cols: int, rows: int, cell_type: str = "float64") -> Column:
    return rf_make_constant_tile(1, cols, rows, cell_type)


# -- array <-> tile (functions/package.scala:61-77; transformers/TileToArray*) --


def rf_array_to_tile(array_col, cols: int, rows: int, cell_type: str = "float64") -> Column:
    """array<numeric> + dims -> tile. Null array elements become NoData."""
    nc, nr = int(cols), int(rows)
    ct = CellType.parse(cell_type)

    @tile_udf(TILE_SCHEMA)
    def udf(a) -> Tile:
        vals = np.asarray(a, dtype="float64")
        mask = np.isnan(vals)
        vals = np.where(mask, 0, vals).reshape(nr, nc)
        return Tile(np.ma.masked_array(vals.astype(ct.dtype), mask=mask.reshape(nr, nc)), ct)

    return udf(col_or_name(array_col))


@tile_udf("array<double>")
def _tile_to_array_double_udf(tile: Tile) -> np.ndarray:
    return tile.masked().astype("float64").filled(np.nan).ravel()


def rf_tile_to_array_double(tile) -> Column:
    """tile -> flat array<double>, NoData as NaN/null
    (transformers/TileToArrayDouble.scala:40)."""
    return _tile_to_array_double_udf(col_or_name(tile))


@tile_udf("array<int>")
def _tile_to_array_int_udf(tile: Tile) -> np.ndarray:
    return tile.masked().filled(tile.cell_type.nodata or 0).astype("int32").ravel()


def rf_tile_to_array_int(tile) -> Column:
    return _tile_to_array_int_udf(col_or_name(tile))


# -- explode / assemble -------------------------------------------------------


def _tiles_from_dict_series(s: pd.Series) -> list:
    """mapInPandas delivers struct columns as dict-per-row; adapt for
    decode_struct_pdf."""
    return decode_struct_pdf(pd.DataFrame(
        [v if v is not None else {"cell_type": None, "cols": None, "rows": None, "cells": None}
         for v in s]
    ))


def explode_tiles(df: DataFrame, tile_cols: list, keep_cols: list | None = None,
                  sample_fraction: float | None = None, seed: int = 42) -> DataFrame:
    """tile column(s) -> one row per cell: (*keep, column_index, row_index, <name>...).

    Reference: generators/ExplodeTiles.scala:40-111. Multi-column requires
    equal dims (enforced there at :72-75; here the first tile defines dims and
    mismatches error inside the kernel).

    Implementation: ``mapInPandas`` — each Arrow batch of tile rows becomes
    one flat Arrow batch of cell rows built in numpy (``repeat`` for carried
    keys, ``arange`` for indices, ``ravel`` for cells). The Python boundary
    is crossed once per batch with flat primitive columns; no list-array
    serialization and no per-element JVM copy (an earlier design paid both
    via a tile->array<double> UDF + posexplode and ran ~2x slower on
    256x256 tiles). Rows whose first tile is null are dropped, matching the
    reference generator.
    """
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    tile_cols = [c if isinstance(c, str) else c._jc.toString() for c in tile_cols]
    keep_cols = keep_cols if keep_cols is not None else [
        c for c in df.columns if c not in tile_cols
    ]
    src = df.select(*keep_cols, *tile_cols)
    fields = {f.name: f for f in src.schema.fields}
    out_schema = StructType(
        [fields[c] for c in keep_cols]
        + [StructField("column_index", IntegerType(), True),
           StructField("row_index", IntegerType(), True)]
        + [StructField(c, DoubleType(), True) for c in tile_cols]
    )
    first = tile_cols[0]
    kc, tcs = list(keep_cols), list(tile_cols)

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            tiles = {c: _tiles_from_dict_series(pdf[c]) for c in tcs}
            keep_idx: list[int] = []
            counts: list[int] = []
            cis, ris = [], []
            vals: dict[str, list] = {c: [] for c in tcs}
            for i, t in enumerate(tiles[first]):
                if t is None:
                    continue
                nr, ncols = t.rows, t.cols
                n = nr * ncols
                keep_idx.append(i)
                counts.append(n)
                pos = np.arange(n, dtype="int64")
                cis.append((pos % ncols).astype("int32"))
                ris.append((pos // ncols).astype("int32"))
                for c in tcs:
                    tc_t = tiles[c][i]
                    if tc_t is None:
                        vals[c].append(np.full(n, np.nan, dtype="float64"))
                    else:
                        if (tc_t.rows, tc_t.cols) != (nr, ncols):
                            raise ValueError(
                                "explode_tiles: tile columns must have equal dimensions")
                        vals[c].append(
                            tc_t.masked().astype("float64").filled(np.nan).ravel())
            if not keep_idx:
                continue
            rep = np.asarray(counts, dtype="int64")
            data = {}
            for c in kc:
                data[c] = np.repeat(pdf[c].to_numpy()[keep_idx], rep)
            data["column_index"] = np.concatenate(cis)
            data["row_index"] = np.concatenate(ris)
            for c in tcs:
                data[c] = np.concatenate(vals[c])
            yield pd.DataFrame(data)

    out = src.mapInPandas(gen, schema=out_schema)
    if sample_fraction is not None and sample_fraction < 1.0:
        out = out.sample(fraction=sample_fraction, seed=seed)
    return out


def _assemble_collect_packed(df, group_cols, ri, ci, cvs, out_names,
                             nc, nr, ct, vbits):
    """Packed-int32 collect path of :func:`assemble_tiles`.

    Each non-null cell becomes ONE int: ``pos << vbits | (value & vmask)``,
    aggregated with a single ``collect_list`` per value column.  Halves the
    JVM boxing volume of the dual (pos, value) lists — see the measured
    notes at the call site.  Signed values round-trip: the low ``vbits``
    are two's-complement and re-sign-extended after unmasking.
    """
    vmask = (1 << vbits) - 1
    sign_bit = 1 << (vbits - 1)
    signed = np.issubdtype(ct.dtype, np.signedinteger)
    is_bool = ct.dtype == np.dtype("bool")
    pos = (F.col(ri).cast("int") * nc + F.col(ci).cast("int"))

    @tile_udf(TILE_SCHEMA)
    def scatter_packed(p) -> Tile:
        # Arrow hands back int32; widen so the arithmetic shift below
        # keeps high bits for packed values with the int32 sign bit set.
        a = np.asarray(p, dtype="int64")
        idx = (a >> vbits) & ((1 << (32 - vbits)) - 1)
        val = a & vmask
        if signed:
            val = (val ^ sign_bit) - sign_bit
        flat = np.zeros(nr * nc, dtype=ct.dtype)
        mask = np.ones(nr * nc, dtype=bool)
        flat[idx] = val.astype(ct.dtype) if not is_bool else (val != 0)
        mask[idx] = False
        return Tile(np.ma.masked_array(
            flat.reshape(nr, nc), mask=mask.reshape(nr, nc)), ct)

    aggs = []
    for cv in cvs:
        packed = F.shiftleft(pos, vbits).bitwiseOR(
            F.col(cv).cast("int").bitwiseAND(F.lit(vmask)))
        aggs.append(F.collect_list(
            F.when(F.col(cv).isNotNull(), packed)).alias(f"__pk_{cv}"))
    grouped = df.groupBy(*group_cols).agg(*aggs)
    sel = list(group_cols)
    for cv, name in zip(cvs, out_names):
        sel.append(scatter_packed(F.col(f"__pk_{cv}")).alias(name))
    return grouped.select(*sel)


def assemble_tiles(df: DataFrame, group_cols: list, col_index, row_index, cell,
                   cols: int, rows: int, cell_type: str = "float64",
                   method: str = "auto") -> DataFrame:
    """Inverse of explode: (col_idx,row_idx,value) rows -> one tile per group.

    Reference: TileAssembler.scala:60-199 (TypedImperativeAggregate).
    Missing cells are NoData. ``cell`` may be a list of value columns — all
    bands assemble in ONE shuffle pass, one tile column per value column.

    method='collect' (the 'auto' default): cell traffic stays JVM-side — a
    hash aggregate of aligned ``collect_list(pos)`` / ``collect_list(v)``
    (map-side partial collect applies), then Python receives two flat
    primitive arrays per GROUP (bulk Arrow list transfer, not ~3us/row row
    serialization) and does one numpy scatter.  Narrow integer tiles
    (value_bits + pos_bits <= 32) automatically upgrade to a SINGLE
    packed-int32 collect_list — half the boxing, one list per cell column;
    'collect_packed' / 'collect_dual' force either sub-path explicitly
    (packed raises when the shape doesn't fit 32 bits).

    method='group_map' (the 'auto' default beyond 256k cells): single-shuffle
    applyInPandas — flat positions computed JVM-side, raw cell rows shuffle
    on the group key, one numpy scatter per group. Bounded memory per task
    (one group's cells at a time), no JVM collect buffers. Measured notes
    (100x256^2, local[32]): a sort-free Python-side hash-grouping variant
    (repartition + mapInPandas dense accumulators) was 2x SLOWER — grouped
    map's one-big-Arrow-batch-per-group transfer beats mapInPandas' 10k-row
    streaming regardless of maxRecordsPerBatch, and the JVM group sort is
    not the bottleneck; an applyInArrow variant (skipping the pandas
    conversion) was 1.8x slower still. Don't re-litigate without
    re-measuring.

    Any other ``method`` raises ``ValueError``.
    """
    if method not in ("auto", "collect", "collect_packed", "collect_dual",
                      "group_map"):
        raise ValueError(f"unknown assemble_tiles method: {method!r}")
    nc, nr = int(cols), int(rows)
    ct = CellType.parse(cell_type)
    if method == "auto":
        # collect up to ~256k cells/tile (bulk Arrow list transfer, cell
        # traffic stays JVM-side); group_map beyond, where whole-group
        # collect_list buffers (12 B/cell) stop being a safe per-buffer
        # memory bound. Measured (100 x 256^2 uint16, local[32], min-of-5):
        # collect 0.72-0.80 s vs group_map 1.26 s — the
        # JVM collect_list agg is 0.53 s of the collect path (boxing-bound;
        # a packed-long single list measured the same 0.56 s, Long boxing
        # replacing Integer boxing), the scatter UDF ~0.19 s.
        method = "collect" if nr * nc <= 262144 else "group_map"
    ci = col_index if isinstance(col_index, str) else col_index._jc.toString()
    ri = row_index if isinstance(row_index, str) else row_index._jc.toString()
    cells = cell if isinstance(cell, (list, tuple)) else [cell]
    cvs = [c if isinstance(c, str) else c._jc.toString() for c in cells]
    single = not isinstance(cell, (list, tuple))
    out_names = ["tile"] if single else list(cvs)

    # The value columns cross the JVM->Python boundary (and, for group_map,
    # the shuffle) at the narrowest Spark type that holds the target cell
    # type exactly — halves Arrow bytes vs double for integer tiles; nulls
    # (NoData) survive every cast unchanged.
    if ct.dtype == np.dtype("bool") or (
            np.issubdtype(ct.dtype, np.integer)
            and np.iinfo(ct.dtype).max <= np.iinfo("int32").max):
        xfer = "int"
    elif np.issubdtype(ct.dtype, np.integer):
        xfer = "long"
    elif ct.dtype == np.dtype("float32"):
        xfer = "float"
    else:
        xfer = "double"
    int_cells = xfer in ("int", "long")

    if method in ("collect", "collect_packed", "collect_dual"):
        # Narrow integer tiles take a single packed-int32 collect_list:
        # packed = pos << vbits | (value & vmask), legal whenever
        # bits(pos) + bits(value) <= 32.  One Integer boxes per CELL instead
        # of two, and Integer boxing is markedly cheaper than the Long
        # packing tried earlier: measured on 100 x 256^2 uint16 (local[32],
        # min-of-5) the packed-int agg alone is 0.41 s — at the raw
        # repartition floor (0.40 s) — vs 0.73 s for the dual-int lists and
        # 0.56 s for a packed-long list; end-to-end assemble drops
        # 1.03 s -> 0.58 s.  Sign bits survive: the JVM shiftleft/bitwiseOR
        # wrap (bitwise ops never raise under ANSI), and the Python side
        # masks the low bits back out and re-sign-extends signed dtypes.
        vbits = 1 if ct.dtype == np.dtype("bool") else ct.dtype.itemsize * 8
        posbits = max(1, (nr * nc - 1).bit_length())
        packed_ok = int_cells and xfer == "int" and vbits + posbits <= 32
        if packed_ok and method != "collect_dual":
            return _assemble_collect_packed(
                df, group_cols, ri, ci, cvs, out_names, nc, nr, ct, vbits)
        if method == "collect_packed":
            raise ValueError(
                f"collect_packed requires an integer cell type with "
                f"value_bits + pos_bits <= 32 (got {cell_type}, "
                f"{nr}x{nc} = {posbits} pos bits)")
        # General dual-list path: two aligned collect_lists per value column
        # — every aggregate buffer is updated per input row in the same
        # single pass, and collect_list drops nulls identically on both
        # sides because the position is null-gated on its value column
        # (null cells are NoData — the scatter leaves them masked). No
        # array_sort: the numpy scatter is order-insensitive for unique cell
        # positions (duplicate positions resolve last-write-wins,
        # nondeterministically ordered — same as the reference's imperative
        # TileAssembler buffer).
        pos = (F.col(ri).cast("long") * nc + F.col(ci).cast("long")).cast("int")
        aggs = []
        for cv in cvs:
            aggs.append(F.collect_list(
                F.when(F.col(cv).isNotNull(), pos)).alias(f"__pos_{cv}"))
            aggs.append(F.collect_list(F.col(cv).cast(xfer)).alias(f"__arr_{cv}"))
        grouped = df.groupBy(*group_cols).agg(*aggs)

        @tile_udf(TILE_SCHEMA)
        def scatter(p, v) -> Tile:
            pa = np.asarray(p, dtype="int64")
            if int_cells:
                # integer cells: scatter straight into the target dtype,
                # mask tracked explicitly — no float64 canvas/isnan pass
                flat = np.zeros(nr * nc, dtype=ct.dtype)
                mask = np.ones(nr * nc, dtype=bool)
                flat[pa] = np.asarray(v, dtype=ct.dtype)
                mask[pa] = False
                return Tile(np.ma.masked_array(
                    flat.reshape(nr, nc), mask=mask.reshape(nr, nc)), ct)
            flat = np.full(nr * nc, np.nan, dtype="float64")
            flat[pa] = np.asarray(v, dtype="float64")
            arr = flat.reshape(nr, nc)
            mask = np.isnan(arr)
            return Tile(np.ma.masked_array(
                np.where(mask, 0, arr).astype(ct.dtype), mask=mask), ct)

        sel = list(group_cols)
        for cv, name in zip(cvs, out_names):
            sel.append(scatter(F.col(f"__pos_{cv}"), F.col(f"__arr_{cv}")).alias(name))
        return grouped.select(*sel)

    from pyspark.sql.types import StructType, StructField
    in_schema = df.select(*group_cols).schema
    key_names = [f.name for f in in_schema.fields]
    out_schema = StructType(
        list(in_schema.fields) + [StructField(n, TILE_SCHEMA, True) for n in out_names]
    )

    # flat cell position is computed JVM-side so the shuffle carries
    # (keys, pos:int, value) — one int narrower than shipping
    # (row, col) — and the Python side does a single 1-D scatter.
    src = df.select(
        *group_cols,
        (F.col(ri).cast("long") * nc + F.col(ci).cast("long")).cast("int").alias("__p"),
        *[F.col(cv).cast(xfer).alias(f"__c_{i}") for i, cv in enumerate(cvs)],
    )

    def make(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        p = pdf["__p"].to_numpy(dtype="int64")
        out = {g: [k] for g, k in zip(key_names, key)}
        for i, name in enumerate(out_names):
            vals = np.full(nr * nc, np.nan, dtype="float64")
            vals[p] = pdf[f"__c_{i}"].to_numpy(dtype="float64")
            vals = vals.reshape(nr, nc)
            mask = np.isnan(vals)
            tile = Tile(np.ma.masked_array(
                np.where(mask, 0, vals).astype(ct.dtype), mask=mask), ct)
            out[name] = [tile.to_row()]
        return pd.DataFrame(out)

    return src.groupBy(*group_cols).applyInPandas(make, schema=out_schema)


# -- cell-type conversion (transformers/SetCellType.scala:56-96 etc.) --------


def rf_convert_cell_type(tile, cell_type: str) -> Column:
    """Convert cells + NoData semantics (SetCellType.scala:56-96)."""
    ct = CellType.parse(cell_type)

    @tile_udf(TILE_SCHEMA)
    def udf(tl: Tile) -> Tile:
        return Tile(tl.masked(), ct)

    return udf(col_or_name(tile))


def rf_interpret_cell_type_as(tile, cell_type: str) -> Column:
    """Reinterpret raw bits without value conversion (InterpretAs.scala:51-92)."""
    ct = CellType.parse(cell_type)

    @tile_udf(TILE_SCHEMA)
    def udf(tl: Tile) -> Tile:
        data = tl.masked().data
        raw = data.view(ct.dtype) if tl.cell_type.dtype.itemsize == ct.dtype.itemsize else data.astype(ct.dtype)
        return Tile(np.ma.masked_array(raw, mask=ct.mask_of(raw)), ct)

    return udf(col_or_name(tile))


def rf_with_no_data(tile, nodata_value) -> Column:
    """Set a new NoData value; cells equal to it become NoData
    (SetNoDataValue.scala:47-82)."""
    nd = nodata_value

    @tile_udf(TILE_SCHEMA)
    def udf(tl: Tile) -> Tile:
        ct = CellType.from_numpy(tl.cell_type.dtype, nd)
        a = tl.masked()
        newmask = np.ma.getmaskarray(a) | (np.asarray(a.data) == ct.nodata)
        return Tile(np.ma.masked_array(a.data, mask=newmask), ct)

    return udf(col_or_name(tile))

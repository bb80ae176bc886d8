"""Column-wide aggregates (SURVEY.md §2.4).

Scale-first design: scalar aggregates are expressed as ONE pandas-UDF pass
producing a tiny per-tile partial struct, combined with Spark **built-in**
aggregates (sum/min/max) — so map-side partial aggregation, whole-stage
codegen of the combine, and AQE all apply, and no Python state crosses the
shuffle. This is the idiomatic replacement for the reference's UDAFs
(``core/.../expressions/aggregates/CellStatsAggregate.scala:40-159`` etc.),
and lands near its RDD `directMean` lower bound rather than its 7×-slower
expression path (BASELINE.md).

Tile-valued ("local") aggregates need cell-wise state — those use a
two-level combine: mapInPandas partial per partition (no shuffle), then a
single final merge of P partition-partials (P rows shuffle, not N tiles).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

from rasterframes_spark.tile import (
    CellType,
    Tile,
    TILE_SCHEMA,
    decode_struct_pdf,
    tiles_to_struct_pdf,
)
from rasterframes_spark.functions._kernel import col_or_name, lazy_pandas_udf
from rasterframes_spark.functions.constructors import _tiles_from_dict_series
from rasterframes_spark.functions.proj_raster import extent_bounds, overlay, paint

__all__ = [
    "rf_agg_stats", "rf_agg_mean", "rf_agg_data_cells", "rf_agg_no_data_cells",
    "rf_agg_extent", "rf_agg_reprojected_extent",
    "rf_agg_approx_quantiles", "rf_agg_approx_histogram",
    "rf_agg_equal_width_histogram",
    "agg_local",
    "agg_local_stats", "agg_local_min", "agg_local_max", "agg_local_mean",
    "agg_local_median", "agg_local_data_cells", "agg_local_no_data_cells",
    "grouped_agg_local", "rf_agg_overview_raster",
]

# ---------------------------------------------------------------------------
# Per-tile partial: the single Python pass every scalar aggregate rides on
# ---------------------------------------------------------------------------

_PARTIAL_T = (
    "struct<cnt:bigint,nd:bigint,mn:double,mx:double,sm:double,ssq:double>"
)
_PARTIAL_FIELDS = ["cnt", "nd", "mn", "mx", "sm", "ssq"]
# the partial of a null tile: no cells at all
_NO_CELLS = (0, 0, None, None, 0.0, 0.0)


def cell_stats(a: np.ma.MaskedArray) -> tuple:
    """``(data_cells, no_data_cells, min, max, sum, sum_of_squares)`` of one
    tile's data cells — the engine's one cell-statistics kernel; min and max
    are None when the tile has no data cells."""
    nd = int(np.ma.getmaskarray(a).sum())
    # one float64 copy of the DATA cells only, then single-pass
    # reductions (BLAS dot for sum-of-squares instead of an (af*af)
    # temp + second pass) — measured 2.6x over the masked-array path
    v = (np.asarray(a).ravel() if nd == 0 else a.compressed()).astype(
        "float64")
    if v.size == 0:
        return (0, nd, None, None, 0.0, 0.0)
    return (v.size, nd, float(v.min()), float(v.max()), float(v.sum()),
            float(np.dot(v, v)))


@lazy_pandas_udf(_PARTIAL_T)
def _partial_udf(t: pd.DataFrame) -> pd.DataFrame:
    # a null tile is an empty partial (zero counts), not a null one
    rows = [_NO_CELLS if tile is None else cell_stats(tile.masked())
            for tile in decode_struct_pdf(t)]
    return pd.DataFrame(rows, columns=_PARTIAL_FIELDS)


def _partials(tile) -> Column:
    return _partial_udf(col_or_name(tile))


def rf_agg_stats(tile) -> Column:
    """Aggregate struct{data_cells,no_data_cells,min,max,mean,variance} over
    all cells of the column (aggregates/CellStatsAggregate.scala:40-159).

    Use as ``df.agg(rf_agg_stats("tile").alias("stats"))``. Population variance.
    """
    return stats_of_partials(_partials(tile))


def stats_of_partials(p: Column) -> Column:
    """``rf_agg_stats``' struct from a column of ``_PARTIAL_T`` partials."""
    cnt = F.sum(p.getField("cnt"))
    nd = F.sum(p.getField("nd"))
    sm = F.sum(p.getField("sm"))
    ssq = F.sum(p.getField("ssq"))
    mean = F.try_divide(sm, cnt)  # all NoData: null, not DIVIDE_BY_ZERO
    return F.struct(
        cnt.alias("data_cells"),
        nd.alias("no_data_cells"),
        F.min(p.getField("mn")).alias("min"),
        F.max(p.getField("mx")).alias("max"),
        mean.alias("mean"),
        (F.try_divide(ssq, cnt) - mean * mean).alias("variance"),
    )


def rf_agg_mean(tile) -> Column:
    """Mean of all cells — pure built-ins over the per-tile partial
    (aggregates/CellMeanAggregate.scala:44-80)."""
    return mean_of_partials(_partials(tile))


def mean_of_partials(p: Column) -> Column:
    """``rf_agg_mean`` from a column of ``_PARTIAL_T`` partials."""
    return F.try_divide(F.sum(p.getField("sm")), F.sum(p.getField("cnt")))


def rf_agg_data_cells(tile) -> Column:
    """(aggregates/CellCountAggregate.scala:58-100)"""
    return F.sum(_partials(tile).getField("cnt"))


def rf_agg_no_data_cells(tile) -> Column:
    return F.sum(_partials(tile).getField("nd"))


def rf_agg_extent(extent) -> Column:
    """Aggregate bounding box — pure built-ins
    (functions/AggregateFunctions.scala:118-126)."""
    e = col_or_name(extent)
    return F.struct(
        F.min(e.getField("xmin")).alias("xmin"),
        F.min(e.getField("ymin")).alias("ymin"),
        F.max(e.getField("xmax")).alias("xmax"),
        F.max(e.getField("ymax")).alias("ymax"),
    )


def rf_agg_reprojected_extent(extent, src_crs, dst_crs: str) -> Column:
    """Aggregate extent after per-row reprojection
    (AggregateFunctions.scala:128-132): reproject each extent (pandas UDF),
    then the same pure-built-in bbox union."""
    from rasterframes_spark.geom import proj as P

    @lazy_pandas_udf("struct<xmin:double,ymin:double,xmax:double,ymax:double>")
    def reproj(e: pd.DataFrame, crs: pd.Series) -> pd.DataFrame:
        rows = []
        for i in range(len(e)):
            if e["xmin"].values[i] is None:
                rows.append((None,) * 4)
            else:
                rows.append(P.transform_extent(
                    (float(e["xmin"].values[i]), float(e["ymin"].values[i]),
                     float(e["xmax"].values[i]), float(e["ymax"].values[i])),
                    str(crs.values[i]), dst_crs))
        return pd.DataFrame(rows, columns=["xmin", "ymin", "xmax", "ymax"])

    r = reproj(col_or_name(extent), col_or_name(src_crs))
    return F.struct(
        F.min(r.getField("xmin")).alias("xmin"),
        F.min(r.getField("ymin")).alias("ymin"),
        F.max(r.getField("xmax")).alias("xmax"),
        F.max(r.getField("ymax")).alias("ymax"),
    )


def rf_agg_approx_quantiles(df: DataFrame, tile, probabilities, relative_error=0.0001):
    """Approximate quantiles of all cells in the column.

    The reference reuses Spark's Greenwald-Khanna QuantileSummaries
    (aggregates/ApproxCellQuantilesAggregate.scala:34-87); we reach the very
    same algorithm through ``percentile_approx`` over exploded cells — the
    explode is a codegen'd Generate, no Python per cell.
    """
    from rasterframes_spark.functions.constructors import rf_tile_to_array_double

    cells = df.select(F.explode(rf_tile_to_array_double(tile)).alias("cell"))
    accuracy = max(1, int(1.0 / relative_error))
    return cells.agg(
        F.percentile_approx("cell", list(probabilities), accuracy).alias("quantiles")
    )


def _hist_combine(vals: np.ndarray, cnts: np.ndarray):
    """Sort by value and merge duplicate centroids."""
    order = np.argsort(vals, kind="mergesort")
    vals, cnts = vals[order], cnts[order]
    if not len(vals):
        return vals, cnts
    new = np.concatenate([[True], np.diff(vals) > 0])
    idx = np.cumsum(new) - 1
    nv = vals[new]
    nc = np.zeros(len(nv), dtype="int64")
    np.add.at(nc, idx, cnts)
    return nv, nc


def _hist_compress(vals: np.ndarray, cnts: np.ndarray, budget: int):
    """Ben-Haim & Tom-Tov compression, vectorized in rounds: each round
    greedily merges a non-overlapping set of the smallest-gap adjacent
    centroid pairs (count-weighted mean) at once, so compressing n
    centroids to ``budget`` is O(n log n)-ish instead of the one-pair-per-
    full-scan O(n^2) — a 65k-distinct float tile compresses in a few
    rounds, not 65k concatenate passes."""
    vals = vals.astype("float64")
    cnts = cnts.astype("int64")
    while len(vals) > budget:
        excess = len(vals) - budget
        gaps = np.diff(vals)
        k = max(1, min(excess, len(gaps) // 2 + 1))
        if k < len(gaps):
            cand = np.argpartition(gaps, k - 1)[:k]
        else:
            cand = np.arange(len(gaps))
        # smallest gaps first; ties broken by index for determinism
        cand = cand[np.lexsort((cand, gaps[cand]))]
        taken = np.zeros(len(vals), dtype=bool)
        merge_idx = []
        for i in cand:
            if not taken[i] and not taken[i + 1]:
                taken[i] = taken[i + 1] = True
                merge_idx.append(i)
                if len(merge_idx) >= excess:
                    break
        mi = np.array(merge_idx, dtype=np.int64)
        tot = cnts[mi] + cnts[mi + 1]
        mv = (vals[mi] * cnts[mi] + vals[mi + 1] * cnts[mi + 1]) / tot
        keep = ~taken
        newv = np.concatenate([vals[keep], mv])
        newc = np.concatenate([cnts[keep], tot])
        order = np.argsort(newv, kind="mergesort")
        vals, cnts = newv[order], newc[order]
    return vals, cnts


def rf_agg_approx_histogram(df: DataFrame, tile, num_buckets: int = 80):
    """ONE-PASS mergeable streaming histogram of all cells — the engine's
    analog of the reference's StreamingHistogram TypedImperativeAggregate
    (aggregates/HistogramAggregate.scala:45-125, Ben-Haim & Tom-Tov 2010).

    Per-partition mapInPandas builds a fixed-budget centroid sketch
    (vectorized np.unique per tile + closest-pair compression); the tiny
    per-partition states shuffle to a single final merge. No mid-query
    collect, a single Spark job, mergeable at any parallelism. When the
    column has <= num_buckets distinct values the result is EXACT
    (count-per-value), independent of partitioning.

    Returns a DataFrame of ``(value double, count long)`` centroid rows.
    """
    from rasterframes_spark.functions.constructors import _tiles_from_dict_series

    budget = int(num_buckets)
    src = df.select(col_or_name(tile).alias("tile"))

    def partial(batches):
        vals = np.empty(0, dtype="float64")
        cnts = np.empty(0, dtype="int64")
        for pdf in batches:
            if not len(pdf):
                continue
            for t in _tiles_from_dict_series(pdf["tile"]):
                if t is None:
                    continue
                a = t.masked().compressed().astype("float64")
                a = a[~np.isnan(a)]
                if not len(a):
                    continue
                u, c = np.unique(a, return_counts=True)
                if len(u) > 4 * budget:
                    # pre-compress high-cardinality tiles (e.g. random
                    # float rasters) before touching the running sketch
                    u, c = _hist_compress(u, c, 4 * budget)
                vals, cnts = _hist_combine(
                    np.concatenate([vals, u]), np.concatenate([cnts, c]))
                if len(vals) > 4 * budget:
                    vals, cnts = _hist_compress(vals, cnts, budget)
        if len(vals):
            vals, cnts = _hist_compress(vals, cnts, budget)
            yield pd.DataFrame({"values": [vals.tobytes()],
                                "counts": [cnts.tobytes()]})

    partials = src.mapInPandas(partial, schema="values binary, counts binary")

    def final(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        vals = np.concatenate(
            [np.frombuffer(b, dtype="float64") for b in pdf["values"]])
        cnts = np.concatenate(
            [np.frombuffer(b, dtype="int64") for b in pdf["counts"]])
        vals, cnts = _hist_combine(vals, cnts)
        vals, cnts = _hist_compress(vals, cnts, budget)
        return pd.DataFrame({"value": vals, "count": cnts})

    return (
        partials.groupBy(F.lit(1).alias("__g"))
        .applyInPandas(final, schema="value double, count long")
    )


def rf_agg_equal_width_histogram(df: DataFrame, tile, num_buckets: int = 80):
    """TWO-PASS equal-width histogram convenience (exact min/max then fixed
    bins): deterministic bin edges, but scans the data twice with a driver
    sync — prefer rf_agg_approx_histogram in pipelines. Returns a DataFrame
    with ``bin_start, bin_end, count`` rows."""
    from rasterframes_spark.functions.constructors import rf_tile_to_array_double

    cells = df.select(F.explode(rf_tile_to_array_double(tile)).alias("cell")).where(
        F.col("cell").isNotNull() & ~F.isnan("cell")
    )
    mm = cells.agg(F.min("cell").alias("lo"), F.max("cell").alias("hi")).collect()[0]
    lo, hi = mm["lo"], mm["hi"]
    width = (hi - lo) / num_buckets or 1.0
    return (
        cells.select(
            F.least(
                F.floor((F.col("cell") - F.lit(lo)) / F.lit(width)), F.lit(num_buckets - 1)
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("count"))
        .select(
            (F.lit(lo) + F.col("bucket") * F.lit(width)).alias("bin_start"),
            (F.lit(lo) + (F.col("bucket") + 1) * F.lit(width)).alias("bin_end"),
            "count",
        )
        .orderBy("bin_start")
    )


# ---------------------------------------------------------------------------
# Tile-valued ("local") aggregates — cell-wise across rows
# ---------------------------------------------------------------------------

_LOCAL_STATE_T = (
    "struct<rows:int,cols:int,n:bigint,cnt:binary,sm:binary,ssq:binary,mn:binary,mx:binary>"
)
_LOCAL_STATE_DDL = (
    "rows int, cols int, n bigint, cnt binary, sm binary, ssq binary, mn binary, mx binary"
)


def _local_zero(shape):
    return {
        "n": 0,
        "cnt": np.zeros(shape, dtype="int64"),
        "sm": np.zeros(shape, dtype="float64"),
        "ssq": np.zeros(shape, dtype="float64"),
        "mn": np.full(shape, np.inf, dtype="float64"),
        "mx": np.full(shape, -np.inf, dtype="float64"),
    }


def _local_accum(state, a: np.ma.MaskedArray):
    valid = ~np.ma.getmaskarray(a)
    vals = np.where(valid, np.asarray(a.data, dtype="float64"), 0.0)
    state["n"] += 1
    state["cnt"] += valid
    state["sm"] += vals
    state["ssq"] += vals * vals
    state["mn"] = np.fmin(state["mn"], np.where(valid, vals, np.inf))
    state["mx"] = np.fmax(state["mx"], np.where(valid, vals, -np.inf))
    return state


def _local_state_rows(states_and_shapes):
    rows = []
    for shape, st in states_and_shapes:
        rows.append(
            {
                "rows": shape[0],
                "cols": shape[1],
                "n": int(st["n"]),
                "cnt": st["cnt"].tobytes(),
                "sm": st["sm"].tobytes(),
                "ssq": st["ssq"].tobytes(),
                "mn": st["mn"].tobytes(),
                "mx": st["mx"].tobytes(),
            }
        )
    return rows


def _decode_state(row):
    shape = (int(row["rows"]), int(row["cols"]))
    return shape, {
        "n": int(row["n"]),
        "cnt": np.frombuffer(row["cnt"], dtype="int64").reshape(shape).copy(),
        "sm": np.frombuffer(row["sm"], dtype="float64").reshape(shape).copy(),
        "ssq": np.frombuffer(row["ssq"], dtype="float64").reshape(shape).copy(),
        "mn": np.frombuffer(row["mn"], dtype="float64").reshape(shape).copy(),
        "mx": np.frombuffer(row["mx"], dtype="float64").reshape(shape).copy(),
    }


def _merge_states(a, b):
    a["n"] += b["n"]
    a["cnt"] += b["cnt"]
    a["sm"] += b["sm"]
    a["ssq"] += b["ssq"]
    a["mn"] = np.fmin(a["mn"], b["mn"])
    a["mx"] = np.fmax(a["mx"], b["mx"])
    return a


_STATS_NAMES = ("count", "min", "max", "mean", "variance")


def _finish_state(state, which):
    """Turn an accumulated cell-wise state into result Tile(s).

    Returns a single Tile for scalar 'which', or a dict of the five stats
    tiles for which='stats'. NoData where no row had data at that cell."""
    cnt = state["cnt"]
    mask = cnt == 0
    f64 = CellType.parse("float64")
    i32 = CellType.parse("int32")
    if which == "data_cells":
        return Tile(np.ma.masked_array(cnt.astype("int32")), i32)
    if which == "no_data_cells":
        return Tile(np.ma.masked_array(
            (state["n"] - cnt).astype("int32")), i32)
    if which == "sum":
        return Tile(np.ma.masked_array(state["sm"], mask=mask), f64)
    if which == "min":
        return Tile(np.ma.masked_array(state["mn"], mask=mask), f64)
    if which == "max":
        return Tile(np.ma.masked_array(state["mx"], mask=mask), f64)
    mean = np.ma.masked_array(
        np.divide(state["sm"], np.maximum(cnt, 1)), mask=mask)
    if which == "mean":
        return Tile(mean, f64)
    if which == "stats":
        var = np.ma.masked_array(
            np.divide(state["ssq"], np.maximum(cnt, 1)) - np.asarray(mean) ** 2,
            mask=mask)
        return {
            "count": Tile(np.ma.masked_array(cnt.astype("int32")), i32),
            "min": Tile(np.ma.masked_array(state["mn"], mask=mask), f64),
            "max": Tile(np.ma.masked_array(state["mx"], mask=mask), f64),
            "mean": Tile(mean, f64),
            "variance": Tile(var, f64),
        }
    raise ValueError(which)


def _accumulate_tiles(struct_series) -> tuple:
    """Fold a series of tile structs into one (shape, state); None if empty."""
    structs = pd.DataFrame([
        s if s is not None else
        {"cell_type": None, "cols": None, "rows": None, "cells": None}
        for s in struct_series
    ])
    state = None
    shape = None
    for tl in decode_struct_pdf(structs):
        if tl is None:
            continue
        a = tl.masked()
        if state is None:
            shape = a.shape
            state = _local_zero(shape)
        if a.shape != shape:
            raise ValueError("local aggregates require uniform tile dimensions")
        _local_accum(state, a)
    return shape, state


def _finished_columns(state, which) -> dict:
    """Result tile column(s) as to_row dicts, keyed by output column name."""
    fin = _finish_state(state, which)
    if which == "stats":
        return {k: fin[k].to_row() for k in _STATS_NAMES}
    return {"tile": fin.to_row()}


def _out_tile_fields(which):
    from pyspark.sql.types import StructField
    names = _STATS_NAMES if which == "stats" else ("tile",)
    return [StructField(n, TILE_SCHEMA, True) for n in names]


def _agg_local_rank(df: DataFrame, tile_c, gcols: list, q: float) -> DataFrame:
    """Per-pixel EXACT quantile across rows (q=0.5 = the median composite —
    the cloud-free mosaicking workhorse the running-moment state of
    ``agg_local`` cannot express).

    Spark-first shape, no Python in the hot path: explode tiles to cell
    rows (one Arrow crossing), ``groupBy(group, pixel)`` with the built-in
    exact ``percentile`` (continuous interpolation, ignores NoData nulls),
    then assemble back into tiles. Two shuffles: cell rows into the
    per-pixel aggregate, then one row per pixel into the tile assembler —
    both keyed finer than the group, so a 10k-scene stack over one grid
    cell spreads across the cluster instead of pinning one task (the
    applyInPandas alternative would hold all N scenes of a group in one
    task's memory). Pixels masked in EVERY scene come back NoData.
    """
    from rasterframes_spark.functions.constructors import (
        assemble_tiles, explode_tiles)

    src = df.select(*gcols, tile_c.alias("__t"))
    dims = src.where(F.col("__t.cols").isNotNull()).select(
        F.col("__t.cols").alias("c"), F.col("__t.rows").alias("r")).head()
    if dims is None:
        from pyspark.sql.types import StructType
        in_schema = src.select(*gcols).schema
        return df.sparkSession.createDataFrame(
            [], StructType(list(in_schema.fields) + _out_tile_fields("tile")))
    cells = explode_tiles(src, ["__t"]).where(F.col("__t").isNotNull())
    per_pixel = cells.groupBy(*gcols, "column_index", "row_index").agg(
        F.percentile("__t", F.lit(q)).alias("__v"))
    return assemble_tiles(per_pixel, gcols, "column_index", "row_index",
                          "__v", int(dims["c"]), int(dims["r"]), "float64")


def agg_local(df: DataFrame, tile, which: str = "mean",
              group_cols: list | None = None, q: float | None = None,
              merge_partitions: int = 32) -> DataFrame:
    """Unified cell-wise (per-pixel) aggregate across rows.

    One API for both shapes (reference LocalStatsAggregate.scala:44-178 /
    LocalMeanAggregate.scala:41-79):

    - ``group_cols=None``: aggregate the whole column -> one-row DataFrame.
      Level 1 accumulates per *partition* via mapInPandas (no shuffle, one
      state array per partition); level 2 merges the P tiny partial states
      in a single final task — treeAggregate-shaped, nothing cell-sized
      ever lands on the driver.
    - ``group_cols=[...]``: one result tile per group via a single-shuffle
      applyInPandas; the group's tiles stream through one Python pass.

    ``which``: mean | min | max | sum | data_cells | no_data_cells | stats
    (stats -> five tile columns: count, min, max, mean, variance) |
    median | quantile (with ``q=``) — the rank aggregates take a different
    physical plan (explode -> per-pixel exact ``percentile`` -> assemble,
    see :func:`_agg_local_rank`) because they need the full value set per
    pixel, not a mergeable running state.
    Requires uniform tile dimensions within each aggregation scope (the
    reference enforces the same, ExplodeTiles.scala:72-75).

    Driver-side convenience wrappers (``agg_local_mean`` etc.) collect this
    DataFrame's single row into local ``Tile`` objects.
    """
    from pyspark.sql.types import StructType

    tile_c = col_or_name(tile)

    if which in ("median", "quantile"):
        if which == "quantile":
            if q is None:
                raise ValueError("agg_local(..., 'quantile') requires q=")
        else:
            q = 0.5
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"quantile q must be in [0, 1], got {q}")
        return _agg_local_rank(df, tile_c, list(group_cols or []), float(q))

    if group_cols:
        in_schema = df.select(*group_cols).schema
        key_names = [f.name for f in in_schema.fields]
        out_schema = StructType(list(in_schema.fields) + _out_tile_fields(which))
        src = df.select(*group_cols, tile_c.alias("__t"))

        def agg(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            _, state = _accumulate_tiles(pdf["__t"])
            out = {g: [k] for g, k in zip(key_names, key)}
            if state is None:
                for f in _out_tile_fields(which):
                    out[f.name] = [None]
            else:
                for name, row in _finished_columns(state, which).items():
                    out[name] = [row]
            return pd.DataFrame(out)

        return df.sparkSession.createDataFrame([], out_schema) if df.isEmpty() else (
            src.groupBy(*group_cols).applyInPandas(agg, schema=out_schema)
        )

    src = df.select(tile_c.alias("t"))
    state_schema = StructType.fromDDL(_LOCAL_STATE_DDL)

    def partial(iterator):
        state = None
        shape = None
        for pdf in iterator:
            s2, st2 = _accumulate_tiles(pdf["t"])
            if st2 is None:
                continue
            if state is None:
                shape, state = s2, st2
            else:
                if s2 != shape:
                    raise ValueError(
                        "local aggregates require uniform tile dimensions")
                _merge_states(state, st2)
        if state is not None:
            yield pd.DataFrame(_local_state_rows([(shape, state)]))

    out_schema = StructType(_out_tile_fields(which))

    def _merge_rows(iterator):
        acc = None
        shape = None
        for pdf in iterator:
            for row in pdf.to_dict("records"):
                s2, st2 = _decode_state(row)
                if acc is None:
                    shape, acc = s2, st2
                else:
                    if s2 != shape:
                        raise ValueError(
                            "local aggregates require uniform tile dimensions")
                    _merge_states(acc, st2)
        return shape, acc

    def merge_pass(iterator):
        shape, acc = _merge_rows(iterator)
        if acc is not None:
            yield pd.DataFrame(_local_state_rows([(shape, acc)]))

    def final(iterator):
        _, acc = _merge_rows(iterator)
        if acc is not None:
            yield pd.DataFrame(
                {n: [r] for n, r in _finished_columns(acc, which).items()})

    # Tree combine like rf_agg_overview_raster (:773): one state row per
    # input partition x up to 5 tile-sized buffers would funnel hundreds
    # of GB through the single final task at 100k partitions — an extra
    # merge pass bounds the final task's input to <= merge_partitions
    # state rows.
    partials = _local_agg_partials(
        src.mapInPandas(partial, schema=state_schema),
        merge_pass, state_schema, merge_partitions)
    return partials.repartition(1).mapInPandas(final, schema=out_schema)


def _local_agg_partials(partials: DataFrame, merge_pass,
                        state_schema, merge_partitions: int) -> DataFrame:
    """Partition states, tree-merged down to <= merge_partitions rows
    (split out so tests can assert the bound the final single task
    actually ingests).  The merge pass applies UNCONDITIONALLY: checking
    the physical partition count (``src.rdd.getNumPartitions()``) under
    AQE eagerly materializes every upstream shuffle stage at plan time —
    running the expensive upstream job twice — and the unconditional pass
    only shuffles one small state row per input partition."""
    return partials.repartition(merge_partitions).mapInPandas(
        merge_pass, schema=state_schema)


def _collect_single(df: DataFrame, which: str):
    """Driver finish: collect agg_local's single row into Tile object(s)."""
    rows = df.collect()
    if not rows:
        return None
    row = rows[0]

    def to_tile(struct):
        if struct is None:
            return None
        return decode_struct_pdf(pd.DataFrame([struct.asDict()]))[0]

    if which == "stats":
        # row["count"] not getattr: Row.count is a method, shadowing the field
        return {k: to_tile(row[k]) for k in _STATS_NAMES}
    return to_tile(row["tile"])


def agg_local_stats(df: DataFrame, tile):
    """Cell-wise count/min/max/mean/variance across rows -> dict of 5 local
    Tiles (aggregates/LocalStatsAggregate.scala:44-178). Driver-finish
    convenience over ``agg_local(df, tile, 'stats')``."""
    return _collect_single(agg_local(df, tile, "stats"), "stats")


def agg_local_median(df: DataFrame, tile) -> Tile:
    """Per-pixel exact median across all rows (the cloud-free composite),
    collected to one local Tile. Distributed finish via
    ``agg_local(df, tile, 'median')``."""
    return _collect_single(agg_local(df, tile, "median"), "tile")


def agg_local_min(df: DataFrame, tile) -> Tile:
    return _collect_single(agg_local(df, tile, "min"), "min")


def agg_local_max(df: DataFrame, tile) -> Tile:
    return _collect_single(agg_local(df, tile, "max"), "max")


def agg_local_mean(df: DataFrame, tile) -> Tile:
    return _collect_single(agg_local(df, tile, "mean"), "mean")


def agg_local_data_cells(df: DataFrame, tile) -> Tile:
    return _collect_single(agg_local(df, tile, "data_cells"), "data_cells")


def agg_local_no_data_cells(df: DataFrame, tile) -> Tile:
    return _collect_single(agg_local(df, tile, "no_data_cells"), "no_data_cells")


def grouped_agg_local(df: DataFrame, group_cols: list, tile,
                      which: str = "mean") -> DataFrame:
    """Deprecated spelling of ``agg_local(df, tile, which, group_cols)`` —
    kept for compatibility; delegates unchanged."""
    return agg_local(df, tile, which, group_cols)


def rf_agg_overview_raster(df: DataFrame, tile: str, extent: str, crs: str,
                           cols: int, rows: int, dest_extent: tuple,
                           dest_crs: str = "EPSG:4326",
                           merge_partitions: int = 32) -> "Tile":
    """Resample+merge every intersecting tile into one fixed-size overview
    raster (AggregateFunctions.scala:92-112 / TileRasterizerAggregate.scala).

    Tree combine like _local_agg: each partition paints its tiles onto a
    local canvas (no shuffle); when the input has more than
    ``merge_partitions`` partitions, one extra canvas-merge pass bounds
    what the driver collects to <= merge_partitions canvases — at cluster
    scale tens of thousands of partition canvases (float64 + mask, ~2-3 MB
    each) would otherwise make the driver merge a multi-GB sink."""
    nc, nr = int(cols), int(rows)
    src = df.select(col_or_name(tile).alias("t"), col_or_name(extent).alias("e"),
                    col_or_name(crs).alias("c"))

    def blank():
        return np.zeros((nr, nc), dtype="float64"), np.ones((nr, nc), dtype=bool)

    def overlay_all(canvas, mask, canvases, masks):
        for cb, mb in zip(canvases, masks):
            overlay(canvas, mask, np.frombuffer(cb, dtype="float64").reshape(nr, nc),
                    np.frombuffer(mb, dtype=bool).reshape(nr, nc))

    def emit(canvas, mask):
        return pd.DataFrame({"canvas": [canvas.tobytes()], "mask": [mask.tobytes()]})

    def partial(iterator):
        canvas, mask = blank()
        painted = False
        for pdf in iterator:
            for tl, e, c in zip(_tiles_from_dict_series(pdf["t"]), pdf["e"].values,
                                pdf["c"].values):
                if tl is not None:
                    painted |= paint(canvas, mask, dest_extent, dest_crs, tl,
                                     extent_bounds(e), str(c))
        if painted:
            yield emit(canvas, mask)

    def merge_pass(iterator):
        canvas, mask = blank()
        merged = False
        for pdf in iterator:
            overlay_all(canvas, mask, pdf["canvas"].values, pdf["mask"].values)
            merged = merged or len(pdf) > 0
        if merged:
            yield emit(canvas, mask)

    parts = _overview_partials(src, partial, merge_pass,
                               merge_partitions).collect()
    canvas, mask = blank()
    overlay_all(canvas, mask, [r["canvas"] for r in parts], [r["mask"] for r in parts])
    return Tile(np.ma.masked_array(canvas, mask=mask), CellType.parse("float64"))


def _overview_partials(src: DataFrame, partial, merge_pass,
                       merge_partitions: int) -> DataFrame:
    """Partition canvases, tree-merged down to <= merge_partitions rows when
    the source is wider than that (split out so tests can assert the bound
    the driver actually collects)."""
    # unconditional (same rationale as _local_agg_partials: a physical
    # partition-count probe under AQE executes the upstream job eagerly)
    return (src.mapInPandas(partial, schema="canvas binary, mask binary")
            .repartition(merge_partitions)
            .mapInPandas(merge_pass, schema="canvas binary, mask binary"))

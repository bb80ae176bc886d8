"""raster_join — the reference's flagship composite spatial operator
(SURVEY.md §2.3, §3.3; ``core/.../extensions/RasterJoin.scala:57-133``).

Semantics (pinned by ``core/src/test/.../RasterJoinSpec.scala:40-120``):
left-outer spatial join on extent intersection (right extents reprojected
to the left CRS), then per-left-row merge of all matched right tiles into
the left tile's grid — NoData where no right coverage; left row count
preserved.

Scale-first divergence from the reference: the reference's join is a
BroadcastNestedLoopJoin on the ``st_intersects`` theta predicate (§4
"improvement opportunity"). Here both sides explode their extents to
fixed-grid cover cells (in EPSG:4326) and equi-join on the cell id — a
plain shuffle hash join that partitions by spatial locality — followed by
the exact bbox-intersect post-filter. At 1000 executors this scales as
O(cells) with no broadcast of either side; AQE handles skewed cells.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F

from rasterframes_spark.tile import (
    CellType, Tile, TILE_SCHEMA, decode_struct_pdf, tiles_to_struct_pdf)
from rasterframes_spark.functions._kernel import lazy_pandas_udf
from rasterframes_spark.functions.proj_raster import (
    RESAMPLING, extent_bounds, overlay, paint)
from rasterframes_spark.geom import proj as P
from rasterframes_spark.geom.functions import rf_spatial_grid_cells
from rasterframes_spark.pipeline.skew import stamp_content_id

__all__ = ["raster_join", "spatial_join"]


@lazy_pandas_udf("struct<xmin:double,ymin:double,xmax:double,ymax:double>")
def _extent_to_4326_udf(e: pd.DataFrame, crs: pd.Series) -> pd.DataFrame:
    rows = []
    xm, ym, xM, yM = (e[c].values for c in ("xmin", "ymin", "xmax", "ymax"))
    for i in range(len(e)):
        if xm[i] is None or crs.values[i] is None:
            rows.append((None,) * 4)
        else:
            rows.append(P.transform_extent(
                (float(xm[i]), float(ym[i]), float(xM[i]), float(yM[i])),
                str(crs.values[i]), "EPSG:4326"))
    return pd.DataFrame(rows, columns=["xmin", "ymin", "xmax", "ymax"])


def _canvas_tile(canvas: np.ndarray, mask: np.ndarray, ct: CellType) -> Tile:
    """A merged float64 canvas as a tile of ``ct``, changed to a cell type
    that can hold NoData."""
    if not ct.has_nodata:
        ct = CellType.from_numpy(ct.dtype, "default")
    return Tile(np.ma.masked_array(canvas.astype(ct.dtype), mask=mask), ct)


@lazy_pandas_udf(TILE_SCHEMA)
def _overlay_partials(ltile: pd.DataFrame, partials: pd.Series) -> pd.DataFrame:
    """Final merge: each left tile's chunk partials, already on its grid,
    overlaid in chunk order; the result takes the first partial's cell
    type. A row without partials is all NoData in the left cell type."""
    out = []
    for lt, parts in zip(decode_struct_pdf(ltile), partials.values):
        if lt is None:
            out.append(None)
            continue
        canvas = np.zeros((lt.rows, lt.cols), dtype="float64")
        mask = np.ones((lt.rows, lt.cols), dtype=bool)
        ct = lt.cell_type
        for i, p in enumerate(parts if parts is not None else ()):
            part = Tile.from_parts(p["cell_type"], p["cols"], p["rows"],
                                   bytes(p["cells"]))
            if i == 0:
                ct = part.cell_type
            m = part.masked()
            overlay(canvas, mask, m.data, np.ma.getmaskarray(m))
        out.append(_canvas_tile(canvas, mask, ct))
    return tiles_to_struct_pdf(out)


# Initial partition count of the merge-stage rebalance shuffles.  AQE
# coalesces a rebalance exchange to the bytes it measures at run time
# (``spark.sql.adaptive.advisoryPartitionSizeInBytes``), so this is only
# the ceiling a merge stage can spread over.
_MERGE_PARTITIONS = 4096


def _chunked_premerge(L, matched, right_tiles, left_tile, left_extent,
                      left_crs, resampling: str, max_fan_in: int):
    """Two-level bounded merge: (lid, chunk) partial canvases on the left
    grid (each grouped task holds ≤ max_fan_in right tiles), then the
    chunk-ordered partial list per lid (__lid, __rl_<band> array<tile>)."""
    from pyspark.sql import Window

    lmeta = L.select(
        "__lid", "__lid2",
        F.col(left_extent).alias("__lext"), F.col(left_crs).alias("__lcrs"),
        F.col(f"{left_tile}.cell_type").alias("__lct"),
        F.col(f"{left_tile}.cols").alias("__lcols"),
        F.col(f"{left_tile}.rows").alias("__lrows"),
    ).dropDuplicates(["__lid", "__lid2"])
    w = Window.partitionBy("__lid", "__lid2").orderBy("__rid", "__rid2",
                                                      "__rid3")
    chunked = (
        matched.withColumn(
            "__chunk", F.floor((F.row_number().over(w) - 1) / max_fan_in))
        .join(lmeta, ["__lid", "__lid2"])
    )
    mid_schema = "__lid long, __lid2 long, __chunk long, " + ", ".join(
        f"__rp_{rt} {TILE_SCHEMA.simpleString()}" for rt in right_tiles)

    def premerge(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["__rid", "__rid2", "__rid3"])
        r0 = pdf.iloc[0]
        out = {"__lid": [key[0]], "__lid2": [key[1]], "__chunk": [int(key[2])]}
        if r0["__lct"] is None:  # a null left tile merges to null
            return pd.DataFrame(out | {f"__rp_{rt}": [None] for rt in right_tiles})
        lext, lcrs = extent_bounds(r0["__lext"]), str(r0["__lcrs"])
        shape = (int(r0["__lrows"]), int(r0["__lcols"]))
        for rt in right_tiles:
            canvas = np.zeros(shape, dtype="float64")
            mask = np.ones(shape, dtype=bool)
            ct = None
            for p in pdf[f"__rp_{rt}"]:
                t = p["tile"]
                if t is None or t["cells"] is None:
                    continue
                tile = Tile.from_parts(t["cell_type"], t["cols"], t["rows"],
                                       bytes(t["cells"]))
                ct = ct or tile.cell_type
                paint(canvas, mask, lext, lcrs, tile, extent_bounds(p["extent"]),
                      str(p["crs"]), resampling)
            ct = ct or CellType.parse(str(r0["__lct"]))
            out[f"__rp_{rt}"] = [_canvas_tile(canvas, mask, ct).to_row()]
        return pd.DataFrame(out)

    # partial canvases re-shuffle for the chunk-order agg; the rebalance
    # on (lid,lid2) satisfies the agg's clustering, so it REPLACES (not
    # adds to) the agg's exchange
    partials = chunked.groupBy("__lid", "__lid2", "__chunk").applyInPandas(
        premerge, schema=mid_schema).hint(
            "rebalance", _MERGE_PARTITIONS, "__lid", "__lid2")
    return partials.groupBy("__lid", "__lid2").agg(
        *[F.transform(
            F.array_sort(F.collect_list(
                F.struct(F.col("__chunk").alias("c"),
                         F.col(f"__rp_{rt}").alias("p")))),
            lambda s: s["p"]).alias(f"__rl_{rt}")
          for rt in right_tiles]
    )


def raster_join(
    left: DataFrame,
    right: DataFrame,
    left_tile: str = "tile",
    right_tiles: list[str] | None = None,
    left_extent: str = "extent",
    left_crs: str = "crs",
    right_extent: str = "extent",
    right_crs: str = "crs",
    resampling: str = "nearest",
    cell_size_deg: float | None = None,
    max_fan_in: int = 256,
    cache_inputs: bool = True,
) -> DataFrame:
    """Left-outer spatial join + reproject-merge (RasterJoin.scala:68-133).

    Returns left's columns plus, for each right tile column, a tile merged
    onto the left grid (same column name; NoData where no coverage).

    Each right tile is warped once onto the left grid by
    :func:`~rasterframes_spark.functions.proj_raster.paint`, sampling the
    left pixel centres ``"nearest"`` (default) or ``"bilinear"``; where
    right tiles overlap, the first one that is not NoData wins, in a
    deterministic right-row order.

    ``max_fan_in`` (default 256, a positive int) bounds how many matched
    right tiles one task ever buffers — without it a deep temporal stack
    (thousands of scenes over one left tile) OOMs the merge task. Right
    tiles merge onto the left grid in ordered chunks of ≤N per grouped
    task; each left row then overlays its chunk partials, already on its
    grid, in chunk order. A partial takes the cell type of its chunk's
    first non-null right tile and the result that of its first partial,
    each changed to a type that can hold NoData; a left row with no
    coverage gets all NoData in the left tile's cell type; a null left
    tile gives null. ``cache_inputs=False`` skips the persists when the
    caller manages caching or inputs are already materialized tables.

    The merge-stage shuffles are ``rebalance`` hints, so AQE sizes them
    from the bytes each stage actually writes
    (``spark.sql.adaptive.advisoryPartitionSizeInBytes``); building the
    plan runs no job unless ``cell_size_deg`` is None.

    Cache lifetime: the persisted stamped inputs stay alive as long as the
    returned DataFrame may be recomputed (Spark evicts them LRU / spills
    under memory pressure, and deterministic ids make eviction-triggered
    recompute value-identical, so the leak is bounded — but repeated
    raster_join calls in one long session accumulate). Release explicitly
    with ``release_raster_join_cache(result)`` once the result is
    materialized (written / collected / re-cached), or pass
    ``cache_inputs=False``.
    """
    if resampling not in RESAMPLING:
        raise ValueError(
            f"resampling must be one of {RESAMPLING}, got {resampling!r}")
    if (not isinstance(max_fan_in, int) or isinstance(max_fan_in, bool)
            or max_fan_in < 1):
        raise ValueError(
            f"max_fan_in must be a positive int, got {max_fan_in!r}")
    right_tiles = right_tiles or ["tile"]

    # Content ids (pipeline/skew.py:stamp_content_id): both sides branch
    # into (bucket-join, payload/final-join) sub-plans that re-evaluate
    # the id expression (monotonically_increasing_id once mis-joined
    # payloads at sf0.1).  Duplicate rows sharing an id are harmless
    # here: the merge paints identical pixels, and the final left join
    # re-expands duplicate left rows with their shared merge result.
    # The key is only the join-relevant METADATA (extent, crs, tile
    # shape): the match set of a row is fully determined by its extent,
    # and the merge canvas by its tile dims/cell type.  Hashing cell DATA
    # would force the bbox metadata pass to deserialize every tile
    # (measured 5x slower at sf0.1, and it would defeat Parquet column
    # pruning at scale).
    def _ids(df, extent_c, crs_c, tile_c, a, b):
        return stamp_content_id(df, a, b, F.struct(
            F.col(extent_c), F.col(crs_c),
            F.col(f"{tile_c}.cols"), F.col(f"{tile_c}.rows"),
            F.col(f"{tile_c}.cell_type")))

    L = _ids(left, left_extent, left_crs, left_tile, "__lid", "__lid2")
    R = _ids(right, right_extent, right_crs, right_tiles[0],
             "__rid", "__rid2")
    if cache_inputs:
        # Both sides fan into two sub-plans each (bbox metadata pass +
        # payload/final join). Caching the stamped frames evaluates the
        # upstream lineage ONCE instead of per branch (measured 6x on a
        # derived-tiles input at sf0.1). Pure perf: with deterministic
        # ids, eviction-triggered recompute is value-identical.
        L = L.persist()
        R = R.persist()

    # .once: the overlap condition's inferred isnotnull would be pushed
    # under these projections
    l4326 = L.select(
        "__lid", "__lid2",
        _extent_to_4326_udf.once(F.col(left_extent), F.col(left_crs)).alias("__e4326"),
    )
    r4326 = R.select(
        "__rid", "__rid2",
        _extent_to_4326_udf.once(F.col(right_extent), F.col(right_crs)).alias("__e4326"),
    )

    if cell_size_deg is None:
        # one metadata-scale pass: grid cell ≈ the 90th-pct left extent width,
        # so most extents explode to ≤ 4 cells
        stats = l4326.agg(
            F.percentile_approx(
                F.col("__e4326.xmax") - F.col("__e4326.xmin"), 0.9
            ).alias("w")
        ).head()
        cell_size_deg = max(float(stats["w"] or 1.0), 1e-9) * 2

    lcells = l4326.select(
        "__lid", "__lid2", "__e4326",
        F.explode(rf_spatial_grid_cells("__e4326", cell_size_deg)).alias("__cell"),
    )
    rcells = r4326.select(
        "__rid", "__rid2", F.col("__e4326").alias("__re4326"),
        F.explode(rf_spatial_grid_cells("__e4326", cell_size_deg)).alias("__cell"),
    )

    pairs = (
        lcells.join(rcells, "__cell")
        .where(
            (F.col("__e4326.xmin") <= F.col("__re4326.xmax"))
            & (F.col("__re4326.xmin") <= F.col("__e4326.xmax"))
            & (F.col("__e4326.ymin") <= F.col("__re4326.ymax"))
            & (F.col("__re4326.ymin") <= F.col("__e4326.ymax"))
        )
        .select("__lid", "__lid2", "__rid", "__rid2")
        .dropDuplicates(["__lid", "__lid2", "__rid", "__rid2"])
    )

    r_payload = R.select(
        "__rid", "__rid2",
        *[
            F.struct(
                F.col(rt).alias("tile"),
                F.col(right_extent).alias("extent"),
                F.col(right_crs).alias("crs"),
            ).alias(f"__rp_{rt}")
            for rt in right_tiles
        ],
    )
    # third sort key: full-payload hash, computed ONLY on the payload
    # branch (post-join, where cells are read anyway) — it breaks merge-
    # order ties among right rows that share extent/shape metadata (deep
    # stacks) without the metadata pass ever touching cell data
    r_payload = r_payload.withColumn(
        "__rid3", F.xxhash64(*[F.col(f"__rp_{rt}") for rt in right_tiles]))
    # Rebalancing BOTH payload-join inputs lets AQE size the join from
    # the bytes both sides write (sized from the KB-scale pairs side
    # alone, a GB payload once collapsed into one spilling task); the
    # shuffle_hash hint builds on the pairs side, so the payload is never
    # sorted and never broadcast (a localCheckpointed payload's size
    # statistic can read KBs for GBs).
    pairs = pairs.hint("rebalance", _MERGE_PARTITIONS, "__rid", "__rid2")
    r_payload = r_payload.hint(
        "rebalance", _MERGE_PARTITIONS, "__rid", "__rid2")
    matched = pairs.hint("shuffle_hash").join(r_payload, ["__rid", "__rid2"])
    # the left-id rebalance satisfies the window / premerge clustering
    # downstream, so it REPLACES the exchange those stages would insert
    matched = matched.hint("rebalance", _MERGE_PARTITIONS, "__lid", "__lid2")
    grouped = _chunked_premerge(
        L, matched, right_tiles, left_tile, left_extent, left_crs,
        resampling, max_fan_in)

    joined = L.join(grouped, ["__lid", "__lid2"], "left")
    out_cols = [c for c in left.columns]
    merged = joined.select(
        *out_cols,
        *[
            _overlay_partials(F.col(left_tile), F.col(f"__rl_{rt}")).alias(
                rt if rt not in out_cols else f"{rt}_right")
            for rt in right_tiles
        ],
    )
    if cache_inputs:
        # handles for release_raster_join_cache — a plain attribute on the
        # result (no global registry to leak through)
        merged._rf_cached_inputs = (L, R)
    return merged


def release_raster_join_cache(result: DataFrame) -> bool:
    """Unpersist the input frames an operator persisted for ``result``
    (any result carrying a ``_rf_cached_inputs`` handle: raster_join with
    ``cache_inputs=True``, minhash_dedup_pairs / simhash_near_pairs
    signature caches).  Call after the result has been materialized
    (written, collected, or cached itself); recomputing afterwards is
    still correct, just slower.  Also exported as
    ``rasterframes_spark.release_cache``.  Returns True if there was a
    cache to release."""
    cached = getattr(result, "_rf_cached_inputs", None)
    if not cached:
        return False
    for df in cached:
        df.unpersist()
    result._rf_cached_inputs = None
    return True


def spatial_join(left: DataFrame, right: DataFrame,
                 on: list[str] = ("spatial_key",), how: str = "inner") -> DataFrame:
    """Layer × layer equi-join on spatial (+temporal) key — plain Spark
    hash/sort-merge join (RasterFrameLayerMethods.scala:138-191)."""
    return left.join(right, list(on), how)

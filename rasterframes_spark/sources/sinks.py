"""Sinks: write_geotiff (merged single file), tiles sink (one file per row
+ catalog.csv), GeoJSON reader, slippy-map export (SURVEY.md §2.1).
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from rasterframes_spark.tile import CellType, Tile
from rasterframes_spark.sources import geotiff as GT
from rasterframes_spark.sources.png import encode_png

__all__ = ["write_geotiff", "write_jp2", "write_tiles", "read_geojson",
           "write_geojson", "write_slippy"]


def _mosaic_rows(rows, tile_col, extent_col, crs_col,
                 raster_dimensions):
    """Driver-side mosaic of collected tile rows into one canvas.
    Returns (array, (xmin, ymin, xmax, ymax), crs, cell_type)."""
    crs = rows[0][crs_col]
    xmin = min(r[extent_col]["xmin"] for r in rows)
    ymin = min(r[extent_col]["ymin"] for r in rows)
    xmax = max(r[extent_col]["xmax"] for r in rows)
    ymax = max(r[extent_col]["ymax"] for r in rows)

    t0 = rows[0][tile_col]
    pw = (rows[0][extent_col]["xmax"] - rows[0][extent_col]["xmin"]) / t0["cols"]
    ph = (rows[0][extent_col]["ymax"] - rows[0][extent_col]["ymin"]) / t0["rows"]
    if raster_dimensions:
        W, H = raster_dimensions
        pw = (xmax - xmin) / W
        ph = (ymax - ymin) / H
    else:
        W = round((xmax - xmin) / pw)
        H = round((ymax - ymin) / ph)

    ct = CellType.parse(t0["cell_type"])
    nodata = ct.nodata if ct.has_nodata else 0
    fill = nodata if not (isinstance(nodata, float) and math.isnan(nodata)) else np.nan
    canvas = np.full((H, W), fill, dtype=ct.dtype if not ct.is_float else "float64")
    for r in rows:
        t = Tile.from_parts(r[tile_col]["cell_type"], r[tile_col]["cols"],
                            r[tile_col]["rows"], bytes(r[tile_col]["cells"]))
        e = r[extent_col]
        c0 = round((e["xmin"] - xmin) / pw)
        r0 = round((ymax - e["ymax"]) / ph)
        sub = t.masked()
        h, w = sub.shape
        r1, c1 = min(r0 + h, H), min(c0 + w, W)
        region = np.asarray(sub.filled(fill))[: r1 - r0, : c1 - c0]
        canvas[r0:r1, c0:c1] = region
    return canvas.astype(ct.dtype), (xmin, ymin, xmax, ymax), crs, ct


def write_geotiff(df: DataFrame, path: str, tile_col: str = "tile",
                  extent_col: str = "extent", crs_col: str = "crs",
                  raster_dimensions: tuple | None = None) -> None:
    """Merge all tiles into ONE GeoTIFF on the driver — the reference is
    explicit that this is "not big data friendly" (GeoTiffDataSource.scala:
    61-102): it is a visualization/export sink. Tiles are mosaicked into
    their common grid; same-CRS required (reproject upstream with
    raster_join / st_reproject)."""
    rows = df.select(tile_col, extent_col, crs_col).collect()
    if not rows:
        raise ValueError("empty DataFrame")
    arr, extent, crs, ct = _mosaic_rows(rows, tile_col, extent_col, crs_col,
                                        raster_dimensions)
    data = GT.write_geotiff(arr, extent, crs=crs,
                            nodata=None if not ct.has_nodata else
                            (float(ct.nodata) if not (isinstance(ct.nodata, float)
                                                      and math.isnan(ct.nodata)) else None))
    with open(path, "wb") as f:
        f.write(data)


def write_jp2(df: DataFrame, path: str, tile_col: str = "tile",
              extent_col: str = "extent", crs_col: str = "crs",
              raster_dimensions: tuple | None = None,
              tile_size: tuple | None = (1024, 1024), levels: int = 5,
              prog: str = "RPCL", precinct: int | None = 6,
              lossy: bool = False, frac_bits: int = 6) -> None:
    """Merge all tiles into ONE lossless JPEG2000 (.jp2) on the driver —
    the same visualization/export contract as write_geotiff, emitted by
    the native codec (sources/jp2.py) with GMLJP2 georeferencing, so the
    file reads back through read_raster with CRS and extent intact.
    Defaults mirror the Sentinel-2 shape (RPCL, 64x64 precincts).
    Integer cell types only (JPEG2000 reversible = exact integers).

    ``tile_col`` may be a list/tuple of tile columns — each becomes one
    component of a multi-component file (3 columns => true-color .jp2
    with the reversible color transform, the Sentinel-2 TCI shape; reads
    back via ``read_raster(band_indexes=(0, 1, 2))``)."""
    from rasterframes_spark.sources import jp2 as J2

    tile_cols = (list(tile_col) if isinstance(tile_col, (list, tuple))
                 else [tile_col])
    rows = df.select(*tile_cols, extent_col, crs_col).collect()
    if not rows:
        raise ValueError("empty DataFrame")
    planes = []
    ct = extent = crs = None
    for tc in tile_cols:
        arr, extent, crs, ct_c = _mosaic_rows(rows, tc, extent_col,
                                              crs_col, raster_dimensions)
        if ct is None:
            ct = ct_c
        elif ct_c.dtype != ct.dtype:
            raise ValueError(
                f"write_jp2: component cell types differ "
                f"({ct.name} vs {ct_c.name}) — convert upstream")
        planes.append(arr)
    if ct.is_float:
        raise ValueError(
            "write_jp2: float cell types are not representable losslessly "
            "in reversible JPEG2000 — convert with rf_convert_cell_type "
            "or use write_geotiff")
    # ``lossy=True`` switches to the irreversible 9/7 path (ICT for 3
    # components); ``frac_bits`` sets the deadzone quantizer precision —
    # at the default 6 fractional bits reconstruction is < 0.5 LSB for
    # 8/12-bit data (integer-exact), lower values trade bits for error
    img = planes[0] if len(planes) == 1 else np.stack(planes, axis=-1)
    h, w = planes[0].shape
    ts = None
    if tile_size is not None:
        ts = (min(tile_size[0], h), min(tile_size[1], w))
    # depth/signedness from the CELL TYPE, not the data's current max:
    # a uint16 frame whose values happen to fit 8 bits must still read
    # back as uint16 (stable schema across otherwise-identical runs)
    signed = ct.dtype.kind == "i"
    depth = ct.dtype.itemsize * 8
    code = J2.encode_jp2(img, tile_size=ts, levels=levels,
                         depth=depth, signed=signed,
                         precinct=precinct, prog=prog,
                         lossy=lossy, frac_bits=frac_bits)
    with open(path, "wb") as f:
        f.write(J2.wrap_jp2(code, w, h, depth, signed=signed,
                            crs=crs, extent=extent, nodata=ct.nodata,
                            ncomp=len(planes)))


def write_tiles(df: DataFrame, directory: str, tile_col: str = "tile",
                extent_col: str = "extent", crs_col: str = "crs",
                fmt: str = "tiff") -> str:
    """Write each tile row as its own GeoTIFF/PNG + a catalog.csv readable
    back via read_raster (TilesDataSource.scala:47-230). Executor-parallel
    foreachPartition writes; only the catalog lines shuffle to the driver."""
    os.makedirs(directory, exist_ok=True)

    def write_part(idx, rows):
        lines = []
        for j, r in enumerate(rows):
            t = r[tile_col]
            if t is None or t["cells"] is None:
                continue
            tile = Tile.from_parts(t["cell_type"], t["cols"], t["rows"], bytes(t["cells"]))
            e = r[extent_col]
            name = f"tile-{idx}-{j}.{ 'tiff' if fmt == 'tiff' else 'png'}"
            p = os.path.join(directory, name)
            if fmt == "tiff":
                nd = tile.cell_type.nodata
                if isinstance(nd, float) and math.isnan(nd):
                    nd = None
                data = GT.write_geotiff(tile.to_numpy(),
                                        (e["xmin"], e["ymin"], e["xmax"], e["ymax"]),
                                        crs=r[crs_col], nodata=nd)
            else:
                a = tile.masked().astype("float64")
                lo, hi = float(a.min()), float(a.max())
                span = (hi - lo) or 1.0
                data = encode_png(np.clip(((a - lo) / span * 255).filled(0), 0, 255).astype("uint8"))
            with open(p, "wb") as f:
                f.write(data)
            lines.append((name, e["xmin"], e["ymin"], e["xmax"], e["ymax"], r[crs_col]))
        return lines

    catalog = (
        df.select(tile_col, extent_col, crs_col).rdd
        .mapPartitionsWithIndex(lambda i, it: write_part(i, it))
        .collect()
    )
    cat_path = os.path.join(directory, "catalog.csv")
    with open(cat_path, "w") as f:
        f.write("path,xmin,ymin,xmax,ymax,crs\n")
        for name, a, b, c, d, crs in catalog:
            f.write(f"{os.path.join(directory, name)},{a},{b},{c},{d},{crs}\n")
    return cat_path


def read_geojson(spark: SparkSession, path: str, crs: str = "EPSG:4326") -> DataFrame:
    """GeoJSON FeatureCollection -> DataFrame(geometry WKB, properties...)
    (GeoJsonDataSource.scala:42-131). Property schema inference rides on
    spark.read.json, as the reference's does."""
    from rasterframes_spark.geom import core as G

    raw = spark.read.option("multiLine", "true").json(path)
    feats = raw.select(F.explode("features").alias("f")).select(
        F.to_json("f.geometry").alias("__geojson"), F.col("f.properties.*")
    )

    from rasterframes_spark.functions._kernel import lazy_pandas_udf

    @lazy_pandas_udf("binary")
    def geom_udf(s: pd.Series) -> pd.Series:
        out = []
        for txt in s.values:
            if txt is None:
                out.append(None)
                continue
            # one malformed feature costs ONE null-geometry row, never
            # the task (r13 fuzz: bad geometry dicts used to escape as
            # KeyError/TypeError and kill the executor batch)
            try:
                gj = json.loads(txt)
                out.append(G.wkb_dumps(_geojson_to_geom(gj)))
            except (ValueError, NotImplementedError):
                out.append(None)
        return pd.Series(out, dtype=object)

    return feats.select(geom_udf("__geojson").alias("geometry"),
                        F.lit(crs).alias("crs"), "*").drop("__geojson")


def _norm_coords(c):
    """spark.read.json unifies mixed-nesting coordinate arrays by
    stringifying elements — parse any string back to its nested list."""
    if isinstance(c, str):
        return json.loads(c)
    if isinstance(c, (list, tuple)):
        return [_norm_coords(e) for e in c]
    return c


def _geojson_to_geom(gj: dict, _depth: int = 0):
    """Geometry dict -> internal geometry tuple.  Malformed input is a
    contract ValueError (r13 fuzz: mutated-but-still-JSON geometries
    leaked KeyError/TypeError/IndexError out of read_geojson's pandas
    UDF — a bad feature in a real crawl must cost one row, not the
    task); nesting bounded so a self-referential collection can't
    recurse the worker to death."""
    if _depth > 8:
        raise ValueError("geojson: geometry nesting too deep")
    if not isinstance(gj, dict) or "type" not in gj:
        raise ValueError("geojson: geometry object missing 'type'")
    t = gj["type"]
    try:
        c = _norm_coords(gj.get("coordinates"))
        if t == "Point":
            return ("Point", (float(c[0]), float(c[1])))
        if t == "LineString":
            return ("LineString", [(float(x), float(y)) for x, y, *_ in c])
        if t == "Polygon":
            return ("Polygon", [[(float(x), float(y)) for x, y, *_ in ring]
                                for ring in c])
        if t == "MultiPoint":
            return ("MultiPoint", [(float(x), float(y)) for x, y, *_ in c])
        if t == "MultiLineString":
            return ("MultiLineString",
                    [[(float(x), float(y)) for x, y, *_ in l] for l in c])
        if t == "MultiPolygon":
            return ("MultiPolygon",
                    [[[(float(x), float(y)) for x, y, *_ in ring]
                      for ring in poly] for poly in c])
        if t == "GeometryCollection":
            return ("GeometryCollection",
                    [_geojson_to_geom(g, _depth + 1)
                     for g in gj["geometries"]])
    except ValueError:
        raise
    except Exception as e:   # KeyError/TypeError/IndexError from bad shape
        raise ValueError(f"geojson: malformed {t} geometry: "
                         f"{type(e).__name__}") from e
    raise ValueError(f"geojson: unknown geometry type {t!r}")


def write_slippy(df: DataFrame, directory: str, zoom: int = 4,
                 tile_col: str = "tile", extent_col: str = "extent",
                 crs_col: str = "crs") -> None:
    """z/x/y PNG pyramid export (DataFrameSlippyExport.scala:33-170),
    single level, EPSG:4326 inputs gridded onto WebMercator tiles via
    the raster-join merge kernel (nearest)."""
    from rasterframes_spark.functions.proj_raster import extent_bounds, paint
    from rasterframes_spark.geom import proj as P

    rows = df.select(tile_col, extent_col, crs_col).collect()
    n = 2 ** zoom
    world = 2 * math.pi * 6378137.0 / 2
    step = 2 * world / n

    # decode once; global lo/hi so every slippy tile shares one gray ramp
    srcs = []
    lo, hi = math.inf, -math.inf
    for r in rows:
        t = Tile.from_parts(r[tile_col]["cell_type"], r[tile_col]["cols"],
                            r[tile_col]["rows"], bytes(r[tile_col]["cells"]))
        a = t.masked()
        if a.count():
            lo = min(lo, float(a.min()))
            hi = max(hi, float(a.max()))
        srcs.append((t, extent_bounds(r[extent_col]), r[crs_col]))
    span = ((hi - lo) or 1.0) if hi >= lo else 1.0

    # per-slippy-tile canvases: each z/x/y tile samples the SOURCE at ITS
    # OWN 256x256 pixel centers (not the whole source image squeezed into
    # every covered tile), and overlapping source rows MERGE
    # first-non-NoData instead of overwriting
    canvases = {}
    for t, bounds, crs in srcs:
        merc = P.transform_extent(bounds, crs, "EPSG:3857")
        x0 = max(0, int((merc[0] + world) / (2 * world) * n))
        x1 = min(n - 1, int((merc[2] + world) / (2 * world) * n))
        y0 = max(0, int((world - merc[3]) / (2 * world) * n))
        y1 = min(n - 1, int((world - merc[1]) / (2 * world) * n))
        for zx in range(x0, x1 + 1):
            for zy in range(y0, y1 + 1):
                txmin = -world + zx * step
                tymax = world - zy * step
                canvas, cmask = canvases.get((zx, zy)) or (
                    np.zeros((256, 256)), np.ones((256, 256), dtype=bool))
                if paint(canvas, cmask, (txmin, tymax - step, txmin + step, tymax),
                         "EPSG:3857", t, bounds, crs):
                    canvases[(zx, zy)] = (canvas, cmask)

    for (zx, zy), (canvas, cmask) in canvases.items():
        d = os.path.join(directory, str(zoom), str(zx))
        os.makedirs(d, exist_ok=True)
        gray = np.clip((canvas - lo) / span * 255, 0, 255).astype("uint8")
        gray[cmask] = 0
        with open(os.path.join(d, f"{zy}.png"), "wb") as f:
            f.write(encode_png(gray))


def write_slippy_pyramid(df: DataFrame, directory: str, max_zoom: int,
                         min_zoom: int = 0, tile_col: str = "tile",
                         key_col: str = "spatial_key",
                         extent_col: str = "extent",
                         crs_col: str = "crs") -> None:
    """Multi-zoom z/x/y PNG export: the input layer renders at ``max_zoom``
    and each ``pyramid_up`` level renders one zoom coarser, down to
    ``min_zoom`` (DataFrameSlippyExport renders a single level; this is
    the full pyramid a tile server wants). Requires a keyed layer
    (spatial_key) so parent tiles aggregate correctly."""
    from rasterframes_spark.operators.pyramid import pyramid_up

    cur = df
    zoom = max_zoom
    while True:
        write_slippy(cur, directory, zoom=zoom, tile_col=tile_col,
                     extent_col=extent_col, crs_col=crs_col)
        if zoom <= min_zoom:
            break
        crs_val = cur.select(crs_col).first()[0]
        cur = pyramid_up(cur, tile_col=tile_col, key_col=key_col,
                         extent_col=extent_col).withColumn("crs", F.lit(crs_val))
        tile_col, key_col, extent_col, crs_col = (
            "tile", "spatial_key", "extent", "crs")
        zoom -= 1


def write_geojson(df: DataFrame, path: str, geom_col: str = "geometry",
                  mode: str = "overwrite") -> None:
    """Write features as newline-delimited GeoJSON (one Feature per line
    — the GeoJSONL/ndjson convention big pipelines use because it stays
    splittable and appendable; a FeatureCollection wrapper is a driver
    bottleneck by construction). Every non-geometry column lands in
    ``properties``. Distributed text write; read back with read_geojson
    after a trivial wrap, or any ndjson-aware tool directly."""
    from rasterframes_spark.geom.functions import st_as_geojson

    props = [c for c in df.columns if c != geom_col]
    # build each line with string concat so the geometry JSON embeds raw
    prop_json = F.to_json(F.struct(*[F.col(c) for c in props])) if props \
        else F.lit("{}")
    # null geometry is a LEGAL GeoJSON Feature ({"geometry": null}) —
    # coalesce to the literal so F.concat's null propagation does not
    # silently emit a blank line and drop the feature's properties
    line = F.concat(
        F.lit('{"type": "Feature", "geometry": '),
        F.coalesce(st_as_geojson(geom_col), F.lit("null")),
        F.lit(', "properties": '), prop_json, F.lit("}"))
    df.select(line.alias("value")).write.mode(mode).text(path)

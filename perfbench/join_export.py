"""join_export part of the join_export_dedup workload: raster join ->
GeoTIFF export, and a point-in-zone join.

Set-up builds two in-memory rasters with ``raster_from_array`` and
``localCheckpoint``: the left one in UTM 17N (EPSG:32617), the right one
in EPSG:4326 over (and beyond) the same area, plus seeded points and a
square zone grid.  Its queries, one at a time:

1. ``raster_join(left, right)`` with default arguments (reproject +
   nearest-neighbour merge), then ``write_tiles`` of the merged tiles
   (GeoTIFF encode + file writes);
2. ``st_join`` of the points to the zone grid.

Operator caches are released after each query.  The written GeoTIFFs
must read back equal to a numpy nearest-neighbour resample of the right
raster onto the left grid (which also pins the merged tiles, since the
files are written from them), and the join's match count must equal the
point-in-square count.
"""

from __future__ import annotations

import csv
import os
import shutil

import numpy as np

CHUNK = 256
LEFT_CRS, RIGHT_CRS = "EPSG:32617", "EPSG:4326"
LX0, LY0, LPIX = 500000.0, 3870000.0, 30.0

SIZES = {
    # left tiles across x down, points, zone grid side (zones per side)
    "full": dict(tiles=(3, 2), points=20000, grid=16),
    "smoke": dict(tiles=(1, 1), points=1000, grid=4),
}


class Workload:
    latency_kinds = ("raster_join_export", "st_join")
    input_kinds = ("raster_join_export",)

    def __init__(self, spark, rng: np.random.Generator, size: str, work: str):
        import rasterframes_spark as rf
        from rasterframes_spark.geom.proj import transform_extent
        from rasterframes_spark.sources.raster_reader import raster_from_array

        self.spark, self.work = spark, work
        p = SIZES[size]
        tx, ty = p["tiles"]
        lw, lh = tx * CHUNK, ty * CHUNK
        self.left_arr = rng.integers(1, 65535, (lh, lw), dtype=np.uint16)
        self.left_ext = (LX0, LY0, LX0 + lw * LPIX, LY0 + lh * LPIX)
        # right: 4326 raster over the left footprint plus a margin, sized in
        # whole chunks so every right tile is CHUNK x CHUNK
        x0, y0, x1, y1 = transform_extent(self.left_ext, LEFT_CRS, RIGHT_CRS)
        rpix = 0.0003
        rw = -(-int((x1 - x0) / rpix + 8) // CHUNK) * CHUNK
        rh = -(-int((y1 - y0) / rpix + 8) // CHUNK) * CHUNK
        cx, cy = (x0 + x1) / 2, (y0 + y1) / 2
        self.right_ext = (cx - rw * rpix / 2, cy - rh * rpix / 2,
                          cx + rw * rpix / 2, cy + rh * rpix / 2)
        self.right_arr = rng.integers(1, 65535, (rh, rw), dtype=np.uint16)
        self.left = raster_from_array(spark, self.left_arr, self.left_ext,
                                      crs=LEFT_CRS).localCheckpoint()
        self.right = raster_from_array(spark, self.right_arr, self.right_ext,
                                       crs=RIGHT_CRS).localCheckpoint()

        # points over a square grid of zones; some fall outside the grid
        g, cell = p["grid"], 10.0
        self.span = g * cell
        pts = rng.uniform(-0.1 * self.span, 1.1 * self.span, (p["points"], 2))
        self.points_xy = pts
        from pyspark.sql import functions as F

        self.points = (spark.createDataFrame(pts.tolist(), "x double, y double")
                       .select(rf.st_point("x", "y").alias("geometry"))
                       .localCheckpoint())
        zid = F.col("id")
        col_ = (zid % g).cast("double") * cell
        row_ = F.floor(zid / g).cast("double") * cell
        self.zones = (spark.range(g * g).select(
            zid.alias("zone_id"),
            rf.st_make_bbox(col_, row_, col_ + cell, row_ + cell).alias("geometry"))
            .localCheckpoint())
        self.grid_cell = cell
        mpix = (self.left_arr.size + self.right_arr.size) / 1e6
        self.input_mb = mpix * 2                                   # uint16
        self.rates = {"mpix_per_s": (mpix, self.input_kinds)}
        self.passes = 0

    # -- references ---------------------------------------------------------
    def build_reference(self) -> None:
        """Nearest-neighbour resample of the right raster at each left
        tile's pixel centres, per left tile, keyed by the tile extent."""
        from rasterframes_spark.geom.proj import transform_points

        lh, lw = self.left_arr.shape
        lx0, ly0, lx1, ly1 = self.left_ext
        lpw, lph = (lx1 - lx0) / lw, (ly1 - ly0) / lh
        rh, rw = self.right_arr.shape
        rx0, ry0, rx1, ry1 = self.right_ext
        rpw, rph = (rx1 - rx0) / rw, (ry1 - ry0) / rh
        self.ref = {}
        for r0 in range(0, lh, CHUNK):
            for c0 in range(0, lw, CHUNK):
                # same extent arithmetic as raster_from_array
                e = (lx0 + c0 * lpw, ly1 - min(r0 + CHUNK, lh) * lph,
                     lx0 + min(c0 + CHUNK, lw) * lpw, ly1 - r0 * lph)
                cols, rows = min(CHUNK, lw - c0), min(CHUNK, lh - r0)
                pw, ph = (e[2] - e[0]) / cols, (e[3] - e[1]) / rows
                gx, gy = np.meshgrid(e[0] + (np.arange(cols) + 0.5) * pw,
                                     e[3] - (np.arange(rows) + 0.5) * ph)
                tx, ty = transform_points(gx.ravel(), gy.ravel(), LEFT_CRS, RIGHT_CRS)
                # locate the right tile, then index inside it with the
                # tile's own extent, as the merge kernel does
                tc = np.floor((tx - rx0) / rpw).astype("int64") // CHUNK
                tr = np.floor((ry1 - ty) / rph).astype("int64") // CHUNK
                txmin = rx0 + tc * CHUNK * rpw
                tymax = ry1 - tr * CHUNK * rph
                tpw = (rx0 + (tc + 1) * CHUNK * rpw - txmin) / CHUNK
                tph = (tymax - (ry1 - (tr + 1) * CHUNK * rph)) / CHUNK
                ci = np.floor((tx - txmin) / tpw).astype("int64")
                ri = np.floor((tymax - ty) / tph).astype("int64")
                gc = np.clip(tc * CHUNK + ci, 0, rw - 1)
                gr = np.clip(tr * CHUNK + ri, 0, rh - 1)
                self.ref[self._key(e)] = self.right_arr[gr, gc].reshape(rows, cols)
        x, y = self.points_xy[:, 0], self.points_xy[:, 1]
        self.ref_matches = int(((x > 0) & (x < self.span) & (y > 0) & (y < self.span)).sum())

    @staticmethod
    def _key(e) -> tuple:
        return tuple(round(float(v), 6) for v in e)

    # -- queries ------------------------------------------------------------
    def raster_join_export(self, tracer):
        from rasterframes_spark import raster_join, release_cache
        from rasterframes_spark.sources.sinks import write_tiles

        out_dir = os.path.join(self.work, f"export{self.passes}")
        self.passes += 1
        with tracer.span("operators.raster_join") as sp:
            rj = raster_join(self.left, self.right)
            sp.built()
            merged = sp.materialize(rj)
        try:
            with tracer.span("sources.write") as sp:
                cat = write_tiles(merged, out_dir, tile_col="tile_right")
                sp.built()
                sp.add("bytes_written", sum(
                    e.stat().st_size for e in os.scandir(out_dir)))
        finally:
            release_cache(rj)

        def check():
            from rasterframes_spark.sources.geotiff import read_full

            try:
                with open(cat) as f:
                    rows = list(csv.DictReader(f))
                if len(rows) != len(self.ref):
                    return False
                for r in rows:
                    want = self.ref.get(self._key(
                        (r["xmin"], r["ymin"], r["xmax"], r["ymax"])))
                    with open(r["path"], "rb") as f:
                        got, _ = read_full(f.read())
                    if want is None or not np.array_equal(got, want):
                        return False
                return True
            finally:
                shutil.rmtree(out_dir, ignore_errors=True)
        return check

    def point_join(self, tracer):
        from rasterframes_spark import release_cache
        from rasterframes_spark.operators import st_join

        with tracer.span("operators.vector_join") as sp:
            j = st_join(self.points, self.zones, grid_size=self.grid_cell)
            q = j.groupBy().count()
            sp.built()
            rows = sp.collect(q)
        release_cache(j)
        return lambda: rows[0][0] == self.ref_matches

    def plan(self) -> list:
        return [("raster_join_export", self.raster_join_export),
                ("st_join", self.point_join)]

    def microbench(self) -> dict:
        """In-process GeoTIFF and tile-struct encode rates over left tiles."""
        from harness import rate, tile_codec_rates
        from rasterframes_spark.sources.geotiff import write_geotiff
        from rasterframes_spark.tile import Tile

        wins = [self.left_arr[r:r + CHUNK, c:c + CHUNK]
                for r in range(0, self.left_arr.shape[0], CHUNK)
                for c in range(0, self.left_arr.shape[1], CHUNK)][:8]
        mb = sum(w.nbytes for w in wins) / 1e6

        def encode():
            for w in wins:
                write_geotiff(w, self.left_ext, crs=LEFT_CRS, nodata=0)
        out = {"sources.write.encode_mb_per_s": rate(encode, mb)}
        out.update(tile_codec_rates([Tile(w, "uint16") for w in wins]))
        return out

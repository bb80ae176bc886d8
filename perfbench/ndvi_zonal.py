"""ndvi_zonal: catalog read -> map algebra -> zonal statistics.

Set-up writes seeded two-band (red, nir) uint16 DEFLATE GeoTIFF scenes,
one file per band, side by side in UTM 17N with 10 m pixels.  One pass
runs three kinds of query, one at a time:

1. batch: ``read_raster(catalog_cols=[red, nir])`` -> ``realize_tiles`` ->
   ``rf_normalized_difference`` -> per-scene ``rf_agg_stats``;
2. zonal: ``zonal_stats`` of pixel-aligned field rectangles over that NDVI;
3. AOI: small ``read_raster(query_extent=...)`` queries touching 1-4
   chunks each, with the same NDVI stats.

Every result is checked against numpy over the generated arrays.
"""

from __future__ import annotations

import os

import numpy as np

X0, Y0, PIX = 500000.0, 4000000.0, 10.0
CHUNK = 256
CRS = "EPSG:32617"

SIZES = {
    # scenes, scene side in pixels, field rectangles, AOI queries per pass
    "full": dict(scenes=3, side=512, fields=8, aoi=2),
    "smoke": dict(scenes=2, side=256, fields=3, aoi=1),
}


def _close(a: float, b: float, rel: float = 1e-9) -> bool:
    return abs(a - b) <= rel * max(abs(a), abs(b), 1e-300)


class Workload:
    name = "ndvi_zonal"
    latency_kinds = ("zonal", "aoi")     # the interactive queries
    input_kinds = ("batch",)             # throughput is the batch query's

    def __init__(self, spark, rng: np.random.Generator, size: str, work: str):
        from pyspark.sql import functions as F

        import rasterframes_spark as rf
        from rasterframes_spark.sources.geotiff import write_geotiff

        self.spark, self.rng = spark, rng
        p = SIZES[size]
        self.side, self.n_aoi = p["side"], p["aoi"]
        n, side = p["scenes"], p["side"]
        d = os.path.join(work, "scenes")
        os.makedirs(d, exist_ok=True)
        self.red, self.nir, rows = [], [], []
        for s in range(n):
            red = rng.integers(1, 10000, (side, side), dtype=np.uint16)
            nir = rng.integers(1, 10000, (side, side), dtype=np.uint16)
            ext = self.scene_extent(s)
            paths = []
            for band, arr in (("red", red), ("nir", nir)):
                path = os.path.join(d, f"scene{s}_{band}.tif")
                with open(path, "wb") as f:
                    f.write(write_geotiff(arr, ext, crs=CRS))
                paths.append(path)
            self.red.append(red)
            self.nir.append(nir)
            rows.append((s, paths[0], paths[1], *ext))
        self.catalog = spark.createDataFrame(
            rows, "scene int, red string, nir string, "
                  "xmin double, ymin double, xmax double, ymax double")

        # pixel-aligned field rectangles, each inside one scene
        self.fields = []
        for z in range(p["fields"]):
            s = int(rng.integers(n))
            w, h = (int(v) for v in rng.integers(16, side // 3, 2))
            c0, r0 = int(rng.integers(0, side - w)), int(rng.integers(0, side - h))
            self.fields.append((z, s, c0, r0, w, h))
        wkt = []
        for z, s, c0, r0, w, h in self.fields:
            x0 = X0 + s * side * PIX + c0 * PIX
            y1 = Y0 + side * PIX - r0 * PIX
            x1, y0 = x0 + w * PIX, y1 - h * PIX
            wkt.append((z, f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, "
                           f"{x0} {y1}, {x0} {y0}))"))
        self.zones = (spark.createDataFrame(wkt, "zone_id int, wkt string")
                      .select("zone_id", rf.st_geom_from_wkt(F.col("wkt")).alias("geom"))
                      .localCheckpoint())
        self.input_mb = n * side * side * 2 * 2 / 1e6   # red + nir, uint16
        # band pixels per second of the batch query (detail line)
        self.rates = {"mpix_per_s": (self.input_mb / 2, self.input_kinds)}

    def scene_extent(self, s: int) -> tuple:
        w = self.side * PIX
        return (X0 + s * w, Y0, X0 + (s + 1) * w, Y0 + w)

    # -- references ---------------------------------------------------------
    def build_reference(self) -> None:
        self.ndvi = []
        for red, nir in zip(self.red, self.nir):
            r, n = red.astype("float64"), nir.astype("float64")
            self.ndvi.append((n - r) / (n + r))
        self.ref_batch = {s: (a.size, float(a.mean())) for s, a in enumerate(self.ndvi)}
        self.ref_zones = {}
        for z, s, c0, r0, w, h in self.fields:
            win = self.ndvi[s][r0:r0 + h, c0:c0 + w]
            self.ref_zones[z] = (win.size, float(win.mean()))

    # -- queries ------------------------------------------------------------
    def _tiles(self, tracer, query_extent=None):
        from rasterframes_spark.sources.raster_reader import read_raster, realize_tiles

        with tracer.span("sources.read") as sp:
            df = read_raster(self.spark, self.catalog, catalog_cols=["red", "nir"],
                             tile_dimensions=(CHUNK, CHUNK), query_extent=query_extent)
            df = df.select("scene", "extent", realize_tiles("red").alias("red"),
                           realize_tiles("nir").alias("nir"))
            sp.built()
            return sp.materialize(df)

    def _ndvi(self):
        import rasterframes_spark as rf

        return rf.rf_normalized_difference("nir", "red")

    def batch(self, tracer):
        import rasterframes_spark as rf

        tiles = self._tiles(tracer)
        with tracer.span("functions") as sp:
            q = tiles.groupBy("scene").agg(rf.rf_agg_stats(self._ndvi()).alias("s"))
            sp.built()
            rows = sp.collect(q)

        def check():
            got = {r["scene"]: (r["s"]["data_cells"], r["s"]["mean"]) for r in rows}
            return len(got) == len(self.ref_batch) and all(
                got.get(s, (None,))[0] == n and _close(got[s][1], m)
                for s, (n, m) in self.ref_batch.items())
        return check

    def zonal(self, tracer):
        from rasterframes_spark.operators import zonal_stats

        tiles = self._tiles(tracer)
        with tracer.span("functions") as sp:
            ndvi = tiles.select("extent", self._ndvi().alias("tile"))
            sp.built()
            ndvi = sp.materialize(ndvi)
        with tracer.span("operators.zonal") as sp:
            q = zonal_stats(ndvi, self.zones)
            sp.built()
            rows = sp.collect(q)

        def check():
            got = {r["zone_id"]: (r["data_cells"], r["mean"]) for r in rows}
            return len(got) == len(self.ref_zones) and all(
                got.get(z, (None,))[0] == n and _close(got[z][1], m)
                for z, (n, m) in self.ref_zones.items())
        return check

    def aoi(self, tracer):
        import rasterframes_spark as rf

        side = self.side
        s = int(self.rng.integers(len(self.ndvi)))
        w, h = (int(v) for v in self.rng.integers(24, CHUNK, 2))
        c0, r0 = int(self.rng.integers(0, side - w)), int(self.rng.integers(0, side - h))
        # off-pixel-edge bounds: no chunk edge coincides with the AOI edge
        sx0 = X0 + s * side * PIX
        qx0, qx1 = sx0 + (c0 + 0.37) * PIX, sx0 + (c0 + w - 0.37) * PIX
        qy1 = Y0 + side * PIX - (r0 + 0.37) * PIX
        qy0 = Y0 + side * PIX - (r0 + h - 0.37) * PIX
        tiles = self._tiles(tracer, query_extent=(qx0, qy0, qx1, qy1))
        with tracer.span("functions") as sp:
            q = tiles.agg(rf.rf_agg_stats(self._ndvi()).alias("s"))
            sp.built()
            rows = sp.collect(q)

        def check():
            a = self.ndvi[s]
            cs = range(c0 // CHUNK * CHUNK, c0 + w, CHUNK)
            rs = range(r0 // CHUNK * CHUNK, r0 + h, CHUNK)
            win = [a[r:r + CHUNK, c:c + CHUNK] for r in rs for c in cs]
            n = sum(x.size for x in win)
            m = sum(float(x.sum()) for x in win) / n
            st = rows[0]["s"]
            return st["data_cells"] == n and _close(st["mean"], m)
        return check

    def plan(self) -> list:
        return [("batch", self.batch), ("zonal", self.zonal)] + \
            [("aoi", self.aoi)] * self.n_aoi

    def microbench(self) -> dict:
        """In-process decode rates over this workload's own chunks."""
        from harness import rate, tile_codec_rates
        from rasterframes_spark.sources.geotiff import read_info, read_window
        from rasterframes_spark.tile import Tile

        with open(self.catalog.first()["red"], "rb") as f:
            data = f.read()
        info = read_info(data)
        wins = [(c, r) for r in range(0, self.side, CHUNK)
                for c in range(0, self.side, CHUNK)][:16]

        def decode():
            for c, r in wins:
                read_window(data, info, c, r, CHUNK, CHUNK)
        out = {"sources.read.decode_mpix_per_s":
               rate(decode, len(wins) * CHUNK * CHUNK / 1e6)}
        tiles = [Tile(self.red[0][r:r + CHUNK, c:c + CHUNK], "uint16raw")
                 for c, r in wins]
        out.update(tile_codec_rates(tiles))
        return out

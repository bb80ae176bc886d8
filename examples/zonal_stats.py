"""Zonal statistics — the reference's zonal-algebra docs workflow
(python/docs/zonal-algebra.pymd analog): vector zones x raster tiles,
aggregate the cells whose centres fall in each zone, per zone.

Run: python examples/zonal_stats.py
"""

import os
import sys

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))


def main(spark=None):
    import rasterframes_spark as rf
    from rasterframes_spark import sources as S
    from pyspark.sql import functions as F

    own = spark is None
    if own:
        from rasterframes_spark import create_rf_spark_session
        spark = create_rf_spark_session(master="local[4]", app_name="zonal-example")

    rng = np.random.default_rng(9)
    raster = S.raster_from_array(
        spark, (rng.random((128, 128)) * 100).astype("float64"),
        (0.0, 0.0, 32.0, 32.0), tile_dimensions=(64, 64))

    zones = spark.createDataFrame([
        {"zone_id": 1, "wkt": "POLYGON ((2 2, 14 2, 14 14, 2 14, 2 2))"},
        {"zone_id": 2, "wkt": "POLYGON ((18 18, 30 18, 30 30, 18 30, 18 18))"},
    ]).select("zone_id", rf.st_geom_from_wkt("wkt").alias("geom"))

    # zone x tile: keep intersecting pairs (broadcast the small vector side,
    # as the reference's docs do with .hint('broadcast'))
    pairs = raster.crossJoin(F.broadcast(zones)).where(
        rf.st_intersects(rf.st_geometry("extent"), F.col("geom")))

    # burn the zone onto each tile's grid, mask the data tile by it
    dims = 64
    burned = pairs.select(
        "zone_id", "tile",
        rf.rf_rasterize("geom", F.col("extent"), 1, dims, dims).alias("zone_tile"),
    )
    masked = burned.select(
        "zone_id", rf.rf_mask("tile", "zone_tile").alias("zt"))
    out = masked.groupBy("zone_id").agg(
        rf.rf_agg_mean("zt").alias("mean"),
        rf.rf_agg_data_cells("zt").alias("cells"),
    ).orderBy("zone_id")
    rows = out.collect()
    for r in rows:
        print(f"zone {r['zone_id']}: mean={r['mean']:.3f} over {r['cells']} cells")
    if own:
        spark.stop()
    return rows


if __name__ == "__main__":
    main()

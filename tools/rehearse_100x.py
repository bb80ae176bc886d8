"""One-off 100x scale spot-rehearsals (r13).

The bench's sf1 block measures every heavy operator at 10x the sf0.1
headline cells; this tool asks the 100 TB question one decade harder:
the SAME operator shapes at 100x, with the same forensics (shuffle
bytes, task counts, max/median task skew, spill, steal) and a
CONTEMPORANEOUS sf0.1-shape control timed immediately before each leg
so the x100 ratio is steal-invariant (the bench's paired-denominator pattern).

Fixtures follow the sf1 rehearsal's honesty rules: the 100x corpus is
100 salted replicas whose texts are pairwise distinct ACROSS replicas
(two composed alphabet rotations — a single 10-rotation salt would
collide replicas r and r+10 and fabricate dup families of 10) while
each replica keeps the sf0.1 duplicate structure intact; tiles are
generated DISTRIBUTED (mapInPandas), never collected through the
driver.

Not a bench leg (minutes per run); results are recorded in PLANS.md.

Usage: python tools/rehearse_100x.py [leg ...]
Legs: minhash, st_join, raster_join, ivf_ann   (default: first three,
the r13 set; ivf_ann added r14 — VERDICT r13 #5)
"""
# NOTE: no `from __future__ import annotations` — it would stringify
# the pandas_udf type hints and break signature inference
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main():
    only = set(sys.argv[1:]) or {"minhash", "st_join", "raster_join"}

    from pyspark.sql import functions as F

    import bench
    import rasterframes_spark as rf
    from rasterframes_spark import create_rf_spark_session
    from rasterframes_spark import pipeline as P
    from rasterframes_spark.operators import raster_join, st_join

    spark = create_rf_spark_session(app_name="rehearse-100x",
                                    **{"spark.ui.enabled": "true"})
    spark.sparkContext.setLogLevel("ERROR")

    def leg(name, control_fn, fn, rows):
        # contemporaneous control: the sf0.1-shape work, timed NOW
        tc = time.time()
        control_fn()
        control = round(time.time() - tc, 3)
        wm = bench.max_stage_id(spark)
        s0 = bench._steal_ticks()
        t0 = time.time()
        n = fn()
        wall = round(time.time() - t0, 3)
        s1 = bench._steal_ticks()
        m = bench.stage_metrics(spark, wm)
        m.update({"leg": name, "sec": wall, "rows_in": rows, "out": n,
                  "control_sf01_sec": control,
                  "x100_paired": round(wall / (100 * control), 3),
                  "steal_sec": (round((s1 - s0) / 100.0, 1)
                                if s0 is not None else None)})
        print(json.dumps(m))
        spark.catalog.clearCache()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:   # noqa: BLE001 — hygiene only
            pass
        return m

    # warm up workers (untimed)
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").limit(10).count()

    out = []

    if "minhash" in only:
        # 100 replicas, pairwise-distinct via TWO composed rotations
        # (10 x 10): within-replica near-dup families survive, cross-
        # replica Jaccard stays far below the 0.8 threshold
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        a1, a2 = "aeiounrstl", "bcdfghmpwy"
        _tr = {r: str.maketrans(
            a1 + a2, a1[r % 10:] + a1[:r % 10]
            + a2[r // 10:] + a2[:r // 10]) for r in range(100)}

        @pandas_udf("string")
        def salt(text: pd.Series, rep: pd.Series) -> pd.Series:
            return pd.Series(
                [None if t is None else t.translate(_tr[int(r)])
                 for t, r in zip(text.values, rep.values)], dtype=object)

        reps = F.explode(F.sequence(F.lit(0), F.lit(99))).alias("rep")
        docs100 = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
                   .select("doc_id", "text", reps)
                   .select((F.col("doc_id").cast("long")
                            + F.col("rep").cast("long")
                            * F.lit(1_000_000_000).cast("long"))
                           .alias("doc_id"),
                           salt("text", "rep").alias("text"))
                   .repartition(64).localCheckpoint())
        n100 = docs100.count()
        docs01 = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        out.append(leg(
            "minhash_100x",
            lambda: bench._count_release(P.minhash_dedup_pairs(
                docs01, "doc_id", "text", num_perm=32, bands=16,
                threshold=0.8)),
            lambda: bench._count_release(P.minhash_dedup_pairs(
                docs100, "doc_id", "text", num_perm=32, bands=16,
                threshold=0.8)),
            n100))
        docs100.unpersist()

    if "st_join" in only:
        zones = bench._zone_grid(spark)
        pts01 = bench._lineitem_points(spark, SF_DIR, every=5)
        pts100 = bench._lineitem_points(spark, SF_DIR, copies=20) \
            .localCheckpoint()
        n = pts100.count()
        out.append(leg(
            "st_join_100x",
            lambda: st_join(pts01, zones, grid_size=16.0).count(),
            lambda: st_join(pts100, zones, grid_size=16.0).count(),
            n))
        pts100.unpersist()

    if "raster_join" in only:
        # 8000 x 256^2 uint16 tile pairs generated DISTRIBUTED: the
        # sf0.1 cell's exact geometry (32 tiles per row, right side
        # shifted half a tile east -> bounded fan-in of 2)
        import numpy as np
        import pandas as pd

        TILE_T = ("tile struct<cell_type:string,cols:int,rows:int,"
                  "cells:binary>")

        def gen(batches):
            # pseudo-random per-id content: constant tiles would
            # compress the shuffle ~100x and understate the real
            # byte movement (the sf1 bench leg uses random tiles)
            for pdf in batches:
                rows = []
                for i in pdf["id"]:
                    rg = np.random.default_rng(int(i))
                    a = rg.integers(0, 255, (256, 256)).astype("uint16")
                    rows.append({"id": int(i),
                                 "tile": {"cell_type": "uint16ud255",
                                          "cols": 256, "rows": 256,
                                          "cells": a.tobytes()}})
                yield pd.DataFrame(rows)

        def rj_inputs(n):
            t = (spark.range(n).repartition(64)
                 .mapInPandas(gen, schema=f"id long, {TILE_T}"))
            col_ = (F.col("id") % 32).cast("double") * 256.0
            row_ = F.floor(F.col("id") / 32).cast("double") * 256.0
            ext = F.struct(col_.alias("xmin"), row_.alias("ymin"),
                           (col_ + 256.0).alias("xmax"),
                           (row_ + 256.0).alias("ymax"))
            rext = F.struct((col_ + 128.0).alias("xmin"),
                            row_.alias("ymin"),
                            (col_ + 384.0).alias("xmax"),
                            (row_ + 256.0).alias("ymax"))
            left = t.select(F.col("id").alias("grp"), "tile",
                            ext.alias("extent"),
                            F.lit("EPSG:32617").alias("crs"))
            right = t.select("tile", rext.alias("extent"),
                             F.lit("EPSG:32617").alias("crs"))
            return left.localCheckpoint(), right.localCheckpoint()

        l01, r01 = rj_inputs(80)
        l100, r100 = rj_inputs(8000)
        out.append(leg(
            "raster_join_100x",
            lambda: raster_join(l01, r01, cell_size_deg=1.0,
                                cache_inputs=False)
            .agg(F.sum(rf.rf_tile_sum("tile_right"))).collect(),
            lambda: float(raster_join(l100, r100, cell_size_deg=1.0,
                                      cache_inputs=False)
                          .agg(F.sum(rf.rf_tile_sum("tile_right")))
                          .collect()[0][0]),
            8000))

    if "ivf_ann" in only:
        # 2M vectors = 100x the sf1 leg's 20k-replica corpus (the
        # sf0.1 embeddings table is 2k rows), built with the bench's
        # own +-50% per-component sin jitter parameterized by rep —
        # unlimited pairwise-distinct replicas (cross-replica cosine
        # ~0.9), unlike dim-rotations which collide past dim=64.
        # SAME quantizer parameters as the recorded cells (16 lists,
        # 3 probes, 8 queries) so x100_paired is an honest scaling
        # ratio; a real 2M deployment would size n_lists ~ sqrt(N).
        import numpy as np
        import pandas as pd

        emb01 = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

        def emb_reps(n_rep):
            reps = F.explode(
                F.sequence(F.lit(0), F.lit(n_rep - 1))).alias("rep")
            return (emb01.select("vec_id", "embedding", reps)
                    .select((F.col("vec_id").cast("long")
                             + F.col("rep").cast("long")
                             * F.lit(1_000_000_000).cast("long"))
                            .alias("vec_id"),
                            F.transform(
                                "embedding",
                                lambda x, i: x * (F.lit(1.0)
                                                  + F.lit(0.5) * F.sin(
                                    F.col("rep")
                                    * (i.cast("double") + 1.0))))
                            .alias("embedding"))
                    .repartition(64).localCheckpoint())

        emb20k = emb_reps(10)
        emb2m = emb_reps(1000)
        n2m = emb2m.count()
        q8 = (emb01.orderBy("vec_id").limit(8).select(
            F.col("vec_id").alias("query_id"), "embedding")
            .localCheckpoint())
        from rasterframes_spark.pipeline.similarity import (
            _train_unit_centroids, ivf_ann_topk)

        m = leg(
            "ivf_ann_100x",
            lambda: ivf_ann_topk(emb20k, q8, k=10, n_lists=16,
                                 n_probe=3).count(),
            lambda: ivf_ann_topk(emb2m, q8, k=10, n_lists=16,
                                 n_probe=3).count(),
            n2m)
        # recall vs exact brute force (untimed) + list-size skew —
        # centroid imbalance is the interesting failure mode at scale
        ivf = ivf_ann_topk(emb2m, q8, k=10, n_lists=16, n_probe=3)
        brute = P.cosine_topk(emb2m, q8, k=10)
        n_brute = brute.count()
        hits = ivf.join(brute, ["query_id", "neighbor_id"]).count()
        m["recall_vs_brute"] = round(hits / max(n_brute, 1), 3)
        cents = _train_unit_centroids(emb2m, "embedding", 16, 2048, 42,
                                      n2m, caller="rehearse_100x")

        def assign(batches):
            for pdf in batches:
                x = np.stack([np.asarray(v, dtype="float64")
                              for v in pdf["embedding"]])
                x /= np.maximum(
                    np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
                yield pd.DataFrame(
                    {"list": np.argmax(x @ cents.T, axis=1)})

        sizes = sorted(
            r["count"] for r in emb2m.mapInPandas(assign, "list int")
            .groupBy("list").count().collect())
        m["list_sizes"] = {
            "n_lists": len(sizes), "min": int(sizes[0]),
            "median": int(sizes[len(sizes) // 2]), "max": int(sizes[-1]),
            "max_over_median": round(
                sizes[-1] / max(sizes[len(sizes) // 2], 1), 2)}
        print(json.dumps({"ivf_ann_100x_extra": {
            "recall_vs_brute": m["recall_vs_brute"],
            "list_sizes": m["list_sizes"]}}))
        out.append(m)
        emb20k.unpersist()
        emb2m.unpersist()

    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    sys.stdout.flush()
    print(json.dumps({"rehearse_100x": out}))


if __name__ == "__main__":
    main()

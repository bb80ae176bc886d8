"""Spark-vs-Spark determinism sweep: run every queries() entry TWICE at
the given SF and compare normalized results. Catches the
monotonically_increasing_id / AQE-re-planning class of bug (see the r5
raster_join fix) that the DuckDB oracle gate can miss when it happens to
pass on one lucky evaluation — especially for queries whose oracles are
too expensive to run at larger SFs.

Run: python tools/check_determinism.py [sf_dir] [q1,q2,...]

Beyond the 50 batch queries the sweep also covers the stateful/sink
surfaces the batch gate cannot see (VERDICT r5 #8): streaming_neardup and
read_geotiff_stream replayed twice from identical fresh checkpoints, and
write_geojson / write_tiles outputs byte-compared across two runs.
Filter them with the pseudo-names streaming_neardup_det /
geotiff_stream_det / write_geojson_det / write_tiles_det.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None


def norm(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(9)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _run_stream(pairs_df, out_dir, ckpt):
    q = (pairs_df.writeStream.format("parquet").option("path", out_dir)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    if not q.awaitTermination(240):
        q.stop()
        raise TimeoutError(
            "stream did not finish within 240s — a mid-write snapshot "
            "would report a spurious determinism FAIL")


def _neardup_once(spark, sf_dir, root):
    """One full streaming_neardup replay: batch of originals, then a
    batch of shifted-id copies over the SAME checkpoint (state carries
    across restarts); returns the sorted pair rows."""
    import os

    from rasterframes_spark.streaming import streaming_neardup

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
            .select("doc_id", "text").collect())
    src = f"{root}/src"; out = f"{root}/out"; ck = f"{root}/ck"
    os.makedirs(src, exist_ok=True)
    schema = "doc_id long, text string"
    spark.createDataFrame([(r["doc_id"], r["text"]) for r in docs],
                          schema).write.mode("overwrite").parquet(src)

    def mk():
        return streaming_neardup(
            spark.readStream.schema(schema).parquet(src),
            "doc_id", "text", num_perm=32, bands=16, threshold=0.9)

    _run_stream(mk(), out, ck)
    spark.createDataFrame([(r["doc_id"] + 1000, r["text"])
                           for r in docs[:15]],
                          schema).write.mode("append").parquet(src)
    _run_stream(mk(), out, ck)
    rows = spark.read.parquet(out).collect()
    return sorted((r["new_id"], r["prior_id"], round(r["est_jaccard"], 9))
                  for r in rows)


def _geotiff_stream_once(spark, root):
    import os

    import numpy as np

    from rasterframes_spark.sources import geotiff as GT
    from rasterframes_spark.streaming import read_geotiff_stream

    src = f"{root}/scenes"; out = f"{root}/out"; ck = f"{root}/ck"
    os.makedirs(src, exist_ok=True)
    rng = np.random.default_rng(11)
    for name, (h, w) in [("a", (20, 20)), ("b", (16, 30))]:
        arr = rng.integers(0, 500, (h, w)).astype("uint16")
        with open(f"{src}/{name}.tif", "wb") as f:
            f.write(GT.write_geotiff(arr, (0.0, 0.0, float(w), float(h)),
                                     "EPSG:32618", tile_size=16))
    _run_stream(read_geotiff_stream(spark, src, tile_dimensions=(16, 16)),
                out, ck)
    rows = spark.read.parquet(out).collect()
    return sorted(
        (os.path.basename(r["path"]), r["spatial_key"]["col"],
         r["spatial_key"]["row"], r["crs"],
         bytes(r["tile"]["cells"]))
        for r in rows)


def _sink_snapshot(directory, order_insensitive_lines=False):
    """Relative-path -> content map of a sink output (text sinks compare
    as sorted line sets: row order across part files is not part of the
    determinism contract, content is)."""
    import os

    snap = {}
    for dirpath, _, files in os.walk(directory):
        for fn in files:
            if fn.startswith(("_", ".")) or fn.endswith(".crc"):
                continue
            p = os.path.join(dirpath, fn)
            with open(p, "rb") as f:
                data = f.read()
            rel = os.path.relpath(p, directory)
            if order_insensitive_lines:
                snap.setdefault("__all_lines__", []).extend(
                    data.split(b"\n"))
            else:
                snap[rel] = data
    if order_insensitive_lines:
        snap["__all_lines__"] = sorted(
            line for line in snap["__all_lines__"] if line)
    return snap


def _write_geojson_once(spark, sf_dir, root):
    import rasterframes_spark as rf
    from pyspark.sql import functions as F
    from rasterframes_spark.sources.sinks import write_geojson

    cust = (spark.read.parquet(f"{sf_dir}/customer.parquet")
            .where(F.col("c_custkey") <= 300)
            .select("c_custkey", "c_name",
                    rf.st_point((F.col("c_custkey") % 360 - 180.0),
                                (F.col("c_custkey") % 140 - 70.0))
                    .alias("geometry")))
    out = f"{root}/gj"
    write_geojson(cust.repartition(4, "c_custkey"), out)
    return _sink_snapshot(out, order_insensitive_lines=True)


def _write_tiles_once(spark, sf_dir, root):
    import __spark_entry__ as e
    from pyspark.sql import functions as F
    from rasterframes_spark.sources.sinks import write_tiles

    t = e._tiles_df(spark, sf_dir).where(F.col("grp") < 8)
    t = t.withColumn("extent", F.struct(
        F.lit(0.0).alias("xmin"), F.lit(0.0).alias("ymin"),
        F.lit(16.0).alias("xmax"), F.lit(16.0).alias("ymax")))         .withColumn("crs", F.lit("EPSG:32617"))         .withColumnRenamed("qty", "tile")
    out = f"{root}/tiles"
    write_tiles(t.repartition(4, "grp"), out)
    snap = _sink_snapshot(out)
    # filenames embed partition/row indexes that shuffle placement may
    # permute; the determinism contract is the SET of tile payloads +
    # the catalog's row content
    payloads = sorted(v for k, v in snap.items() if not k.endswith(".csv"))
    # the catalog embeds the (caller-chosen, per-run temp) output
    # directory in its absolute paths — strip it so runs compare content
    catalogs = sorted(
        line.replace(out.encode() + b"/", b"")
        for k, v in snap.items() if k.endswith(".csv")
        for line in v.split(b"\n")[1:] if line)
    return payloads, catalogs


def _knn_ties_once(spark, run_idx):
    """st_knn_join row-IDENTITY determinism on an equidistant-neighbors
    fixture (VERDICT r6 #1): 4 right points at exactly distance 5 from
    each query, k=2 — which 2 survive must be a pure function of the
    data, not of partition layout.  The two runs use different
    partition counts so a layout-dependent rank flips the comparison;
    comparing (qid, rid) row identities, not rounded distances (which
    would hide tie flips — every tie shares a distance value)."""
    from rasterframes_spark.geom import functions as GF
    from rasterframes_spark.operators import st_knn_join

    q = spark.createDataFrame(
        [(i, i * 100.0, 0.0) for i in range(16)],
        "qid int, x double, y double"
    ).select("qid", GF.st_point("x", "y").alias("geometry"))
    rrows = [(i * 4 + j, i * 100.0 + dx, dy)
             for i in range(16)
             for j, (dx, dy) in enumerate(
                 [(5.0, 0.0), (-5.0, 0.0), (0.0, 5.0), (0.0, -5.0)])]
    r = spark.createDataFrame(rrows, "rid int, x double, y double") \
        .select("rid", GF.st_point("x", "y").alias("geometry"))
    npart = (2, 11)[run_idx % 2]
    out = st_knn_join(q.repartition(npart), r.repartition(13 - npart),
                      k=2, max_distance=9.0, grid_size=7.0)
    return sorted((x["qid"], x["rid"], x["knn_rank"])
                  for x in out.collect())


def run_extras(spark, sf_dir, only, failures):
    import shutil
    import tempfile

    run_counter = {"n": 0}

    def knn_fn(_root):
        idx = run_counter["n"]
        run_counter["n"] += 1
        return _knn_ties_once(spark, idx)

    extras = {
        "knn_ties_det": knn_fn,
        "streaming_neardup_det": lambda r: _neardup_once(spark, sf_dir, r),
        "geotiff_stream_det": lambda r: _geotiff_stream_once(spark, r),
        "write_geojson_det": lambda r: _write_geojson_once(spark, sf_dir, r),
        "write_tiles_det": lambda r: _write_tiles_once(spark, sf_dir, r),
    }
    for name, fn in extras.items():
        if only and name not in only:
            continue
        t0 = time.time()
        roots = []
        try:
            roots = [tempfile.mkdtemp(prefix=f"det_{name}_") for _ in "ab"]
            a, b = fn(roots[0]), fn(roots[1])
            ok = a == b
        except Exception as ex:  # noqa: BLE001 - report and continue
            print(f"ERROR {name}: {ex}")
            failures.append(name)
            continue
        finally:
            for r in roots:
                shutil.rmtree(r, ignore_errors=True)
        print(f"{'PASS' if ok else 'FAIL'} {name} ({time.time() - t0:.1f}s)")
        if not ok:
            failures.append(name)


def main():
    from rasterframes_spark import create_rf_spark_session
    import __spark_entry__ as e

    spark = create_rf_spark_session(app_name="rf-determinism")
    spark.sparkContext.setLogLevel("ERROR")
    failures = []
    for name, fn in e.queries().items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            a = norm(fn(spark, SF_DIR).toPandas())
            b = norm(fn(spark, SF_DIR).toPandas())
            ok = a.equals(b)
        except Exception as ex:  # noqa: BLE001 - report and continue
            print(f"ERROR {name}: {ex}")
            failures.append(name)
            continue
        print(f"{'PASS' if ok else 'FAIL'} {name}: rows={len(a)} "
              f"({time.time() - t0:.1f}s)")
        if not ok:
            failures.append(name)
            neq = (a != b).any(axis=1)
            print(a[neq].head(3))
            print(b[neq].head(3))
    run_extras(spark, SF_DIR, ONLY, failures)
    # same tail hygiene bench.py adopted (VERDICT r9 #1 / r10 next #7):
    # silence the JVM and stop the session BEFORE the final verdict
    # lines, so streaming-replay teardown spam can never print after
    # (and bury) them in a captured stdout tail
    try:
        spark.sparkContext.setLogLevel("OFF")
    except Exception:
        pass
    spark.stop()
    sys.stdout.flush()
    if failures:
        print("NONDETERMINISTIC:", failures)
        sys.exit(1)
    print("ALL DETERMINISTIC")


if __name__ == "__main__":
    main()

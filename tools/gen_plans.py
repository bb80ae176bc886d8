"""Regenerate PLANS.md: capture .explain("formatted") for the headline
operators with scale-posture annotations. Run: python tools/gen_plans.py"""

import contextlib
import io
import os
import sys
import tempfile

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))


def main():
    import rasterframes_spark as rf
    from rasterframes_spark import create_rf_spark_session, sources as S
    from rasterframes_spark import pipeline as P
    from rasterframes_spark.tile import Tile
    from pyspark.sql import functions as F
    import __spark_entry__ as e

    spark = create_rf_spark_session(master="local[8]", app_name="gen-plans")
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.001"

    def plan(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        s = buf.getvalue()
        lines = s.splitlines()
        cut = next((i for i, l in enumerate(lines)
                    if l.strip() == "" and i > 5), len(lines))
        tree = "\n".join(lines[:cut])
        details = [l for l in lines[cut:] if any(k in l for k in (
            "PushedFilters", "ReadSchema", "Arguments: ", "Functions ["))][:12]
        return tree + ("\n...\n" + "\n".join(details) if details else "")

    sections = []

    def add(title, note, df):
        sections.append(f"## {title}\n\n{note}\n\n```\n{plan(df)}\n```\n")

    tiles = e._two_band(spark, sf)
    add("rf_agg_stats (column-wide tile statistics)",
        "One pandas-UDF pass emits a 6-scalar partial per tile; the combine is "
        "built-in `sum/min/max` — **map-side partial aggregation before the "
        "exchange, 6 scalars per partition cross the shuffle, nothing tile-sized "
        "shuffles.** At 1000 executors the exchange carries ~KBs.",
        tiles.agg(rf.rf_agg_stats("qty").alias("s")))

    add("explode_tiles (tile -> cell rows)",
        "mapInPandas generator — **no shuffle at all**; byte-capped Arrow "
        "batches stream cells out. Chained aggregation keeps whole-stage "
        "codegen after the UDF.",
        rf.explode_tiles(tiles, ["qty"]).agg(F.sum("qty")))

    cells = rf.explode_tiles(tiles, ["qty"]).where(F.col("qty").isNotNull())
    add("assemble_tiles (cell rows -> tiles, collect path — auto default "
        "up to 256k cells/tile)",
        "Cell traffic stays JVM-side: aligned `collect_list(pos)/"
        "collect_list(value)` **with map-side partial aggregation**, value "
        "list at the narrowest exact type; Python receives two flat arrays "
        "per GROUP (bulk Arrow list transfer) and does one numpy scatter. "
        "Profiled 1.7x faster than the row-shuffling group_map at the "
        "100x256^2 bench shape.",
        rf.assemble_tiles(cells, ["grp"], "column_index", "row_index", "qty",
                          16, 16, "float64", method="collect"))

    add("assemble_tiles (group_map path — auto beyond 256k cells/tile)",
        "ONE shuffle on the group key (hash partitioning), flat cell position "
        "computed JVM-side, value column shuffles at the narrowest exact type. "
        "Per-group numpy scatter; task memory = one group's cells — the "
        "bounded-memory path for huge tiles where whole-group collect_list "
        "buffers would not be safe.",
        rf.assemble_tiles(cells, ["grp"], "column_index", "row_index", "qty",
                          16, 16, "float64", method="group_map"))

    add("raster_join (grid-cell equi-prejoin + merge, bounded fan-in)",
        "**Equi-join on grid cell id** (shuffle hash join, AQE skew-split "
        "applies) + bbox post-filter — never a BroadcastNestedLoopJoin. "
        "max_fan_in (default 256) bounds the merge: rid-ordered chunks of "
        "<=N right tiles are painted onto the left grid per grouped task "
        "(proj_raster.paint, one warp per right tile), then the final "
        "projection overlays each left row's partials in chunk order — a "
        "hard per-task memory bound, and no second warp of the partials.",
        e._q_raster_join(spark, sf))

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    from rasterframes_spark.operators import st_join
    from rasterframes_spark.geom import functions as GFn

    cust = spark.read.parquet(f"{sf}/customer.parquet").limit(500)
    pts_df = cust.select(
        "c_custkey",
        GFn.st_point((F.col("c_custkey") % 100).cast("double"),
                     (F.col("c_custkey") % 80).cast("double"))
        .alias("geometry"))
    zon_df = spark.createDataFrame(
        [(1, "POLYGON ((0 0, 50 0, 50 40, 0 40, 0 0))"),
         (2, "POLYGON ((50 40, 100 40, 100 80, 50 80, 50 40))")],
        "zone_id int, wkt string").select(
        "zone_id", GFn.st_geom_from_wkt("wkt").alias("geometry"))
    add("st_join (geometry x geometry grid-bucket equi-join)",
        "Both sides explode bbox cover-cells → **shuffled hash equi-join "
        "on (cx, cy)** — no CartesianProduct, no BroadcastNestedLoopJoin "
        "anywhere in the plan (the reference's posture for this predicate "
        "is BNLJ). Reference-point filter dedups pairs with NO distinct "
        "shuffle; the exact DE-9IM kernel sees candidates only.",
        st_join(pts_df, zon_df, predicate="within", grid_size=20.0))

    add("st_join how='left' (id-keyed null-safe anti-join)",
        "Left rows are stamped ONCE with a deterministic 128-bit content "
        "id; the unmatched side anti-joins on the two 8-byte ids — not on "
        "every left column — so the matched side ships 16 bytes/row into "
        "the anti-join (no geometry WKB re-shuffle), NULL-field rows "
        "cannot double-emit (all-column anti-joins are null-UNSAFE), and "
        "duplicate left rows stay duplicate-correct.",
        st_join(pts_df, zon_df, predicate="within", grid_size=20.0,
                how="left"))

    from rasterframes_spark.operators import st_knn_join
    add("st_knn_join (dwithin bucket join + id-keyed rank window)",
        "The rank window partitions on the 16-byte content id instead of "
        "hashing the full left payload (geometry WKB) per candidate row; "
        "radius-bounded dwithin prejoin keeps the candidate set linear in "
        "real neighbors — no CartesianProduct.",
        st_knn_join(pts_df, zon_df, k=2, max_distance=30.0,
                    grid_size=20.0))

    add("flag_repeated_spans (exact-substring dedup, winnowed grams)",
        "Explode to (id, gram-hash) → count per 8-byte hash → semi-join "
        "back: documents never shuffle, no pair enumeration; winnowing "
        "thins fingerprints ~2/s with the deterministic n+s-1-token "
        "detection guarantee. Pure codegen gram/winnow selection "
        "(split/transform/slice/array_min) — no Python worker.",
        P.flag_repeated_spans(
            spark.read.parquet(f"{sf}/documents.parquet"),
            n=12, winnow_stride=4))

    docs_df = spark.read.parquet(f"{sf}/documents.parquet")
    add("scrub + repetition quality pass (pii_scrub / repetition_metrics)",
        "ONE narrow projection, no Exchange. method='sql' (shown) stays "
        "fully declarative — regexp chains + HOF folds, no Python worker. "
        "The DEFAULT method='vectorized' swaps the interpreted per-element "
        "folds for one Arrow crossing (measured 17.5x faster at the bench "
        "shape, same values) — same no-shuffle plan with an ArrowEval node.",
        P.repetition_metrics(
            docs_df.select("doc_id",
                           P.pii_scrub("text").alias("text")), "text",
            method="sql"))

    add("cosine_topk (matmul scoring path)",
        "Corpus scans straight into one mapInPandas (BLAS matmul per Arrow "
        "batch vs ALL queries — queries ride the closure, **corpus never "
        "shuffles until the per-query top-k window** on k rows/query/partition).",
        P.cosine_topk(emb, emb.limit(4).select(
            F.col("vec_id").alias("query_id"), "embedding"), k=5))

    add("minhash LSH near-dup pairs",
        "shingle->signature (one vectorized UDF pass) -> banded **equi-join on "
        "(band, slice)** — bucketed candidates only, no cartesian; "
        "pay-as-you-go hot-bucket salting kicks in above the skew threshold; "
        "exact-Jaccard verify only on candidates.",
        P.minhash_dedup_pairs(spark.read.parquet(f"{sf}/documents.parquet"),
                              "doc_id", "text", num_perm=32, bands=16,
                              threshold=0.8))

    add("lsh_ann_topk (hyperplane LSH ANN)",
        "Both sides bucketed by one vectorized sign-bit UDF pass; candidate "
        "generation is an **equi-join on bucket with the query side "
        "broadcast** — each query touches only its bucket (plus optional "
        "multiprobe neighbors), never the full corpus; exact rerank only "
        "within buckets.",
        P.lsh_ann_topk(emb, emb.limit(4).select(
            F.col("vec_id").alias("query_id"), "embedding"),
            k=5, n_planes=6, dim=64))

    import numpy as _np
    add("ivf_ann_topk (inverted-file ANN, injected centroids)",
        "Corpus assigned to its nearest centroid in one vectorized UDF "
        "projection (centroids ride the closure, KBs); each query explodes "
        "to its n_probe nearest lists and the candidate join is an "
        "**equi-join on list id with the query side broadcast** — per query "
        "the scan touches n_probe/n_lists of the corpus.",
        P.ivf_ann_topk(emb, emb.limit(4).select(
            F.col("vec_id").alias("query_id"), "embedding"),
            k=5, n_lists=8, n_probe=2,
            centroids=_np.random.default_rng(7).standard_normal((8, 64))))

    t = e._tiles_df(spark, sf)
    gx = (F.col("grp") % 8).cast("int")
    gy = (F.col("grp") / 8).cast("int")
    layer = t.select(
        F.struct(gx.alias("col"), gy.alias("row")).alias("spatial_key"),
        F.col("qty").alias("tile"),
        F.struct((gx.cast("double") * 16.0).alias("xmin"),
                 ((7 - gy).cast("double") * 16.0).alias("ymin"),
                 (gx.cast("double") * 16.0 + 16.0).alias("xmax"),
                 ((7 - gy).cast("double") * 16.0 + 16.0).alias("ymax"))
        .alias("extent"))
    add("pyramid_up (one shuffle per zoom level)",
        "Parent key computed JVM-side; ONE applyInPandas shuffle groups the "
        "(up to 4) children per parent for the NoData-aware 2x2 mean pool — "
        "no driver bottleneck, each level halves the data.",
        rf.pyramid_up(layer))

    d = tempfile.mkdtemp()
    rng = np.random.default_rng(3)
    rows = []
    for gy in range(4):
        for gx in range(4):
            rows.append({
                "spatial_key": {"col": gx, "row": gy},
                "tile": Tile(rng.integers(0, 9, (4, 4)).astype("int32"),
                             "int32raw").to_row(),
                "extent": {"xmin": gx * 1.0, "ymin": gy * 1.0,
                           "xmax": gx + 1.0, "ymax": gy + 1.0},
                "crs": "EPSG:4326"})
    ldf = spark.createDataFrame(
        rows, schema="spatial_key struct<col:int,row:int>, "
        "tile struct<cell_type:string,cols:int,rows:int,cells:binary>, "
        "extent struct<xmin:double,ymin:double,xmax:double,ymax:double>, "
        "crs string")
    S.write_tile_layer(ldf, os.path.join(d, "layer"), num_partitions=2)
    add("read_tile_layer with query_extent (Z2 pushdown)",
        "The quadtree-decomposed Z2 range disjunction reaches the parquet scan "
        "as **PushedFilters** — row groups outside the query bbox are pruned "
        "by column stats before any IO; the exact bbox filter runs after.",
        S.read_tile_layer(spark, os.path.join(d, "layer"),
                          query_extent=(0.5, 0.5, 1.5, 1.5)))

    spark.sql(f"CREATE DATABASE IF NOT EXISTS rf_plans LOCATION '{d}/wh'")
    S.write_tile_layer_table(ldf, "rf_plans.a", n_buckets=4)
    S.write_tile_layer_table(ldf, "rf_plans.b", n_buckets=4)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    j = S.read_tile_layer_table(spark, "rf_plans.a").join(
        S.read_tile_layer_table(spark, "rf_plans.b").select(
            "spatial_index", F.col("tile").alias("tile_b")), "spatial_index")
    add("bucketed layer-table join (zero Exchange)",
        "Both tables were written `bucketBy(4, spatial_index)`: the sort-merge "
        "join reads co-bucketed files directly — **no Exchange anywhere in the "
        "plan**. At 100 TB the repeated-join shuffle cost is paid once at "
        "write time.",
        j)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    spark.sql("DROP DATABASE IF EXISTS rf_plans CASCADE")

    S.write_geotrellis_layer(
        [(c, r, np.arange(256, dtype=np.int32).reshape(16, 16))
         for c in range(3) for r in range(2)],
        os.path.join(d, "gtcat"), "demo", 9,
        layout_extent=(-180, -90, 180, 90), layout_cols=512,
        layout_rows=256)
    add("GeoTrellis Avro layer read (r7)",
        "A `binaryFile` scan over the layer's index files feeds one "
        "Arrow-batched decode per file partition (`mapInPandas`) — keys "
        "travel inside the Avro records, so no driver-side listing "
        "beyond the directory scan, and executors decode independently. "
        "At 100 TB the unit of parallelism is the SFC index file, the "
        "same partitioning GeoTrellis itself wrote.",
        S.read_geotrellis_layer(spark, os.path.join(d, "gtcat"),
                                "demo", 9))

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    add("c4_clean + gopher_quality_filter (web-text cleanup, r7)",
        "The entire C4 line/page pass and all seven Gopher document "
        "rules compile to one narrow Project+Filter over the scan — no "
        "Exchange, no Python, fully whole-stage-codegen'd. At 100 TB "
        "this is a map-only pass whose cost is the scan itself.",
        P.gopher_quality_filter(P.c4_clean(docs)))

    add("semantic_dedup (SemDeDup, one kernel per centroid block)",
        "One centroid-assignment site, then ONE applyInPandas kernel per "
        "cluster: the only Exchange keys on the one-int cluster id "
        "(sem_list), vectors cross the wire once per row, and the kernel "
        "finds the block's gram pairs, labels each duplicate group with "
        "its min id (union-find) and picks the keeper. Pairs never cross "
        "clusters, so there is no pair join, no label-propagation round "
        "and no keeper window; a task holds one cluster plus one 4096^2 "
        "gram tile, so n_clusters is the size knob.",
        P.semantic_dedup(
            spark.read.parquet(f"{sf}/embeddings.parquet"),
            "vec_id", centroids=e._ivf_cents(), threshold=0.98))

    from rasterframes_spark.sources.warc import read_warc, write_warc
    wd = tempfile.mkdtemp()
    with open(os.path.join(wd, "a.warc.gz"), "wb") as f:
        f.write(write_warc([({"WARC-Type": "response",
                              "WARC-Target-URI": "https://x.org/1"},
                             b"HTTP/1.1 200 OK\r\n\r\n<p>hi there.</p>")]))
    add("read_warc -> extract_html_text (web ingest, r7)",
        "One WARC file per task (binaryFile scan; member-gzip files are "
        "not mid-file splittable — crawls ship ~1 GB files for exactly "
        "this), then a single Arrow-batched extraction per partition. "
        "The plan is scan -> mapInPandas -> mapInPandas with no shuffle "
        "until something aggregates downstream.",
        P.extract_html_text(
            read_warc(spark, wd).select(
                F.xxhash64("url").alias("media_id"), "payload")))

    hdr = (
        "# PLANS — physical-plan evidence for the scale posture\n\n"
        'Captured with `.explain("formatted")` on the real operators (sf0.001 '
        "inputs;\nplan shape is data-size independent). Each section: why this "
        "plan survives a\n100x scale-up. Regenerate with "
        "`python tools/gen_plans.py`.\n")
    out = os.path.join(os.path.dirname(__file__), "..", "PLANS.md")
    with open(out, "w") as f:
        f.write(hdr + "\n" + "\n".join(sections))
    print("PLANS.md written:", len(sections), "sections")
    spark.stop()


if __name__ == "__main__":
    main()

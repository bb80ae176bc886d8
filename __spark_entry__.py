"""Driver contract for the spark-graft builder (PySpark target).

Tiles are synthesized deterministically from the lineitem table so that
every raster operator reduces to arithmetic DuckDB can reproduce:

    grp  = l_orderkey % 64
    idx  = row_number() over (partition by grp
             order by l_orderkey, l_linenumber, l_partkey, l_suppkey) - 1
    keep idx < 256; cell (row idx//16, col idx%16) of grp's 16x16 tile = value

Cells beyond a group's row count are NoData, which exercises mask semantics.
All integer-valued cells (l_quantity) make sums bit-exact across engines;
ratio results are rounded to 6 decimals on BOTH sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

import rasterframes_spark as rf
from rasterframes_spark.dataframe_api import install_dataframe_methods

# The external correctness driver builds a bare SparkSession (it does not go
# through create_rf_spark_session), so the fluent DataFrame surface used by
# e.g. layer_center must be installed here.  Idempotent.
install_dataframe_methods()


def _tmppath(prefix: str, name: str) -> str:
    """Collision-safe temp-file path for oracle fixtures: a fresh
    mkdtemp + fixed filename (ADVICE r12 #3 — tempfile.mktemp's
    predictable name can be hijacked between generation and open)."""
    import os
    import tempfile

    return os.path.join(tempfile.mkdtemp(prefix=prefix), name)

TILE_COLS = 16
TILE_ROWS = 16
N_GROUPS = 64


def _r0(col, scale=0):
    """round + normalize IEEE -0.0 to +0.0 (``-0.0 + 0.0 == +0.0``).

    DuckDB's round() emits -0.0 when a negative value rounds to zero while
    Spark's pipeline emits +0.0 (or vice versa); the driver's value hash is
    representation-sensitive, so every rounded signed expression is
    normalized on BOTH sides (the oracle SQL appends ``+ 0.0`` after each
    round) to keep the comparison bytewise stable.
    """
    return F.round(col, scale) + F.lit(0.0)

# ---------------------------------------------------------------------------
# shared tile synthesis (Spark) and its SQL mirror (DuckDB oracle CTE)
# ---------------------------------------------------------------------------


def _cells_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    w = Window.partitionBy("grp").orderBy(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    return (
        li.withColumn("grp", (F.col("l_orderkey") % N_GROUPS).cast("int"))
        .withColumn("idx", F.row_number().over(w) - 1)
        .where(F.col("idx") < TILE_COLS * TILE_ROWS)
        .select(
            "grp",
            (F.col("idx") % TILE_COLS).cast("int").alias("ci"),
            (F.col("idx") / TILE_COLS).cast("int").alias("ri"),
            F.col("l_quantity").alias("qty"),
            (F.col("l_extendedprice") / 1000.0).alias("price"),
            F.col("l_discount").alias("disc"),
        )
    )


_ORACLE_CTE = f"""
with c as (
  select cast(l_orderkey % {N_GROUPS} as int) as grp,
         row_number() over (partition by l_orderkey % {N_GROUPS}
                            order by l_orderkey, l_linenumber, l_partkey, l_suppkey) - 1 as idx,
         l_quantity as qty,
         l_extendedprice/1000.0 as price,
         l_discount as disc
  from lineitem
), cells as (
  select grp, cast(idx % {TILE_COLS} as int) as ci, cast(idx // {TILE_COLS} as int) as ri,
         qty, price, disc
  from c where idx < {TILE_COLS * TILE_ROWS}
)
"""


def _tiles_df(spark: SparkSession, sf_dir: str, value_col: str = "qty",
              cell_type: str = "float64") -> DataFrame:
    cells = _cells_df(spark, sf_dir)
    return rf.assemble_tiles(
        cells, ["grp"], "ci", "ri", value_col, TILE_COLS, TILE_ROWS, cell_type
    ).withColumnRenamed("tile", value_col)


def _two_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = _cells_df(spark, sf_dir)
    # both bands assemble in one shuffle + one Python pass
    return rf.assemble_tiles(cells, ["grp"], "ci", "ri", ["qty", "price"],
                             TILE_COLS, TILE_ROWS, "float64")


# ---------------------------------------------------------------------------
# entry: flagship query (driver smoke check, sf0.001)
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: per-group normalized-difference stats over two synthesized
    bands — the engine's NDVI workflow (SURVEY.md §7 phase 2)."""
    df = _two_band(spark, "/root/testdata/sf0.001")
    nd = df.select("grp", rf.rf_normalized_difference("price", "qty").alias("nd"))
    return nd.select(
        "grp",
        rf.rf_data_cells("nd").alias("data_cells"),
        _r0(rf.rf_tile_sum("nd"), 6).alias("nd_sum"),
        _r0(rf.rf_tile_mean("nd"), 6).alias("nd_mean"),
    ).orderBy("grp")


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------


def _q_tile_sum(spark, sf_dir):
    t = _tiles_df(spark, sf_dir)
    return t.select("grp", rf.rf_tile_sum("qty").alias("tile_sum"),
                    rf.rf_data_cells("qty").alias("data_cells"),
                    rf.rf_tile_min("qty").alias("tile_min"),
                    rf.rf_tile_max("qty").alias("tile_max"))


def _q_tile_mean(spark, sf_dir):
    t = _tiles_df(spark, sf_dir)
    return t.select("grp", _r0(rf.rf_tile_mean("qty"), 6).alias("tile_mean"))


def _q_local_add(spark, sf_dir):
    t = _tiles_df(spark, sf_dir)
    return t.select("grp", rf.rf_tile_sum(rf.rf_local_add("qty", 5)).alias("s"))


def _q_local_multiply(spark, sf_dir):
    t = _tiles_df(spark, sf_dir)
    return t.select("grp", rf.rf_tile_sum(rf.rf_local_multiply("qty", 3)).alias("s"))


def _q_local_subtract_divide(spark, sf_dir):
    df = _two_band(spark, sf_dir)
    return df.select(
        "grp",
        rf.rf_tile_sum(rf.rf_local_subtract("qty", F.col("price"))).alias("diff_sum"),
        _r0(rf.rf_tile_sum(rf.rf_local_divide("price", 2)), 6).alias("half_price_sum"),
    )


def _q_normalized_difference(spark, sf_dir):
    df = _two_band(spark, sf_dir)
    nd = df.select("grp", rf.rf_normalized_difference("price", "qty").alias("nd"))
    return nd.select("grp", _r0(rf.rf_tile_sum("nd"), 6).alias("nd_sum"),
                     rf.rf_data_cells("nd").alias("n"))


def _q_local_greater(spark, sf_dir):
    t = _tiles_df(spark, sf_dir)
    return t.select("grp", rf.rf_tile_sum(rf.rf_local_greater("qty", 25)).alias("n_gt"))


def _q_where(spark, sf_dir):
    df = _two_band(spark, sf_dir)
    cond = rf.rf_local_greater("qty", 25)
    return df.select(
        "grp",
        _r0(rf.rf_tile_sum(rf.rf_where(cond, "price", "qty")), 6).alias("s"),
    )


def _q_mask_by_value(spark, sf_dir):
    # mask qty where the 0/1 tile (qty>25) equals 1 -> keep only qty<=25 cells
    t = _tiles_df(spark, sf_dir)
    m = t.select("grp", rf.rf_mask_by_value("qty", rf.rf_local_greater("qty", 25), 1).alias("mq"))
    return m.select("grp", rf.rf_tile_sum("mq").alias("s"),
                    rf.rf_data_cells("mq").alias("n"))


def _q_clamp_abs(spark, sf_dir):
    t = _tiles_df(spark, sf_dir)
    return t.select(
        "grp",
        rf.rf_tile_sum(rf.rf_local_clamp("qty", 10, 40)).alias("clamp_sum"),
        rf.rf_tile_sum(rf.rf_abs(rf.rf_local_subtract("qty", 25))).alias("absdev_sum"),
    )


def _q_agg_stats(spark, sf_dir):
    t = _tiles_df(spark, sf_dir)
    s = t.agg(rf.rf_agg_stats("qty").alias("s")).select(
        F.col("s.data_cells").alias("data_cells"),
        F.col("s.no_data_cells").alias("no_data_cells"),
        F.col("s.min").alias("min_v"),
        F.col("s.max").alias("max_v"),
        _r0(F.col("s.mean"), 6).alias("mean_v"),
        _r0(F.col("s.variance"), 4).alias("var_v"),
    )
    return s


def _q_agg_mean_by_parity(spark, sf_dir):
    t = _tiles_df(spark, sf_dir)
    return (
        t.withColumn("parity", (F.col("grp") % 2).cast("int"))
        .groupBy("parity")
        .agg(_r0(rf.rf_agg_mean("qty"), 6).alias("mean_v"),
             rf.rf_agg_data_cells("qty").alias("n"))
    )


def _q_agg_local_grouped(spark, sf_dir):
    """Cell-wise grouped mean+data_cells via the unified agg_local API
    (aggregates/LocalStatsAggregate.scala:44-178): one stats tile set per
    parity, exploded back to cells for the SQL oracle. Also exercises the
    rank-aggregate path: agg_local(..., 'median') — the per-pixel exact
    median composite (explode -> percentile -> assemble), joined in as
    med_v against DuckDB's median()."""
    t = _tiles_df(spark, sf_dir).withColumn(
        "parity", (F.col("grp") % 2).cast("int"))
    m = rf.agg_local(t, "qty", "stats", ["parity"])
    ex = rf.explode_tiles(m, ["mean", "count"], keep_cols=["parity"])
    med = rf.agg_local(t, "qty", "median", ["parity"])
    med_ex = rf.explode_tiles(med, ["tile"], keep_cols=["parity"]).select(
        "parity", "column_index", "row_index",
        _r0(F.col("tile"), 6).alias("med_v"))
    out = ex.select(
        "parity", "column_index", "row_index",
        _r0(F.col("mean"), 6).alias("mean_v"),
        F.col("count").cast("long").alias("n"),
    ).where(F.col("mean_v").isNotNull())
    return out.join(med_ex, ["parity", "column_index", "row_index"], "left")


def _q_explode(spark, sf_dir):
    t = _tiles_df(spark, sf_dir)
    cells = rf.explode_tiles(t, ["qty"])
    return cells.where(F.col("qty").isNotNull()).select(
        "grp", "column_index", "row_index", F.col("qty").alias("cell")
    )


def _q_assemble_roundtrip(spark, sf_dir):
    t = _tiles_df(spark, sf_dir)
    cells = rf.explode_tiles(t, ["qty"]).where(F.col("qty").isNotNull())
    back = rf.assemble_tiles(cells, ["grp"], "column_index", "row_index", "qty",
                             TILE_COLS, TILE_ROWS, "float64")
    return back.select("grp", rf.rf_tile_sum("tile").alias("s"),
                       rf.rf_data_cells("tile").alias("n"))


def _q_tile_dimensions(spark, sf_dir):
    t = _tiles_df(spark, sf_dir)
    return t.select(
        "grp",
        rf.rf_dimensions("qty").getField("cols").alias("tile_cols"),
        rf.rf_dimensions("qty").getField("rows").alias("tile_rows"),
        rf.rf_cell_type("qty").alias("ct"),
    )


def _q_rescale(spark, sf_dir):
    t = _tiles_df(spark, sf_dir)
    return t.select(
        "grp",
        _r0(rf.rf_tile_sum(rf.rf_rescale("qty", 1.0, 50.0)), 6).alias("s"),
    )


def _q_agg_quantiles(spark, sf_dir):
    """Approx quantiles at accuracy 1e6: rank error < 1 on 16k cells, so the
    result equals DuckDB's discrete quantiles exactly (same Greenwald-Khanna
    family the reference reuses, ApproxCellQuantilesAggregate.scala:34-87)."""
    t = _tiles_df(spark, sf_dir)
    q = rf.rf_agg_approx_quantiles(t, "qty", [0.1, 0.25, 0.5, 0.75, 0.9],
                                   relative_error=1e-6)
    return q.select(F.explode("quantiles").alias("q"))


def _q_local_min_max(spark, sf_dir):
    df = _two_band(spark, sf_dir)
    return df.select(
        "grp",
        _r0(rf.rf_tile_sum(rf.rf_local_min("qty", F.col("price"))), 6).alias("min_sum"),
        _r0(rf.rf_tile_sum(rf.rf_local_max("qty", F.col("price"))), 6).alias("max_sum"),
    )


def _q_focal_mean(spark, sf_dir):
    """Focal mean vs SQL 3x3-neighborhood self-join oracle."""
    t = _tiles_df(spark, sf_dir)
    fm = t.select("grp", rf.rf_focal_mean("qty", "square-1", target="data").alias("fm"))
    cells = rf.explode_tiles(fm, ["fm"])
    return cells.where(F.col("fm").isNotNull()).select(
        "grp", "column_index", "row_index", _r0("fm", 6).alias("fm"))


def _q_tile_histogram(spark, sf_dir):
    """Exact value histogram per group vs SQL GROUP BY."""
    t = _tiles_df(spark, sf_dir)
    h = t.select("grp", F.explode(rf.rf_tile_histogram("qty")).alias("value", "n"))
    return h.select("grp", "value", "n")


def _q_resample_nearest(spark, sf_dir):
    """Downsample by 1/2: nearest == cells at even (row, col); plus the
    aggregate methods (Δr5, Resample.scala parity) — average/sum/max over
    2x2 blocks, NoData-skipping — mirrored blockwise in SQL."""
    t = _tiles_df(spark, sf_dir)
    d = t.select(
        "grp", rf.rf_resample_nearest("qty", 0.5).alias("ds"),
        rf.rf_resample("qty", 0.5, "average").alias("avg"),
        rf.rf_resample("qty", 0.5, "sum").alias("sm"),
        rf.rf_resample("qty", 0.5, "max").alias("mx"))
    return d.select(
        "grp", rf.rf_tile_sum("ds").alias("s"),
        rf.rf_data_cells("ds").alias("n"),
        _r0(rf.rf_tile_sum("avg"), 6).alias("avg_sum"),
        _r0(rf.rf_tile_sum("sm"), 6).alias("sum_sum"),
        _r0(rf.rf_tile_sum("mx"), 6).alias("max_sum"))


def _q_raster_join(spark, sf_dir):
    """raster_join on a synthetic grid: left tiles laid out 8-per-row, right
    = same tiles with extents shifted +half a tile east. The merged result
    is exactly computable in SQL by reindexing columns (see oracle)."""
    from rasterframes_spark.operators import raster_join

    t = _tiles_df(spark, sf_dir)
    col_ = (F.col("grp") % 8).cast("double")
    row_ = F.floor(F.col("grp") / 8).cast("double")
    ext = F.struct(
        (col_ * 16.0).alias("xmin"), (row_ * 16.0).alias("ymin"),
        (col_ * 16.0 + 16.0).alias("xmax"), (row_ * 16.0 + 16.0).alias("ymax"))
    left = t.select("grp", F.col("qty").alias("tile"), ext.alias("extent"),
                    F.lit("EPSG:32617").alias("crs"))
    rext = F.struct(
        (col_ * 16.0 + 8.0).alias("xmin"), (row_ * 16.0).alias("ymin"),
        (col_ * 16.0 + 24.0).alias("xmax"), (row_ * 16.0 + 16.0).alias("ymax"))
    right = t.select(F.col("qty").alias("tile"), rext.alias("extent"),
                     F.lit("EPSG:32617").alias("crs"))
    joined = raster_join(left, right, cell_size_deg=2.0)
    return joined.select(
        "grp",
        rf.rf_tile_sum("tile_right").alias("s"),
        rf.rf_data_cells("tile_right").alias("n"),
    )


def _q_z2_index(spark, sf_dir):
    """Z2 SFC of synthetic customer points vs SQL bit-interleave oracle."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    pts = cust.select(
        "c_custkey",
        ((F.col("c_custkey") % 360) - 180).cast("double").alias("x"),
        ((F.col("c_acctbal") % 170) / 170 * 80).alias("y"),
    )
    return pts.select("c_custkey", rf.rf_z2_index("x", "y").alias("z2"))


def _q_st_ops(spark, sf_dir):
    """st_point / st_distance / st_within arithmetic vs SQL."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    pts = cust.select(
        "c_custkey",
        rf.st_point(((F.col("c_custkey") % 360) - 180).cast("double"),
                    (F.col("c_acctbal") % 170) / 170 * 80).alias("pt"),
    )
    zone = rf.st_geom_from_wkt(F.lit("POLYGON ((-90 -40, 90 -40, 90 40, -90 40, -90 -40))"))
    origin = rf.st_point(F.lit(0.0), F.lit(0.0))
    return pts.select(
        "c_custkey",
        _r0(rf.st_distance("pt", origin), 6).alias("dist_origin"),
        rf.st_within("pt", zone).alias("in_zone"),
        _r0(rf.st_x(rf.st_centroid(rf.st_buffer_point("pt", 2.0))), 6).alias("buf_cx"),
    )


def _q_streaming_histogram(spark, sf_dir):
    """Two streaming/sketch families in one slot (r7 widens the r6 slot
    without dropping it):

    - 'hist': one-pass mergeable centroid histogram
      (HistogramAggregate.scala:45-125, Ben-Haim & Tom-Tov). qty has
      <= 80 distinct values, so the sketch is EXACT count-per-value
      regardless of partitioning — a closed-form group-by oracle.
    - 'neardup': streaming_neardup VALUE oracle (VERDICT r6 #8 — it was
      determinism-swept but never value-checked). The documents corpus
      plus exact copies replays through the REAL applyInPandasWithState
      LSH operator (availableNow one-shot, memory sink); emitted
      candidate pairs are exact-text verified (the production pattern)
      and orientation-normalized. At threshold=1.0 a pair emits iff the
      full 32-hash signatures match — identical texts always do — so
      the verified pair set is exactly the planted (d, d+1000000)
      copies, which DuckDB re-derives in closed form.
    """
    import uuid

    from rasterframes_spark import streaming as ST

    t = _tiles_df(spark, sf_dir)
    hist = rf.rf_agg_approx_histogram(t, "qty", num_buckets=80).select(
        F.lit("hist").alias("family"),
        F.col("value").cast("long").cast("string").alias("key"),
        F.col("count").cast("double").alias("val"))

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "documents.parquet").parquet(sf_dir)
              .select("doc_id", "text").where(F.col("doc_id") < 120))
    corpus = stream.unionByName(stream.select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"))
    pairs = ST.streaming_neardup(corpus, "doc_id", "text", shingle_size=3,
                                 num_perm=32, bands=16, threshold=1.0)
    name = f"rf_nd_{uuid.uuid4().hex[:8]}"
    q = (pairs.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text").where(F.col("doc_id") < 120))
    batch_corpus = docs.unionByName(docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"))
    emitted = (spark.table(name)
               .select(F.least("new_id", "prior_id").alias("id_a"),
                       F.greatest("new_id", "prior_id").alias("id_b"))
               .distinct())
    ta = batch_corpus.select(F.col("doc_id").alias("id_a"),
                             F.col("text").alias("__ta"))
    tb = batch_corpus.select(F.col("doc_id").alias("id_b"),
                             F.col("text").alias("__tb"))
    neardup = (emitted.join(ta, "id_a").join(tb, "id_b")
               .where(F.col("__ta") == F.col("__tb"))
               .select(F.lit("neardup").alias("family"),
                       F.concat_ws(":", F.col("id_a").cast("string"),
                                   F.col("id_b").cast("string")).alias("key"),
                       F.lit(1.0).alias("val")))
    return hist.unionByName(neardup)


def _q_focal_seams(spark, sf_dir):
    """Cross-tile focal correctness: a 32x32 image (groups 0-3 as
    quadrants) is chunked into four 16x16 core tiles assembled WITH a
    1-px halo of neighbor cells; rf_focal_mean(buffer=1) must equal the
    whole-image neighborhood mean INCLUDING at tile seams. Reference:
    BufferTile halo over-read, ref/RasterRef.scala:49-64 +
    focalops/FocalNeighborhoodOp.scala:35-62."""
    b = 1
    cells = _cells_df(spark, sf_dir).where(F.col("grp") < 4)
    g = cells.select(
        ((F.col("grp") % 2) * TILE_COLS + F.col("ci")).alias("gci"),
        (F.floor(F.col("grp") / 2).cast("int") * TILE_ROWS + F.col("ri")).alias("gri"),
        "qty",
    )
    tiles = spark.range(4).select(F.col("id").cast("int").alias("t"))
    tx = (F.col("t") % 2) * TILE_COLS
    ty = F.floor(F.col("t") / 2).cast("int") * TILE_ROWS
    joined = tiles.join(
        g,
        (F.col("gci") >= tx - b) & (F.col("gci") <= tx + TILE_COLS - 1 + b)
        & (F.col("gri") >= ty - b) & (F.col("gri") <= ty + TILE_ROWS - 1 + b),
    )
    local = joined.select(
        "t",
        (F.col("gci") - (tx - b)).cast("int").alias("ci"),
        (F.col("gri") - (ty - b)).cast("int").alias("ri"),
        "qty",
    )
    bt = rf.assemble_tiles(local, ["t"], "ci", "ri", "qty",
                           TILE_COLS + 2 * b, TILE_ROWS + 2 * b, "float64")
    foc = bt.select("t", rf.rf_focal_mean("tile", "square-1", buffer=b, target="data").alias("f"))
    out = rf.explode_tiles(foc, ["f"]).where(F.col("f").isNotNull())
    tx2 = (F.col("t") % 2) * TILE_COLS
    ty2 = F.floor(F.col("t") / 2).cast("int") * TILE_ROWS
    return out.select(
        (tx2 + F.col("column_index")).cast("int").alias("gci"),
        (ty2 + F.col("row_index")).cast("int").alias("gri"),
        _r0(F.col("f"), 6).alias("focal"),
    )


def _q_st_predicates(spark, sf_dir):
    """DE-9IM predicate surface (st_touches / st_overlaps / st_crosses /
    st_covers / st_contains / st_equals) on integer-grid geometries with a
    closed-form SQL oracle — boundary cases (shared edges, corner touches,
    point-on-edge) occur by construction.  Reference:
    SpatialRelation.scala:74-114, GeometryFunctionsSpec."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    g = cust.select(
        "c_custkey",
        (F.abs(F.floor("c_acctbal")).cast("long") % 9).alias("gx"),
        (F.col("c_custkey") % 9).alias("gy"),
        (F.col("c_custkey") % 7).alias("px"),
        (F.abs(F.floor("c_acctbal")).cast("long") % 7).alias("py"),
    )
    a = rf.st_geom_from_wkt(F.lit("POLYGON ((3 3, 6 3, 6 6, 3 6, 3 3))"))
    bwkt = F.format_string(
        "POLYGON ((%d %d, %d %d, %d %d, %d %d, %d %d))",
        F.col("gx"), F.col("gy"), F.col("gx") + 3, F.col("gy"),
        F.col("gx") + 3, F.col("gy") + 3, F.col("gx"), F.col("gy") + 3,
        F.col("gx"), F.col("gy"))
    lwkt = F.concat(
        F.lit("LINESTRING ("), F.col("gx").cast("string"), F.lit(" "),
        (F.col("gy") + 0.5).cast("string"), F.lit(", "),
        (F.col("gx") + 3).cast("string"), F.lit(" "),
        (F.col("gy") + 0.5).cast("string"), F.lit(")"))
    b = rf.st_geom_from_wkt(bwkt)
    line = rf.st_geom_from_wkt(lwkt)
    pt = rf.st_point(F.col("px").cast("double"), F.col("py").cast("double"))
    return g.select(
        "c_custkey",
        rf.st_touches(a, b).alias("touches_ab"),
        rf.st_overlaps(a, b).alias("overlaps_ab"),
        rf.st_equals(a, b).alias("equals_ab"),
        rf.st_crosses(line, a).alias("crosses_la"),
        rf.st_covers(a, pt).alias("covers_pt"),
        rf.st_contains(a, pt).alias("contains_pt"),
    )


def _q_st_constructors(spark, sf_dir):
    """Long-tail st_* constructor/accessor surface: typed WKT parsers,
    st_makePolygon/st_makeBox2D, st_pointN (incl. negative indexing),
    st_geometryN, st_boundary, st_dimension, shape predicates, casts —
    all with closed-form SQL answers. Reference export list:
    python/pyrasterframes/rasterfunctions.py:1092-1433."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    base = cust.select(
        "c_custkey",
        (F.col("c_custkey") % 100).cast("double").alias("x"),
        (F.col("c_custkey") % 50).cast("double").alias("y"),
    )
    lwkt = F.concat(
        F.lit("LINESTRING ("),
        F.col("x").cast("string"), F.lit(" "), F.col("y").cast("string"), F.lit(", "),
        (F.col("x") + 1).cast("string"), F.lit(" "), F.col("y").cast("string"), F.lit(", "),
        (F.col("x") + 1).cast("string"), F.lit(" "), (F.col("y") + 1).cast("string"),
        F.lit(")"))
    mpwkt = F.concat(
        F.lit("MULTIPOINT (("),
        F.col("x").cast("string"), F.lit(" "), F.col("y").cast("string"),
        F.lit("), ("),
        (F.col("x") + 2).cast("string"), F.lit(" "), (F.col("y") + 3).cast("string"),
        F.lit("))"))
    line = rf.st_lineFromText(lwkt)
    poly = rf.st_makePolygon(line)
    mp = rf.st_mPointFromText(mpwkt)
    box = rf.st_makeBox2D(rf.st_point("x", "y"),
                          rf.st_point(F.col("x") + 2, F.col("y") + 3))
    return base.select(
        "c_custkey",
        _r0(rf.st_x(rf.st_pointN(line, 2)), 6).alias("p2x"),
        _r0(rf.st_y(rf.st_pointN(line, -1)), 6).alias("ply"),
        _r0(rf.st_area(poly), 6).alias("tri_area"),
        _r0(rf.st_length(rf.st_boundary(poly)), 6).alias("perim"),
        rf.st_geometryType(rf.st_boundary(poly)).alias("btype"),
        rf.st_dimension(poly).alias("dim"),
        rf.st_isClosed(line).alias("closed"),
        rf.st_isRing(rf.st_exteriorRing(poly)).alias("ring"),
        rf.st_numGeometries(mp).alias("ng"),
        _r0(rf.st_x(rf.st_geometryN(mp, 2)), 6).alias("g2x"),
        _r0(rf.st_area(box), 6).alias("box_area"),
        rf.st_isEmpty(line).alias("emp"),
        rf.st_castToPolygon(line).isNull().alias("badcast"),
    )


def _q_rasterize(spark, sf_dir):
    """Burn per-region boxes into 8x8 tiles; covered-cell count is closed-form
    in SQL (pixel centers at (j+0.5), box edges at non-half offsets)."""
    reg = spark.read.parquet(f"{sf_dir}/region.parquet")
    # box x∈[0.3, 2.4+k], y∈[0.3, 3.6] inside extent (0,0,8,8); k = regionkey
    box = F.concat(
        F.lit("POLYGON ((0.3 0.3, "),
        (F.col("r_regionkey") + F.lit(2.4)).cast("string"), F.lit(" 0.3, "),
        (F.col("r_regionkey") + F.lit(2.4)).cast("string"), F.lit(" 3.6, "),
        F.lit("0.3 3.6, 0.3 0.3))"),
    )
    t = reg.select(
        "r_regionkey",
        rf.rf_rasterize(rf.st_geom_from_wkt(box),
                        rf.extent_struct(F.lit(0), F.lit(0), F.lit(8), F.lit(8)),
                        F.col("r_regionkey") + 1, 8, 8).alias("t"),
    )
    return t.select("r_regionkey", rf.rf_data_cells("t").alias("n"),
                    rf.rf_tile_sum("t").alias("s"))


def _events_df(spark, sf_dir):
    """events with ts normalized to TIMESTAMP (ltz) under a UTC session tz.

    The driver's parquet has shipped with three ts encodings over time:
    TIMESTAMP(NANOS) (readable only as long nanos under
    legacy.parquet.nanosAsLong), TIMESTAMP(MICROS, adjusted) -> timestamp,
    and TIMESTAMP(MICROS, unadjusted) -> timestamp_ntz.  unix_micros/
    date_trunc want ltz, and the DuckDB oracle sees naive micros — so pin the
    session tz to UTC (making the ntz->ltz cast a no-op on the underlying
    micros) and cast whatever we got to a plain timestamp."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(ev.dtypes)["ts"]
    if ts_type == "bigint":
        ev = ev.withColumn("ts", F.timestamp_micros((F.col("ts") / 1000).cast("long")))
    elif ts_type != "timestamp":
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    return ev


def _q_events_weekly(spark, sf_dir):
    """Time-series rollup (the reference's docs time-series workflow,
    python/docs/time-series.pymd — plain groupBy, inherited from Spark)."""
    ev = _events_df(spark, sf_dir)
    return (
        ev.groupBy(F.date_trunc("week", "ts").alias("week"), "event_type")
        .agg(F.count("*").alias("n"), _r0(F.sum("value"), 6).alias("total"))
    )


def _q_events_sessions(spark, sf_dir):
    """Sessionization via window lag — 30-min gap starts a new session."""
    ev = _events_df(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Compare gaps in integer microseconds (unix_timestamp truncates to
    # whole seconds, which diverges from a fractional-seconds oracle).
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    return (
        ev.withColumn("new_session", F.when(gap > 1800 * 1_000_000, 1).otherwise(0))
        .groupBy("user_id")
        .agg((F.sum("new_session") + 1).alias("n_sessions"),
             F.count("*").alias("n_events"))
    )


def _q_events_topk(spark, sf_dir):
    """Top-3 users per event_type by total value — window rank."""
    ev = _events_df(spark, sf_dir)
    totals = ev.groupBy("event_type", "user_id").agg(
        _r0(F.sum("value"), 6).alias("total"))
    w = Window.partitionBy("event_type").orderBy(F.desc("total"), F.asc("user_id"))
    return (
        totals.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
    )


# ---------------------------------------------------------------------------
# LLM-pipeline queries on documents / embeddings
# ---------------------------------------------------------------------------


def _q_pyramid(spark, sf_dir):
    """pyramid_up (2x2 children -> half-res parent, NoData-aware 2x2 mean
    pool; one applyInPandas shuffle per level) on an 8x8 mosaic of the
    synthesized tiles vs SQL mean pooling over canvas coordinates."""
    t = _tiles_df(spark, sf_dir)
    gx = (F.col("grp") % 8).cast("int")
    gy = (F.col("grp") / 8).cast("int")
    layer = t.select(
        F.struct(gx.alias("col"), gy.alias("row")).alias("spatial_key"),
        F.col("qty").alias("tile"),
        F.struct(
            (gx.cast("double") * 16.0).alias("xmin"),
            ((7 - gy).cast("double") * 16.0).alias("ymin"),
            (gx.cast("double") * 16.0 + 16.0).alias("xmax"),
            ((7 - gy).cast("double") * 16.0 + 16.0).alias("ymax"),
        ).alias("extent"),
    )
    up = rf.pyramid_up(layer)
    ex = rf.explode_tiles(up, ["tile"], keep_cols=["spatial_key"])
    return ex.select(
        F.col("spatial_key.col").alias("px"),
        F.col("spatial_key.row").alias("py"),
        "column_index", "row_index",
        _r0("tile", 6).alias("v"),
    ).where(F.col("v").isNotNull())


def _q_lsh_ann(spark, sf_dir):
    """Hyperplane-LSH ANN (bucketed equi-join + exact rerank) with a FULL
    SQL mirror: the seeded random planes are embedded as literals and
    DuckDB recomputes the sign-bit buckets with list_dot_product — the
    bucketing, candidate join, and rerank are all value-hash verified."""
    from rasterframes_spark import pipeline as P

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.orderBy("vec_id").limit(4).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return P.lsh_ann_topk(emb, queries, k=5, n_planes=6, dim=64)


def _lsh_planes_sql(n_planes: int = 6, dim: int = 64, seed: int = 42) -> str:
    """The same planes hyperplane_bucket draws (seeded numpy), as SQL
    VALUES rows (plane_id, list-of-doubles)."""
    import numpy as np
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    rows = []
    for i, p in enumerate(planes):
        lst = ", ".join(repr(float(v)) for v in p)
        rows.append(f"({i}, [{lst}]::double[])")
    return ",\n                ".join(rows)


def _q_overview(spark, sf_dir):
    """rf_agg_overview_raster (TileRasterizerAggregate.scala analog): the
    8x8 tile mosaic painted onto an aligned 128x128 canvas — nearest
    sampling on an exactly-aligned grid is the identity, so the oracle is
    the cells themselves at mosaic coordinates. The aggregate's partial
    canvases merge per partition; the driver-held result re-enters Spark as
    an exploded cells DataFrame for the compare."""
    import numpy as np
    import pandas as pd
    t = _tiles_df(spark, sf_dir)
    gx = (F.col("grp") % 8).cast("double")
    gy = (F.col("grp") / 8).cast("int").cast("double")
    t = t.withColumn("extent", F.struct(
        (gx * 16.0).alias("xmin"),
        (128.0 - (gy + 1) * 16.0).alias("ymin"),
        (gx * 16.0 + 16.0).alias("xmax"),
        (128.0 - gy * 16.0).alias("ymax"),
    )).withColumn("crs", F.lit("EPSG:4326"))
    tile = rf.rf_agg_overview_raster(
        t, "qty", "extent", "crs", cols=128, rows=128,
        dest_extent=(0.0, 0.0, 128.0, 128.0))
    a = tile.masked().astype("float64")
    ri, ci = np.nonzero(~np.ma.getmaskarray(a))
    pdf = pd.DataFrame({
        "column_index": ci.astype("int32"), "row_index": ri.astype("int32"),
        "v": np.round(np.asarray(a)[ri, ci], 6)})
    return spark.createDataFrame(
        pdf, schema="column_index int, row_index int, v double")


def _q_zonal_stats(spark, sf_dir):
    """First-class zonal_stats operator (zones broadcast -> bbox-overlap
    join -> one per-(tile, zone) cell-statistics partial -> per-zone agg;
    the reference python/docs/zonal-algebra.pymd workflow without its mask
    tile) on an 8x8 mosaic of the synthesized tiles; the oracle is a
    pixel-center point-in-rectangle filter + group-by in SQL."""
    t = _tiles_df(spark, sf_dir)
    gx = (F.col("grp") % 8).cast("double")
    gy = (F.col("grp") / 8).cast("int").cast("double")
    t = t.withColumn("extent", F.struct(
        (gx * 16.0).alias("xmin"), (gy * 16.0).alias("ymin"),
        (gx * 16.0 + 16.0).alias("xmax"), (gy * 16.0 + 16.0).alias("ymax")))
    zones = spark.createDataFrame([
        {"zone_id": 1, "wkt": "POLYGON ((3.25 5.25, 40.75 5.25, 40.75 30.75, "
                              "3.25 30.75, 3.25 5.25))"},
        {"zone_id": 2, "wkt": "POLYGON ((60.25 70.25, 100.75 70.25, "
                              "100.75 120.75, 60.25 120.75, 60.25 70.25))"},
    ]).select("zone_id", rf.st_geom_from_wkt("wkt").alias("geom"))
    out = rf.zonal_stats(t, zones, tile_col="qty",
                         stats=("mean", "data_cells", "sum"))
    # Δr5: st_join (operators/vector_join.py) pinned by the same
    # closed-form rectangle membership — pixel-center points spatially
    # joined to the zone polygons through the grid-bucket equi-join path
    from rasterframes_spark.operators import st_join

    cells = _cells_df(spark, sf_dir)
    px = (F.col("grp") % 8) * 16.0 + F.col("ci") + 0.5
    py = (F.col("grp") / 8).cast("int") * 16.0 + 16.0 - (F.col("ri") + 0.5)
    pts = cells.select("grp", "ci", "ri",
                       rf.st_point(px, py).alias("geometry"))
    jn = st_join(pts, zones, geom_right="geom", predicate="within",
                 grid_size=16.0)
    cnt = jn.groupBy("zone_id").agg(F.count("*").alias("pts_n"))
    return out.join(cnt, "zone_id").select(
        "zone_id", _r0("mean", 6).alias("mean_v"),
        F.col("data_cells").cast("long").alias("n"),
        _r0("sum", 6).alias("sum_v"),
        F.col("pts_n").cast("long").alias("pts_n"))


def _q_dem_composite(spark, sf_dir):
    """Horn's-method DEM derivatives in ONE pass — rf_slope
    (focalops/Slope.scala:51-89), rf_aspect (Aspect.scala:49-83, degrees
    CW from north, flat -> 0) and rf_hillshade (Hillshade.scala:54-103)
    over the same unit grid, vs one closed-form SQL oracle: 8
    clamped-neighbor self-joins reproduce the edge-replicated 3x3
    gradients; inner joins drop exactly the cells the kernel masks.
    (Merged from the separate slope/aspect/hillshade r5 queries to free
    oracle slots; same CTE base, three result columns.)"""
    t = _tiles_df(spark, sf_dir)
    t = t.withColumn("extent", F.struct(
        F.lit(0.0).alias("xmin"), F.lit(0.0).alias("ymin"),
        F.lit(float(TILE_COLS)).alias("xmax"), F.lit(float(TILE_ROWS)).alias("ymax")))
    s = t.select(
        "grp",
        rf.rf_slope("qty", "extent", target="data").alias("slope_t"),
        rf.rf_aspect("qty", "extent", target="data").alias("asp_t"),
        rf.rf_hillshade("qty", "extent", target="data").alias("hs_t"))
    ex = rf.explode_tiles(s, ["slope_t", "asp_t", "hs_t"], keep_cols=["grp"])
    return ex.select(
        "grp", "column_index", "row_index",
        _r0("slope_t", 6).alias("slope_v"),
        _r0("asp_t", 6).alias("aspect_v"),
        F.col("hs_t").cast("long").alias("shade"),
    ).where(F.col("slope_v").isNotNull() & F.col("aspect_v").isNotNull()
            & F.col("shade").isNotNull())


def _q_knn_dwithin(spark, sf_dir):
    """st_knn_join (operators/vector_join.py): bounded-radius KNN through
    the dwithin grid-bucket equi-join + per-left rank window, vs a DuckDB
    least-distance rank oracle. Output carries (query id, rank, rounded
    distance) — rank ties share a distance value, so the compare is
    order-insensitive-deterministic."""
    from rasterframes_spark.operators import st_knn_join

    cells = _cells_df(spark, sf_dir)
    px = (F.col("grp") % 8) * 16.0 + F.col("ci") + 0.5
    py = (F.col("grp") / 8).cast("int") * 16.0 + 16.0 - (F.col("ri") + 0.5)
    pts = cells.select(rf.st_point(px, py).alias("geometry"))
    qx = (F.col("grp") % 8) * 16.0 + 8.0
    qy = (F.col("grp") / 8).cast("int") * 16.0 + 8.0
    queries_df = (cells.select("grp").distinct()
                  .select(F.col("grp").alias("qid"),
                          rf.st_point(qx, qy).alias("geometry")))
    kj = st_knn_join(queries_df, pts, k=4, max_distance=2.5, grid_size=16.0)
    return kj.select(
        F.col("qid").cast("long").alias("qid"),
        F.col("knn_rank").cast("long").alias("knn_rank"),
        _r0("distance", 6).alias("dist_v"))


def _q_focal_targets(spark, sf_dir):
    """GeoTrellis TargetCell semantics on rf_focal_mean
    (util/package.scala:275-283): target='all' gap-fills NoData centers
    from their neighborhood; target='nodata' keeps data cells' input
    values and computes only at NoData cells. The r5 gate pinned only
    target='data'; this pins the other two modes cell-by-cell."""
    t = _tiles_df(spark, sf_dir)
    s = t.select(
        "grp",
        rf.rf_focal_mean("qty", "square-1", "all").alias("fa"),
        rf.rf_focal_mean("qty", "square-1", target="nodata").alias("fn"))
    ex = rf.explode_tiles(s, ["fa", "fn"], keep_cols=["grp"])
    return ex.select(
        "grp", "column_index", "row_index",
        _r0("fa", 6).alias("v_all"),
        _r0("fn", 6).alias("v_nodata"),
    ).where(F.col("v_all").isNotNull())


def _q_streaming_sessions(spark, sf_dir):
    """The applyInPandasWithState gap sessionizer run as a REAL stream
    (file source, availableNow one-shot, memory sink) and checked against
    a closed-form SQL oracle. With no wall-clock timeouts firing in a
    one-shot run, the operator emits exactly the sessions closed by a
    subsequent event — i.e. every session except each user's last — and
    the kernel gaps in floor-seconds; the oracle mirrors both.
    """
    import uuid
    from rasterframes_spark import streaming as ST

    ev = _events_df(spark, sf_dir)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # file stream sources take a directory; glob down to the events file
    stream = (spark.readStream.schema(raw_schema)
              .option("pathGlobFilter", "events.parquet").parquet(sf_dir))
    ts_type = dict(stream.dtypes)["ts"]
    if ts_type == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long")))
    elif ts_type != "timestamp":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    sessions = ST.stateful_sessionizer(
        stream.select("user_id", "ts", "value"), gap_seconds=1800,
        timeout="none")
    name = f"rf_ss_{uuid.uuid4().hex[:8]}"
    q = (sessions.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    _ = ev  # session tz normalization side effect
    return (
        spark.table(name).groupBy("user_id")
        .agg(F.count("*").cast("long").alias("n_closed"),
             F.sum("n_events").cast("long").alias("n_events_closed"),
             _r0(F.sum("total_value"), 6).alias("total_closed"))
    )


def _q_layer_center(spark, sf_dir):
    """Fluent layer helpers (with_bounds/with_center — reference
    rf_types.py:144-161) over synthetic per-customer extents; the oracle is
    closed-form midpoint/area math."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").where(
        F.col("c_custkey") <= 500)
    ext = cust.select(
        "c_custkey",
        F.struct(
            (F.col("c_custkey") % 360 - 180.0).alias("xmin"),
            (F.col("c_custkey") % 140 - 70.0).alias("ymin"),
            (F.col("c_custkey") % 360 - 178.0).alias("xmax"),
            (F.col("c_custkey") % 140 - 69.0).alias("ymax"),
        ).alias("extent"),
        F.lit("EPSG:4326").alias("crs"),
    )
    from rasterframes_spark.geom.functions import st_area, st_x, st_y
    out = ext.with_bounds().with_center()
    return out.select(
        "c_custkey",
        _r0(st_x("center"), 6).alias("cx"),
        _r0(st_y("center"), 6).alias("cy"),
        _r0(st_area("bounds"), 6).alias("bounds_area"),
    )


def _q_agg_extent(spark, sf_dir):
    """rf_agg_extent + rf_agg_reprojected_extent (4326 -> web mercator)
    over the same synthetic extents. 4326->3857 is monotone per axis, so
    the aggregated reprojected bbox equals the closed-form mercator
    transform of the aggregated corners — same floats both sides."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").where(
        F.col("c_custkey") <= 500)
    ext = cust.select(
        F.struct(
            (F.col("c_custkey") % 360 - 180.0).alias("xmin"),
            (F.col("c_custkey") % 140 - 70.0).alias("ymin"),
            (F.col("c_custkey") % 360 - 178.0).alias("xmax"),
            (F.col("c_custkey") % 140 - 69.0).alias("ymax"),
        ).alias("extent"),
        F.lit("EPSG:4326").alias("crs"))
    agg = ext.agg(
        rf.rf_agg_extent("extent").alias("e"),
        rf.rf_agg_reprojected_extent("extent", "crs", "EPSG:3857").alias("re"))
    return agg.select(
        F.col("e.xmin").alias("xmin"), F.col("e.ymin").alias("ymin"),
        F.col("e.xmax").alias("xmax"), F.col("e.ymax").alias("ymax"),
        _r0(F.col("re.xmin"), 4).alias("mxmin"),
        _r0(F.col("re.ymin"), 4).alias("mymin"),
        _r0(F.col("re.xmax"), 4).alias("mxmax"),
        _r0(F.col("re.ymax"), 4).alias("mymax"))


def _q_media_suite(spark, sf_dir):
    """Composite media-container oracle: per-doc WAV (real RIFF codec:
    encode -> decode_audio -> audio_features, bit-exact float64), MP3
    (real MPEG frame-header walk in audio_metadata), MP4 (real ISO-BMFF
    demux: video_metadata sample/keyframe counts plus the
    keyframe-aligned demux_video_samples row count), WebM (r7: EBML
    cluster walk — block/keyframe counts and muxer duration across
    cluster boundaries through the same two video operators), and FLAC
    (r7: the
    full compressed codec — Rice/fixed-predictor encode, distributed
    bitstream decode, features on the reconstructed samples). Every
    number the Spark side produces by parsing real container bytes, the
    DuckDB oracle recomputes in closed form from the same doc_id
    parameters — for FLAC that means the decode must be EXACT for the
    rms to match, so the whole Rice+predictor chain is inside the
    gate.

    r8 adds four document-extraction families: man (troff through the
    unified dispatcher — GZIPPED for odd doc_ids, so sniff-through-gzip
    is gated), markdown (the pure-Catalyst renderer on SQL-built
    source), and a MIXED-corpus family where one payload per doc
    (format keyed doc_id%5) must sniff to the right format for mix_fmt
    and the per-format closed-form mix_chars to line up — the dispatch
    itself is inside the hash check."""
    import numpy as np
    from rasterframes_spark import pipeline as P
    from rasterframes_spark.pipeline.audio import encode_wav
    from rasterframes_spark.sources.flac import encode_flac
    from rasterframes_spark.sources.mp4 import write_mp4
    from rasterframes_spark.sources.mpeg_audio import write_mp3_frames
    from rasterframes_spark.sources.office import write_docx, write_epub
    from rasterframes_spark.sources.pdf import write_pdf
    from rasterframes_spark.sources.webm import write_webm

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id").where(F.col("doc_id") < 64)

    def synth(batches):
        import zlib

        import pandas as pd
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                f = 100.0 + (d % 8) * 50.0
                n = 1000 + (d % 5) * 200
                a = 0.1 + (d % 9) * 0.1
                k = np.arange(n)
                x = a * np.sin(2 * np.pi * f * k / 8000.0)
                wav = encode_wav(x, 8000, bits=64, fmt="float")
                nf = 10 + d % 20
                mp3 = write_mp3_frames(nf, kbps=64, rate=8000, channels=1)
                ns = 4 + d % 13
                smp = [bytes([d % 256]) * (20 + j) for j in range(ns)]
                mp4 = write_mp4(smp, [33] * ns, timescale=1000,
                                sync=[j % 3 == 0 for j in range(ns)])
                nfl = 800 + (d % 7) * 150
                kk = np.arange(1, nfl + 1, dtype=np.int64)
                xi = ((d + 3) * kk * 2654435761) % 20001 - 10000
                fl = encode_flac(xi, 8000, bps=16)
                # WebM leg: nw frames 170 ms apart (crosses the muxer's
                # 1000 ms cluster boundary from nw >= 7), keyframe every
                # 4th — the EBML walk must count blocks and key flags
                # across clusters for the closed forms to agree
                nw = 3 + d % 11
                wfr = [bytes([d % 256]) * (16 + j) for j in range(nw)]
                wm = write_webm(wfr, [j * 170 for j in range(nw)],
                                [j % 4 == 0 for j in range(nw)])
                # PDF leg: page texts are doc_id arithmetic, and the
                # extractor's round-trip is exact — so extracted char
                # counts are closed-form
                p1 = f"alpha beta gamma delta {d}."
                p2 = "word " * (3 + d % 5) + "tail."
                pdfb = write_pdf([p1] + [p2] * (d % 3))
                # HTML leg: nav boilerplate must be pruned, paragraphs
                # joined by block newlines — char counts are doc_id
                # arithmetic
                paras = "".join(f"<p>para {d} word{j} text.</p>"
                                for j in range(1 + d % 4))
                htm = (f"<html lang='en'><head><title>Doc {d}</title>"
                       f"</head><body><nav><a>skip</a> me</nav>"
                       f"{paras}</body></html>").encode()
                # DOCX/EPUB legs via the unified document dispatcher;
                # paragraph/chapter texts are doc_id arithmetic
                dx = write_docx([[f"dx {d} item {j} end."]
                                 for j in range(1 + d % 3)])
                ep = write_epub(
                    [f"<html><body><p>ch {d} {k} text.</p></body></html>"
                     for k in range(1 + d % 2)])
                # man leg: troff page — '.TH' drops, '.SH NAME' keeps
                # its arg, body lines pass through, so the extracted
                # text is 'NAME\\n' + 1+d%3 lines of 'mm {d} k{j} end.'
                # Odd doc_ids ship gzip-compressed (the /usr/share/man
                # convention); the closed form is identical either way,
                # gating the sniff-through-gzip path too
                man = (".\\\" synth fixture\n.TH X 1\n.SH NAME\n"
                       + "".join(f"mm {d} k{j} end.\n"
                                 for j in range(1 + d % 3))).encode()
                if d % 2:
                    co = zlib.compressobj(wbits=31)
                    man = co.compress(man) + co.flush()
                # mixed leg: ONE payload per doc, format keyed by d%5 —
                # the dispatcher must sniff it right for mix_fmt and the
                # per-format closed-form mix_chars to line up
                mixed = (pdfb, dx, ep, htm,
                         f"plain {d} tail.".encode())[d % 5]
                rows.append((d, bytearray(wav), bytearray(mp3),
                             bytearray(mp4), bytearray(fl), bytearray(wm),
                             bytearray(pdfb), bytearray(htm),
                             bytearray(dx), bytearray(ep),
                             bytearray(man), bytearray(mixed)))
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=["media_id", "wav", "mp3", "mp4", "flac",
                             "webm", "pdf", "html", "docx", "epub",
                             "man", "mixed"])

    media = docs.mapInPandas(
        synth, schema=("media_id long, wav binary, mp3 binary, "
                       "mp4 binary, flac binary, webm binary, pdf binary, "
                       "html binary, docx binary, epub binary, "
                       "man binary, mixed binary"))
    media = media.localCheckpoint(eager=False)
    wav_df = media.select("media_id", F.col("wav").alias("payload"))
    mp3_df = media.select("media_id", F.col("mp3").alias("payload"))
    mp4_df = media.select("media_id", F.col("mp4").alias("payload"))
    flac_df = media.select("media_id", F.col("flac").alias("payload"))
    decoded = P.decode_audio(wav_df, decode="wav").localCheckpoint(
        eager=False)
    feats = P.audio_features(decoded).select(
        "media_id", "duration_ms", _r0("rms", 6).alias("rms_v"))
    # resample leg: 8000 -> 12000 linear; DuckDB re-derives the
    # interpolated samples closed-form (same integer-multiply-then-
    # one-float-divide position arithmetic), so the whole interp kernel
    # must be bit-faithful for the rms to agree at 6 digits
    rsf = P.audio_features(P.resample_audio(decoded, 12000)).select(
        "media_id",
        F.col("duration_ms").alias("rs_duration_ms"),
        _r0("rms", 6).alias("rs_rms"))
    mp3m = P.audio_metadata(mp3_df).select(
        "media_id",
        F.col("duration_ms").alias("mp3_duration_ms"),
        F.col("bitrate_kbps").alias("mp3_bitrate_kbps"))
    mp4m = P.video_metadata(mp4_df).select(
        "media_id",
        F.col("n_samples").cast("long").alias("mp4_n_samples"),
        F.col("n_keyframes").cast("long").alias("mp4_n_keyframes"))
    demux = (P.demux_video_samples(mp4_df, every_ms=100, keyframes_only=True)
             .groupBy("media_id")
             .agg(F.count("*").alias("mp4_demux_rows")))
    # decode='auto' also exercises the magic-byte sniff path
    flacf = P.audio_features(P.decode_audio(flac_df, decode="auto")).select(
        "media_id",
        F.col("duration_ms").alias("flac_duration_ms"),
        _r0("rms", 6).alias("flac_rms"))
    webm_df = media.select("media_id", F.col("webm").alias("payload"))
    webmm = P.video_metadata(webm_df).select(
        "media_id",
        F.col("duration_ms").alias("webm_duration_ms"),
        F.col("n_samples").cast("long").alias("webm_n_samples"),
        F.col("n_keyframes").cast("long").alias("webm_n_keyframes"))
    wdemux = (P.demux_video_samples(webm_df, every_ms=100,
                                    keyframes_only=True)
              .groupBy("media_id")
              .agg(F.count("*").alias("webm_demux_rows")))
    pdf_df = media.select("media_id", F.col("pdf").alias("payload"))
    pdfm = (P.extract_pdf_text(pdf_df)
            .groupBy("media_id")
            .agg(F.count("*").cast("long").alias("pdf_pages"),
                 F.sum(F.length(F.btrim("text", F.lit(" \n\r\t"))))
                 .cast("long").alias("pdf_chars")))
    html_df = media.select("media_id", F.col("html").alias("payload"))
    htmlm = P.extract_html_text(html_df).select(
        "media_id",
        F.length("text").cast("long").alias("html_chars"),
        F.length("title").cast("long").alias("html_title_len"))
    # DOCX/EPUB through the UNIFIED dispatcher (sniff included in the
    # gate): format must come back right for the chars to join up
    dxm = (P.extract_document_text(
        media.select("media_id", F.col("docx").alias("payload")))
        .where(F.col("format") == "docx")
        .select("media_id",
                F.length("text").cast("long").alias("docx_chars")))
    epm = (P.extract_document_text(
        media.select("media_id", F.col("epub").alias("payload")))
        .where(F.col("format") == "epub")
        .select("media_id",
                F.length("text").cast("long").alias("epub_chars")))
    # man leg through the SAME dispatcher: sniff must classify the
    # troff page (plain for even ids, gzipped for odd) as 'man' and
    # read_man_text must render 'NAME' + the closed-form body lines
    manm = (P.extract_document_text(
        media.select("media_id", F.col("man").alias("payload")))
        .where(F.col("format") == "man")
        .select("media_id",
                F.length("text").cast("long").alias("man_chars")))
    # mixed-corpus leg: one payload per doc, format keyed by doc_id%5 —
    # gates the sniffing dispatch itself (a misclassified row either
    # drops out of the inner join or char-counts wrong)
    mixm = (P.extract_document_text(
        media.select("media_id", F.col("mixed").alias("payload")))
        .select("media_id", F.col("format").alias("mix_fmt"),
                F.length("text").cast("long").alias("mix_chars")))
    # markdown leg: the renderer is a pure Catalyst regexp chain, so
    # the source markdown is BUILT in SQL from media_id and the
    # stripped text's length is closed-form doc_id arithmetic
    did = F.col("media_id").cast("string")
    mdsrc = F.concat(
        F.lit("# T "), did, F.lit("\n"),
        F.lit("**b"), did, F.lit("** w.\n"),
        F.concat_ws("", F.transform(
            F.sequence(F.lit(0), (F.col("media_id") % 4).cast("int")),
            lambda j: F.concat(F.lit("- li "), j.cast("string"),
                               F.lit(" "), did, F.lit(" e.\n")))),
        F.lit("[a"), did, F.lit("](u) end."))
    mdm = media.select(
        "media_id",
        F.length(P.markdown_to_text(mdsrc)).cast("long").alias("md_chars"))
    return (feats.join(mp3m, "media_id").join(mp4m, "media_id")
            .join(demux, "media_id").join(flacf, "media_id")
            .join(webmm, "media_id").join(wdemux, "media_id")
            .join(rsf, "media_id").join(pdfm, "media_id")
            .join(htmlm, "media_id").join(dxm, "media_id")
            .join(epm, "media_id").join(manm, "media_id")
            .join(mixm, "media_id").join(mdm, "media_id")
            .select(F.col("media_id").alias("doc_id"), "duration_ms",
                    "rms_v", "mp3_duration_ms", "mp3_bitrate_kbps",
                    "mp4_n_samples", "mp4_n_keyframes", "mp4_demux_rows",
                    "flac_duration_ms", "flac_rms",
                    "webm_duration_ms", "webm_n_samples",
                    "webm_n_keyframes", "webm_demux_rows",
                    "rs_duration_ms", "rs_rms",
                    "pdf_pages", "pdf_chars",
                    "html_chars", "html_title_len",
                    "docx_chars", "epub_chars",
                    "man_chars", "mix_fmt", "mix_chars", "md_chars"))


def _q_text_metrics(spark, sf_dir):
    from rasterframes_spark import pipeline as P

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        P.token_count("text").alias("n_tokens"),
        P.bpe_ish_token_count("text").alias("n_bpe"),
        P.char_count("text").alias("n_chars_m"),
        _r0(P.distinct_token_ratio("text"), 6).alias("distinct_ratio"),
        P.doc_fingerprint("text").alias("fingerprint"),
    )


def _q_text_quality(spark, sf_dir):
    """language_id + quality_score (pipeline/text.py) + the r7 char-LM
    perplexity scorer (pipeline/lm_quality.py) in one family-keyed
    query.  The 'ppl' family is the full CCNet pipeline end-to-end:
    DISTRIBUTED bigram/unigram training on a doc_id<300 sample, then
    every document scored in bits/char — DuckDB re-derives the training
    counts, the vocabulary size, and every score in closed form."""
    from rasterframes_spark import pipeline as P

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lang = (docs.select(P.language_id("text").alias("lang_pred"))
            .groupBy("lang_pred")
            .agg(F.count("*").cast("double").alias("val"))
            .select(F.lit("lang").alias("family"),
                    F.col("lang_pred").alias("key"), "val"))
    qual = docs.select(
        F.lit("q").alias("family"),
        F.col("doc_id").cast("string").alias("key"),
        _r0(P.quality_score("text"), 6).alias("val"))
    # top_grams=None pins the oracle config to exact uncapped counts
    # (DuckDB re-derives the full gram table; the default driver cap
    # would be invisible at this scale but the pin makes it explicit).
    model = P.train_char_lm(docs.where(F.col("doc_id") < 300),
                            "text", order=2, alpha=0.1, top_grams=None)
    ppl = (P.lm_bits_per_char(
        docs.where(F.length("text") >= 2).select("doc_id", "text"), model)
        .select(F.lit("ppl").alias("family"),
                F.col("doc_id").cast("string").alias("key"),
                _r0("lm_bits_per_char", 6).alias("val")))
    return lang.unionByName(qual).unionByName(ppl)


def _q_render_ramp(spark, sf_dir):
    """rf_render_color_ramp_png (functions/proj_raster.py, reference
    transformers/RenderPNG.scala:47-81): tile -> per-tile min/max
    normalization -> 256-entry interpolated viridis LUT -> PNG bytes,
    decoded back by the pure-python PNG codec into per-pixel RGB rows.
    The DuckDB oracle recomputes the normalization, uint8 quantization
    and anchor interpolation independently (same anchor constants,
    different implementation), pinning the whole ramp+render+decode
    pipeline cell-by-cell."""
    import pandas as pd

    t = _tiles_df(spark, sf_dir)
    png = t.select("grp", rf.rf_render_color_ramp_png("qty", "viridis").alias("png"))

    def dec(batches):
        from rasterframes_spark.sources.png import decode_png

        for pdf in batches:
            out = {"grp": [], "column_index": [], "row_index": [],
                   "r": [], "g": [], "b": []}
            for grp, data in zip(pdf["grp"], pdf["png"]):
                arr = decode_png(bytes(data))
                h, w = arr.shape[0], arr.shape[1]
                for ri in range(h):
                    for ci in range(w):
                        out["grp"].append(int(grp))
                        out["column_index"].append(ci)
                        out["row_index"].append(ri)
                        out["r"].append(int(arr[ri, ci, 0]))
                        out["g"].append(int(arr[ri, ci, 1]))
                        out["b"].append(int(arr[ri, ci, 2]))
            yield pd.DataFrame(out)

    return png.mapInPandas(
        dec, schema="grp int, column_index int, row_index int, "
                    "r long, g long, b long")


# viridis anchors (shared ramp definition, mirrored into the oracle SQL —
# the oracle interpolates them independently of _ramp_lut)
_VIRIDIS_ANCHORS = [(68, 1, 84), (70, 50, 127), (54, 92, 141), (39, 127, 142),
                    (31, 161, 135), (74, 194, 109), (159, 218, 58),
                    (253, 231, 37)]


def _viridis_lut_cte() -> str:
    """SQL CTEs computing the 256-entry viridis LUT from the anchor
    constants: segment k covers [k*(255/7), (k+1)*(255/7)) (endpoint
    forced to 255), value = y0 + (y1-y0)/(x1-x0)*(i-x0), truncated to
    uint8 — bit-parity with numpy.interp verified for these anchors."""
    anchors = ", ".join(f"({k}, {r}, {g}, {b})"
                        for k, (r, g, b) in enumerate(_VIRIDIS_ANCHORS))
    return f"""
            , anchors(k, ar, ag, ab) as (values {anchors})
            , seg as (
              select k, k * (255.0/7.0) as x0,
                     case when k = 6 then 255.0
                          else (k+1) * (255.0/7.0) end as x1
              from (select unnest(range(7)) as k)
            ), lut as (
              select i,
                cast(trunc(a0.ar + (a1.ar - a0.ar)/(s.x1 - s.x0)*(i - s.x0)) as bigint) as lr,
                cast(trunc(a0.ag + (a1.ag - a0.ag)/(s.x1 - s.x0)*(i - s.x0)) as bigint) as lg,
                cast(trunc(a0.ab + (a1.ab - a0.ab)/(s.x1 - s.x0)*(i - s.x0)) as bigint) as lb
              from (select unnest(range(256)) as i)
              join seg s on i >= s.x0 and (i < s.x1 or (s.k = 6 and i = 255))
              join anchors a0 on a0.k = s.k
              join anchors a1 on a1.k = s.k + 1
            )"""


def _q_dedup_exact(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("text").alias("n_distinct"),
    )


def _q_curation(spark, sf_dir):
    """Corpus-curation composite (pipeline/curation.py): cross-corpus
    exact dedup (left-anti digest join), 13-gram benchmark
    decontamination (broadcast gram-membership semi-join), and the
    per-source distinct counts — one query, common (family, key, val)
    schema, each family with a closed-form SQL mirror."""
    from rasterframes_spark import pipeline as P

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    new = docs.where(F.col("doc_id") % 2 == 0)
    ref = docs.where(F.col("doc_id") % 3 == 0)
    kept = P.dedup_against_exact(new, ref).select(
        F.lit("dedup_kept").alias("family"),
        F.col("doc_id").cast("string").alias("key"),
        F.lit(1).cast("long").alias("val"))
    srcd = docs.groupBy("source").agg(
        F.countDistinct("text").alias("nd")).select(
        F.lit("src_distinct").alias("family"),
        F.col("source").alias("key"),
        F.col("nd").cast("long").alias("val"))
    toks = F.split(F.col("text"), r"\s+")
    bench = (docs.where(F.col("doc_id").isin(3, 7))
             .where(F.size(toks) >= 15)
             .select(F.concat_ws(" ", F.slice(toks, 3, 13)).alias("text")))
    dec = P.decontaminate(docs.where(F.col("doc_id") < 40), bench, n=13) \
        .select(F.lit("contaminated").alias("family"),
                F.col("doc_id").cast("string").alias("key"),
                F.col("contaminated").cast("long").alias("val"))

    # PII / URL families (pipeline/scrub.py): the corpus is digit-free
    # prose, so synthetic PII appended per doc_id residue gives the
    # oracle a CLOSED-FORM expected count (not a regex mirror)
    aug = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0, F.concat(
            F.lit(" reach bob"), F.col("doc_id").cast("string"),
            F.lit("@mail"), (F.col("doc_id") % 5).cast("string"),
            F.lit(".org"))).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 4 == 0, F.concat(
            F.lit(" node 10.1."), (F.col("doc_id") % 200).cast("string"),
            F.lit("."), (F.col("doc_id") % 250).cast("string"),
            F.lit(" up"))).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0, F.concat(
            F.lit(" see https://ex"), (F.col("doc_id") % 3).cast("string"),
            F.lit(".org/p"), F.col("doc_id").cast("string")))
        .otherwise(F.lit("")))
    # spread BEFORE the aug/pii projection (r15, VERDICT r14 #2): the
    # pii_counts regex chain (5 regexp_count + 4 progressive
    # regexp_replace) otherwise evaluates inside the single scan
    # partition under the partial aggregate — measured 2.3x faster
    # spread (1.09 -> 0.47 s min-of-7 at sf0.1).  Row values and the
    # long-typed family sums are partition-order independent.
    from rasterframes_spark.pipeline.skew import spread as _spread
    augd = _spread(docs.select("doc_id", "source", "text"),
                   rows="bound", rows_per_task=500) \
        .select("doc_id", "source", aug.alias("aug"))
    piic = augd.select("source", P.pii_counts("aug").alias("c"))
    pii = piic.groupBy("source").agg(
        F.sum("c.email").alias("em"), F.sum("c.ipv4").alias("ip"))
    pii_em = pii.select(F.lit("pii_email").alias("family"),
                        F.col("source").alias("key"),
                        F.col("em").cast("long").alias("val"))
    pii_ip = pii.select(F.lit("pii_ipv4").alias("family"),
                        F.col("source").alias("key"),
                        F.col("ip").cast("long").alias("val"))
    urld = (augd.select(F.explode(P.url_domains("aug")).alias("dom"))
            .groupBy("dom").agg(F.count("*").alias("n"))
            .select(F.lit("url_dom").alias("family"),
                    F.col("dom").alias("key"),
                    F.col("n").cast("long").alias("val")))

    # Repetition families (pipeline/text.py): integer-exact values —
    # frac * its own denominator recovers the raw char counts, so no
    # float-rounding risk in the hash compare
    rep = docs.where(F.col("doc_id") < 200)
    as_lines = F.translate(F.col("text"), " ", "\n")
    tok_chars = F.length(F.translate(F.col("text"), " ", ""))
    rep_extra = rep.select(
        F.lit("rep_extra").alias("family"),
        F.col("doc_id").cast("string").alias("key"),
        _r0(P.dup_line_char_fraction(as_lines) * tok_chars)
        .cast("long").alias("val"))
    rep_top2 = rep.select(
        F.lit("rep_top2").alias("family"),
        F.col("doc_id").cast("string").alias("key"),
        _r0(P.top_ngram_char_fraction("text", 2)
                * F.greatest(F.length("text"), F.lit(1)))
        .cast("long").alias("val"))

    # exact-substring (repeated-span) dedup family (pipeline/dedup.py
    # token_gram_hashes / flag_repeated_spans): docs sharing any 12-token
    # gram with another doc; the oracle mirrors the gram scheme with
    # plain strings instead of xxhash64 fingerprints
    sub = (P.flag_repeated_spans(docs, n=12)
           .where(F.col("has_repeated_span"))
           .select(F.lit("substr_flag").alias("family"),
                   F.col("doc_id").cast("string").alias("key"),
                   F.lit(1).cast("long").alias("val")))
    # pair-level view, boilerplate-capped: shared-gram counts per pair
    sp = (P.exact_substring_pairs(docs, n=12, max_docs_per_gram=8)
          .select(F.lit("substr_pairs").alias("family"),
                  F.concat_ws("-", F.col("id_a").cast("string"),
                              F.col("id_b").cast("string")).alias("key"),
                  F.col("shared_grams").cast("long").alias("val")))
    # r9: span REMOVAL (Lee et al. surgery, pipeline/dedup.py
    # remove_repeated_spans) — per doc the LENGTH of the rebuilt text
    # after cutting every token covered by a >=2-doc 12-gram (keep-first
    # policy: the min-id holder keeps its span); the oracle re-derives
    # positions, the keep rule and the rebuilt length from plain string
    # grams
    rm = (P.remove_repeated_spans(docs, n=12, min_docs=2,
                                  assume_unique_ids=True)
          .select(F.lit("spanrm").alias("family"),
                  F.col("doc_id").cast("string").alias("key"),
                  F.length("text").cast("long").alias("val")))
    # r10: the stricter cut-every-copy policy (keep_first=False) gets
    # its own hash-checked family — same closed-form oracle with the
    # keeper rule dropped (VERDICT r9 next #5)
    rma = (P.remove_repeated_spans(docs, n=12, min_docs=2,
                                   keep_first=False,
                                   assume_unique_ids=True)
           .select(F.lit("spanrm_all").alias("family"),
                   F.col("doc_id").cast("string").alias("key"),
                   F.length("text").cast("long").alias("val")))

    # C4 cleanup families (pipeline/text.py c4_line_filter/c4_clean,
    # Raffel et al. 2020 §2.2): multi-line pages synthesized from the
    # prose docs with BY-CONSTRUCTION outcomes — the corpus has no
    # punctuation/braces/banned words (asserted in DuckDB), so the
    # oracle derives the kept-text length and page verdicts
    # arithmetically instead of re-running a regex mirror
    c4base = docs.where((F.col("doc_id") < 300)
                        & (F.size(F.split(F.col("text"), " ")) >= 12))
    w = F.split(F.col("text"), " ")
    l1 = F.concat(F.concat_ws(" ", F.slice(w, 1, 5)), F.lit("."))
    kcp = F.col("doc_id") % 7
    page = F.concat_ws(
        "\n",
        l1,                                             # kept
        F.lit("no!"),                                   # < 3 words
        F.concat_ws(" ", F.slice(w, 6, 7)),             # no terminal
        F.lit("Enable javascript now please."),         # banned
        F.when(kcp > 0, F.array_join(
            F.transform(F.sequence(F.lit(1), kcp), lambda i: l1), "\n")),
        F.when(F.col("doc_id") % 13 == 0,
               F.lit("lorem ipsum dolor sit.")),        # kept line, kills page
        F.when(F.col("doc_id") % 11 == 0,
               F.lit("config { value done.")))          # kept line, kills page
    c4d = c4base.select("doc_id", page.alias("page"))
    c4len = c4d.select(
        F.lit("c4_len").alias("family"),
        F.col("doc_id").cast("string").alias("key"),
        F.length(P.c4_line_filter("page")).cast("long").alias("val"))
    c4keep = (P.c4_clean(c4d, "page")
              .select(F.lit("c4_keep").alias("family"),
                      F.col("doc_id").cast("string").alias("key"),
                      F.lit(1).cast("long").alias("val")))

    # Gopher quality families (pipeline/text.py gopher_quality_*, Rae et
    # al. 2021 Table A1): plants per doc_id residue make each rule
    # decisive with closed-form arithmetic — bullet line (%4), ellipsis
    # line (%5), ### symbols (%6), ' and of' stopwords (%3); the corpus
    # itself contributes only 'the' from the stopword set (verified)
    sw_ = F.col("doc_id") % 3 == 0
    bl_ = F.col("doc_id") % 4 == 0
    el_ = F.col("doc_id") % 5 == 0
    sy_ = F.col("doc_id") % 6 == 0
    main = F.concat(F.col("text"),
                    F.when(sw_, F.lit(" and of")).otherwise(F.lit("")),
                    F.when(sy_, F.lit(" ### ### ###")).otherwise(F.lit("")))
    gaug = F.concat(
        F.when(bl_, F.lit("• drop this\n")).otherwise(F.lit("")),
        main,
        F.when(el_, F.lit("\nfade away…")).otherwise(F.lit("")))
    gd = c4base.select("doc_id", gaug.alias("gtext"))
    gsw = gd.select(
        F.lit("gopher_sw").alias("family"),
        F.col("doc_id").cast("string").alias("key"),
        P.gopher_quality_metrics("gtext")["stopword_count"]
        .cast("long").alias("val"))
    gpass = (P.gopher_quality_filter(
        gd, "gtext", min_words=30, min_mean_word_len=1.0,
        max_mean_word_len=20.0, max_symbol_word_ratio=0.02,
        max_bullet_line_frac=0.4, max_ellipsis_line_frac=0.4,
        min_alpha_word_frac=0.5, min_stopwords=2)
        .select(F.lit("gopher_pass").alias("family"),
                F.col("doc_id").cast("string").alias("key"),
                F.lit(1).cast("long").alias("val")))

    # URL canonicalization family (pipeline/scrub.py canonicalize_url):
    # a planted variant URL (upper-cased scheme/host, default port,
    # tracking params, fragment) must collapse to the exact canonical
    # string the oracle constructs arithmetically
    vurl = F.concat(
        F.lit("HTTPS://Ex"), (F.col("doc_id") % 3).cast("string"),
        F.lit(".ORG:443/p"), F.col("doc_id").cast("string"),
        F.lit("?utm_source=x&b="), (F.col("doc_id") % 5).cast("string"),
        F.lit("&fbclid=Z#frag"))
    ucanon = c4base.select(
        F.lit("url_canon").alias("family"),
        F.col("doc_id").cast("string").alias("key"),
        F.length(P.canonicalize_url(vurl)).cast("long").alias("val"))

    # line-dedup family (r13, pipeline/dedup.py remove_duplicated_lines,
    # the CCNet §4.1 boilerplate-line surgery): three-line fixture docs
    # — two content lines sliced from the text's words, one 'boiler k'
    # line shared by every doc_id % 5 == k — the duplicated lines must
    # survive ONLY in their smallest holder.  The rebuilt text itself
    # rides in `key`, so both engines must agree byte-for-byte on the
    # census, the keep-first policy, empty-line preservation, and line
    # order.
    ldw = F.split(F.col("text"), " ")
    ldfix = docs.where(F.col("doc_id") < 240).select(
        "doc_id",
        F.concat_ws("\n",
                    F.concat_ws(" ", F.slice(ldw, 1, 6)),
                    F.concat(F.lit("boiler "),
                             (F.col("doc_id") % 5).cast("string")),
                    F.concat_ws(" ", F.slice(ldw, 7, 6))).alias("text"))
    ldd = P.remove_duplicated_lines(
        ldfix, min_docs=2, keep_first=True,
        assume_unique_ids=True).select(
        F.lit("linededup").alias("family"),
        F.col("text").alias("key"),
        F.col("doc_id").cast("long").alias("val"))

    # shard-manifest family (r14, VERDICT r13 #6): write_shards — the
    # delivery sink — joins the gate through its ROUND-TRIP contract:
    # 300 docs shard to 8 deterministic xxhash64 directories, read back
    # from the parquet they landed in; one row per doc with its UTF-8
    # byte length (content intact, exactly once — a doc dropped,
    # duplicated, or truncated anywhere in the probe-routed write
    # breaks rows or hash), plus a '_manifest' row pinning directory
    # count x 1e6 + total rows.  The shard ASSIGNMENT itself is Spark
    # xxhash64 (not SQL-expressible in DuckDB); determinism across
    # runs/layouts stays pytest-pinned (test_curation.py).
    import tempfile as _tf

    sh_dir = _tf.mkdtemp(prefix="rf_shards_oracle_")
    P.write_shards(docs.where(F.col("doc_id") < 300)
                   .select("doc_id", "text"), sh_dir, 8, id_col="doc_id")
    back = spark.read.parquet(sh_dir)
    sh_rows = back.select(
        F.lit("shards").alias("family"),
        F.col("doc_id").cast("string").alias("key"),
        F.octet_length("text").cast("long").alias("val"))
    sh_manifest = back.agg(
        F.count_distinct("__shard").alias("d"),
        F.count("*").alias("n")).select(
        F.lit("shards").alias("family"),
        F.lit("_manifest").alias("key"),
        (F.col("d") * 1000000 + F.col("n")).cast("long").alias("val"))

    out = kept
    for part in (srcd, dec, pii_em, pii_ip, urld, rep_extra, rep_top2,
                 sub, sp, rm, rma, c4len, c4keep, gsw, gpass, ucanon,
                 ldd, sh_rows, sh_manifest):
        out = out.unionByName(part)
    return out


def _q_ngram_jaccard(spark, sf_dir):
    from rasterframes_spark import pipeline as P

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return P.ngram_jaccard_pairs(docs, "doc_id", "text",
                                 block_cols=["lang", "source"], n=1, threshold=0.3)


def _planted_dups(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    dup = docs.select((F.col("doc_id") + 1000000).alias("doc_id"),
                      F.concat("text", F.lit(" zzzz")).alias("text"))
    return docs.union(dup)


def _q_minhash_dedup(spark, sf_dir):
    from rasterframes_spark import pipeline as P

    both = _planted_dups(spark, sf_dir)
    return P.minhash_dedup_pairs(both, "doc_id", "text", shingle_size=3,
                                 num_perm=32, bands=16, threshold=0.8)


def _q_dedup_clusters(spark, sf_dir):
    """Transitive near-dup clusters over the MinHash pair graph
    (dedup_clusters: iterative min-label propagation on Spark) vs a
    recursive-CTE reachability closure in DuckDB."""
    from rasterframes_spark import pipeline as P

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text").where(F.col("doc_id") < 200)
    dup = docs.select((F.col("doc_id") + 1000000).alias("doc_id"),
                      F.concat("text", F.lit(" zzzz")).alias("text"))
    pairs = P.minhash_dedup_pairs(docs.union(dup), "doc_id", "text",
                                  shingle_size=3, num_perm=32, bands=16,
                                  threshold=0.8)
    return P.dedup_clusters(pairs)


def _q_simhash_exact(spark, sf_dir):
    """SimHash as candidate generator (hamming 0) + exact-text verify —
    different texts can legitimately collide at 64 bits, the verify step is
    what a production dedup does with the candidates."""
    from rasterframes_spark import pipeline as P

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    dup = docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    corpus = docs.union(dup)
    pairs = P.simhash_near_pairs(corpus, "doc_id", "text", max_hamming=0)
    ta = corpus.select(F.col("doc_id").alias("id_a"), F.col("text").alias("__ta"))
    tb = corpus.select(F.col("doc_id").alias("id_b"), F.col("text").alias("__tb"))
    return (
        pairs.join(ta, "id_a").join(tb, "id_b")
        .where(F.col("__ta") == F.col("__tb"))
        .select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))
    )


def _q_cosine_topk(spark, sf_dir):
    from rasterframes_spark import pipeline as P

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries_df = emb.orderBy("vec_id").limit(3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return P.cosine_topk(emb, queries_df, k=5)


def _q_embedding_neardup(spark, sf_dir):
    from rasterframes_spark import pipeline as P

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return P.embedding_neardup_pairs(emb, "vec_id", block_cols=["label"], threshold=0.3)


def _q_similarity_suite(spark, sf_dir):
    """Composite similarity gate: simhash candidate+verify, exact cosine
    top-k (BLAS matmul path), and blocked embedding near-dup — one query so
    all three stay inside the driver's query budget. Common schema
    (family, id_a, id_b, score, rank); rank=0 for the pair families."""
    sim = _q_simhash_exact(spark, sf_dir).select(
        F.lit("simhash").alias("family"),
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("hamming").cast("double").alias("score"),
        F.lit(0).alias("rank"))
    cos = _q_cosine_topk(spark, sf_dir).select(
        F.lit("cosine").alias("family"),
        F.col("query_id").cast("long").alias("id_a"),
        F.col("neighbor_id").cast("long").alias("id_b"),
        F.col("cos").alias("score"),
        F.col("rank").cast("int").alias("rank"))
    nd = _q_embedding_neardup(spark, sf_dir).select(
        F.lit("neardup").alias("family"),
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("cos").alias("score"),
        F.lit(0).alias("rank"))
    sd = _q_semantic_dedup(spark, sf_dir).select(
        F.lit("semdedup").alias("family"),
        F.col("vec_id").cast("long").alias("id_a"),
        F.col("sem_cluster").cast("long").alias("id_b"),
        _r0("cent_cos", 6).alias("score"),
        F.col("kept").cast("int").alias("rank"))
    return sim.unionByName(cos).unionByName(nd).unionByName(sd)


def _q_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) end-to-end in the value gate: inject
    seeded centroids (training covered by pytest), duplicate the first
    400 embeddings under shifted ids so every vector has at least one
    exact twin, run assignment -> within-cluster pairs -> transitive
    groups -> farthest-from-centroid keeper. DuckDB re-derives the whole
    pipeline (recursive-CTE reachability, same centroid literals)."""
    from rasterframes_spark import pipeline as P

    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .where(F.col("vec_id") < 400).select("vec_id", "embedding"))
    both = emb.unionByName(
        emb.select((F.col("vec_id") + 1000000).alias("vec_id"),
                   "embedding"))
    return P.semantic_dedup(both, "vec_id", centroids=_ivf_cents(),
                            threshold=0.98)


def _ivf_cents(n_lists: int = 8, dim: int = 64, seed: int = 7):
    """Seeded (data-independent) IVF centroids shared by the Spark query and
    the SQL oracle — unit-normalized rows."""
    import numpy as np
    rng = np.random.default_rng(seed)
    c = rng.standard_normal((n_lists, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def _ivf_cents_sql(n_lists: int = 8, dim: int = 64, seed: int = 7) -> str:
    rows = []
    for i, p in enumerate(_ivf_cents(n_lists, dim, seed)):
        lst = ", ".join(repr(float(v)) for v in p)
        rows.append(f"({i}, [{lst}]::double[])")
    return ",\n                ".join(rows)


def _q_ivf_ann(spark, sf_dir):
    """IVF ANN with injected seeded centroids (training covered by pytest):
    corpus assignment = argmax centroid dot (norm-invariant), each query
    probes its 2 nearest of 8 lists, exact cosine rerank within them. The
    oracle recomputes assignment/probe/rerank from the same centroid
    literals in DuckDB."""
    from rasterframes_spark import pipeline as P

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries_df = emb.orderBy("vec_id").limit(3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return P.ivf_ann_topk(emb, queries_df, k=5, n_lists=8, n_probe=2,
                          centroids=_ivf_cents())


def _q_focal_stats(spark, sf_dir):
    """rf_focal_median/mode/min/max/stddev (square-1) in one pass vs a
    DuckDB neighborhood-join oracle (continuous median; mode ties break to
    the smallest value, matching np.unique/argmax; stddev recomputed
    two-pass like np.nanstd, not Welford)."""
    t = _tiles_df(spark, sf_dir)
    f = t.select("grp",
                 rf.rf_focal_median("qty", "square-1", target="data").alias("med"),
                 rf.rf_focal_mode("qty", "square-1", target="data").alias("mode_t"),
                 rf.rf_focal_min("qty", "square-1", target="data").alias("fmin_t"),
                 rf.rf_focal_max("qty", "square-1", target="data").alias("fmax_t"),
                 rf.rf_focal_stddev("qty", "square-1", target="data").alias("fsd_t"))
    ex = rf.explode_tiles(f, ["med", "mode_t", "fmin_t", "fmax_t", "fsd_t"],
                          keep_cols=["grp"])
    return ex.select(
        "grp", "column_index", "row_index",
        _r0("med", 6).alias("med"),
        _r0("mode_t", 6).alias("mode_v"),
        F.col("fmin_t").alias("fmin"),
        F.col("fmax_t").alias("fmax"),
        _r0("fsd_t", 6).alias("fsd"),
    ).where(F.col("med").isNotNull())


def _q_moransi(spark, sf_dir):
    """rf_focal_moransi (focalops/FocalMoransI.scala:53): I_i = z_i *
    mean(z_neighbors)/var(z), z = x - tile mean, neighbors exclude the
    center — tile mean/variance and the neighborhood chain all recomputed
    in SQL."""
    t = _tiles_df(spark, sf_dir)
    m = t.select("grp", rf.rf_focal_moransi("qty", "square-1", target="data").alias("mi_t"))
    ex = rf.explode_tiles(m, ["mi_t"], keep_cols=["grp"])
    return ex.select(
        "grp", "column_index", "row_index",
        _r0("mi_t", 6).alias("mi"),
    ).where(F.col("mi").isNotNull())


_CONV_KERNEL = [[1.0, 2.0, 0.0], [-1.0, 3.0, 1.0], [0.0, -2.0, 2.0]]


def _convolve_weight_case() -> str:
    """SQL CASE giving the flipped-kernel weight for neighbor offset
    (du, dv) = (b.ri - a.ri, b.ci - a.ci): true convolution applies
    K[1-du][1-dv]."""
    terms = []
    for du in (-1, 0, 1):
        for dv in (-1, 0, 1):
            w = _CONV_KERNEL[1 - du][1 - dv]
            if w != 0:
                terms.append(
                    f"when b.ri - a.ri = {du} and b.ci - a.ci = {dv} then {w}")
    return "case " + " ".join(terms) + " else 0.0 end"


def _q_convolve(spark, sf_dir):
    """rf_convolve with an asymmetric 3x3 kernel (exercises the kernel
    flip); NoData and out-of-tile neighbors contribute 0, output masked
    where the centre is NoData — the oracle sums weighted present
    neighbors only, which reproduces both rules."""
    t = _tiles_df(spark, sf_dir)
    c = t.select("grp", rf.rf_convolve("qty", _CONV_KERNEL, target="data").alias("conv"))
    ex = rf.explode_tiles(c, ["conv"], keep_cols=["grp"])
    return ex.select(
        "grp", "column_index", "row_index",
        _r0("conv", 6).alias("conv_v"),
    ).where(F.col("conv_v").isNotNull())


def _q_local_algebra(spark, sf_dir):
    """Unary AND binary (tile x tile) local-algebra families in one pass:
    add/multiply scalar, comparison-as-0/1, rescale, plus subtract/
    divide/min/max/where over the two synthesized bands (merged from the
    r6 'local_binary' slot to fund interop_suite — both read the same
    cells CTE and group by grp)."""
    df = _two_band(spark, sf_dir)
    cond = rf.rf_local_greater("qty", 25)
    return df.select(
        "grp",
        rf.rf_tile_sum(rf.rf_local_add("qty", 5)).alias("add_sum"),
        rf.rf_tile_sum(rf.rf_local_multiply("qty", 3)).alias("mul_sum"),
        rf.rf_tile_sum(rf.rf_local_greater("qty", 25)).alias("n_gt"),
        _r0(rf.rf_tile_sum(rf.rf_rescale("qty", 1.0, 50.0)), 6).alias("rescale_sum"),
        rf.rf_tile_sum(rf.rf_local_subtract("qty", F.col("price"))).alias("diff_sum"),
        _r0(rf.rf_tile_sum(rf.rf_local_divide("price", 2)), 6).alias("half_price_sum"),
        _r0(rf.rf_tile_sum(rf.rf_local_min("qty", F.col("price"))), 6).alias("min_sum"),
        _r0(rf.rf_tile_sum(rf.rf_local_max("qty", F.col("price"))), 6).alias("max_sum"),
        _r0(rf.rf_tile_sum(rf.rf_where(cond, "price", "qty")), 6).alias("where_sum"),
    )


def _q_interop_suite(spark, sf_dir):
    """Round-7 interop sources behind one family-keyed value oracle:

    - 'gt'    — GeoTrellis Avro layer round-trip: 16x16 int32 tiles built
                from ranked lineitem quantities (one tile per returnflag),
                written driver-side as a real Avro layer (zorder index,
                deflated KeyValueRecords), read back DISTRIBUTED through
                read_geotrellis_layer; per-key tile sums + extent corners
                must equal DuckDB's independent ranked-window sums.
    - 'nc'    — NetCDF-3 through the read_raster format dispatch
                (path#var subdataset URI): CF-coordinate grid written
                driver-side, chunked (32,32), realized, summed; DuckDB
                recomputes the closed-form grid sum and the half-cell
                extent corner.
    - 'adpcm' — IMA (even doc_id) / MS (odd) ADPCM WAVs synthesized per
                doc_id, profiled header-only by audio_metadata: exact
                duration via the fact chunk, channels, rate.
    - 'jpegp' — progressive (SOF2) JPEG: per-doc deterministic images
                encoded baseline AND progressive, both decoded by
                decode_image; dims must match the closed form and the
                pixel buffers must be byte-identical (the jpegtran
                identity, distributed)."""
    import tempfile

    import numpy as np

    from rasterframes_spark import pipeline as P
    from rasterframes_spark.sources import (
        read_geotrellis_layer, read_raster, realize_tiles)
    from rasterframes_spark.sources.adpcm import write_adpcm_wav
    from rasterframes_spark.sources.geotrellis import write_geotrellis_layer
    from rasterframes_spark.sources.jpeg import encode_jpeg
    from rasterframes_spark.sources.netcdf import write_netcdf

    out_cols = ["family", "k", "v1", "v2", "v3"]

    # ---- 'gt': bounded driver collect (3 flags x 256 cells) -> layer
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    win = Window.partitionBy("l_returnflag").orderBy("l_orderkey",
                                                     "l_linenumber")
    ranked = (li.withColumn("rn", F.row_number().over(win))
                .where(F.col("rn") <= 256)
                .select("l_returnflag", "rn",
                        F.col("l_quantity").cast("int").alias("q"))
                .collect())
    by_flag = {}
    for r in ranked:
        by_flag.setdefault(r.l_returnflag, {})[r.rn] = r.q
    tiles = []
    for col, flag in enumerate(sorted(by_flag)):
        cells = by_flag[flag]
        a = np.array([cells[i + 1] for i in range(256)],
                     dtype=np.int32).reshape(16, 16)
        tiles.append((col, 0, a))
    gt_dir = tempfile.mkdtemp(prefix="rf_gt_oracle_")
    write_geotrellis_layer(tiles, gt_dir, "li", 0,
                           layout_extent=(-180, -90, 180, 90),
                           layout_cols=360, layout_rows=180)
    gt = (read_geotrellis_layer(spark, gt_dir, "li", 0)
          .select(F.lit("gt").alias("family"),
                  F.col("spatial_key.col").cast("long").alias("k"),
                  rf.rf_tile_sum("tile").cast("double").alias("v1"),
                  rf.rf_no_data_cells("tile").cast("double").alias("v2"),
                  F.col("extent.xmin").cast("double").alias("v3")))

    # ---- 'nc': closed-form grid through the raster dispatch
    ny, nx = 40, 60
    ii, jj = np.mgrid[0:ny, 0:nx]
    grid = ((ii * 53 + jj * 17) % 101).astype("f8")
    lats = np.linspace(10.0, 49.0, ny)          # ascending -> north-up flip
    lons = np.linspace(-120.0, -61.0, nx)
    nc_path = _tmppath("rf_nc_oracle_", "f.nc")
    with open(nc_path, "wb") as f:
        f.write(write_netcdf(
            {"v": (("lat", "lon"), grid),
             "lat": (("lat",), lats), "lon": (("lon",), lons)},
            {"lat": ny, "lon": nx}))
    ncdf = read_raster(spark, [nc_path + "#v"], tile_dimensions=(32, 32))
    nc = (ncdf.withColumn("tile", realize_tiles(F.col("tile_ref")))
          .agg(F.sum(rf.rf_tile_sum("tile")).alias("s"),
               F.count("*").alias("n"),
               F.min("extent.xmin").alias("x0"))
          .select(F.lit("nc").alias("family"), F.lit(0).cast("long").alias("k"),
                  F.col("s").cast("double").alias("v1"),
                  F.col("n").cast("double").alias("v2"),
                  F.col("x0").cast("double").alias("v3")))
    # k=1 (r11): the SAME closed-form contract through the NetCDF-4 /
    # HDF5 container — chunked (16x16) + deflate + shuffle storage plus
    # CF scale/offset on int16 cells, so the hash-checked gate pins the
    # HDF5 chunk-B-tree windowed decode, the filter pipeline, and the
    # CF unpack (previously pytest-only).  Grid ((i*31+j*7)%97) scaled
    # by 0.5 with offset 3: DuckDB re-derives sum(0.5*g + 3) exactly
    # (dyadic scale on integers — bit-exact in float64).
    from rasterframes_spark.sources.hdf5 import H5Writer
    g4 = ((ii * 31 + jj * 7) % 97).astype("int16")
    hw = H5Writer()
    hw.create_dataset("t2m", g4, chunks=(16, 16), compression="gzip",
                      shuffle=True,
                      attrs={"scale_factor": np.float64(0.5),
                             "add_offset": np.float64(3.0)})
    hw.create_dataset("lat", lats)
    hw.create_dataset("lon", lons)
    nc4_path = _tmppath("rf_nc4_oracle_", "f.h5")
    with open(nc4_path, "wb") as f:
        f.write(hw.tobytes())
    nc4df = read_raster(spark, [nc4_path + "#t2m"],
                        tile_dimensions=(32, 32))
    nc4 = (nc4df.withColumn("tile", realize_tiles(F.col("tile_ref")))
           .agg(F.sum(rf.rf_tile_sum("tile")).alias("s"),
                F.count("*").alias("n"),
                F.min("extent.xmin").alias("x0"))
           .select(F.lit("nc").alias("family"),
                   F.lit(1).cast("long").alias("k"),
                   F.col("s").cast("double").alias("v1"),
                   F.col("n").cast("double").alias("v2"),
                   F.col("x0").cast("double").alias("v3")))
    nc = nc.unionByName(nc4)
    # k=2 (r12, ADVICE r11 #1): a 2-D RECORD variable — the unlimited
    # dim IS the y axis, with a second record variable interleaved so
    # stored rows stride by recsize (the exact shape the r12 lazy-path
    # fix covers; the old fit check rejected the file outright) and an
    # ascending record-coordinate variable driving the north-up flip.
    # Same closed-form contract: the hash-checked gate now pins the
    # rec-is-y fit check + recsize-strided row reads end to end.
    gr = ((ii * 19 + jj * 23) % 83).astype("f8")
    recs = np.linspace(5.0, 5.0 + ny - 1, ny)          # ascending y
    ncr_path = _tmppath("rf_ncrec_oracle_", "rec.nc")
    with open(ncr_path, "wb") as f:
        f.write(write_netcdf(
            {"v": (("rec", "lon"), gr),
             "rec": (("rec",), recs),
             "lon": (("lon",), lons)},
            {"rec": None, "lon": nx}))
    ncrdf = read_raster(spark, [ncr_path + "#v"], tile_dimensions=(32, 32))
    ncr = (ncrdf.withColumn("tile", realize_tiles(F.col("tile_ref")))
           .agg(F.sum(rf.rf_tile_sum("tile")).alias("s"),
                F.count("*").alias("n"),
                F.min("extent.xmin").alias("x0"))
           .select(F.lit("nc").alias("family"),
                   F.lit(2).cast("long").alias("k"),
                   F.col("s").cast("double").alias("v1"),
                   F.col("n").cast("double").alias("v2"),
                   F.col("x0").cast("double").alias("v3")))
    nc = nc.unionByName(ncr)

    # ---- 'vrt' + 'mrf' (r12): the two remaining pytest-only raster
    # containers join the hash-checked gate.  'vrt': a mosaic manifest
    # of two closed-form GeoTIFF halves (left/right SimpleSources, no
    # NoDataValue so zeros count) read DISTRIBUTED through
    # read_raster; 'mrf': a PNG-paged Meta Raster Format grid (index +
    # data + XML manifest triple).  DuckDB re-derives the sums
    # arithmetically, so a desync anywhere in manifest parsing, source
    # placement, or page decode breaks the hash.
    import os as _os

    from rasterframes_spark.sources.geotiff import write_geotiff
    from rasterframes_spark.sources.mrf import write_mrf

    vh, vw = 40, 30                     # two 40x30 halves -> 40x60
    vi, vj = np.mgrid[0:vh, 0:vw]
    gl = ((vi * 11 + vj * 3) % 71).astype("uint16")
    grt = ((vi * 7 + vj * 5) % 67).astype("uint16")
    vdir = tempfile.mkdtemp(prefix="rf_vrt_oracle_")
    with open(_os.path.join(vdir, "left.tif"), "wb") as f:
        f.write(write_geotiff(gl, (-10.0, 0.0, 20.0, 40.0),
                              "EPSG:32618", tile_size=16))
    with open(_os.path.join(vdir, "right.tif"), "wb") as f:
        f.write(write_geotiff(grt, (20.0, 0.0, 50.0, 40.0),
                              "EPSG:32618", tile_size=16))
    vrt_path = _os.path.join(vdir, "mosaic.vrt")
    with open(vrt_path, "w") as f:
        f.write(f"""<VRTDataset rasterXSize="60" rasterYSize="40">
  <SRS>EPSG:32618</SRS>
  <GeoTransform>-10.0, 1.0, 0.0, 40.0, 0.0, -1.0</GeoTransform>
  <VRTRasterBand dataType="UInt16" band="1">
    <SimpleSource>
      <SourceFilename relativeToVRT="1">left.tif</SourceFilename>
      <SourceBand>1</SourceBand>
      <SrcRect xOff="0" yOff="0" xSize="30" ySize="40"/>
      <DstRect xOff="0" yOff="0" xSize="30" ySize="40"/>
    </SimpleSource>
    <SimpleSource>
      <SourceFilename relativeToVRT="1">right.tif</SourceFilename>
      <SourceBand>1</SourceBand>
      <SrcRect xOff="0" yOff="0" xSize="30" ySize="40"/>
      <DstRect xOff="30" yOff="0" xSize="30" ySize="40"/>
    </SimpleSource>
  </VRTRasterBand>
</VRTDataset>""")
    vdf = read_raster(spark, [vrt_path], tile_dimensions=(32, 32))
    vrtg = (vdf.withColumn("tile", realize_tiles(F.col("tile_ref")))
            .agg(F.sum(rf.rf_tile_sum("tile")).alias("s"),
                 F.count("*").alias("n"),
                 F.min("extent.xmin").alias("x0"))
            .select(F.lit("vrt").alias("family"),
                    F.lit(0).cast("long").alias("k"),
                    F.col("s").cast("double").alias("v1"),
                    F.col("n").cast("double").alias("v2"),
                    F.col("x0").cast("double").alias("v3")))

    mh, mw = 48, 56
    mi, mj = np.mgrid[0:mh, 0:mw]
    gm = ((mi * 17 + mj * 9) % 73).astype("uint16")
    mrf_path = _os.path.join(tempfile.mkdtemp(prefix="rf_mrf_oracle_"),
                             "scene.mrf")
    write_mrf(mrf_path, gm, page_size=(32, 32),
              extent=(5.0, 0.0, 61.0, 48.0), crs="EPSG:32617")
    mdf = read_raster(spark, [mrf_path], tile_dimensions=(32, 32))
    mrfg = (mdf.withColumn("tile", realize_tiles(F.col("tile_ref")))
            .agg(F.sum(rf.rf_tile_sum("tile")).alias("s"),
                 F.count("*").alias("n"),
                 F.min("extent.xmin").alias("x0"))
            .select(F.lit("mrf").alias("family"),
                    F.lit(0).cast("long").alias("k"),
                    F.col("s").cast("double").alias("v1"),
                    F.col("n").cast("double").alias("v2"),
                    F.col("x0").cast("double").alias("v3")))

    # ---- 'grib': r10 — GRIB2 closed-form grid through the raster
    # dispatch (native template 3.0 / 5.0 simple packing, written by
    # write_grib2 — the file stores 260E..314E so the read exercises
    # the [0,360) -> negative-longitude shift); integer cells, exact
    # keys 0..4 run the SAME grid through every native packing — the
    # integer field must decode bit-exactly whichever representation
    # carried it (r10: 5.2/5.3/5.40/5.41 joined 5.0)
    from rasterframes_spark.sources.grib2 import write_grib2
    gny, gnx = 36, 54
    gii, gjj = np.mgrid[0:gny, 0:gnx]
    ggrid = ((gii * 29 + gjj * 13) % 89).astype("f8")
    gb_parts = []
    for gk, packing in enumerate(["simple", "complex", "complex_diff",
                                  "jpeg2000", "png"]):
        gb_path = _tmppath(f"rf_gb_oracle_{packing}_", "f.grib2")
        with open(gb_path, "wb") as f:
            f.write(write_grib2([ggrid],
                                extent=(-100.0, 20.0, -46.0, 56.0),
                                packing=packing))
        gbdf = read_raster(spark, [gb_path], tile_dimensions=(32, 32))
        gb_parts.append(
            gbdf.withColumn("tile", realize_tiles(F.col("tile_ref")))
            .agg(F.sum(rf.rf_tile_sum("tile")).alias("s"),
                 F.count("*").alias("n"),
                 F.min("extent.xmin").alias("x0"))
            .select(F.lit("grib").alias("family"),
                    F.lit(gk).cast("long").alias("k"),
                    F.col("s").cast("double").alias("v1"),
                    F.col("n").cast("double").alias("v2"),
                    F.col("x0").cast("double").alias("v3")))
    # k=5: the same grid as a legacy GRIB edition 1 file (IBM hex-float
    # reference value, millidegree grid) through the same dispatch
    from rasterframes_spark.sources.grib1 import write_grib1
    gb_path = _tmppath("rf_gb_oracle_e1_", "f.grib")
    with open(gb_path, "wb") as f:
        f.write(write_grib1([ggrid], extent=(-100.0, 20.0, -46.0, 56.0)))
    gbdf = read_raster(spark, [gb_path], tile_dimensions=(32, 32))
    gb_parts.append(
        gbdf.withColumn("tile", realize_tiles(F.col("tile_ref")))
        .agg(F.sum(rf.rf_tile_sum("tile")).alias("s"),
             F.count("*").alias("n"),
             F.min("extent.xmin").alias("x0"))
        .select(F.lit("grib").alias("family"),
                F.lit(5).cast("long").alias("k"),
                F.col("s").cast("double").alias("v1"),
                F.col("n").cast("double").alias("v2"),
                F.col("x0").cast("double").alias("v3")))
    # k=6 (r11): a HAND-ASSEMBLED byte-literal GRIB2 message — template
    # 5.3 second-order spatial differencing, every byte hand-derived
    # from the WMO template tables (tests/test_grib2.py pins the same
    # bytes with the field-by-field walk in comments): originals
    # X = [10,12,15,19,24,30] transmitted as all-zero second
    # differences (ival1=10, ival2=12, gmin=1 — sign-and-magnitude,
    # extra_octets=1), one zero-width group, D=1 so Y = X/10 over a
    # 2x3 grid at 50-60N / 10-30E.  Keys 0..5 read bytes the repo's
    # OWN writers emitted; this key pins non-own bytes inside the
    # hash-checked gate itself (VERDICT r10 next #5).
    gb_hand = bytes.fromhex(
        "475249420000000200000000000000d50000001501000700000201"
        "0107ea03040c000000010000004803000000000600000000060000"
        "000000ffffffffffffffffffff0000000300000002000000000000"
        "000003938700009896803002faf08001c9c3800098968000989680"
        "000000002204000000000000000000000000010000000001000000"
        "0000ffffffffffff00000031050000000600030000000000000001"
        "010001000000000000000000000000010001000000000100000006"
        "0302010000000606ff0000000b070a0c010000c037373737")
    gb_path = _tmppath("rf_gb_oracle_hand_", "f.grib2")
    with open(gb_path, "wb") as f:
        f.write(gb_hand)
    gbdf = read_raster(spark, [gb_path], tile_dimensions=(32, 32))
    gb_parts.append(
        gbdf.withColumn("tile", realize_tiles(F.col("tile_ref")))
        .agg(F.sum(rf.rf_tile_sum("tile")).alias("s"),
             F.count("*").alias("n"),
             F.min("extent.xmin").alias("x0"))
        .select(F.lit("grib").alias("family"),
                F.lit(6).cast("long").alias("k"),
                _r0(F.col("s"), 9).cast("double").alias("v1"),
                F.col("n").cast("double").alias("v2"),
                F.col("x0").cast("double").alias("v3")))
    import functools
    gb = functools.reduce(lambda a, b: a.unionByName(b), gb_parts)

    # ---- 'adpcm' + 'jpegp': per-doc payloads synthesized distributed
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id").where(F.col("doc_id") < 32)

    def synth(batches):
        import pandas as pd
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                n = 500 + (d % 7) * 100
                ch = 1 + (d % 2)
                k = np.arange(n * ch, dtype=np.int64)
                pcm = (((d + 1) * k * 2654435761) % 8001 - 4000) \
                    .astype(np.int16).reshape(n, ch)
                wav = write_adpcm_wav(pcm, 8000,
                                      fmt="ima" if d % 2 == 0 else "ms")
                h = 16 + (d % 3) * 8
                w = 24 + (d % 2) * 16
                yy, xx = np.mgrid[0:h, 0:w]
                img = np.stack([(xx * 7 + yy * 13 + d) % 256,
                                (xx * 3 + yy * 5 + d) % 256,
                                (xx + yy * 2 + d) % 256], -1) \
                    .astype(np.uint8)
                jb = encode_jpeg(img, quality=80)
                jp = encode_jpeg(img, quality=80, progressive=True)
                rows.append((d, bytearray(wav), bytearray(jb),
                             bytearray(jp)))
            if rows:
                yield pd.DataFrame(rows, columns=["media_id", "wav",
                                                  "jb", "jp"])

    media = docs.mapInPandas(
        synth, schema="media_id long, wav binary, jb binary, jp binary")
    media = media.localCheckpoint(eager=False)
    adpcm = (P.audio_metadata(
                media.select("media_id", F.col("wav").alias("payload")))
             .select(F.lit("adpcm").alias("family"),
                     F.col("media_id").alias("k"),
                     F.col("duration_ms").cast("double").alias("v1"),
                     F.col("channels").cast("double").alias("v2"),
                     F.col("sample_rate").cast("double").alias("v3")))
    db = P.decode_image(
        media.select("media_id", F.col("jb").alias("payload")),
        decode="jpeg")
    dp = (P.decode_image(
        media.select("media_id", F.col("jp").alias("payload")),
        decode="jpeg")
        .select("media_id", F.col("height").alias("ph"),
                F.col("width").alias("pw"),
                F.col("pixels").alias("ppix")))
    jpegp = (db.join(dp, "media_id")
             .select(F.lit("jpegp").alias("family"),
                     F.col("media_id").alias("k"),
                     F.col("height").cast("double").alias("v1"),
                     F.col("width").cast("double").alias("v2"),
                     (F.col("height").eqNullSafe(F.col("ph"))
                      & F.col("width").eqNullSafe(F.col("pw"))
                      & F.col("pixels").eqNullSafe(F.col("ppix")))
                     .cast("double").alias("v3")))

    # ---- 'jp2m' (r8): every new JP2 feature STACKED in one file —
    # all six code-block mode switches (0x2F), PPT packed packet
    # headers, and maxshift ROI — written driver-side with closed-form
    # pixels y(r,c) = (13r + 7c) % 101, then read DISTRIBUTED through
    # read_raster chunking; DuckDB re-derives the pixel sum and max
    # arithmetically, so a desync anywhere in the mode/ROI/packed-
    # header machinery breaks the hash
    from rasterframes_spark.sources.jp2 import encode_jp2, wrap_jp2

    jh, jw = 40, 60
    rr, cc = np.mgrid[0:jh, 0:jw]
    jimg = ((rr * 13 + cc * 7) % 101).astype(np.uint8)
    jp2m_path = _tmppath("rf_jp2m_oracle_", "f.jp2")
    with open(jp2m_path, "wb") as f:
        f.write(wrap_jp2(encode_jp2(jimg, levels=2, cb_exp=(4, 4),
                                    modes=0x2F, packed_headers="ppt",
                                    roi_shift=12),
                         jw, jh, 8))
    jdf = read_raster(spark, [jp2m_path], tile_dimensions=(32, 32))
    jp2m = (jdf.withColumn("tile", realize_tiles(F.col("tile_ref")))
            .agg(F.sum(rf.rf_tile_sum("tile")).alias("s"),
                 F.count("*").alias("n"),
                 F.max(rf.rf_tile_max("tile")).alias("mx"))
            .select(F.lit("jp2m").alias("family"),
                    F.lit(0).cast("long").alias("k"),
                    F.col("s").cast("double").alias("v1"),
                    F.col("n").cast("double").alias("v2"),
                    F.col("mx").cast("double").alias("v3")))

    # ---- 'jp2s' (r8): per-component subsampling — band 1 at half
    # resolution both axes, served through the uniform band API by
    # nearest upsample; with even dims every cb sample is counted
    # exactly 4x, so DuckDB's closed form is 4 * sum(cb)
    cb_ = ((rr[:jh // 2, :jw // 2] * 5 + cc[:jh // 2, :jw // 2] * 3)
           % 53).astype(np.uint8)
    jp2s_path = _tmppath("rf_jp2s_oracle_", "f.jp2")
    with open(jp2s_path, "wb") as f:
        f.write(wrap_jp2(encode_jp2([jimg, cb_], levels=2, cb_exp=(4, 4),
                                    subsampling=[(1, 1), (2, 2)],
                                    mct=False),
                         jw, jh, 8, ncomp=2))
    s0 = (read_raster(spark, [jp2s_path], tile_dimensions=(32, 32))
          .withColumn("tile", realize_tiles(F.col("tile_ref")))
          .agg(F.sum(rf.rf_tile_sum("tile"))).collect()[0][0])
    s1df = read_raster(spark, [jp2s_path], band_indexes=(1,),
                       tile_dimensions=(32, 32))
    tcol = "tile_ref" if "tile_ref" in s1df.columns else "tile_ref_b1"
    jp2s = (s1df.withColumn("tile", realize_tiles(F.col(tcol)))
            .agg(F.sum(rf.rf_tile_sum("tile")).alias("s1"),
                 F.count("*").alias("n"))
            .select(F.lit("jp2s").alias("family"),
                    F.lit(0).cast("long").alias("k"),
                    F.lit(float(s0)).alias("v1"),
                    F.col("s1").cast("double").alias("v2"),
                    F.col("n").cast("double").alias("v3")))

    # ---- 'poc' (r9): progression-order changes + position-ordered
    # packets UNDER subsampling, inside the hash-checked gate — the
    # codestream carries a POC marker (res-0 packets of both components
    # PCRL-first, the remaining resolutions RPCL) with 32-sample
    # precincts over the same closed-form pixels as jp2s, so any
    # packet-order desync in the POC/anchor machinery breaks the hash
    poc_path = _tmppath("rf_poc_oracle_", "f.jp2")
    with open(poc_path, "wb") as f:
        f.write(wrap_jp2(encode_jp2([jimg, cb_], levels=2, cb_exp=(4, 4),
                                    precinct=5,
                                    subsampling=[(1, 1), (2, 2)],
                                    mct=False,
                                    poc=[(0, 0, 1, 1, 2, 3),
                                         (0, 0, 1, 3, 2, 2)]),
                         jw, jh, 8, ncomp=2))
    q0 = (read_raster(spark, [poc_path], tile_dimensions=(32, 32))
          .withColumn("tile", realize_tiles(F.col("tile_ref")))
          .agg(F.sum(rf.rf_tile_sum("tile"))).collect()[0][0])
    q1df = read_raster(spark, [poc_path], band_indexes=(1,),
                       tile_dimensions=(32, 32))
    qtcol = "tile_ref" if "tile_ref" in q1df.columns else "tile_ref_b1"
    pocf = (q1df.withColumn("tile", realize_tiles(F.col(qtcol)))
            .agg(F.sum(rf.rf_tile_sum("tile")).alias("s1"),
                 F.count("*").alias("n"))
            .select(F.lit("poc").alias("family"),
                    F.lit(0).cast("long").alias("k"),
                    F.lit(float(q0)).alias("v1"),
                    F.col("s1").cast("double").alias("v2"),
                    F.col("n").cast("double").alias("v3")))

    # ---- 'sink' (r13, VERDICT r12 next #6): the DataFrame-level write
    # path — the one surface class that was pytest-only — joins the
    # hash-checked gate.  The tiles come from lineitem (the entry
    # construction at module top), so the DuckDB side is a genuine
    # query over the parquet, not literal arithmetic: k=0
    # write_geotiff (GeoTiffDataSource.scala:61-102) mosaics 64 16x16
    # float64 tiles (NaN NoData) into one 128x128 GeoTIFF; k=1
    # write_jp2 writes the same grid as lossless uint16ud0 (4
    # codestream tiles at 64x64); k=2 write_tiles
    # (TilesDataSource.scala:47-230) emits one GeoTIFF per tile row +
    # catalog.csv.  Each reads back DISTRIBUTED through read_raster
    # and must reproduce sum(l_quantity), the chunk count, and the
    # mosaic origin — a drift anywhere in mosaic placement, NoData
    # propagation, cell-type conversion, or catalog plumbing breaks
    # the hash.
    from rasterframes_spark.sources.sinks import (
        write_geotiff as sink_gt, write_jp2 as sink_jp2,
        write_tiles as sink_tiles)

    scol = (F.col("grp") % 8).cast("double") * 16.0
    srow = F.floor(F.col("grp") / 8).cast("double") * 16.0
    sext = F.struct(scol.alias("xmin"), srow.alias("ymin"),
                    (scol + 16.0).alias("xmax"), (srow + 16.0).alias("ymax"))
    sindf = _two_band(spark, sf_dir).select(
        F.col("qty").alias("tile"), sext.alias("extent"),
        F.lit("EPSG:32618").alias("crs"))
    sg_path = _tmppath("rf_sink_oracle_gt_", "m.tif")
    sink_gt(sindf, sg_path)
    sj_path = _tmppath("rf_sink_oracle_jp2_", "m.jp2")
    sink_jp2(sindf.select(
        rf.rf_convert_cell_type("tile", "uint16ud0").alias("tile"),
        "extent", "crs"), sj_path, tile_size=(64, 64))
    st_dir = tempfile.mkdtemp(prefix="rf_sink_oracle_tiles_")
    cat_path = sink_tiles(sindf, st_dir)
    with open(cat_path) as f:
        next(f)
        st_paths = sorted(ln.split(",")[0] for ln in f if ln.strip())
    sink_parts = []
    for sk, (srcs, td) in enumerate([([sg_path], (32, 32)),
                                     ([sj_path], (32, 32)),
                                     (st_paths, (16, 16))]):
        skdf = read_raster(spark, srcs, tile_dimensions=td)
        sink_parts.append(
            skdf.withColumn("tile", realize_tiles(F.col("tile_ref")))
            .agg(F.sum(rf.rf_tile_sum("tile")).alias("s"),
                 F.count("*").alias("n"),
                 F.min("extent.xmin").alias("x0"))
            .select(F.lit("sink").alias("family"),
                    F.lit(sk).cast("long").alias("k"),
                    F.col("s").cast("double").alias("v1"),
                    F.col("n").cast("double").alias("v2"),
                    F.col("x0").cast("double").alias("v3")))
    # k=3 (r14, VERDICT r13 #6): write_geotrellis_layer — the remaining
    # pytest-only sink — joins the gate: the SAME lineitem-derived 64
    # qty tiles write to a GeoTrellis file-catalog layer (attribute
    # store + Z-indexed Avro data files, driver-side by design like
    # write_geotiff) at an 8x8 layout over (0,0,128,128), then read
    # back DISTRIBUTED through read_geotrellis_layer; sum/count/origin
    # must reproduce the identical DuckDB row (float64 tiles, NaN
    # NoData riding the Avro floats).
    g_rows = _two_band(spark, sf_dir).select(
        "grp", F.col("qty").alias("tile")).collect()
    g_tiles = []
    for r in g_rows:
        t = r["tile"]
        a = np.frombuffer(bytes(t["cells"]), dtype="f8").reshape(
            int(t["rows"]), int(t["cols"]))
        g_tiles.append((int(r["grp"]) % 8, int(r["grp"]) // 8, a))
    gl_dir = tempfile.mkdtemp(prefix="rf_sink_oracle_gtl_")
    write_geotrellis_layer(g_tiles, gl_dir, "qty", 0,
                           layout_extent=(0, 0, 128, 128),
                           layout_cols=8, layout_rows=8)
    sink_parts.append(
        read_geotrellis_layer(spark, gl_dir, "qty", 0)
        .agg(F.sum(rf.rf_tile_sum("tile")).alias("s"),
             F.count("*").alias("n"),
             F.min("extent.xmin").alias("x0"))
        .select(F.lit("sink").alias("family"),
                F.lit(3).cast("long").alias("k"),
                F.col("s").cast("double").alias("v1"),
                F.col("n").cast("double").alias("v2"),
                F.col("x0").cast("double").alias("v3")))
    sink = sink_parts[0].unionAll(sink_parts[1]) \
        .unionAll(sink_parts[2]).unionAll(sink_parts[3])

    return gt.unionAll(nc).unionAll(vrtg).unionAll(mrfg).unionAll(gb) \
        .unionAll(adpcm).unionAll(jpegp) \
        .unionAll(jp2m).unionAll(jp2s).unionAll(pocf) \
        .unionAll(sink).select(*out_cols)


def _q_tile_stats(spark, sf_dir):
    """Per-tile reductions in one pass: sum/data_cells/min/max/mean, plus
    rf_rgb_composite (RGBComposite.scala:50-97) pinned by value: each
    band rescales to its own per-tile [min,max] -> 8 bits, packs
    0xRRGGBB; the SQL mirror recomputes the same truncating rescale with
    window min/max."""
    t = _two_band(spark, sf_dir)
    return t.select(
        "grp",
        rf.rf_tile_sum("qty").alias("tile_sum"),
        rf.rf_data_cells("qty").alias("data_cells"),
        rf.rf_tile_min("qty").alias("tile_min"),
        rf.rf_tile_max("qty").alias("tile_max"),
        _r0(rf.rf_tile_mean("qty"), 6).alias("tile_mean"),
        rf.rf_tile_sum(
            rf.rf_rgb_composite("qty", "price", "qty")).alias("rgb_sum"),
    )


_STOPWORDS_SQL = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "fr": ["le", "la", "les", "et", "est", "un"],
    "es": ["el", "la", "los", "y", "es", "un"],
    "it": ["il", "la", "gli", "e", "è", "un"],
}


def _lang_id_oracle() -> str:
    hits = ",\n    ".join(
        "len(list_filter(string_split(text, ' '), x -> x in ({}))) as h_{}".format(
            ", ".join(f"'{w}'" for w in ws), lang)
        for lang, ws in _STOPWORDS_SQL.items()
    )
    langs = list(_STOPWORDS_SQL)
    case = "case when greatest(h_en, h_de, h_fr, h_es, h_it) = 0 then 'und'\n"
    for i, lang in enumerate(langs):
        rest = [f"h_{lang} >= h_{other}" for other in langs[i + 1:]]
        cond = " and ".join(rest) if rest else "true"
        case += f"         when {cond} then '{lang}'\n"
    case += "    end"
    return f"""
with h as (
  select {hits}
  from documents
)
select ({case}) as lang_pred, count(*) as n
from h group by lang_pred"""


_SHINGLE3_SQL = """
  list_distinct(list_transform(
    range(1, greatest(len(string_split(text,' ')) - 1, 1)),
    i -> concat_ws(' ', string_split(text,' ')[i],
                        string_split(text,' ')[i+1],
                        string_split(text,' ')[i+2])
  ))"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """50 entries, least-proven first — the external driver runs at most
    the first 50, so new/just-changed oracles lead and long-green ones
    trail (round-4 postmortem: 3 of 53 silently fell off the end)."""
    return {
        # -- new or changed this round ------------------------------------
        "interop_suite": _q_interop_suite,
        "curation": _q_curation,
        "dem_composite": _q_dem_composite,
        "knn_dwithin": _q_knn_dwithin,
        "focal_targets": _q_focal_targets,
        "render_ramp": _q_render_ramp,
        "focal_stats": _q_focal_stats,
        "convolve": _q_convolve,
        "moransi": _q_moransi,
        "ivf_ann": _q_ivf_ann,
        "similarity_suite": _q_similarity_suite,
        "layer_center": _q_layer_center,
        "local_algebra": _q_local_algebra,
        "tile_stats": _q_tile_stats,
        "pyramid": _q_pyramid,
        "overview": _q_overview,
        "raster_join": _q_raster_join,
        "assemble_roundtrip": _q_assemble_roundtrip,
        "minhash_dedup": _q_minhash_dedup,
        "dedup_clusters": _q_dedup_clusters,
        # -- stable since earlier rounds ----------------------------------
        "normalized_difference": _q_normalized_difference,
        "mask_by_value": _q_mask_by_value,
        "clamp_abs": _q_clamp_abs,
        "agg_stats": _q_agg_stats,
        "agg_mean_by_parity": _q_agg_mean_by_parity,
        "agg_local_grouped": _q_agg_local_grouped,
        "explode_tiles": _q_explode,
        "tile_dimensions": _q_tile_dimensions,
        "agg_quantiles": _q_agg_quantiles,
        "focal_mean": _q_focal_mean,
        "focal_seams": _q_focal_seams,
        "streaming_histogram": _q_streaming_histogram,
        "tile_histogram": _q_tile_histogram,
        "resample_nearest": _q_resample_nearest,
        "z2_index": _q_z2_index,
        "st_ops": _q_st_ops,
        "st_predicates": _q_st_predicates,
        "st_constructors": _q_st_constructors,
        "rasterize": _q_rasterize,
        "events_weekly": _q_events_weekly,
        "events_sessions": _q_events_sessions,
        "events_topk": _q_events_topk,
        "lsh_ann": _q_lsh_ann,
        "zonal_stats": _q_zonal_stats,
        "streaming_sessions": _q_streaming_sessions,
        "agg_extent": _q_agg_extent,
        "media_suite": _q_media_suite,
        "text_metrics": _q_text_metrics,
        "text_quality": _q_text_quality,
        "ngram_jaccard": _q_ngram_jaccard,
    }


_HORN_CTE = f"""
            , n as (
              select a.grp, a.ci, a.ri,
                     z1.qty as z1, z2.qty as z2, z3.qty as z3,
                     z4.qty as z4, z6.qty as z6,
                     z7.qty as z7, z8.qty as z8, z9.qty as z9
              from cells a
              join cells z1 on z1.grp=a.grp and z1.ci=greatest(a.ci-1,0)
                           and z1.ri=greatest(a.ri-1,0)
              join cells z2 on z2.grp=a.grp and z2.ci=a.ci
                           and z2.ri=greatest(a.ri-1,0)
              join cells z3 on z3.grp=a.grp and z3.ci=least(a.ci+1,{TILE_COLS-1})
                           and z3.ri=greatest(a.ri-1,0)
              join cells z4 on z4.grp=a.grp and z4.ci=greatest(a.ci-1,0)
                           and z4.ri=a.ri
              join cells z6 on z6.grp=a.grp and z6.ci=least(a.ci+1,{TILE_COLS-1})
                           and z6.ri=a.ri
              join cells z7 on z7.grp=a.grp and z7.ci=greatest(a.ci-1,0)
                           and z7.ri=least(a.ri+1,{TILE_ROWS-1})
              join cells z8 on z8.grp=a.grp and z8.ci=a.ci
                           and z8.ri=least(a.ri+1,{TILE_ROWS-1})
              join cells z9 on z9.grp=a.grp and z9.ci=least(a.ci+1,{TILE_COLS-1})
                           and z9.ri=least(a.ri+1,{TILE_ROWS-1})
            ), g as (
              select grp, ci, ri,
                     ((z3 + 2*z6 + z9) - (z1 + 2*z4 + z7)) / 8.0 as gx,
                     ((z7 + 2*z8 + z9) - (z1 + 2*z2 + z3)) / 8.0 as gy
              from n
            )"""


def oracle_sql() -> dict[str, str]:
    C = _ORACLE_CTE
    return {
        "tile_stats": C + """
            , rgbc as (
              select grp, qty, price,
                     min(qty) over (partition by grp) as mnq,
                     max(qty) over (partition by grp) as mxq,
                     min(price) over (partition by grp) as mnp,
                     max(price) over (partition by grp) as mxp
              from cells
            ), rgbs as (
              select grp, sum(
                floor((qty - mnq) / (case when mxq = mnq then 1.0
                                          else mxq - mnq end) * 255) * 65536
                + floor((price - mnp) / (case when mxp = mnp then 1.0
                                              else mxp - mnp end) * 255) * 256
                + floor((qty - mnq) / (case when mxq = mnq then 1.0
                                            else mxq - mnq end) * 255)
              ) as rgb_sum from rgbc group by grp
            )
            select cells.grp, sum(qty) as tile_sum, count(qty) as data_cells,
                   min(qty) as tile_min, max(qty) as tile_max,
                   round(sum(qty)/count(qty), 6) + 0.0 as tile_mean,
                   cast(any_value(rgb_sum) as double) as rgb_sum
            from cells join rgbs on cells.grp = rgbs.grp
            group by cells.grp""",
        "local_algebra": C + """
            select grp, sum(qty + 5) as add_sum, sum(qty * 3) as mul_sum,
                   cast(sum(case when qty > 25 then 1 else 0 end) as double) as n_gt,
                   round(sum((qty - 1.0)/(50.0 - 1.0)), 6) + 0.0 as rescale_sum,
                   sum(qty - price) as diff_sum,
                   round(sum(price / 2), 6) + 0.0 as half_price_sum,
                   round(sum(least(qty, price)), 6) + 0.0 as min_sum,
                   round(sum(greatest(qty, price)), 6) + 0.0 as max_sum,
                   round(sum(case when qty > 25 then price else qty end), 6) + 0.0 as where_sum
            from cells group by grp""",
        "interop_suite": """
            with ranked as (
              select l_returnflag as flag, cast(l_quantity as int) as q,
                     row_number() over (partition by l_returnflag
                                        order by l_orderkey, l_linenumber) as rn
              from lineitem
            ), flags as (
              select flag, row_number() over (order by flag) - 1 as col
              from (select distinct l_returnflag as flag from lineitem)
            ), gt as (
              select 'gt' as family, cast(f.col as bigint) as k,
                     cast(sum(r.q) as double) as v1, 0.0 as v2,
                     -180.0 + f.col * 1.0 as v3
              from ranked r join flags f on r.flag = f.flag
              where r.rn <= 256 group by f.col
            ), ncg as (
              select 'nc' as family, cast(0 as bigint) as k,
                     cast(sum((i * 53 + j * 17) % 101) as double) as v1,
                     4.0 as v2, -120.5 as v3
              from (select unnest(range(40)) as i) a
              cross join (select unnest(range(60)) as j) b
              union all
              -- k=1 (r11): the NetCDF-4/HDF5 container (chunked +
              -- deflate + shuffle, CF scale 0.5 / offset 3 on int16)
              -- must land on the same closed form: dyadic scale on
              -- integers is bit-exact in float64
              select 'nc' as family, cast(1 as bigint) as k,
                     cast(sum(0.5 * ((i * 31 + j * 7) % 97) + 3.0)
                          as double) as v1,
                     4.0 as v2, -120.5 as v3
              from (select unnest(range(40)) as i) a
              cross join (select unnest(range(60)) as j) b
              union all
              -- k=2 (r12): classic 2-D RECORD variable — unlimited dim
              -- IS the y axis, a second record var interleaves stored
              -- rows at the recsize stride, ascending record coord
              -- drives the north-up flip; same closed-form sum
              select 'nc' as family, cast(2 as bigint) as k,
                     cast(sum((i * 19 + j * 23) % 83) as double) as v1,
                     4.0 as v2, -120.5 as v3
              from (select unnest(range(40)) as i) a
              cross join (select unnest(range(60)) as j) b
            ), vrtg as (
              -- r12: VRT mosaic of two closed-form GeoTIFF halves
              -- (40x30 each, DstRect x=0 and x=30); 2x2 chunks at
              -- tile (32,32); cell-edge xmin from the GeoTransform
              select 'vrt' as family, cast(0 as bigint) as k,
                     cast(sum((i * 11 + j * 3) % 71
                              + (i * 7 + j * 5) % 67) as double) as v1,
                     4.0 as v2, -10.0 as v3
              from (select unnest(range(40)) as i) a
              cross join (select unnest(range(30)) as j) b
            ), mrfg as (
              -- r12: MRF (PNG-paged index/data/manifest triple) over
              -- a 48x56 closed-form grid; 2x2 chunks, xmin = 5
              select 'mrf' as family, cast(0 as bigint) as k,
                     cast(sum((i * 17 + j * 9) % 73) as double) as v1,
                     4.0 as v2, 5.0 as v3
              from (select unnest(range(48)) as i) a
              cross join (select unnest(range(56)) as j) b
            ), gribg as (
              -- r10: GRIB2 closed-form grid through the raster
              -- dispatch; extent corner exercises the [0,360) ->
              -- negative-longitude shift (the file stores 260E).
              -- One row per native data representation carrying the
              -- SAME field: k 0..4 = simple 5.0, complex 5.2,
              -- spatial-differencing 5.3, JPEG2000 5.40, PNG 5.41 —
              -- integer cells, so every packing must be bit-exact
              -- ... and k=5 is the same grid as a legacy GRIB
              -- edition 1 file (IBM hex-float reference value)
              select 'grib' as family, cast(p as bigint) as k,
                     cast(sum((i * 29 + j * 13) % 89) as double) as v1,
                     4.0 as v2, -100.0 as v3
              from (select unnest(range(36)) as i) a
              cross join (select unnest(range(54)) as j) b
              cross join (select unnest(range(6)) as p) c
              group by p
              union all
              -- k=6 (r11): the hand-assembled 5.3 byte-literal file.
              -- Transmitted second differences are all zero with
              -- gmin=1, so the reconstruction has CONSTANT second
              -- difference 1 from ival1=10, ival2=12; the recurrence
              -- closes to X(q) = 10 + q + q*(q+1)/2, and D=1 makes
              -- Y = X/10 over the 2x3 grid (one 32x32 chunk; cell-
              -- edge xmin = 10 - 10/2 = 5).  Both sides round to 9dp
              -- (Y values are non-integer decimals).
              select 'grib' as family, cast(6 as bigint) as k,
                     round(cast((select sum((10 + q + q * (q + 1) / 2)
                                            / 10.0)
                                 from (select unnest(range(6)) as q))
                           as double), 9) as v1,
                     1.0 as v2, 5.0 as v3
            ), adpcm as (
              select 'adpcm' as family, cast(doc_id as bigint) as k,
                     (500 + (doc_id % 7) * 100) * 1000.0 / 8000.0 as v1,
                     cast(1 + doc_id % 2 as double) as v2,
                     8000.0 as v3
              from documents where doc_id < 32
            ), jpegp as (
              select 'jpegp' as family, cast(doc_id as bigint) as k,
                     cast(16 + (doc_id % 3) * 8 as double) as v1,
                     cast(24 + (doc_id % 2) * 16 as double) as v2,
                     1.0 as v3
              from documents where doc_id < 32
            ), jp2m as (
              -- r8 JP2 feature stack: sum/max of (13r + 7c) % 101 over
              -- the 40x60 grid; 4 chunks at tile_dimensions (32, 32)
              select 'jp2m' as family, cast(0 as bigint) as k,
                     cast(sum((i * 13 + j * 7) % 101) as double) as v1,
                     4.0 as v2,
                     cast(max((i * 13 + j * 7) % 101) as double) as v3
              from (select unnest(range(40)) as i) a
              cross join (select unnest(range(60)) as j) b
            ), jp2s as (
              -- subsampled band: nearest upsample counts each half-res
              -- sample exactly 4x on the even-dimensioned grid
              select 'jp2s' as family, cast(0 as bigint) as k,
                     (select cast(sum((i * 13 + j * 7) % 101) as double)
                      from (select unnest(range(40)) as i) a
                      cross join (select unnest(range(60)) as j) b) as v1,
                     (select cast(4 * sum((i * 5 + j * 3) % 53) as double)
                      from (select unnest(range(20)) as i) a
                      cross join (select unnest(range(30)) as j) b) as v2,
                     4.0 as v3
            ), poc as (
              -- r9 POC + subsampled position-order: same closed forms
              -- as jp2s behind a POC-ordered packet stream
              select 'poc' as family, cast(0 as bigint) as k,
                     (select cast(sum((i * 13 + j * 7) % 101) as double)
                      from (select unnest(range(40)) as i) a
                      cross join (select unnest(range(60)) as j) b) as v1,
                     (select cast(4 * sum((i * 5 + j * 3) % 53) as double)
                      from (select unnest(range(20)) as i) a
                      cross join (select unnest(range(30)) as j) b) as v2,
                     4.0 as v3
            ), sinkg as (
              -- r13: DataFrame-level sinks (write_geotiff / write_jp2
              -- / write_tiles) round-trip the lineitem-derived tiles;
              -- v1 re-derives sum(l_quantity over kept cells) from
              -- the parquet itself.  Chunk counts: one 128x128
              -- mosaic at tile (32,32) = 16 for k=0/1; one file per
              -- tile row = 64 for k=2.  Mosaic origin xmin = 0.
              select 'sink' as family, cast(k as bigint) as k,
                     (select cast(sum(qty) as double) from (
                        select l_quantity as qty,
                               row_number() over (
                                 partition by l_orderkey % 64
                                 order by l_orderkey, l_linenumber,
                                          l_partkey, l_suppkey) - 1 as idx
                        from lineitem) where idx < 256) as v1,
                     case when k in (2, 3) then 64.0 else 16.0 end as v2,
                     0.0 as v3
              from (select unnest(range(4)) as k)
            )
            select * from gt union all select * from ncg
            union all select * from vrtg union all select * from mrfg
            union all select * from gribg
            union all select * from adpcm union all select * from jpegp
            union all select * from jp2m union all select * from jp2s
            union all select * from poc
            union all select * from sinkg""",
        "normalized_difference": C + """
            select grp, round(sum((price - qty)/(price + qty)), 6) + 0.0 as nd_sum,
                   count(*) as n
            from cells group by grp""",
        "mask_by_value": C + """
            select grp, sum(case when qty > 25 then null else qty end) as s,
                   count(case when qty > 25 then null else qty end) as n
            from cells group by grp""",
        "clamp_abs": C + """
            select grp,
                   sum(case when qty < 10 then 10 when qty > 40 then 40 else qty end) as clamp_sum,
                   sum(abs(qty - 25)) as absdev_sum
            from cells group by grp""",
        "agg_stats": C + """
            select count(qty) as data_cells,
                   (select count(distinct grp) from cells) * 256 - count(qty) as no_data_cells,
                   min(qty) as min_v, max(qty) as max_v,
                   round(sum(qty)/count(qty), 6) + 0.0 as mean_v,
                   round(sum(qty*qty)/count(qty) - (sum(qty)/count(qty))*(sum(qty)/count(qty)), 4) + 0.0 as var_v
            from cells""",
        "agg_mean_by_parity": C + """
            select cast(grp % 2 as int) as parity,
                   round(sum(qty)/count(qty), 6) + 0.0 as mean_v, count(qty) as n
            from cells group by parity""",
        "agg_local_grouped": C + """
            select cast(grp % 2 as int) as parity,
                   ci as column_index, ri as row_index,
                   round(sum(qty)/count(qty), 6) + 0.0 as mean_v,
                   count(qty) as n,
                   round(median(qty), 6) + 0.0 as med_v
            from cells group by 1, 2, 3 having count(qty) > 0""",
        "explode_tiles": C + """
            select grp, ci as column_index, ri as row_index, qty as cell
            from cells""",
        "assemble_roundtrip": C + """
            select grp, sum(qty) as s, count(qty) as n from cells group by grp""",
        "tile_dimensions": C + f"""
            select grp, {TILE_COLS} as tile_cols, {TILE_ROWS} as tile_rows,
                   'float64' as ct
            from cells group by grp""",
        "agg_quantiles": C + """
            select unnest(quantile_disc(qty, [0.1, 0.25, 0.5, 0.75, 0.9])) as q
            from cells""",
        "focal_mean": C + """
            select a.grp, a.ci as column_index, a.ri as row_index,
                   round(avg(b.qty), 6) + 0.0 as fm
            from cells a join cells b
              on a.grp = b.grp and abs(a.ci - b.ci) <= 1 and abs(a.ri - b.ri) <= 1
            group by a.grp, a.ci, a.ri""",
        "focal_seams": C + f"""
            , g as (
              select (grp % 2) * {TILE_COLS} + ci as gci,
                     (grp // 2) * {TILE_ROWS} + ri as gri, qty
              from cells where grp < 4)
            select cast(a.gci as int) as gci, cast(a.gri as int) as gri,
                   round(avg(b.qty), 6) + 0.0 as focal
            from g a join g b
              on abs(a.gci - b.gci) <= 1 and abs(a.gri - b.gri) <= 1
            group by a.gci, a.gri""",
        "tile_histogram": C + """
            select grp, qty as value, count(*) as n
            from cells group by grp, qty""",
        "streaming_histogram": C + """
            select 'hist' as family,
                   cast(cast(qty as bigint) as varchar) as key,
                   cast(count(*) as double) as val
            from cells group by qty
            union all
            select 'neardup',
                   cast(doc_id as varchar) || ':'
                     || cast(doc_id + 1000000 as varchar),
                   1.0
            from documents
            where doc_id < 120 and len(string_split(text, ' ')) >= 3""",
        "resample_nearest": C + """
            , blocks as (
              select grp, ci // 2 as bc, ri // 2 as br,
                     avg(qty) as bavg, sum(qty) as bsum, max(qty) as bmax
              from cells group by grp, ci // 2, ri // 2
            ), aggs as (
              select grp, round(sum(bavg), 6) + 0.0 as avg_sum,
                     round(sum(bsum), 6) + 0.0 as sum_sum,
                     round(sum(bmax), 6) + 0.0 as max_sum
              from blocks group by grp
            )
            select cells.grp, sum(qty) as s, count(qty) as n,
                   any_value(avg_sum) as avg_sum,
                   any_value(sum_sum) as sum_sum,
                   any_value(max_sum) as max_sum
            from cells join aggs on cells.grp = aggs.grp
            where ci % 2 = 0 and ri % 2 = 0
            group by cells.grp""",
        "raster_join": C + """
            , m as (
              select grp, qty from cells where ci <= 7
              union all
              select grp + 1 as grp, qty from cells where ci >= 8 and (grp % 8) < 7
            ), g as (select distinct grp from cells)
            select g.grp, sum(m.qty) as s, count(m.qty) as n
            from g left join m on g.grp = m.grp
            group by g.grp""",
        "z2_index": """
            with p as (
              select c_custkey,
                     cast((c_custkey % 360) - 180 as double) as x,
                     (c_acctbal % 170)/170*80 as y
              from customer
            ), n as (
              select c_custkey,
                least(cast(floor(((x - (-180.0)) / 360.0) * 2147483648.0) as bigint),
                      2147483647) as xi,
                least(cast(floor(((y - (-90.0)) / 180.0) * 2147483648.0) as bigint),
                      2147483647) as yi
              from p
            ), s1 as (
              select c_custkey,
                     (xi | (xi << 16)) & 281470681808895 as xa,
                     (yi | (yi << 16)) & 281470681808895 as ya from n
            ), s2 as (
              select c_custkey,
                     (xa | (xa << 8)) & 71777214294589695 as xb,
                     (ya | (ya << 8)) & 71777214294589695 as yb from s1
            ), s3 as (
              select c_custkey,
                     (xb | (xb << 4)) & 1085102592571150095 as xc,
                     (yb | (yb << 4)) & 1085102592571150095 as yc from s2
            ), s4 as (
              select c_custkey,
                     (xc | (xc << 2)) & 3689348814741910323 as xd,
                     (yc | (yc << 2)) & 3689348814741910323 as yd from s3
            ), s5 as (
              select c_custkey,
                     (xd | (xd << 1)) & 6148914691236517205 as xe,
                     (yd | (yd << 1)) & 6148914691236517205 as ye from s4
            )
            select c_custkey, (xe | (ye << 1)) as z2 from s5""",
        "st_ops": """
            with p as (
              select c_custkey,
                     cast((c_custkey % 360) - 180 as double) as x,
                     (c_acctbal % 170)/170*80 as y
              from customer)
            select c_custkey,
                   round(sqrt(x*x + y*y), 6) + 0.0 as dist_origin,
                   -- strict: OGC within excludes the zone boundary
                   (x > -90 and x < 90) and (y > -40 and y < 40) as in_zone,
                   round(x, 6) + 0.0 as buf_cx
            from p""",
        "st_predicates": """
            with g as (
              select c_custkey,
                     cast(abs(floor(c_acctbal)) as bigint) % 9 as gx,
                     c_custkey % 9 as gy,
                     c_custkey % 7 as px,
                     cast(abs(floor(c_acctbal)) as bigint) % 7 as py
              from customer)
            select c_custkey,
              -- A = (3,3)-(6,6); B = (gx,gy)-(gx+3,gy+3), both 3x3 boxes
              (((gx = 0 or gx = 6) and greatest(gy,3) <= least(gy+3,6))
                or ((gy = 0 or gy = 6) and greatest(gx,3) <= least(gx+3,6)))
                and not (greatest(gx,3) < least(gx+3,6)
                         and greatest(gy,3) < least(gy+3,6)) as touches_ab,
              (greatest(gx,3) < least(gx+3,6) and greatest(gy,3) < least(gy+3,6))
                and not (gx = 3 and gy = 3) as overlaps_ab,
              (gx = 3 and gy = 3) as equals_ab,
              -- L = horizontal segment (gx, gy+0.5)-(gx+3, gy+0.5)
              (gy + 0.5 > 3 and gy + 0.5 < 6
               and greatest(gx, 3) < least(gx + 3, 6)
               and (gx < 3 or gx + 3 > 6)) as crosses_la,
              (px >= 3 and px <= 6 and py >= 3 and py <= 6) as covers_pt,
              (px > 3 and px < 6 and py > 3 and py < 6) as contains_pt
            from g""",
        "st_constructors": """
            with p as (
              select c_custkey,
                     cast(c_custkey % 100 as double) as x,
                     cast(c_custkey % 50 as double) as y
              from customer)
            select c_custkey,
                   round(x + 1, 6) + 0.0 as p2x,
                   round(y + 1, 6) + 0.0 as ply,
                   cast(0.5 as double) as tri_area,
                   round(2 + sqrt(2.0), 6) + 0.0 as perim,
                   'LineString' as btype,
                   cast(2 as int) as dim,
                   false as closed,
                   true as ring,
                   cast(2 as int) as ng,
                   round(x + 2, 6) + 0.0 as g2x,
                   cast(6.0 as double) as box_area,
                   false as emp,
                   true as badcast
            from p""",
        "rasterize": """
            select r_regionkey,
                   cast(4 * (r_regionkey + 2) as bigint) as n,
                   cast(4 * (r_regionkey + 2) * (r_regionkey + 1) as double) as s
            from region""",
        "events_weekly": """
            select date_trunc('week', ts) as week, event_type,
                   count(*) as n, round(sum(value), 6) + 0.0 as total
            from events group by week, event_type""",
        "events_sessions": """
            with g as (
              select user_id,
                     case when epoch_us(ts) - epoch_us(lag(ts) over
                       (partition by user_id order by ts, event_id))
                       > 1800 * 1000000
                       then 1 else 0 end as new_session
              from events)
            select user_id, cast(sum(new_session) + 1 as bigint) as n_sessions,
                   count(*) as n_events
            from g group by user_id""",
        "events_topk": """
            with t as (
              select event_type, user_id, round(sum(value), 6) + 0.0 as total
              from events group by event_type, user_id)
            select event_type, user_id, total,
                   cast(row_number() over (partition by event_type
                        order by total desc, user_id) as int) as rank
            from t qualify rank <= 3""",
        "pyramid": C + """
            select cast((grp % 8) // 2 as int) as px,
                   cast((grp // 8) // 2 as int) as py,
                   cast(((grp % 8) % 2 * 16 + ci) // 2 as int) as column_index,
                   cast(((grp // 8) % 2 * 16 + ri) // 2 as int) as row_index,
                   round(avg(qty), 6) + 0.0 as v
            from cells
            group by 1, 2, 3, 4
            having count(qty) > 0""",
        "lsh_ann": f"""
            with planes(pid, pv) as (values
                {_lsh_planes_sql(6, 64)}
            ), c as (
              select vec_id, cast(embedding as double[]) as v from embeddings
            ), cb as (
              select c.vec_id, c.v,
                     cast(sum(case when list_dot_product(c.v, p.pv) > 0
                              then 1 << p.pid else 0 end) as bigint) as bucket
              from c cross join planes p group by c.vec_id, c.v
            ), q as (
              select vec_id as query_id, v as qv, bucket
              from cb order by vec_id limit 4
            ), s as (
              select q.query_id, cb.vec_id as neighbor_id,
                     round(list_dot_product(cb.v, q.qv)
                           / (sqrt(list_dot_product(cb.v, cb.v))
                              * sqrt(list_dot_product(q.qv, q.qv))), 6) + 0.0 as cos
              from cb join q on cb.bucket = q.bucket
            )
            select query_id, neighbor_id, cos,
                   cast(row_number() over (partition by query_id
                                           order by cos desc, neighbor_id) as int) as rank
            from s
            qualify rank <= 5""",
        "overview": C + """
            select cast((grp % 8) * 16 + ci as int) as column_index,
                   cast((grp // 8) * 16 + ri as int) as row_index,
                   round(qty, 6) + 0.0 as v
            from cells""",
        "zonal_stats": C + """
            , pts as (
              select grp, ci, ri, qty,
                     (grp % 8) * 16 + ci + 0.5 as px,
                     (grp // 8) * 16 + 16 - (ri + 0.5) as py
              from cells
            ), z as (
              select * from (values
                (1, 3.25, 5.25, 40.75, 30.75),
                (2, 60.25, 70.25, 100.75, 120.75)
              ) as t(zone_id, x0, y0, x1, y1)
            )
            select z.zone_id,
                   round(sum(p.qty) / count(p.qty), 6) + 0.0 as mean_v,
                   cast(count(p.qty) as bigint) as n,
                   round(sum(p.qty), 6) + 0.0 as sum_v,
                   cast(count(*) as bigint) as pts_n
            from pts p join z
              on p.px > z.x0 and p.px < z.x1 and p.py > z.y0 and p.py < z.y1
            group by z.zone_id""",
        "dem_composite": C + _HORN_CTE + """
            , hs as (
              select grp, ci, ri, gx, gy,
                     sin(radians(45.0)) * cos(atan(sqrt(gx*gx + gy*gy)))
                     + cos(radians(45.0)) * sin(atan(sqrt(gx*gx + gy*gy)))
                       * cos(radians(360.0 - 315.0 + 90.0) - atan2(gy, -gx)) as shaded
              from g
            )
            select grp, ci as column_index, ri as row_index,
                   round(degrees(atan(sqrt(gx*gx + gy*gy))), 6) + 0.0 as slope_v,
                   round(case when gx = 0 and gy = 0 then 0.0
                         else fmod(fmod(90.0 - degrees(atan2(gy, -gx)), 360.0)
                                   + 360.0, 360.0)
                         end, 6) + 0.0 as aspect_v,
                   cast(least(greatest(round(255.0 * shaded), 0.0), 255.0) as bigint) as shade
            from hs""",
        "knn_dwithin": C + """
            , q as (
              select grp as qid,
                     cast(grp % 8 as double) * 16.0 + 8.0 as qx,
                     cast(grp // 8 as double) * 16.0 + 8.0 as qy
              from (select distinct grp from cells)
            ), p as (
              select cast(grp % 8 as double) * 16.0 + ci + 0.5 as px,
                     cast(grp // 8 as double) * 16.0 + 16.0 - (ri + 0.5) as py
              from cells
            ), d as (
              select q.qid,
                     sqrt((p.px - q.qx)*(p.px - q.qx)
                          + (p.py - q.qy)*(p.py - q.qy)) as dist
              from q cross join p
            ), r as (
              select qid, dist,
                     row_number() over (partition by qid order by dist) as rk
              from d where dist <= 2.5
            )
            select cast(qid as bigint) as qid, cast(rk as bigint) as knn_rank,
                   round(dist, 6) + 0.0 as dist_v
            from r where rk <= 4""",
        "focal_targets": C + f"""
            , grps as (select distinct grp from cells)
            , grid as (
              select g.grp, x.ci, y.ri
              from grps g,
                   (select unnest(range({TILE_COLS})) as ci) x,
                   (select unnest(range({TILE_ROWS})) as ri) y
            ), gcells as (
              select gr.grp, gr.ci, gr.ri, c.qty
              from grid gr left join cells c
                on c.grp = gr.grp and c.ci = gr.ci and c.ri = gr.ri
            ), nb as (
              select a.grp, a.ci, a.ri, b.qty as v
              from gcells a join gcells b
                on a.grp = b.grp and abs(a.ci - b.ci) <= 1
                   and abs(a.ri - b.ri) <= 1
            ), fm as (
              select grp, ci, ri, avg(v) as m, count(v) as nv
              from nb group by 1, 2, 3
            )
            select g.grp, g.ci as column_index, g.ri as row_index,
                   round(fm.m, 6) + 0.0 as v_all,
                   round(coalesce(g.qty, fm.m), 6) + 0.0 as v_nodata
            from gcells g
            join fm on fm.grp = g.grp and fm.ci = g.ci and fm.ri = g.ri
            where fm.nv > 0""",
        "render_ramp": C + _viridis_lut_cte() + f"""
            , grps as (select distinct grp from cells)
            , grid as (
              select g.grp, x.ci, y.ri
              from grps g,
                   (select unnest(range({TILE_COLS})) as ci) x,
                   (select unnest(range({TILE_ROWS})) as ri) y
            ), gcells as (
              select gr.grp, gr.ci, gr.ri, c.qty
              from grid gr left join cells c
                on c.grp = gr.grp and c.ci = gr.ci and c.ri = gr.ri
            ), ext as (
              select grp, min(qty) as lo, max(qty) as hi
              from cells group by grp
            ), pix as (
              select gc.grp, gc.ci, gc.ri,
                     case when gc.qty is null then 0
                          else cast(trunc(least(greatest(
                            (gc.qty - e.lo)
                            / (case when e.hi = e.lo then 1.0
                                    else e.hi - e.lo end) * 255.0,
                            0.0), 255.0)) as bigint)
                     end as i
              from gcells gc join ext e on e.grp = gc.grp
            )
            select pix.grp, pix.ci as column_index, pix.ri as row_index,
                   l.lr as r, l.lg as g, l.lb as b
            from pix join lut l on l.i = pix.i""",
        "focal_stats": C + """
            , nb as (
              select a.grp, a.ci, a.ri, b.qty as v
              from cells a join cells b
                on a.grp = b.grp and abs(a.ci - b.ci) <= 1
                   and abs(a.ri - b.ri) <= 1
            ), agg1 as (
              select grp, ci, ri, round(median(v), 6) + 0.0 as med,
                     min(v) as fmin, max(v) as fmax, avg(v) as m
              from nb group by 1, 2, 3
            ), cnt as (
              select grp, ci, ri, v, count(*) as c
              from nb group by 1, 2, 3, 4
            ), md as (
              select grp, ci, ri, round(v, 6) + 0.0 as mode_v
              from cnt
              qualify row_number() over (partition by grp, ci, ri
                                         order by c desc, v asc) = 1
            ), sd as (
              -- two-pass population stddev, matching np.nanstd
              select nb.grp, nb.ci, nb.ri,
                     round(sqrt(avg((nb.v - a1.m) * (nb.v - a1.m))), 6) + 0.0 as fsd
              from nb join agg1 a1 using (grp, ci, ri)
              group by 1, 2, 3
            )
            select a1.grp, a1.ci as column_index, a1.ri as row_index,
                   a1.med, md.mode_v, a1.fmin, a1.fmax, sd.fsd
            from agg1 a1
            join md using (grp, ci, ri)
            join sd using (grp, ci, ri)""",
        "moransi": C + """
            , mu as (select grp, avg(qty) as m from cells group by grp)
            , vr as (
              select c.grp, avg((c.qty - mu.m) * (c.qty - mu.m)) as v
              from cells c join mu using (grp) group by c.grp
            ), nb2 as (
              select a.grp, a.ci, a.ri, b.qty as nvq
              from cells a join cells b
                on a.grp = b.grp and abs(a.ci - b.ci) <= 1
                   and abs(a.ri - b.ri) <= 1
                   and not (a.ci = b.ci and a.ri = b.ri)
            ), nm as (
              select grp, ci, ri, avg(nvq) as nmean from nb2 group by 1, 2, 3
            )
            select n.grp, n.ci as column_index, n.ri as row_index,
                   round((c.qty - mu.m) * (n.nmean - mu.m)
                         / (case when vr.v = 0 then 1.0 else vr.v end), 6) + 0.0 as mi
            from nm n
            join cells c on c.grp = n.grp and c.ci = n.ci and c.ri = n.ri
            join mu on mu.grp = n.grp
            join vr on vr.grp = n.grp""",
        "convolve": C + f"""
            select a.grp, a.ci as column_index, a.ri as row_index,
                   round(sum(b.qty * ({_convolve_weight_case()})), 6) + 0.0 as conv_v
            from cells a join cells b
              on a.grp = b.grp and abs(a.ci - b.ci) <= 1
                 and abs(a.ri - b.ri) <= 1
            group by a.grp, a.ci, a.ri""",
        "streaming_sessions": """
            with e as (
              select user_id, cast(floor(epoch(ts)) as bigint) as t, value
              from events
            ), o as (
              select user_id, t, value,
                     case when t - lag(t) over (partition by user_id order by t) > 1800
                          then 1 else 0 end as new_s
              from e
            ), s as (
              select user_id, t, value,
                     sum(new_s) over (partition by user_id order by t
                                      rows unbounded preceding) as sid
              from o
            ), g as (
              select user_id, sid, count(*) as n, sum(value) as tv
              from s group by 1, 2
            ), last as (
              select user_id, max(sid) as maxsid from g group by 1
            )
            select g.user_id,
                   cast(count(*) as bigint) as n_closed,
                   cast(sum(g.n) as bigint) as n_events_closed,
                   round(sum(g.tv), 6) + 0.0 as total_closed
            from g join last using (user_id)
            where g.sid < last.maxsid
            group by g.user_id""",
        "layer_center": """
            select c_custkey,
                   round((c_custkey % 360 - 180.0 + c_custkey % 360 - 178.0) / 2, 6) + 0.0 as cx,
                   round((c_custkey % 140 - 70.0 + c_custkey % 140 - 69.0) / 2, 6) + 0.0 as cy,
                   round(2.0 * 1.0, 6) + 0.0 as bounds_area
            from customer where c_custkey <= 500""",
        "agg_extent": """
            with e as (
              select min(c_custkey % 360 - 180.0) as xmin,
                     min(c_custkey % 140 - 70.0) as ymin,
                     max(c_custkey % 360 - 178.0) as xmax,
                     max(c_custkey % 140 - 69.0) as ymax
              from customer where c_custkey <= 500
            )
            select xmin, ymin, xmax, ymax,
                   -- closed-form spherical mercator of the bbox corners
                   -- (monotone per axis, so agg-then-project == the
                   -- engine's project-then-agg)
                   round(xmin * 6378137.0 * pi() / 180.0, 4) + 0.0 as mxmin,
                   round(6378137.0 * ln(tan(pi()/4 + radians(ymin)/2)), 4) + 0.0 as mymin,
                   round(xmax * 6378137.0 * pi() / 180.0, 4) + 0.0 as mxmax,
                   round(6378137.0 * ln(tan(pi()/4 + radians(ymax)/2)), 4) + 0.0 as mymax
            from e""",
        "media_suite": """
            with params as (
              select doc_id,
                     100.0 + (doc_id % 8) * 50.0 as f,
                     1000 + (doc_id % 5) * 200 as n,
                     0.1::double + (doc_id % 9) * 0.1::double as a,
                     10 + doc_id % 20 as nf,
                     4 + doc_id % 13 as ns,
                     800 + (doc_id % 7) * 150 as nfl,
                     3 + doc_id % 11 as nw
              from documents where doc_id < 64
            ), s as (
              select doc_id, f, a, n, unnest(range(n)) as k from params
            ), w as (
              select doc_id,
                     n * 1000.0 / 8000.0 as duration_ms,
                     round(sqrt(avg((a * sin(2 * pi() * f * k / 8000.0))
                                * (a * sin(2 * pi() * f * k / 8000.0)))), 6) + 0.0 as rms_v
              from s group by 1, 2
            ), fs as (
              -- FLAC leg: integer samples x[k] reproduced in closed form;
              -- the Spark side must decode the Rice+predictor bitstream
              -- EXACTLY for these to agree
              select doc_id, nfl, unnest(range(1, nfl + 1)) as k from params
            ), fw as (
              select doc_id,
                     nfl * 1000.0 / 8000.0 as flac_duration_ms,
                     round(sqrt(avg(
                       pow((((doc_id + 3) * k * 2654435761) % 20001 - 10000)
                           / 32767.0, 2))), 6) + 0.0 as flac_rms
              from fs group by 1, 2
            ), rp as (
              -- resample leg: the 8000 Hz sine linearly resampled to
              -- 12000 Hz; positions use the SAME integer-multiply-then-
              -- one-float-divide arithmetic as the operator
              select doc_id, f, a, n, ((n - 1) * 12000) // 8000 + 1 as m
              from params
            ), rj as (
              select doc_id, f, a, n, m, unnest(range(m)) as j from rp
            ), ri as (
              select doc_id, f, a, m,
                     (j * 8000) / 12000.0 as pos,
                     least(cast(floor((j * 8000) / 12000.0) as bigint),
                           n - 2) as i
              from rj
            ), rv as (
              select doc_id, m,
                     (a * sin(2 * pi() * f * i / 8000.0))
                     + (pos - i)
                       * ((a * sin(2 * pi() * f * (i + 1) / 8000.0))
                          - (a * sin(2 * pi() * f * i / 8000.0))) as y
              from ri
            ), rw as (
              select doc_id,
                     m * 1000.0 / 12000.0 as rs_duration_ms,
                     round(sqrt(avg(y * y)), 6) + 0.0 as rs_rms
              from rv group by doc_id, m
            )
            select w.doc_id, w.duration_ms, w.rms_v,
                   -- MP3: nf frames x 576 samples @ 8 kHz (MPEG2.5 L3)
                   p.nf * 576 * 1000.0 / 8000.0 as mp3_duration_ms,
                   64.0 as mp3_bitrate_kbps,
                   -- MP4: ns samples, sync every 3rd, 33 ms each;
                   -- demux ticks every 100 ms over [0, ns*33)
                   cast(p.ns as bigint) as mp4_n_samples,
                   cast((p.ns + 2) // 3 as bigint) as mp4_n_keyframes,
                   cast(ceil(p.ns * 33 / 100.0) as bigint) as mp4_demux_rows,
                   fw.flac_duration_ms, fw.flac_rms,
                   -- WebM: nw frames 170 ms apart, sync every 4th; muxer
                   -- Duration = last ts + 1; demux ticks every 100 ms
                   cast((p.nw - 1) * 170 + 1 as double) as webm_duration_ms,
                   cast(p.nw as bigint) as webm_n_samples,
                   cast((p.nw + 3) // 4 as bigint) as webm_n_keyframes,
                   cast(ceil(((p.nw - 1) * 170 + 1) / 100.0) as bigint)
                     as webm_demux_rows,
                   rw.rs_duration_ms, rw.rs_rms,
                   -- PDF: 1 + d%3 pages; page-1 text is 24 chars plus
                   -- the decimal doc_id, page-2 copies are
                   -- 5*(3+d%5)+5 chars (round-trip is exact)
                   cast(1 + p.doc_id % 3 as bigint) as pdf_pages,
                   cast(24 + length(cast(p.doc_id as varchar))
                        + (p.doc_id % 3) * (5 * (3 + p.doc_id % 5) + 5)
                        as bigint) as pdf_chars,
                   -- HTML: 1+d%4 paragraphs of 'para {d} word{j} text.'
                   -- (17 chars + decimal doc_id each) joined by newlines
                   cast((1 + p.doc_id % 4)
                        * (17 + length(cast(p.doc_id as varchar)))
                        + (p.doc_id % 4) as bigint) as html_chars,
                   cast(4 + length(cast(p.doc_id as varchar)) as bigint)
                     as html_title_len,
                   -- DOCX: 1+d%3 paragraphs 'dx {d} item {j} end.'
                   -- (15 chars + decimal doc_id); EPUB: 1+d%2 chapters
                   -- 'ch {d} {k} text.' (11 + decimal doc_id)
                   cast((1 + p.doc_id % 3)
                        * (15 + length(cast(p.doc_id as varchar)))
                        + (p.doc_id % 3) as bigint) as docx_chars,
                   cast((1 + p.doc_id % 2)
                        * (11 + length(cast(p.doc_id as varchar)))
                        + (p.doc_id % 2) as bigint) as epub_chars,
                   -- man: '.TH' drops, '.SH NAME' -> 'NAME' (4+1), then
                   -- 1+d%3 body lines 'mm {d} k{j} end.' (11 + decimal
                   -- doc_id each), newline-joined; gzip wrapper (odd
                   -- ids) is transparent
                   cast(5 + (1 + p.doc_id % 3)
                        * (11 + length(cast(p.doc_id as varchar)))
                        + (p.doc_id % 3) as bigint) as man_chars,
                   -- mixed-corpus dispatch: format keyed by doc_id%5;
                   -- char counts reuse the per-format closed forms
                   -- (pdf joins pages with newlines and keeps each
                   -- page's leading newline: + 2*pages - 1)
                   case p.doc_id % 5
                     when 0 then 'pdf' when 1 then 'docx'
                     when 2 then 'epub' when 3 then 'html'
                     else 'text' end as mix_fmt,
                   cast(case p.doc_id % 5
                     when 0 then 24 + length(cast(p.doc_id as varchar))
                          + (p.doc_id % 3) * (5 * (3 + p.doc_id % 5) + 5)
                          + 2 * (1 + p.doc_id % 3) - 1
                     when 1 then (1 + p.doc_id % 3)
                          * (15 + length(cast(p.doc_id as varchar)))
                          + (p.doc_id % 3)
                     when 2 then (1 + p.doc_id % 2)
                          * (11 + length(cast(p.doc_id as varchar)))
                          + (p.doc_id % 2)
                     when 3 then (1 + p.doc_id % 4)
                          * (17 + length(cast(p.doc_id as varchar)))
                          + (p.doc_id % 4)
                     else 12 + length(cast(p.doc_id as varchar))
                   end as bigint) as mix_chars,
                   -- markdown: '# T {d}' + '**b{d}** w.' + 1+d%4 list
                   -- items 'li {j} {d} e.' + '[a{d}](u) end.' rendered
                   -- to text = 15 + 3*len(d) + (1+d%4)*(8+len(d)) + d%4
                   cast(15 + 3 * length(cast(p.doc_id as varchar))
                        + (1 + p.doc_id % 4)
                        * (8 + length(cast(p.doc_id as varchar)))
                        + (p.doc_id % 4) as bigint) as md_chars
            from w join params p on p.doc_id = w.doc_id
                   join fw on fw.doc_id = w.doc_id
                   join rw on rw.doc_id = w.doc_id""",
        "text_metrics": """
            select doc_id,
                   len(string_split(text, ' ')) as n_tokens,
                   length(regexp_extract_all(text, '\\w+|[^\\w\\s]')) as n_bpe,
                   length(text) as n_chars_m,
                   round(len(list_distinct(string_split(text,' ')))*1.0
                         / len(string_split(text,' ')), 6) + 0.0 as distinct_ratio,
                   list_reduce(
                     list_prepend(cast(0 as bigint),
                       list_transform(string_split(text,''),
                                      c -> cast(ascii(c) as bigint))),
                     (a, b) -> (a*31 + b) % 2147483647) as fingerprint
            from documents""",
        "text_quality": f"""
            select 'lang' as family, lang_pred as key,
                   cast(n as double) as val
            from ({_lang_id_oracle()})
            union all
            select 'q' as family, cast(doc_id as varchar) as key, quality as val
            from (
              with m as (
                select doc_id,
                       cast(len(string_split(text,' ')) as double) as t,
                       len(list_distinct(string_split(text,' ')))*1.0
                         / len(string_split(text,' ')) as dr,
                       length(regexp_extract_all(text, '[^\\w\\s]'))*1.0
                         / greatest(length(text), 1) as pr
                from documents)
              select doc_id,
                     round(0.4*least(t/64.0, 1.0) + 0.4*dr + 0.2*(1.0 - pr), 6) + 0.0 as quality
              from m
            )
            union all
            -- char-LM bits/char: bigram model trained on doc_id < 300,
            -- additively smoothed (alpha=0.1), scored over every doc
            select 'ppl', cast(doc_id as varchar), round(bpc, 6) + 0.0
            from (
              with train as (
                select text from documents where doc_id < 300
              ), g2 as (
                select substring(text, i, 2) as g, count(*) as n
                from train, unnest(range(1, greatest(length(text) - 1, 0)
                                         + 1)) as t(i)
                group by 1
              ), g1 as (
                select substring(text, i, 1) as g, count(*) as n
                from train, unnest(range(1, length(text) + 1)) as t(i)
                group by 1
              ), v as (select count(*) as v from g1
              ), dg as (
                -- per-doc gram rows first (plain CTE), then uncorrelated
                -- left joins: DuckDB rejects outer joins on correlated
                -- unnest columns
                select d.doc_id,
                       substring(d.text, i, 2) as g2g,
                       substring(d.text, i, 1) as g1g
                from documents d,
                     unnest(range(1, greatest(length(d.text) - 1, 0) + 1))
                       as t(i)
                where length(d.text) >= 2
              )
              select dg.doc_id,
                     avg(-log2((coalesce(p2.n, 0) + 0.1)
                               / (coalesce(p1.n, 0) + 0.1 * v.v))) as bpc
              from dg
              cross join v
              left join g2 p2 on p2.g = dg.g2g
              left join g1 p1 on p1.g = dg.g1g
              group by dg.doc_id
            )""",
        "curation": r"""
            with newdocs as (select * from documents where doc_id % 2 = 0),
            refdocs as (select * from documents where doc_id % 3 = 0),
            ldfix as (
              select doc_id,
                     concat_ws(chr(10),
                       array_to_string((string_split(text, ' '))[1:6], ' '),
                       'boiler ' || cast(doc_id % 5 as varchar),
                       array_to_string((string_split(text, ' '))[7:12], ' ')
                     ) as text
              from documents where doc_id < 240),
            ldlines as (
              select doc_id, i + 1 as pos,
                     string_split(text, chr(10))[i + 1] as ln
              from ldfix, (select unnest(range(3)) as i)),
            ldhot as (
              select ln, min(doc_id) as keep
              from ldlines where len(regexp_replace(ln, '\s', '', 'g')) > 0
              group by ln having count(distinct doc_id) >= 2),
            ldkept as (
              select l.doc_id, l.pos, l.ln
              from ldlines l left join ldhot h on l.ln = h.ln
              where h.keep is null or l.doc_id = h.keep),
            toks as (
              select doc_id, string_split(text, ' ') as t
              from documents where doc_id < 40
            ),
            bench as (
              select array_to_string(t[3:15], ' ') as g
              from (select string_split(text, ' ') as t
                    from documents where doc_id in (3, 7))
              where len(t) >= 15
            ),
            grams as (
              select doc_id,
                     unnest(list_transform(range(1, len(t) - 11),
                            i -> array_to_string(t[i:i+12], ' '))) as g
              from toks where len(t) >= 13
            ),
            hits as (select distinct grams.doc_id from grams join bench using (g)),
            sub_grams as (
              select distinct doc_id, g from (
                select doc_id,
                       unnest(list_transform(range(1, len(t) - 10),
                              i -> array_to_string(t[i:i+11], ' '))) as g
                from (select doc_id, string_split(text, ' ') as t
                      from documents)
                where len(t) >= 12)
            ),
            sub_pos as (
              -- every 12-gram OCCURRENCE with its 1-based start
              select doc_id,
                     unnest(range(1, len(t) - 10)) as p,
                     unnest(list_transform(range(1, len(t) - 10),
                            i -> array_to_string(t[i:i+11], ' '))) as g
              from (select doc_id, string_split(text, ' ') as t
                    from documents)
              where len(t) >= 12
            ),
            span_hot as (
              select g, min(doc_id) as keep from sub_pos
              group by g having count(distinct doc_id) >= 2
            ),
            span_cuts as (
              select sp.doc_id, sp.p from sub_pos sp
              join span_hot h using (g) where sp.doc_id <> h.keep
            ),
            doc_toks as (
              select doc_id,
                     unnest(string_split(text, ' ')) as tok,
                     unnest(range(1, len(string_split(text, ' ')) + 1))
                       as j
              from documents
            ),
            span_kept as (
              select t.doc_id, t.tok from doc_toks t
              where not exists (select 1 from span_cuts c
                                where c.doc_id = t.doc_id
                                  and c.p between t.j - 11 and t.j)
            ),
            -- keep_first=False: EVERY occurrence of a >=2-doc gram is
            -- cut, including the min-id holder's (no keeper rule)
            span_cuts_all as (
              select sp.doc_id, sp.p from sub_pos sp
              join span_hot h using (g)
            ),
            span_kept_all as (
              select t.doc_id, t.tok from doc_toks t
              where not exists (select 1 from span_cuts_all c
                                where c.doc_id = t.doc_id
                                  and c.p between t.j - 11 and t.j)
            ),
            rep_toks as (
              select doc_id,
                     unnest(list_filter(string_split(text, ' '),
                                        t -> len(t) > 0)) as tok
              from documents where doc_id < 200
            ),
            rep_grams as (
              select doc_id, g, count(*) as c from (
                select doc_id,
                       unnest(list_transform(range(1, len(t)),
                              i -> t[i] || ' ' || t[i+1])) as g
                from (select doc_id,
                             list_filter(string_split(text, ' '),
                                         x -> len(x) > 0) as t
                      from documents where doc_id < 200)
                where len(t) >= 2
              ) group by doc_id, g
            ),
            rep_top as (
              select doc_id, cast(c * len(g) as bigint) as val,
                     row_number() over (partition by doc_id
                                        order by c desc, g asc) as rn
              from rep_grams
            )
            select 'dedup_kept' as family, cast(n.doc_id as varchar) as key,
                   cast(1 as bigint) as val
            from newdocs n
            where not exists (select 1 from refdocs r where r.text = n.text)
            union all
            select 'src_distinct', source, count(distinct text)
            from documents group by source
            union all
            select 'contaminated', cast(d.doc_id as varchar),
                   cast(case when h.doc_id is not null then 1 else 0 end as bigint)
            from (select doc_id from documents where doc_id < 40) d
            left join hits h using (doc_id)
            union all
            -- closed-form: the corpus is digit-free prose, so the only
            -- PII/URLs are the per-residue synthetic spans
            select 'pii_email', source,
                   cast(count(*) filter (where doc_id % 3 = 0) as bigint)
            from documents group by source
            union all
            select 'pii_ipv4', source,
                   cast(count(*) filter (where doc_id % 4 = 0) as bigint)
            from documents group by source
            union all
            select 'url_dom', dom, cast(count(*) as bigint) from (
              select 'ex' || cast(doc_id % 3 as varchar) || '.org' as dom
              from documents where doc_id % 7 = 0
            ) group by dom
            union all
            select 'rep_extra', cast(doc_id as varchar),
                   cast(sum((c - 1) * l) as bigint)
            from (select doc_id, tok, count(*) as c, len(tok) as l
                  from rep_toks group by doc_id, tok)
            group by doc_id
            union all
            select 'rep_top2', cast(d.doc_id as varchar),
                   coalesce(t.val, cast(0 as bigint))
            from (select doc_id from documents where doc_id < 200) d
            left join (select doc_id, val from rep_top where rn = 1) t
              using (doc_id)
            union all
            select 'substr_flag', cast(doc_id as varchar),
                   cast(1 as bigint)
            from (select distinct sg.doc_id
                  from sub_grams sg
                  join (select g from sub_grams group by g
                        having count(*) >= 2) hotg using (g))
            union all
            select 'substr_pairs',
                   cast(a.doc_id as varchar) || '-'
                     || cast(b.doc_id as varchar),
                   cast(count(*) as bigint)
            from (select g from sub_grams group by g
                  having count(*) between 2 and 8) okg
            join sub_grams a using (g)
            join sub_grams b using (g)
            where a.doc_id < b.doc_id
            group by a.doc_id, b.doc_id
            union all
            -- r9 span removal: rebuilt-text length = sum(token length)
            -- + (count - 1) single-space separators; docs losing every
            -- token rebuild to the empty string (length 0)
            select 'spanrm', cast(d.doc_id as varchar),
                   cast(coalesce(k.n_len + k.n_tok - 1, 0) as bigint)
            from documents d
            left join (select doc_id, sum(len(tok)) as n_len,
                              count(*) as n_tok
                       from span_kept group by doc_id) k
              using (doc_id)
            union all
            -- r10: cut-every-copy policy (keep_first=False)
            select 'spanrm_all', cast(d.doc_id as varchar),
                   cast(coalesce(k.n_len + k.n_tok - 1, 0) as bigint)
            from documents d
            left join (select doc_id, sum(len(tok)) as n_len,
                              count(*) as n_tok
                       from span_kept_all group by doc_id) k
              using (doc_id)
            union all
            -- C4 families: pages built so outcomes are arithmetic —
            -- kept lines are (k+1) copies of the 5-word '.'-terminated
            -- line (+22-char lorem / +20-char brace lines when planted,
            -- each with its joining newline); page survives iff
            -- sentences >= 5 and no lorem/brace line was planted
            select 'c4_len', cast(doc_id as varchar),
                   cast((k + 1) * l1len + k
                        + case when lor then 23 else 0 end
                        + case when brc then 21 else 0 end as bigint)
            from (
              select doc_id,
                     length(array_to_string(
                       (string_split(text, ' '))[1:5], ' ')) + 1 as l1len,
                     doc_id % 7 as k,
                     doc_id % 13 = 0 as lor,
                     doc_id % 11 = 0 as brc
              from documents
              where doc_id < 300
                and len(string_split(text, ' ')) >= 12)
            union all
            select 'c4_keep', cast(doc_id as varchar), cast(1 as bigint)
            from documents
            where doc_id < 300 and len(string_split(text, ' ')) >= 12
              and doc_id % 7 >= 4 and doc_id % 13 != 0
              and doc_id % 11 != 0
            union all
            -- url_canon: the canonical string is constructed here,
            -- independent of the operator's parse/sort machinery
            select 'url_canon', cast(doc_id as varchar),
                   cast(length('https://ex' || (doc_id % 3)
                        || '.org/p' || doc_id || '?b=' || (doc_id % 5))
                        as bigint)
            from documents
            where doc_id < 300 and len(string_split(text, ' ')) >= 12
            union all
            -- Gopher families: plants are the only source of bullets /
            -- ellipses / symbols / non-'the' stopwords, so every rule
            -- reduces to residue arithmetic over the base word count
            select 'gopher_sw', cast(doc_id as varchar),
                   cast(case when list_contains(
                              list_transform(string_split(text, ' '),
                                             w -> lower(w)), 'the')
                         then 1 else 0 end
                        + case when doc_id % 3 = 0 then 2 else 0 end
                        as bigint)
            from documents
            where doc_id < 300 and len(string_split(text, ' ')) >= 12
            union all
            select 'gopher_pass', cast(doc_id as varchar),
                   cast(1 as bigint)
            from (
              select doc_id,
                     len(string_split(text, ' ')) as nw0,
                     doc_id % 3 = 0 as sw, doc_id % 4 = 0 as bl,
                     doc_id % 5 = 0 as el, doc_id % 6 = 0 as sy
              from documents
              where doc_id < 300
                and len(string_split(text, ' ')) >= 12)
            where (nw0 + case when sw then 2 else 0 end
                       + case when bl then 3 else 0 end
                       + case when el then 2 else 0 end
                       + case when sy then 3 else 0 end) >= 30
              and sw                               -- stopwords >= 2
              and bl = el                          -- line fracs <= 0.4
              -- ' ### ### ###' is NINE '#' matches (regexp_count is
              -- per-character), plus the one '…' of the ellipsis plant
              and ((9 * case when sy then 1 else 0 end
                    + case when el then 1 else 0 end)
                   / cast(nw0 + case when sw then 2 else 0 end
                        + case when bl then 3 else 0 end
                        + case when el then 2 else 0 end
                        + case when sy then 3 else 0 end as double))
                  <= 0.02
            union all
            -- r13: CCNet line-dedup — rebuilt text byte-compared in key
            select 'linededup', coalesce(k.key, ''),
                   cast(f.doc_id as bigint)
            from ldfix f left join (
              select doc_id, string_agg(ln, chr(10) order by pos) as key
              from ldkept group by doc_id) k
            on f.doc_id = k.doc_id
            union all
            -- r14: write_shards round-trip — every doc exactly once,
            -- content byte-intact, through the sharded parquet write
            select 'shards', cast(doc_id as varchar),
                   octet_length(encode(text))
            from documents where doc_id < 300
            union all
            select 'shards', '_manifest',
                   8 * 1000000 + (select count(*) from documents
                                  where doc_id < 300)""",
        "ngram_jaccard": """
            with t as (
              select doc_id, lang, source,
                     list_distinct(string_split(text,' ')) as grams
              from documents)
            select a.doc_id as id_a, b.doc_id as id_b,
                   round(len(list_intersect(a.grams, b.grams))*1.0
                         / (len(a.grams) + len(b.grams)
                            - len(list_intersect(a.grams, b.grams))), 6) + 0.0 as jaccard
            from t a join t b
              on a.lang = b.lang and a.source = b.source and a.doc_id < b.doc_id
            where len(list_intersect(a.grams, b.grams))*1.0
                  / (len(a.grams) + len(b.grams)
                     - len(list_intersect(a.grams, b.grams))) >= 0.3""",
        "minhash_dedup": f"""
            with corpus as (
              select doc_id, text from documents
              union all
              select doc_id + 1000000, text || ' zzzz' from documents
            ), sh as (
              select doc_id, {_SHINGLE3_SQL} as grams
              from corpus
              where len(string_split(text,' ')) >= 3
            )
            select a.doc_id as id_a, b.doc_id as id_b,
                   round(len(list_intersect(a.grams, b.grams))*1.0
                         / (len(a.grams) + len(b.grams)
                            - len(list_intersect(a.grams, b.grams))), 6) + 0.0 as jaccard
            from sh a join sh b on a.doc_id < b.doc_id
            where len(list_intersect(a.grams, b.grams))*1.0
                  / (len(a.grams) + len(b.grams)
                     - len(list_intersect(a.grams, b.grams))) >= 0.8""",
        "dedup_clusters": f"""
            with recursive corpus as (
              select doc_id, text from documents where doc_id < 200
              union all
              select doc_id + 1000000, text || ' zzzz'
              from documents where doc_id < 200
            ), sh as (
              select doc_id, {_SHINGLE3_SQL} as grams
              from corpus
              where len(string_split(text,' ')) >= 3
            ), p0 as (
              select a.doc_id as s, b.doc_id as d
              from sh a join sh b on a.doc_id < b.doc_id
              where len(list_intersect(a.grams, b.grams))*1.0
                    / (len(a.grams) + len(b.grams)
                       - len(list_intersect(a.grams, b.grams))) >= 0.8
            ), e as (
              select s, d from p0 union select d, s from p0
            ), reach(id, r) as (
              select s, s from e
              union
              select x.id, e.d from reach x join e on e.s = x.r
            )
            select id, min(r) as cluster_id from reach group by id""",
        "similarity_suite": f"""
            with recursive corpus as (
              select doc_id, text from documents
              union all
              select doc_id + 1000000, text from documents
            ), q as (
              select vec_id as query_id, cast(embedding as double[]) as qv
              from embeddings order by vec_id limit 3
            ), c as (
              select vec_id as neighbor_id, cast(embedding as double[]) as cv
              from embeddings
            ), s as (
              select query_id, neighbor_id,
                     round(list_dot_product(cv, qv)
                           / (sqrt(list_dot_product(cv, cv))
                              * sqrt(list_dot_product(qv, qv))), 6) + 0.0 as cos
              from c cross join q
            ), t as (
              select vec_id, label, cast(embedding as double[]) as v
              from embeddings
            ), sd_cents(cid, cv) as (values
                {_ivf_cents_sql(8, 64)}
            ), sd_corpus as (
              select vec_id, cast(embedding as double[]) as v
              from embeddings where vec_id < 400
              union all
              select vec_id + 1000000, cast(embedding as double[])
              from embeddings where vec_id < 400
            ), sd_ca as (
              -- nearest centroid; ordering by the raw dot is norm-invariant
              select vec_id, v, cid,
                     list_dot_product(v, cv)
                       / sqrt(list_dot_product(v, v)) as cc0,
                     row_number() over (partition by vec_id
                          order by list_dot_product(v, cv) desc,
                                   cid asc) as rn
              from sd_corpus cross join sd_cents
            ), sd_a as (
              select vec_id, v, cid, round(cc0, 9) + 0.0 as cc
              from sd_ca where rn = 1
            ), sd_p0 as (
              select x.vec_id as s, y.vec_id as d
              from sd_a x join sd_a y
                on x.cid = y.cid and x.vec_id < y.vec_id
              where round(list_dot_product(x.v, y.v)
                    / (sqrt(list_dot_product(x.v, x.v))
                       * sqrt(list_dot_product(y.v, y.v))), 6) >= 0.98
            ), sd_e as (
              select s, d from sd_p0 union select d, s from sd_p0
            ), sd_reach(id, r) as (
              select s, s from sd_e
              union
              select x.id, sd_e.d from sd_reach x join sd_e on sd_e.s = x.r
            ), sd_comp as (
              select id, min(r) as cluster_id from sd_reach group by id
            ), sd_lab as (
              select a.vec_id, a.cc,
                     coalesce(c.cluster_id, a.vec_id) as sem_cluster
              from sd_a a left join sd_comp c on c.id = a.vec_id
            )
            select 'simhash' as family, cast(a.doc_id as bigint) as id_a,
                   cast(b.doc_id as bigint) as id_b,
                   cast(0 as double) as score, cast(0 as int) as rank
            from corpus a join corpus b
              on a.text = b.text and a.doc_id < b.doc_id
            union all
            select 'cosine' as family, cast(query_id as bigint) as id_a,
                   cast(neighbor_id as bigint) as id_b, cos as score,
                   cast(row_number() over (partition by query_id
                        order by cos desc, neighbor_id) as int) as rank
            from s
            qualify rank <= 5
            union all
            select 'neardup' as family, cast(a.vec_id as bigint) as id_a,
                   cast(b.vec_id as bigint) as id_b,
                   round(list_dot_product(a.v, b.v)
                         / (sqrt(list_dot_product(a.v, a.v))
                            * sqrt(list_dot_product(b.v, b.v))), 6) + 0.0 as score,
                   cast(0 as int) as rank
            from t a join t b on a.label = b.label and a.vec_id < b.vec_id
            where list_dot_product(a.v, b.v)
                  / (sqrt(list_dot_product(a.v, a.v))
                     * sqrt(list_dot_product(b.v, b.v))) >= 0.3
            union all
            select 'semdedup' as family, cast(vec_id as bigint) as id_a,
                   cast(sem_cluster as bigint) as id_b,
                   round(cc, 6) + 0.0 as score,
                   cast(case when row_number() over (
                          partition by sem_cluster
                          order by cc asc, vec_id asc) = 1
                        then 1 else 0 end as int) as rank
            from sd_lab""",
        "ivf_ann": f"""
            with cents(cid, cv) as (values
                {_ivf_cents_sql(8, 64)}
            ), c as (
              select vec_id, cast(embedding as double[]) as v from embeddings
            ), ca as (
              -- corpus -> nearest centroid; argmax of the dot is invariant
              -- to the engine's L2 normalization of the vector
              select c.vec_id, c.v, p.cid,
                     row_number() over (partition by c.vec_id
                          order by list_dot_product(c.v, p.cv) desc,
                                   p.cid asc) as rn
              from c cross join cents p
            ), cl as (
              select vec_id as neighbor_id, v, cid from ca where rn = 1
            ), q0 as (
              select vec_id as query_id, v as qv from c
              order by vec_id limit 3
            ), qa as (
              select q0.query_id, q0.qv, p.cid,
                     row_number() over (partition by q0.query_id
                          order by list_dot_product(q0.qv, p.cv) desc,
                                   p.cid asc) as rn
              from q0 cross join cents p
            ), ql as (
              select query_id, qv, cid from qa where rn <= 2
            ), s as (
              select ql.query_id, cl.neighbor_id,
                     round(list_dot_product(cl.v, ql.qv)
                           / (sqrt(list_dot_product(cl.v, cl.v))
                              * sqrt(list_dot_product(ql.qv, ql.qv))), 6) + 0.0 as cos
              from cl join ql on cl.cid = ql.cid
            )
            select query_id, neighbor_id, cos,
                   cast(row_number() over (partition by query_id
                        order by cos desc, neighbor_id) as int) as rank
            from s
            qualify rank <= 5""",
    }

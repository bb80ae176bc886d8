"""st_join: grid-bucketed geometry spatial join vs brute-force oracle."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from rasterframes_spark.geom import functions as GF
from rasterframes_spark.operators import st_join
from tests.conftest import udf_sites


@pytest.fixture(scope="module")
def pts(spark):
    rng = np.random.default_rng(3)
    xy = rng.uniform(0, 100, (300, 2))
    df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(xy)],
        "pid int, x double, y double")
    return df.select("pid", GF.st_point("x", "y").alias("geometry")).cache()


@pytest.fixture(scope="module")
def polys(spark):
    # 5x5 grid of 18x18 polygons with 2-unit gaps (some points fall in gaps)
    rows = []
    k = 0
    for i in range(5):
        for j in range(5):
            x0, y0 = i * 20.0, j * 20.0
            wkt = (f"POLYGON (({x0} {y0}, {x0+18} {y0}, {x0+18} {y0+18}, "
                   f"{x0} {y0+18}, {x0} {y0}))")
            rows.append((k, wkt))
            k += 1
    df = spark.createDataFrame(rows, "zid int, wkt string")
    return df.select("zid", GF.st_geom_from_wkt("wkt").alias("geometry")) \
        .cache()


def _brute(spark, pts, polys, predicate):
    fn = {"intersects": GF.st_intersects, "within": GF.st_within}[predicate]
    r = polys.select(F.col("zid"), F.col("geometry").alias("zg"))
    return (pts.crossJoin(r)
            .where(fn(F.col("geometry"), F.col("zg")))
            .select("pid", "zid"))


def test_st_join_matches_bruteforce(spark, pts, polys):
    got = st_join(pts, polys, predicate="intersects", grid_size=10.0)
    gpairs = {(r["pid"], r["zid"]) for r in got.collect()}
    bpairs = {(r["pid"], r["zid"])
              for r in _brute(spark, pts, polys, "intersects").collect()}
    assert gpairs == bpairs and len(bpairs) > 100
    # each candidate pair appears exactly once (reference-point dedup)
    assert got.count() == len(gpairs)
    # within == intersects for points
    gw = {(r["pid"], r["zid"]) for r in
          st_join(pts, polys, predicate="within", grid_size=10.0).collect()}
    assert gw == bpairs


def test_st_join_grid_invariance_and_autosize(spark, pts, polys):
    base = {(r["pid"], r["zid"]) for r in
            st_join(pts, polys, grid_size=10.0).collect()}
    for g in (3.0, 18.0, 50.0):
        got = {(r["pid"], r["zid"]) for r in
               st_join(pts, polys, grid_size=g).collect()}
        assert got == base, g
    auto = {(r["pid"], r["zid"]) for r in st_join(pts, polys).collect()}
    assert auto == base


def test_st_join_left_and_plan(spark, pts, polys):
    out = st_join(pts, polys, grid_size=10.0, how="left")
    n_inner = st_join(pts, polys, grid_size=10.0).count()
    matched_pids = {r["pid"] for r in
                    st_join(pts, polys, grid_size=10.0)
                    .select("pid").distinct().collect()}
    assert out.count() == n_inner + (300 - len(matched_pids))
    nulls = out.where(F.col("zid").isNull())
    assert nulls.count() == 300 - len(matched_pids)
    # plan: shuffled equi-join on the grid cells, no cartesian/BNLJ
    plan = st_join(pts, polys, grid_size=10.0) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_st_join_contains_polygons(spark, polys):
    # small boxes fully inside each 18x18 polygon
    rows = []
    for i in range(5):
        x0 = i * 20.0 + 5
        rows.append((i, f"POLYGON (({x0} 5, {x0+2} 5, {x0+2} 7, "
                     f"{x0} 7, {x0} 5))"))
    small = spark.createDataFrame(rows, "sid int, wkt string") \
        .select("sid", GF.st_geom_from_wkt("wkt").alias("geometry"))
    got = st_join(polys, small, predicate="contains", grid_size=10.0)
    pairs = {(r["zid"], r["sid"]) for r in got.collect()}
    # small box i sits inside grid polygon (i, j=0) -> zid = i*5
    assert pairs == {(i * 5, i) for i in range(5)}
    with pytest.raises(ValueError):
        st_join(polys, small, predicate="touches")


def test_st_join_dwithin(spark, pts, polys):
    """Distance join vs brute-force st_distance oracle."""
    from rasterframes_spark.geom import functions as GFn

    r = polys.select(F.col("zid"), F.col("geometry").alias("zg"))
    brute = {(x["pid"], x["zid"]) for x in
             pts.crossJoin(r)
             .where(GFn.st_distance(F.col("geometry"), F.col("zg")) <= 3.0)
             .collect()}
    got = {(x["pid"], x["zid"]) for x in
           st_join(pts, polys, predicate="dwithin", distance=3.0,
                   grid_size=10.0).collect()}
    assert got == brute and len(brute) > 0
    # grid-size invariance for the distance join too
    got2 = {(x["pid"], x["zid"]) for x in
            st_join(pts, polys, predicate="dwithin", distance=3.0,
                    grid_size=25.0).collect()}
    assert got2 == brute
    with pytest.raises(ValueError):
        st_join(pts, polys, predicate="dwithin")


def test_st_knn_join(spark, pts, polys):
    from rasterframes_spark.geom import functions as GFn
    from rasterframes_spark.operators import st_knn_join

    got = st_knn_join(pts, polys, k=2, max_distance=15.0, grid_size=10.0)
    rows = got.collect()
    by_pid = {}
    for r in rows:
        by_pid.setdefault(r["pid"], []).append(r)
    # brute-force oracle
    r2 = polys.select(F.col("zid"), F.col("geometry").alias("zg"))
    brute = pts.crossJoin(r2).select(
        "pid", "zid", GFn.st_distance(F.col("geometry"), F.col("zg"))
        .alias("d")).where(F.col("d") <= 15.0).collect()
    bd = {}
    for r in brute:
        bd.setdefault(r["pid"], []).append((r["d"], r["zid"]))
    for pid, lst in by_pid.items():
        assert len(lst) <= 2
        mine = sorted((r["distance"], r["zid"]) for r in lst)
        exp = sorted(bd[pid])[:len(lst)]
        assert [round(a, 9) for a, _ in mine] == \
            [round(a, 9) for a, _ in exp], pid
    # every pid with any in-range neighbor appears
    assert set(by_pid) == set(bd)


def test_st_knn_join_tie_break_deterministic(spark):
    """Equidistant neighbors straddling the k cutoff must resolve to the
    SAME physical rows regardless of partition layout / AQE — the
    nondeterminism class fixed in raster_join (SURVEY §2.14).  4 right
    points at exactly distance 5 from each query; k=2 must pick the same
    2 across shuffles-partition settings and input layouts."""
    from rasterframes_spark.operators import st_knn_join

    q = spark.createDataFrame(
        [(i, i * 100.0, 0.0) for i in range(8)], "qid int, x double, y double"
    ).select("qid", GF.st_point("x", "y").alias("geometry"))
    rrows = [(i * 4 + j, i * 100.0 + dx, dy)
             for i in range(8)
             for j, (dx, dy) in enumerate(
                 [(5.0, 0.0), (-5.0, 0.0), (0.0, 5.0), (0.0, -5.0)])]
    r = spark.createDataFrame(rrows, "rid int, x double, y double") \
        .select("rid", GF.st_point("x", "y").alias("geometry"))

    def run(npart):
        out = st_knn_join(q.repartition(npart), r.repartition(13 - npart),
                          k=2, max_distance=9.0, grid_size=7.0)
        return sorted((x["qid"], x["rid"], x["knn_rank"])
                      for x in out.collect())

    first = run(1)
    assert len(first) == 16  # 8 queries x k=2
    for n in (3, 7, 12):
        assert run(n) == first, n


def test_st_knn_join_duplicate_left_per_copy_topk(spark):
    """m identical left rows each get their own top-k: m*k output rows,
    knn_rank 1..k repeated m times (docstring contract)."""
    from rasterframes_spark.operators import st_knn_join

    m = 3
    q = spark.createDataFrame([(50.0, 50.0)] * m, "x double, y double") \
        .select(GF.st_point("x", "y").alias("geometry"))
    r = spark.createDataFrame(
        [(i, 50.0 + i + 1, 50.0) for i in range(5)],
        "rid int, x double, y double") \
        .select("rid", GF.st_point("x", "y").alias("geometry"))
    out = st_knn_join(q, r, k=2, max_distance=10.0, grid_size=8.0).collect()
    assert len(out) == m * 2
    ranks = sorted(x["knn_rank"] for x in out)
    assert ranks == [1] * m + [2] * m
    # top-2 neighbors are rid 0 (dist 1) and rid 1 (dist 2), m times each
    assert sorted(x["rid"] for x in out) == [0] * m + [1] * m


def test_st_knn_join_tie_break_precomputed_hash(spark):
    """r14: the tie-break hashes are stamped once per RIGHT row before
    the bucket join (not recomputed per candidate in the window sort).
    (a) the precomputed order must equal the old per-candidate order —
    i.e. the selected rows for an equidistant straddle must match a
    brute-force replay of the original expression (xxhash64 over the
    right row struct, seeds 42-chain and 7); (b) the helper column names
    are reserved on BOTH inputs."""
    import pytest

    from rasterframes_spark.operators import st_knn_join

    # 6 right points all at exactly distance 5 from one query; k=3
    # forces the hash order to pick which 3 survive.
    q = spark.createDataFrame([(0, 0.0, 0.0)], "qid int, x double, y double") \
        .select("qid", GF.st_point("x", "y").alias("geometry"))
    rrows = [(i, 5.0 * ((-1) ** i), 0.0) if i < 2 else
             (i, 0.0, 5.0 * ((-1) ** i)) for i in range(4)]
    rrows += [(4, 3.0, 4.0), (5, -3.0, -4.0)]
    r = spark.createDataFrame(rrows, "rid int, x double, y double") \
        .select("rid", GF.st_point("x", "y").alias("geometry"))
    got = sorted(x["rid"] for x in
                 st_knn_join(q, r, k=3, max_distance=6.0,
                             grid_size=4.0).collect())
    # brute-force replay of the ORIGINAL per-candidate tie-break order
    exp = (r.withColumn("__h1", F.xxhash64(F.struct("rid", "geometry")))
           .withColumn("__h2", F.xxhash64(F.lit(7),
                                          F.struct("rid", "geometry")))
           .orderBy("__h1", "__h2").limit(3).collect())
    assert got == sorted(x["rid"] for x in exp)
    for bad in ("__krh1", "__krh2"):
        with pytest.raises(ValueError):
            st_knn_join(q, r.withColumn(bad, F.lit(1)), k=1,
                        max_distance=6.0, grid_size=4.0)


def test_st_knn_join_single_distance_eval(spark):
    """r15 (§4.4/§2.4): the exact distance is evaluated ONCE — st_join's
    dwithin filter projects it (``.once`` blocks the filter-pushdown
    duplication) and the rank window + output column
    reuse the value.  (a) plan-assert: exactly one _distance_udf
    evaluation; (b) results identical to a brute-force exact knn;
    (c) the carried column name is reserved on inputs."""
    import math

    import pytest

    from rasterframes_spark.operators import st_knn_join

    rows = [(i, (i % 7) + i * 0.003, (i % 5) + i * 0.007)
            for i in range(40)]
    pts = spark.createDataFrame(rows, "lid int, x double, y double") \
        .select("lid", "x", "y", GF.st_point("x", "y").alias("geometry"))
    qrows = [(j, j * 1.5, j * 1.0) for j in range(4)]
    qs = spark.createDataFrame(qrows, "qid int, qx double, qy double") \
        .select("qid", "qx", "qy", GF.st_point("qx", "qy").alias("geometry"))
    out = st_knn_join(qs, pts, k=3, max_distance=3.0, grid_size=3.0)
    assert udf_sites(out)["_distance_udf"] == 1
    got = {(r["qid"], r["lid"], round(r["distance"], 9), r["knn_rank"])
           for r in out.collect()}
    # brute-force oracle: exact distances, same <= bound and top-k by
    # (distance, right content hash) — distances here are all distinct
    # per query, so plain distance order suffices
    exp = set()
    for qid, qx, qy in qrows:
        cands = sorted(
            (math.sqrt((qx - x) ** 2 + (qy - y) ** 2), lid)
            for lid, x, y in rows
            if math.sqrt((qx - x) ** 2 + (qy - y) ** 2) <= 3.0)
        assert len({d for d, _ in cands}) == len(cands)  # no ties
        for rank, (d, lid) in enumerate(cands[:3], 1):
            exp.add((qid, lid, round(d, 9), rank))
    assert got == exp
    with pytest.raises(ValueError):
        st_knn_join(qs, pts.withColumn("__kdist", F.lit(1)), k=1,
                    max_distance=3.0, grid_size=3.0)


def test_st_join_hot_cell_salting(spark):
    """Skewed fixture: thousands of points crammed into ONE grid cell.
    salt=8 must (a) leave the pair output identical to the unsalted
    join, and (b) actually split the hot cell's join keys so no single
    (cell, salt) bucket holds more than ~1/salt of the hot rows."""
    import numpy as np

    from rasterframes_spark.operators.vector_join import _cells

    rng = np.random.default_rng(7)
    # 3000 left points inside [0,1)x[0,1) (one cell at grid 10), plus a
    # sprinkle of cold-cell points elsewhere
    hotxy = rng.uniform(0, 1, (3000, 2))
    coldxy = rng.uniform(30, 90, (200, 2))
    lpts = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in
         enumerate(np.vstack([hotxy, coldxy]))],
        "pid int, x double, y double") \
        .select("pid", GF.st_point("x", "y").alias("geometry"))
    rrows = [(j, float(x), float(y)) for j, (x, y) in
             enumerate(rng.uniform(0, 1, (50, 2)))] + \
            [(99_000 + j, float(x), float(y)) for j, (x, y) in
             enumerate(rng.uniform(30, 90, (40, 2)))]
    rpts = spark.createDataFrame(rrows, "rid int, x double, y double") \
        .select("rid", GF.st_point("x", "y").alias("geometry"))

    base = {(r["pid"], r["rid"]) for r in
            st_join(lpts, rpts, predicate="dwithin", distance=0.05,
                    grid_size=10.0).collect()}
    salted = st_join(lpts, rpts, predicate="dwithin", distance=0.05,
                     grid_size=10.0, salt=8, hot_cell_threshold=500)
    got = {(r["pid"], r["rid"]) for r in salted.collect()}
    assert got == base and len(base) > 100

    # bucket-boundedness: replicate the salting key computation and
    # assert the hot cell's rows spread across all 8 salts with no
    # bucket holding more than 2x the even share
    lc = _cells(lpts, "geometry", 10.0, "l", pad=0.05)
    hot_n = lc.where((F.col("__cx") == 0) & (F.col("__cy") == 0)).count()
    assert hot_n >= 3000
    key = F.struct(F.col("pid"), F.col("geometry"))
    dist = (lc.where((F.col("__cx") == 0) & (F.col("__cy") == 0))
            .groupBy(F.pmod(F.xxhash64(key), F.lit(8)).alias("s"))
            .count().collect())
    assert len(dist) == 8
    assert max(r["count"] for r in dist) <= 2 * hot_n / 8
    # left-outer composes with salting
    n_left = st_join(lpts, rpts, predicate="dwithin", distance=0.05,
                     grid_size=10.0, how="left", salt=8,
                     hot_cell_threshold=500).count()
    matched_pids = {p for p, _ in base}
    assert n_left == len(base) + (3200 - len(matched_pids))


def test_st_join_single_envelope_eval_per_side(spark, pts, polys):
    """r15 (§4.4): the cover-cell bucketing projects each side's envelope
    with ``.once``, so the isNotNull filter can no longer
    be pushed below the projection and duplicate the UDF — exactly ONE
    envelope evaluation per join side (was two: every row crossed its WKB
    payload to Python twice).  Results pinned against the same join run
    via the plain st_envelope expression."""
    out = st_join(pts, polys, predicate="within", grid_size=10.0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert udf_sites(out)["_envelope_udf"] == 2, plan
    got = sorted((r["pid"], r["zid"]) for r in out.collect())
    exp = sorted((r["pid"], r["zid"])
                 for r in _brute(spark, pts, polys, "within").collect())
    assert got == exp and len(exp) > 0

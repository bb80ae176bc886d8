"""IVF ANN, salted aggregates and joins, stateful streaming sessionizer."""

import datetime as dt
import os

import numpy as np
import pytest

from pyspark.sql import functions as F

from rasterframes_spark import pipeline as P


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_ivf_ann_recall_and_self_match(spark, emb):
    queries = emb.limit(5).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = P.cosine_topk(emb, queries, k=5)
    approx = P.ivf_ann_topk(emb, queries, k=5, n_lists=8, n_probe=3)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert all((q, q) in a for q in [r["query_id"] for r in queries.collect()])
    assert len(e & a) / len(e) > 0.4  # probing 3/8 lists of near-random vectors


def test_ivf_cost_is_partial_scan(spark, emb):
    # with n_probe == n_lists the result must equal the exact top-k
    queries = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = P.cosine_topk(emb, queries, k=5)
    full = P.ivf_ann_topk(emb, queries, k=5, n_lists=4, n_probe=4)
    e = {(r["query_id"], r["neighbor_id"], r["cos"]) for r in exact.collect()}
    f = {(r["query_id"], r["neighbor_id"], r["cos"]) for r in full.collect()}
    assert e == f


def test_salted_agg_matches_plain(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plain = {(r["lang"],): (r["n"], r["s"]) for r in
             docs.groupBy("lang").agg(F.count("*").alias("n"),
                                      F.sum("n_chars").alias("s")).collect()}
    salted = P.salted_agg(docs, ["lang"], {"n": ("*", "count"), "s": ("n_chars", "sum")})
    got = {(r["lang"],): (r["n"], r["s"]) for r in salted.collect()}
    assert got == plain


def _salting_nodes(df):
    """Aggregate, Generate and BroadcastExchange nodes of ``df``'s plan."""
    from rasterframes_spark.observe import walk

    names = [n for n, _ in walk(df._jdf.queryExecution().executedPlan())]
    return (sum("Aggregate" in n for n in names), names.count("GenerateExec"),
            names.count("BroadcastExchangeExec"))


def test_salted_join_pays_nothing_when_no_key_can_be_hot(spark):
    """At most one salt, or a row bound at or below the threshold, runs
    the plain join: no hot-key count, no broadcast marker, no explode.
    Otherwise the salted plan gives the plain join's rows."""
    from rasterframes_spark.pipeline.skew import salted_join

    left = spark.range(0, 200, 1, 4).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("l"))
    right = spark.range(0, 30, 1, 2).select(
        (F.col("id") % 5).alias("k"), F.col("id").alias("r"))
    plain = left.join(right, ["k"])
    h = F.xxhash64("l")
    for salts, rows in ((16, 10), (16, 50), (1, None), (0, None)):
        got = salted_join(left, right, ["k"], h, salts, 50, rows)
        assert _salting_nodes(got) == _salting_nodes(plain), (salts, rows)
    salted = salted_join(left, right, ["k"], h, 4, 50)
    assert all(a > b for a, b in zip(_salting_nodes(salted),
                                     _salting_nodes(plain)))
    assert sorted(salted.select("k", "l", "r").collect()) == \
        sorted(plain.select("k", "l", "r").collect())


def test_pair_joins_stay_unsalted_below_the_threshold(spark, monkeypatch):
    """minhash with a known small input and st_join with the default
    ``salt`` plan exactly the nodes of a plain equi-join in place of
    ``salted_join``; an unknown input size plans the salting."""
    from rasterframes_spark.geom import functions as GF
    from rasterframes_spark.operators import st_join, vector_join
    from rasterframes_spark.pipeline import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pts = spark.createDataFrame([(i, float(i), float(i)) for i in range(20)],
                                "pid int, x double, y double") \
        .select("pid", GF.st_point("x", "y").alias("geometry"))
    polys = spark.createDataFrame([(0, "POLYGON ((0 0, 9 0, 9 9, 0 9, 0 0))")],
                                  "zid int, wkt string") \
        .select("zid", GF.st_geom_from_wkt("wkt").alias("geometry"))

    def plans():
        return (_salting_nodes(P.minhash_dedup_pairs(
                    docs, "doc_id", "text", input_rows=500)),
                _salting_nodes(st_join(pts, polys, grid_size=4.0)),
                _salting_nodes(P.minhash_dedup_pairs(
                    docs, "doc_id", "text", input_rows=None)))

    got = plans()
    with monkeypatch.context() as m:
        for mod in (dedup, vector_join):
            m.setattr(mod, "salted_join",
                      lambda left, right, keys, *_: left.join(right, keys))
        plain = plans()
    assert got[:2] == plain[:2]
    assert got[2] != plain[2]


def test_stateful_sessionizer(spark, tmp_path):
    from rasterframes_spark.streaming import stateful_sessionizer

    src = str(tmp_path / "sess_src")
    os.makedirs(src, exist_ok=True)
    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = []
    # user 1: two sessions separated by a 2h gap; user 2: one session
    for i in range(3):
        rows.append({"user_id": 1, "ts": base + dt.timedelta(minutes=5 * i), "value": 1.0})
    for i in range(2):
        rows.append({"user_id": 1, "ts": base + dt.timedelta(hours=3, minutes=5 * i), "value": 2.0})
    rows.append({"user_id": 2, "ts": base, "value": 7.0})
    batch = spark.createDataFrame(rows, schema="user_id long, ts timestamp, value double")
    batch.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    out = stateful_sessionizer(stream, gap_seconds=1800)
    q = (out.writeStream.format("memory").queryName("sessions")
         .outputMode("append").start())
    try:
        # processAllAvailable never returns under ProcessingTimeTimeout
        # (timeout wakeups keep scheduling batches) — poll the sink instead
        import time

        sessions = set()
        for _ in range(40):
            time.sleep(2)
            got = spark.sql("select * from sessions").collect()
            sessions = {(r["user_id"], r["n_events"], r["total_value"]) for r in got}
            if (1, 3, 3.0) in sessions:
                break
        # the first user-1 session closed (gap exceeded within the batch)
        assert (1, 3, 3.0) in sessions
    finally:
        q.stop()


def test_lsh_multiprobe_improves_recall(spark):
    """Hamming-1 multiprobe recovers strictly more of the exact top-k than
    single-bucket probing at the same n_planes, and never less than the
    base; probing all bits == near-exhaustive."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.limit(6).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = {(r["query_id"], r["neighbor_id"])
             for r in P.cosine_topk(emb, queries, k=5).collect()}

    def recall(mp):
        got = {(r["query_id"], r["neighbor_id"]) for r in P.lsh_ann_topk(
            emb, queries, k=5, n_planes=6, dim=64, multiprobe=mp).collect()}
        return len(got & exact) / len(exact)

    r0, r1 = recall(0), recall(1)
    assert r1 >= r0
    assert recall(6) > 0.9  # probing every Hamming ball ~ brute force


def test_st_join_scale_smoke(spark):
    """50k points x 400 polygons: the grid-bucket join completes in
    seconds (a BNLJ would evaluate 20M exact predicates) and returns the
    arithmetically expected membership count."""
    import time

    import numpy as np

    from rasterframes_spark.geom import functions as GFn
    from rasterframes_spark.operators import st_join
    from pyspark.sql import functions as F

    n = 50_000
    pts = spark.range(n).select(
        F.col("id").alias("pid"),
        GFn.st_point((F.col("id") % 1000).cast("double") + 0.5,
                     ((F.col("id") / 1000).cast("int")).cast("double") + 0.75)
        .alias("geometry"))
    # 20x20 grid of 50x2.5-ish zones: polygon (i,j) covers x in [i*50,(i+1)*50), y in [j*2.5, ...)
    zones = []
    k = 0
    for i in range(20):
        for j in range(20):
            x0, y0 = i * 50.0, j * 2.5
            zones.append((k, f"POLYGON (({x0} {y0}, {x0+50} {y0}, "
                          f"{x0+50} {y0+2.5}, {x0} {y0+2.5}, {x0} {y0}))"))
            k += 1
    zdf = spark.createDataFrame(zones, "zid int, wkt string").select(
        "zid", GFn.st_geom_from_wkt("wkt").alias("geometry"))
    t0 = time.time()
    out = st_join(pts, zdf, predicate="within", grid_size=25.0)
    cnt = out.count()
    dt = time.time() - t0
    # every point falls strictly inside exactly one zone (y = k + 0.75 is
    # never a multiple of the 2.5 zone pitch; x = m + 0.5 never of 50)
    assert cnt == n
    assert dt < 120, f"st_join scale smoke too slow: {dt:.1f}s"
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

"""SemDeDup-style semantic deduplication (pipeline/dedup.py).

Abbas et al. 2023 (arXiv:2303.09540): cluster the embedding space, prune
within-cluster near-duplicates, keep the least prototypical copy. Planted
geometry makes every verdict derivable by hand; a numpy brute force
mirrors the whole operator for randomized parity.
"""
from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from rasterframes_spark.pipeline.dedup import semantic_dedup
from tests.conftest import count_jobs, udf_sites


def _unit(v):
    v = np.asarray(v, dtype="float64")
    return v / np.linalg.norm(v)


CENTS = np.eye(4)[:, :4]  # 4 orthogonal centroids in R^4
BIG = 2 ** 60  # ids >= 2**53 have no exact float64


def _planted(spark):
    """Two near-dup groups in cluster 0, a singleton in cluster 1, and a
    cross-cluster near-pair that must NOT pair (blocking)."""
    e = np.eye(4)
    rows = [
        # group A (cluster 0): 3 copies, slightly rotated; id 12 is the
        # farthest from the centroid -> the paper's keeper
        (10, _unit(e[0] + 0.010 * e[1])),
        (11, _unit(e[0] + 0.015 * e[1])),
        (12, _unit(e[0] + 0.200 * e[1])),
        # group B (cluster 0): 2 copies, orthogonal-ish to A within the
        # cluster half-space so it doesn't merge with A
        (20, _unit(e[0] + 0.9 * e[2])),
        (21, _unit(e[0] + 0.905 * e[2])),
        # singleton (cluster 1)
        (30, _unit(e[1] + 0.3 * e[3])),
        # near-pair straddling clusters 2 and 3: cosine ~0.9999 but they
        # sit on different sides of the 45-degree boundary
        (40, _unit(e[2] + 0.999 * e[3])),
        (41, _unit(e[3] + 0.999 * e[2])),
    ]
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>")


def test_planted_groups_paper_keep_rule(spark):
    out = semantic_dedup(_planted(spark), "vec_id", centroids=CENTS,
                         threshold=0.97).orderBy("vec_id").collect()
    r = {x.vec_id: x for x in out}
    # assignments
    assert [r[i].sem_list for i in (10, 11, 12)] == [0, 0, 0]
    assert r[30].sem_list == 1
    # group A: one component labeled min id 10; keeper = 12 (lowest
    # cosine to centroid 0 by construction)
    assert [r[i].sem_cluster for i in (10, 11, 12)] == [10, 10, 10]
    assert [r[i].kept for i in (10, 11, 12)] == [False, False, True]
    # group B: component 20; ids 20/21 nearly equidistant -> keeper is
    # the one with strictly lower cent_cos
    assert [r[i].sem_cluster for i in (20, 21)] == [20, 20]
    keepers_b = [i for i in (20, 21) if r[i].kept]
    assert len(keepers_b) == 1
    assert r[keepers_b[0]].cent_cos == min(r[20].cent_cos, r[21].cent_cos)
    # singleton: own group, kept
    assert (r[30].sem_cluster, r[30].kept) == (30, True)
    # cross-cluster near-pair: different clusters -> both kept (the
    # paper's accepted approximation; pairs never cross clusters)
    assert r[40].sem_list != r[41].sem_list
    assert r[40].kept and r[41].kept
    # exactly one keeper per group
    assert sum(x.kept for x in out) == 5


def test_min_id_keep_rule(spark):
    out = semantic_dedup(_planted(spark), "vec_id", centroids=CENTS,
                         threshold=0.97, keep="min_id").collect()
    r = {x.vec_id: x for x in out}
    assert [r[i].kept for i in (10, 11, 12)] == [True, False, False]
    assert [r[i].kept for i in (20, 21)] == [True, False]
    assert r[30].kept


def test_brute_force_parity(spark):
    """Randomized embeddings: numpy recomputes assignment, within-cluster
    pairs, transitive groups and the farthest-keeper rule exactly."""
    rng = np.random.default_rng(5)
    n, d, k, thr = 80, 8, 4, 0.92
    base = rng.standard_normal((k, d))
    vecs = []
    for i in range(n):
        c = base[i % k] + 0.35 * rng.standard_normal(d)
        vecs.append(_unit(c))
    cents = rng.standard_normal((k, d))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    got = {r.vec_id: r for r in semantic_dedup(
        df, "vec_id", centroids=cents, threshold=thr).collect()}

    cu = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    x = np.stack(vecs)
    sims = x @ cu.T
    assign = np.argmax(sims, axis=1)
    ccos = sims[np.arange(n), assign]
    # union-find over within-cluster pairs
    parent = list(range(n))

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    cos = x @ x.T
    for i in range(n):
        for j in range(i + 1, n):
            if assign[i] == assign[j] and round(cos[i, j], 6) >= thr:
                parent[find(j)] = find(i)
    groups: dict[int, list[int]] = {}
    for i in range(n):
        groups.setdefault(find(i), []).append(i)
    for members in groups.values():
        label = min(members)
        keeper = min(members, key=lambda i: (round(ccos[i], 9), i))
        for i in members:
            assert got[i].sem_list == assign[i], i
            assert got[i].sem_cluster == label, (i, members)
            assert got[i].kept == (i == keeper), (i, members, keeper)


def test_blas_pair_method_matches_sql(spark):
    """method='blas' (per-cluster gram matrix, the 100 TB pair path)
    must agree pair-for-pair with the default Catalyst self-join — both
    round cosines to 6 decimals before thresholding."""
    from rasterframes_spark.pipeline.dedup import embedding_neardup_pairs

    rng = np.random.default_rng(11)
    n, d, k, thr = 120, 16, 5, 0.9
    base = rng.standard_normal((k, d))
    vecs = [_unit(base[i % k] + 0.4 * rng.standard_normal(d))
            for i in range(n)]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    # pair-level parity on an explicit blocking column
    blocked = df.withColumn("blk", (F.col("vec_id") % 5).cast("int"))
    p_sql = {(r.id_a, r.id_b, r.cos) for r in embedding_neardup_pairs(
        blocked, "vec_id", block_cols=["blk"], threshold=thr).collect()}
    p_blas = {(r.id_a, r.id_b, r.cos) for r in embedding_neardup_pairs(
        blocked, "vec_id", block_cols=["blk"], threshold=thr,
        method="blas").collect()}
    assert p_sql and p_sql == p_blas
    # a null id pairs with nothing, and ids past 2**53 stay exact
    big = spark.createDataFrame(
        [(BIG + 1, [1.0, 0.0], 0), (BIG + 3, [1.0, 0.002], 0),
         (None, [1.0, 0.001], 0)],
        "vec_id long, embedding array<double>, blk int")
    for method in ("sql", "blas"):
        assert [tuple(r) for r in embedding_neardup_pairs(
            big, "vec_id", block_cols=["blk"], threshold=thr,
            method=method).collect()] == [(BIG + 1, BIG + 3, 0.999998)]
    # the blas path refuses to go quadratic without a blocking key
    with pytest.raises(ValueError, match="block"):
        embedding_neardup_pairs(df, "vec_id", method="blas",
                                allow_unblocked=True)


def test_blas_gram_tiling_exact(spark):
    """The per-block gram matrix is computed in gram_chunk_rows tiles
    (VERDICT r8 #4: an unguarded skewed mega-cluster built an O(n^2)
    matrix in one task). Tiling must be EXACT: a chunk smaller than
    the block — forcing diagonal and off-diagonal tiles, uneven last
    tile — yields the identical pair set as one unsplit matrix."""
    from rasterframes_spark.pipeline.dedup import embedding_neardup_pairs

    rng = np.random.default_rng(7)
    n, d = 97, 8  # prime n: the last tile is ragged on both axes
    base = rng.standard_normal((3, d))
    vecs = [_unit(base[i % 3] + 0.3 * rng.standard_normal(d))
            for i in range(n)]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>, blk int")

    def pairs(chunk):
        return {(r.id_a, r.id_b, r.cos) for r in embedding_neardup_pairs(
            df, "vec_id", block_cols=["blk"], threshold=0.9,
            method="blas", gram_chunk_rows=chunk).collect()}

    whole = pairs(10_000)   # one tile — the pre-tiling behavior
    assert whole == pairs(16) == pairs(7) == pairs(1)
    assert whole  # non-vacuous: planted near-dups exist


def test_blas_rounding_is_half_up_like_spark(spark):
    """ADVICE r8: np.round is half-EVEN while the SQL path's F.round is
    HALF_UP — a cosine on an exact 5e-7 boundary diverged. The gram
    path now rounds HALF_UP; pin it against Spark's own F.round on
    boundary values and a random sweep."""
    from rasterframes_spark.pipeline.dedup import _round_half_up6

    vals = [0.0000005, -0.0000005, 0.1234565, -0.1234565, 0.9999995,
            -0.9999995, 0.1234575, 1.0, -1.0, 0.0]
    vals += list(np.random.default_rng(3).uniform(-1, 1, 200))
    got = _round_half_up6(np.asarray(vals, dtype="float64"))
    exp = [r.r for r in spark.createDataFrame(
        [(float(v),) for v in vals], "v double")
        .select(F.round("v", 6).alias("r")).collect()]
    assert list(got) == pytest.approx(exp, abs=0.0)


def test_trained_centroids_smoke(spark):
    """No injected centroids: training samples the corpus (seeded) and the
    contract holds — exactly one keeper per group, verdict total = corpus."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dup = emb.withColumn("vec_id", F.col("vec_id") + 100000)
    both = emb.unionByName(dup)  # every vector duplicated exactly once
    out = semantic_dedup(both, "vec_id", n_clusters=8, threshold=0.999999,
                         sample_size=256, seed=1)
    n = emb.count()
    assert out.count() == 2 * n
    # every (v, v+100000) twin shares a cluster -> exactly n keepers
    assert out.where("kept").count() == n
    twins = (out.withColumn("base", F.pmod(F.col("vec_id"), F.lit(100000)))
             .groupBy("base").agg(F.countDistinct("sem_cluster").alias("c")))
    assert twins.where(F.col("c") != 1).count() == 0


def test_bad_keep_mode_raises(spark):
    with pytest.raises(ValueError, match="keep must be"):
        semantic_dedup(_planted(spark), "vec_id", centroids=CENTS,
                       keep="latest")


def _edge_rows(spark):
    """Two centroid blocks (e0, e1 of CENTS) with duplicate ids, ids past
    2**53 that collide as float64, a null embedding and two zero
    vectors."""
    e = np.eye(4)
    rows = [
        # block 0: a pair of big ids (float64 rounds both to 2**60)
        (BIG + 1, e[0] + 0.01 * e[2]),
        (BIG + 3, e[0] + 0.02 * e[2]),
        # id 7 twice, with different vectors; both pair with 8, not with
        # each other
        (7, e[0] + 0.5 * e[3]),
        (7, e[0] + 0.505 * e[3]),
        (8, e[0] + 0.495 * e[3]),
        # id 9 twice, the same vector
        (9, e[0] + 0.3 * e[1]),
        (9, e[0] + 0.3 * e[1]),
        # zero vectors: no cosine, each its own group
        (60, 0 * e[0]),
        (61, 0 * e[0]),
        # block 1: a small-id pair, and a big id labelled by a small one
        (100, e[1] + 0.01 * e[2]),
        (101, e[1] + 0.012 * e[2]),
        (102, e[1] + 0.5 * e[3]),
        (BIG + 5, e[1] + 0.502 * e[3]),
    ]
    data = [(i, [float(x) for x in v]) for i, v in rows]
    data.append((50, None))  # null embedding: dropped
    return spark.createDataFrame(data, "vec_id long, embedding array<double>"), rows


@pytest.mark.parametrize("keep", ["farthest", "min_id"])
def test_edge_rows_pinned(spark, keep):
    df, rows = _edge_rows(spark)
    got = sorted((r.vec_id, r.cent_cos, r.sem_list, r.sem_cluster, r.kept)
                 for r in semantic_dedup(df, "vec_id", centroids=CENTS,
                                         threshold=0.99, keep=keep).collect())
    far = keep == "farthest"
    # (id, sem_list, sem_cluster, kept), ordered by (id, cent_cos, kept)
    assert [g[:1] + g[2:] for g in got] == [
        (7, 0, 7, True),           # the id-7 row farther from e0
        (7, 0, 7, not far),
        (8, 0, 7, False),
        (9, 0, 9, not far),        # farthest keeps one of the twins
        (9, 0, 9, True),
        (60, 0, 60, True),
        (61, 0, 61, True),
        (100, 1, 100, not far),
        (101, 1, 100, far),
        (102, 1, 102, not far),
        (BIG + 1, 0, BIG + 1, not far),
        (BIG + 3, 0, BIG + 1, far),
        (BIG + 5, 1, 102, far),
    ]
    cent_cos = sorted((i, np.max(v @ CENTS.T) / max(np.linalg.norm(v), 1e-12))
                      for i, v in rows)
    assert [g[1] for g in got] == pytest.approx([c for _, c in cent_cos],
                                                abs=1e-9)


@pytest.mark.parametrize("keep", ["farthest", "min_id"])
def test_null_id_rows_get_no_verdict(spark, keep):
    """A row with a null id pairs with nothing and gets a null sem_cluster
    and a null kept, under both keep rules, even when its vector equals
    another row's."""
    df = spark.createDataFrame(
        [(None, [1.0, 0.0]), (None, [1.0, 0.01]), (None, [0.0, 1.0]),
         (BIG + 1, [1.0, 0.0]), (BIG + 3, [1.0, 0.001])],
        "vec_id long, embedding array<double>")
    got = sorted(((r.vec_id is None, r.vec_id, r.sem_list, r.sem_cluster,
                   r.kept) for r in semantic_dedup(
        df, "vec_id", centroids=np.eye(2), threshold=0.99,
        keep=keep).collect()), key=lambda t: (t[0], t[1] or 0, t[2]))
    far = keep == "farthest"
    assert got == [(False, BIG + 1, 0, BIG + 1, not far),
                   (False, BIG + 3, 0, BIG + 1, far),
                   (True, None, 0, None, None),
                   (True, None, 0, None, None),
                   (True, None, 1, None, None)]


def test_long_chain_is_one_component(spark):
    """40 unit vectors 2 degrees apart from -40 to 38 degrees: neighbours
    match at threshold 0.999 (cos 2deg ~ 0.99939), vectors two steps apart
    do not (cos 4deg ~ 0.99756).  The chain is one component however long,
    labelled with its min id; the farthest keeper is the -40 degree end."""
    ang = np.radians(np.arange(-40, 40, 2))
    ids = 1000 - np.arange(len(ang))  # min id at the +38 degree end
    df = spark.createDataFrame(
        [(int(i), [float(np.cos(a)), float(np.sin(a))])
         for i, a in zip(ids, ang)], "vec_id long, embedding array<double>")
    cents = [[1.0, 0.0], [-1.0, 0.0]]
    for keep, keeper in (("farthest", 1000), ("min_id", 961)):
        rows = semantic_dedup(df, "vec_id", centroids=cents, threshold=0.999,
                              keep=keep).collect()
        assert len(rows) == 40
        assert {r.sem_cluster for r in rows} == {961}
        assert [r.vec_id for r in rows if r.kept] == [keeper]


def test_build_jobs_and_sites(spark, tmp_path):
    """Building the operator runs no Spark job with injected centroids and
    only the centroid trainer's jobs without; the plan holds one
    assignment site and one per-block kernel."""
    from rasterframes_spark.pipeline.similarity import _train_unit_centroids

    df, _ = _edge_rows(spark)
    sd, jobs = count_jobs(spark, lambda: semantic_dedup(
        df, "vec_id", centroids=CENTS, threshold=0.99))
    assert jobs == 0
    assert udf_sites(sd) == {"assign": 1, "block": 1}
    # trained centroids: the trainer's jobs and no other (on this
    # RDD-backed frame, a two-job count under AQE and the sample)
    _, trainer = count_jobs(spark, lambda: _train_unit_centroids(
        df, "embedding", 2, 2048, 42, None, caller="semantic_dedup"))
    _, jobs = count_jobs(spark, lambda: semantic_dedup(
        df, "vec_id", n_clusters=2, threshold=0.99))
    assert jobs == trainer == 3
    df.write.parquet(str(tmp_path / "emb"))
    scan = spark.read.parquet(str(tmp_path / "emb"))
    sd, jobs = count_jobs(spark, lambda: semantic_dedup(
        scan, "vec_id", n_clusters=2, threshold=0.99))
    assert jobs == 1  # the sample; the row count is the parquet footer
    assert udf_sites(sd) == {"assign": 1, "block": 1}

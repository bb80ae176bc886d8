"""Corpus-curation operators: cross-corpus dedup, decontamination,
mixture sampling, sequence packing — duckdb/pandas oracles where the
semantics are relational, invariant checks where they are greedy."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from rasterframes_spark import pipeline as P

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_dedup_against_exact(spark, docs):
    ref = docs.where(F.col("doc_id") % 3 == 0)
    new = docs.where(F.col("doc_id") % 2 == 0)
    out = P.dedup_against_exact(new, ref)
    got = {r["doc_id"] for r in out.collect()}
    ref_texts = {r["text"] for r in ref.collect()}
    exp = {r["doc_id"] for r in new.collect() if r["text"] not in ref_texts}
    assert got == exp
    # schema passthrough: no helper columns leak
    assert out.columns == new.columns


def test_dedup_against_minhash_finds_planted(spark, docs):
    ref = docs.select("doc_id", "text").where(F.col("doc_id") < 20)
    # new corpus: near-copies of ref (one appended token) + disjoint docs
    near = ref.select((F.col("doc_id") + 5000).alias("doc_id"),
                      F.concat("text", F.lit(" zzzz")).alias("text"))
    clean = docs.select("doc_id", "text").where(
        (F.col("doc_id") >= 25) & (F.col("doc_id") < 35))
    new = near.union(clean)
    pairs = P.dedup_against_minhash(new, ref, "doc_id", "text",
                                    num_perm=32, bands=16, threshold=0.8)
    rows = pairs.collect()
    flagged = {r["new_id"] for r in rows}
    # every planted near-copy pairs with its source doc
    assert {r["new_id"] - 5000 for r in rows if r["new_id"] >= 5000} >= \
        {r["doc_id"] for r in ref.collect() if len(r["text"].split()) >= 10}
    # cross-corpus only: ids come from the right sides
    assert all(r["ref_id"] < 20 for r in rows)
    # the disjoint docs never pair at 0.8
    assert not (flagged & {r["doc_id"] for r in clean.collect()})


def test_dedup_against_minhash_rejects_bad_bands(spark, docs):
    """bands must divide num_perm: bands > num_perm floors the band
    width to 0 and turns the LSH join into an all-pairs join."""
    ref = docs.select("doc_id", "text").where(F.col("doc_id") < 20)
    for bands in (64, 10):
        with pytest.raises(ValueError, match="divide num_perm"):
            P.dedup_against_minhash(ref, ref, "doc_id", "text",
                                    num_perm=32, bands=bands)


def test_decontaminate_flags_ngram_overlap(spark, docs):
    # benchmark = exact 13-token windows lifted from two documents
    src = docs.where(F.col("doc_id").isin(3, 7)).collect()
    bench_rows = []
    for r in src:
        toks = r["text"].split()
        if len(toks) >= 13:
            bench_rows.append((" ".join(toks[2:15]),))
    bench = spark.createDataFrame(bench_rows, "text string")
    out = P.decontaminate(docs.where(F.col("doc_id") < 40), bench, n=13)
    flags = {r["doc_id"]: r["contaminated"] for r in out.collect()}
    for r in src:
        if len(r["text"].split()) >= 15 and r["doc_id"] < 40:
            assert flags[r["doc_id"]] is True
    # a doc sharing no 13-gram stays clean
    assert sum(flags.values()) <= 6  # only the sources (+ exact dup texts)
    dropped = P.decontaminate(docs.where(F.col("doc_id") < 40), bench,
                              n=13, mode="drop")
    assert dropped.count() == sum(1 for v in flags.values() if not v)
    assert "contaminated" not in dropped.columns


def test_sample_mixture_deterministic_and_weighted(spark, docs):
    w = {"web": 1.0, "books": 0.5, "code": 0.0}
    a = P.sample_mixture(docs, w, seed=1)
    b = P.sample_mixture(docs, w, seed=1)
    assert sorted(r["doc_id"] for r in a.collect()) == \
        sorted(r["doc_id"] for r in b.collect())
    counts = {r["source"]: r["n"] for r in
              a.groupBy("source").agg(F.count("*").alias("n")).collect()}
    totals = {r["source"]: r["n"] for r in
              docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts.get("web", 0) == totals.get("web", 0)  # weight 1 keeps all
    assert "code" not in counts  # weight 0 drops all
    if "books" in totals and totals["books"] >= 20:
        frac = counts.get("books", 0) / totals["books"]
        assert 0.25 < frac < 0.75  # Bernoulli(0.5) within loose bounds
    # unlisted sources drop
    assert set(counts) <= set(w)


def test_pack_documents_respects_budget(spark, docs):
    tok = docs.select("doc_id", P.token_count("text").alias("n_tokens"))
    out = P.pack_documents(tok, max_tokens=200, num_bins=4)
    rows = out.collect()
    assert {r["doc_id"] for r in rows} == {r["doc_id"] for r in tok.collect()}
    sums = {}
    for r in rows:
        sums.setdefault(r["pack_id"], []).append(r["n_tokens"])
    for pid, toks in sums.items():
        if len(toks) > 1:
            assert sum(toks) <= 200
        else:  # singleton packs may hold an over-long doc
            pass
    # packing is deterministic
    again = {(r["doc_id"], r["pack_id"]) for r in
             P.pack_documents(tok, max_tokens=200, num_bins=4).collect()}
    assert again == {(r["doc_id"], r["pack_id"]) for r in rows}
    # efficiency sanity: not one doc per pack when many fit
    small = tok.where(F.col("n_tokens") <= 100)
    n_small = small.count()
    if n_small >= 8:
        packed = P.pack_documents(small, max_tokens=200, num_bins=2)
        assert packed.select("pack_id").distinct().count() < n_small


def test_sample_mixture_oversampling(spark, docs):
    base = docs.select("doc_id", "source", "text")
    srcs = sorted({r["source"] for r in base.select("source")
                   .distinct().collect()})
    s0, s1 = srcs[0], srcs[1]
    w = {s0: 2.5, s1: 1.0}
    out = P.sample_mixture(base, w, seed=5)
    n0_in = base.where(F.col("source") == s0).count()
    n0 = out.where(F.col("source") == s0).count()
    n1 = out.where(F.col("source") == s1).count()
    assert n1 == base.where(F.col("source") == s1).count()  # w=1 keeps all
    assert 2 * n0_in <= n0 <= 3 * n0_in                      # 2.5x expected
    assert out.where(~F.col("source").isin(s0, s1)).count() == 0
    # deterministic under repartitioning
    a = sorted((r["doc_id"], r["source"]) for r in out.collect())
    b = sorted((r["doc_id"], r["source"]) for r in
               P.sample_mixture(base.repartition(7), w, seed=5).collect())
    assert a == b
    with pytest.raises(ValueError):
        P.sample_mixture(base, {s0: -0.1})


def test_decontaminate_normalize(spark):
    docs = spark.createDataFrame(
        [(1, "The QUICK brown fox, jumps over the lazy dog today again!"),
         (2, "totally unrelated words only here nothing shared at all")],
        ["doc_id", "text"])
    bench = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog today",)], ["text"])
    plain = P.decontaminate(docs, bench, n=10)
    assert {r["doc_id"]: r["contaminated"] for r in plain.collect()} == {
        1: False, 2: False}  # case/punct differences defeat raw matching
    norm = P.decontaminate(docs, bench, n=10, normalize=True)
    assert {r["doc_id"]: r["contaminated"] for r in norm.collect()} == {
        1: True, 2: False}


def test_chunk_documents(spark, docs):
    """Sliding-window chunking: full coverage with no overlap by default,
    stride overlap works, short docs stay single-chunk, reconstruction of
    the original token stream from non-overlapping chunks is exact."""
    d = docs.select("doc_id", "text").limit(40)
    out = P.chunk_documents(d, max_tokens=16)
    rows = out.collect()
    orig = {r["doc_id"]: r["text"].split() for r in d.collect()}
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(orig)
    for did, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_index"])
        toks = [t for r in chunks for t in r["text"].split()]
        assert toks == orig[did]                      # exact reconstruction
        assert all(r["chunk_tokens"] <= 16 for r in chunks)
        assert all(r["chunk_tokens"] == len(r["text"].split())
                   for r in chunks)
    # 50% overlap: consecutive chunks share the second half of the window
    ov = P.chunk_documents(d.where(F.col("doc_id") == d.first()["doc_id"]),
                           max_tokens=16, stride=8).collect()
    ov.sort(key=lambda r: r["chunk_index"])
    if len(ov) >= 2:
        a, b = ov[0]["text"].split(), ov[1]["text"].split()
        assert a[8:] == b[:len(a) - 8]
    # plan: generator only, no Exchange (the limit(40) above adds one,
    # so assert on the un-limited table)
    plan = P.chunk_documents(docs.select("doc_id", "text"), 16) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    with pytest.raises(ValueError):
        P.chunk_documents(d, 0)


def test_spread_is_noop_when_wide(spark, docs):
    """_spread must NOT add a shuffle when the input already has enough
    partitions (the 100 TB no-op path)."""
    from rasterframes_spark.pipeline.dedup import _spread

    wide = docs.select("doc_id", "text").repartition(16)
    out = _spread(wide, rows=500)   # ceil(500/2000) -> 2 <= 16 partitions
    assert out is wide              # literally untouched
    narrow = docs.select("doc_id", "text").coalesce(1)
    out2 = _spread(narrow, rows=100000)
    assert out2 is not narrow
    assert out2.rdd.getNumPartitions() > 1


def test_spread_of_shuffled_input_runs_no_job(spark, docs):
    """A post-shuffle input is spread without probing its partition
    count, which would run the upstream shuffle stages at build time."""
    from rasterframes_spark.pipeline.skew import spread
    from tests.conftest import count_jobs

    counts = docs.groupBy("source").count()
    out, jobs = count_jobs(spark, lambda: spread(counts, rows=5000,
                                                 rows_per_task=1000))
    assert jobs == 0
    assert out.rdd.getNumPartitions() == min(
        5, spark.sparkContext.defaultParallelism)
    assert sorted(out.collect()) == sorted(counts.collect())


def test_write_shards_deterministic(spark, tmp_path):
    """Sharded export: membership is a pure function of (id, seed) —
    stable across runs AND input layouts; one file per shard dir; rows
    inside a shard follow the seeded order both runs."""
    from pyspark.sql import functions as F

    import rasterframes_spark  # noqa: F401 — session helpers
    from rasterframes_spark.pipeline.curation import write_shards

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    write_shards(docs.repartition(3), a_dir, num_shards=4, seed=7)
    # different input layout, same logical data
    write_shards(docs.repartition(11, "doc_id"), b_dir, num_shards=4, seed=7)

    import glob
    for d in (a_dir, b_dir):
        dirs = sorted(glob.glob(f"{d}/__shard=*"))
        assert len(dirs) == 4
        for sd in dirs:
            assert len(glob.glob(f"{sd}/part-*")) == 1  # one file per shard

    a = spark.read.parquet(a_dir)
    b = spark.read.parquet(b_dir)
    # membership = xxhash64(id, seed) % n, identical across runs
    got = {(r["doc_id"], r["__shard"]) for r in a.collect()}
    exp = {(r["doc_id"], r["s"]) for r in docs.select(
        "doc_id", F.pmod(F.xxhash64("doc_id", F.lit(7)), F.lit(4))
        .cast("int").alias("s")).collect()}
    assert got == exp
    assert got == {(r["doc_id"], r["__shard"]) for r in b.collect()}
    # within-shard ORDER identical across runs (resumable training)
    for k in range(4):
        ra = [r["doc_id"] for r in
              spark.read.parquet(f"{a_dir}/__shard={k}").collect()]
        rb = [r["doc_id"] for r in
              spark.read.parquet(f"{b_dir}/__shard={k}").collect()]
        assert ra == rb and len(ra) > 0

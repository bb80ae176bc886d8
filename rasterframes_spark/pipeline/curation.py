"""Corpus-curation operators a production training-data pipeline runs
between raw crawl and tokenizer: cross-corpus dedup, benchmark
decontamination, weighted source mixing, and token-budget sequence
packing. All Spark-first: anti-joins and broadcast joins for membership,
Catalyst built-ins for hashing, applyInPandas only where the semantics
are inherently sequential (bin packing).

Scale posture (100 TB corpus, 1000 executors):
- ``dedup_against_exact``: left-anti hash join on a 64-bit digest — the
  reference side can be any size (shuffle join); no collect.
- ``dedup_against_minhash``: banded-LSH bucket join new x reference
  (never a self-join of the union), candidate-only verify.
- ``decontaminate``: benchmark n-grams are SMALL by construction (a few
  MB of hashes) — broadcast left-anti join against exploded doc n-grams;
  docs never shuffle.
- ``sample_mixture``: per-source Bernoulli sampling (seeded, one pass,
  no shuffle).
- ``pack_documents``: greedy first-fit packing within each partition via
  applyInPandas on a salted partition key; pack sizes are bounded by the
  token budget, pack ids are globally unique (partition-prefixed).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from rasterframes_spark.pipeline.scrub import _flag_matches

__all__ = [
    "doc_digest", "dedup_against_exact", "dedup_against_minhash",
    "decontaminate", "sample_mixture", "pack_documents",
    "split_dataset", "shuffle_deterministic", "chunk_documents",
    "write_shards",
]


def doc_digest(text) -> "F.Column":
    """64-bit content digest (xxhash64) — the exact-dedup key."""
    return F.xxhash64(F.col(text) if isinstance(text, str) else text)


def dedup_against_exact(new: DataFrame, reference: DataFrame,
                        text_col: str = "text") -> DataFrame:
    """Drop rows of ``new`` whose text digest appears in ``reference``
    (incremental ingestion against an already-cleaned corpus). Pure
    left-anti hash join on the digest; both sides stream, nothing
    collects."""
    ref = reference.select(doc_digest(text_col).alias("__dg")).distinct()
    return (new.withColumn("__dg", doc_digest(text_col))
            .join(ref, "__dg", "left_anti").drop("__dg"))


def dedup_against_minhash(new: DataFrame, reference: DataFrame,
                          id_col: str, text_col: str = "text",
                          shingle_size: int = 3, num_perm: int = 32,
                          bands: int = 16,
                          threshold: float = 0.8) -> DataFrame:
    """Near-dup pairs BETWEEN corpora: (new_id, ref_id, jaccard >=
    threshold). The banded-LSH join is new x reference on (band, bucket)
    — not a self-join of the union, so reference-internal duplicates are
    never recomputed; the exact-Jaccard verify touches candidates only.
    Filter ``new`` with a left-anti join on the returned new_id to drop
    near-dups of the reference corpus.  ``bands`` must divide
    ``num_perm`` (ValueError otherwise)."""
    from rasterframes_spark.pipeline.dedup import (
        _band_buckets, _check_bands, minhash_signature_text, text_jaccard)

    _check_bands("dedup_against_minhash", num_perm, bands)

    def banded(df, tag):
        # _once here and in the verify below: the isNotNull / threshold
        # filters would be pushed under the projections
        sig = df.select(
            F.col(id_col).alias(f"{tag}_id"),
            F.col(text_col).alias(f"__t_{tag}"),
            minhash_signature_text(text_col, shingle_size, num_perm,
                                   _once=True)
            .alias("__sig"),
        ).where(F.col("__sig").isNotNull())
        return sig.select(
            f"{tag}_id", f"__t_{tag}",
            F.posexplode(_band_buckets(F.col("__sig"), bands,
                                       "dedup_against_minhash"))
            .alias("__band", "__bucket"),
        )

    n = banded(new, "new")
    r = banded(reference, "ref")
    cands = (n.join(r, ["__band", "__bucket"])
             .select("new_id", "__t_new", "ref_id", "__t_ref")
             .dropDuplicates(["new_id", "ref_id"]))
    return (cands.select(
        "new_id", "ref_id",
        F.round(text_jaccard("__t_new", "__t_ref", shingle_size,
                             _once=True), 6)
        .alias("jaccard"))
        .where(F.col("jaccard") >= threshold))


def decontaminate(docs: DataFrame, benchmark: DataFrame,
                  text_col: str = "text", bench_text_col: str = "text",
                  n: int = 13, mode: str = "flag",
                  normalize: bool = False) -> DataFrame:
    """Benchmark decontamination: flag (or drop) documents sharing any
    word ``n``-gram with a benchmark/eval set — the standard 13-gram
    membership test training pipelines run before a data release.

    The benchmark side reduces to DISTINCT n-gram hashes (small by
    construction: eval sets are thousands of rows) and BROADCASTS; each
    doc explodes to its n-gram hashes, inner-joins the broadcast set
    with early-out semantics (semi join), and the doc table left-joins
    the hit ids — documents never shuffle. mode='flag' appends a boolean
    ``contaminated`` column; mode='drop' filters the hits out.

    ``normalize=True`` lowercases and strips punctuation on BOTH sides
    before shingling (the usual hardening against trivial reformatting
    of benchmark text) — still pure codegen'd regexp, no extra pass."""
    def grams(col):
        c = F.col(col)
        if normalize:
            c = F.regexp_replace(F.lower(c), r"[^\w\s]", "")
        toks = F.split(c, r"\s+")
        # guard: F.sequence(1, 0) would count DOWN — short docs get an
        # empty gram set, not a slice(start=0) error
        # zip_with fold (r9): transform-over-positions re-inlines the
        # token expression per element (O(words^2) interpreted); the
        # fold's slices evaluate once per row.  Hash VALUES are
        # unchanged (same gram strings feed xxhash64) — both sides of
        # the contamination join use this same builder either way.
        k = F.greatest(F.size(toks) - (n - 1), F.lit(0))
        g = F.slice(toks, 1, F.greatest(k, F.lit(1)))
        for i in range(1, n):
            g = F.zip_with(g, F.slice(toks, i + 1, F.greatest(k, F.lit(1))),
                           lambda a, b: F.concat(a, F.lit(" "), b))
        return F.when(
            F.size(toks) >= n,
            F.transform(g, lambda s: F.xxhash64(s)),
        ).otherwise(F.array().cast("array<bigint>"))

    bench = (benchmark.select(F.explode(grams(bench_text_col))
                              .alias("__key")).distinct())
    out = _flag_matches(docs, grams(text_col), bench, "contaminated")
    if mode == "drop":
        return out.where(~F.col("contaminated")).drop("contaminated")
    return out


def sample_mixture(df: DataFrame, weights: dict, source_col: str = "source",
                   seed: int = 42) -> DataFrame:
    """Weighted source mixing: each row of source s is emitted
    ``weights[s]`` times in expectation (unlisted sources drop).

    - w in [0, 1]: seeded Bernoulli keep — one narrow pass, NO shuffle,
      and unlike DataFrame.sampleBy the decision is reproducible
      row-for-row across retries/partitionings (hash of the row content,
      not RNG stream position).
    - w > 1 (oversampling, the standard high-quality-source epoch
      multiplier): floor(w) copies always, plus one more with
      probability frac(w) — deterministic per row, still narrow (an
      in-row ``explode`` of a copies range, no shuffle)."""
    for s, w in weights.items():
        if float(w) < 0.0:
            raise ValueError(f"sample_mixture: weight for {s!r} is negative")
    # per-row uniform in [0,1): low 32 bits of xxhash64(row-struct, seed)
    u = (F.pmod(F.xxhash64(F.struct(*[F.col(c) for c in df.columns]),
                           F.lit(seed)), F.lit(2**32)) / F.lit(float(2**32)))
    w_map = F.create_map(*[x for s, w in weights.items()
                           for x in (F.lit(s), F.lit(float(w)))])
    w_row = F.coalesce(w_map[F.col(source_col)], F.lit(0.0))
    if all(float(w) <= 1.0 for w in weights.values()):
        return df.where(u < w_row)
    copies = (F.floor(w_row).cast("int")
              + (u < (w_row - F.floor(w_row))).cast("int"))
    return (df.withColumn("__nc", copies).where(F.col("__nc") > 0)
            .withColumn("__ci", F.explode(F.sequence(F.lit(1), F.col("__nc"))))
            .drop("__nc", "__ci"))


def split_dataset(df: DataFrame, weights: dict | None = None,
                  id_col: str = "doc_id", seed: int = 42) -> DataFrame:
    """Deterministic train/val/test assignment: appends a ``split``
    column chosen by hashing the DOCUMENT ID (not an RNG stream), so the
    assignment is stable across reruns, repartitionings, and incremental
    appends — the property ``randomSplit`` does not have. One narrow
    projection, no shuffle.

    ``weights`` maps split name → fraction (must sum to ~1); default
    ``{'train': .98, 'val': .01, 'test': .01}``. A document's split is
    the first bucket whose cumulative weight exceeds its uniform
    u = xxhash64(id, seed) scaled to [0, 1)."""
    weights = weights or {"train": 0.98, "val": 0.01, "test": 0.01}
    tot = sum(float(w) for w in weights.values())
    if not (0.999 <= tot <= 1.001):
        raise ValueError(f"split_dataset: weights sum to {tot}, expected 1")
    u = (F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(2**32))
         / F.lit(float(2**32)))
    expr = None
    cum = 0.0
    names = list(weights)
    for name in names[:-1]:
        cum += float(weights[name])
        cond = u < F.lit(cum)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1])
    split = last if expr is None else expr.otherwise(last)
    return df.withColumn("split", split)


def shuffle_deterministic(df: DataFrame, id_col: str = "doc_id",
                          seed: int = 42,
                          num_partitions: int | None = None) -> DataFrame:
    """Reproducible global shuffle for training-order randomization:
    orders the corpus by xxhash64(id, seed) via ``repartitionByRange``
    on the hash + ``sortWithinPartitions`` — exactly ONE shuffle, and
    files read back in partition order yield the same permutation every
    run (unlike ``orderBy(rand())``). Changing ``seed`` gives an
    independent permutation (a fresh epoch order)."""
    h = F.xxhash64(F.col(id_col), F.lit(seed)).alias("__shuf")
    out = df.withColumn("__shuf", h)
    if num_partitions:
        out = out.repartitionByRange(num_partitions, "__shuf")
    else:
        out = out.repartitionByRange("__shuf")
    return out.sortWithinPartitions("__shuf").drop("__shuf")


def pack_documents(df: DataFrame, max_tokens: int,
                   token_col: str = "n_tokens", id_col: str = "doc_id",
                   num_bins: int | None = None) -> DataFrame:
    """Sequence packing: assign documents to packs whose token sums stay
    <= max_tokens (the LLM-pretraining batch-packing step). Returns the
    input columns + ``pack_id`` (long, globally unique).

    Greedy first-fit-decreasing WITHIN each partition group
    (applyInPandas): deterministic given the partitioning (sorted by
    descending token count, id tiebreak), no cross-partition coordination
    — at 100 TB each task packs its own slice and pack ids are
    partition-prefixed. Documents longer than max_tokens get a singleton
    pack (truncation is the tokenizer's job, not the packer's)."""
    nb = num_bins or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    with_key = df.withColumn(
        "__pk", F.pmod(F.xxhash64(F.col(id_col)), F.lit(int(nb))).cast("int"))
    schema = with_key.drop("__pk").schema.add("pack_id", "long")

    def pack(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        part = int(key[0])
        pdf = pdf.sort_values([token_col, id_col],
                              ascending=[False, True]).drop(columns="__pk")
        bins = []  # (remaining, pack_index)
        ids = []
        for tok in pdf[token_col]:
            t = int(tok)
            placed = None
            for i, (rem, _) in enumerate(bins):
                if t <= rem:
                    placed = i
                    break
            if placed is None:
                bins.append([max_tokens - t, len(bins)])
                ids.append(len(bins) - 1)
            else:
                bins[placed][0] -= t
                ids.append(bins[placed][1])
        pdf["pack_id"] = [part * (1 << 40) + i for i in ids]
        return pdf

    return with_key.groupBy("__pk").applyInPandas(pack, schema=schema)


def chunk_documents(df: DataFrame, max_tokens: int, stride: int | None = None,
                    id_col: str = "doc_id", text_col: str = "text",
                    drop_shorter_than: int = 1) -> DataFrame:
    """Split long documents into (overlapping) token windows — the
    pre-tokenizer chunking step that bounds sequence length before
    packing. ``stride`` defaults to ``max_tokens`` (no overlap); set
    e.g. ``max_tokens // 2`` for 50% overlap.

    Pure Catalyst: token slice windows via ``sequence`` + ``transform``
    + ``posexplode`` — a narrow generator, no shuffle, no UDF. Output:
    input columns (text replaced by the chunk) + ``chunk_index`` +
    ``chunk_tokens``. Windows shorter than ``drop_shorter_than`` tokens
    (the trailing remainder of an overlapping stride) are dropped."""
    mt = int(max_tokens)
    st = int(stride) if stride else mt
    if mt <= 0 or st <= 0:
        raise ValueError("chunk_documents: max_tokens and stride must be > 0")
    toks = F.split(F.col(text_col), r"\s+")
    n = F.size(toks)
    n_chunks = F.greatest(
        F.ceil((n - mt) / F.lit(st)).cast("int") + 1, F.lit(1))
    windows = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * st + 1, mt)))
    other = [c for c in df.columns if c != text_col]
    out = (df.select(*other, F.posexplode(windows)
                     .alias("chunk_index", text_col)))
    ct = F.size(F.split(F.col(text_col), r"\s+"))
    return (out.withColumn("chunk_tokens", ct.cast("int"))
            .where(F.col("chunk_tokens") >= int(drop_shorter_than)))


def write_shards(df: DataFrame, path: str, num_shards: int,
                 id_col: str = "doc_id", seed: int = 42,
                 fmt: str = "parquet", order_within_shard: bool = True,
                 mode: str = "overwrite") -> str:
    """Deterministic sharded export — the delivery step of a training-data
    pipeline: every row lands in shard ``xxhash64(id, seed) % num_shards``,
    STABLE across runs, cluster sizes, AQE re-plans and input layouts
    (``repartition(n)`` round-robin is none of those). One output file
    per shard directory (``__shard=K/part-*``), and with
    ``order_within_shard`` the rows inside each shard follow a seeded
    hash order — so shard K of run 2 is byte-for-byte the same data as
    shard K of run 1, which is what makes resumable multi-epoch training
    and shard-level debugging possible.

    Plan: one hash-partitioned shuffle keyed so each shard id maps to
    exactly ONE task (n writer tasks, no empty tasks, one file per
    directory): plain ``repartition(n, '__shard')`` Murmur3-hashes the n
    ids into n buckets, which birthday-collides ~1/e of them into shared
    tasks — instead each shard id is routed through a probe value whose
    ``pmod(hash(probe), n)`` equals the shard index. The probe table is
    built by one tiny eager Spark job (``F.hash`` and HashPartitioning
    share the same seed-42 Murmur3), then optional in-partition sort and
    ``partitionBy`` write. ``fmt``: 'parquet' | 'json' (newline-
    delimited). Returns ``path``.
    """
    n = int(num_shards)
    if n <= 0:
        raise ValueError("write_shards: num_shards must be positive")
    if fmt not in ("parquet", "json"):
        raise ValueError("write_shards: fmt must be 'parquet' or 'json'")
    for reserved in ("__shard", "__probe"):
        if reserved in df.columns:
            raise ValueError(f"write_shards: input already has a {reserved} "
                             "column — rename it (the export partitions on it)")
    spark = df.sparkSession
    # probe[s] = smallest int p with pmod(murmur3(p), n) == s; candidates
    # scanned in widening windows (P(shard unhit in 16n) ~ e^-16)
    probes: dict[int, int] = {}
    lo, width = 0, max(16 * n, 256)
    while len(probes) < n:
        cand = (spark.range(lo, lo + width)
                .select(F.col("id").cast("int").alias("p"),
                        F.pmod(F.hash(F.col("id").cast("int")), F.lit(n))
                        .alias("s"))
                .groupBy("s").agg(F.min("p").alias("p")).collect())
        for r in cand:
            probes.setdefault(int(r["s"]), int(r["p"]))
        lo += width
    probe_arr = F.array(*[F.lit(probes[s]) for s in range(n)])
    shard = F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)),
                   F.lit(n)).cast("int")
    out = (df.withColumn("__shard", shard)
           .withColumn("__probe", F.element_at(probe_arr, F.col("__shard") + 1))
           .repartition(n, "__probe")
           .drop("__probe"))
    if order_within_shard:
        # full-row hash tiebreak: duplicate id values (common pre-dedup)
        # would otherwise sort arbitrarily within the tie, breaking the
        # byte-for-byte cross-run shard contract
        out = out.sortWithinPartitions(
            "__shard", F.xxhash64(F.col(id_col), F.lit(seed + 1)),
            F.xxhash64(F.struct(*[F.col(c) for c in df.columns]),
                       F.lit(seed + 2)))
    (out.write.mode(mode).partitionBy("__shard").format(fmt).save(path))
    return path

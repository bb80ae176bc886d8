"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale posture (the whole point of these):
- exact: hash-groupBy — one shuffle on a 16-byte digest, not the document.
- MinHash LSH: shingle → K minhashes → B bands → explode to (band, bucket)
  → self-equi-join on bucket → exact-Jaccard verify. The only shuffle keys
  are band buckets; candidate verification touches only colliding pairs
  (classic Broder scheme). At 100 TB the band-bucket join is a plain
  shuffled hash join AQE can skew-split.
- SimHash: 64-bit signature; near-dup = signature XOR popcount ≤ k, found
  via banding the 64 bits into (64/k')-bit chunks (pigeonhole), equi-join.
- n-gram Jaccard / embedding cosine: exact verify within blocking keys.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F

from rasterframes_spark.functions._kernel import lazy_pandas_udf
# narrow-input spreader: moved to skew.py with the other partition-layout
# utilities (r14 review); the alias keeps this module's import path working
from rasterframes_spark.pipeline.skew import salted_join, spread as _spread

__all__ = [
    "dedup_exact", "exact_dup_groups", "shingles", "jaccard_sim",
    "minhash_signature", "minhash_signature_text", "minhash_lsh_candidates",
    "minhash_dedup_pairs", "text_jaccard",
    "simhash", "simhash_near_pairs", "ngram_jaccard_pairs",
    "embedding_neardup_pairs", "dedup_clusters", "semantic_dedup",
    "token_gram_hashes", "flag_repeated_spans",
    "exact_substring_pairs", "remove_repeated_spans",
    "remove_duplicated_lines",
]

# 31-bit Mersenne prime: (a*x + b) with a,x,b < 2^31 fits in int64, so the
# whole (num_perm × n_shingles) universal-hash matrix vectorizes in numpy
_MERSENNE = (1 << 31) - 1


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def dedup_exact(df: DataFrame, cols: list[str]) -> DataFrame:
    """Keep one row per distinct value of `cols` (hash-groupBy semantics).
    dropDuplicates shuffles only the dedup key hash."""
    return df.dropDuplicates(cols)


def exact_dup_groups(df: DataFrame, col: str = "text") -> DataFrame:
    """Digest groups with >1 member: (digest, n_dups)."""
    return (
        df.groupBy(F.md5(F.col(col)).alias("digest"))
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > 1)
    )


# ---------------------------------------------------------------------------
# shingling + jaccard (shared by minhash + ngram dedup)
# ---------------------------------------------------------------------------


def shingles(text, n: int = 3) -> Column:
    """Distinct word n-gram shingles as array<string> — pure built-ins.

    Built as a zip_with FOLD over n shifted slices of the token array
    (r9), not a transform over positions: Catalyst interprets HOF
    lambdas and re-inlines every captured expression PER ELEMENT, so
    the old ``transform(sequence, i -> concat_ws(slice(t, i, n)))``
    re-ran the split for every gram position — O(words^2) per document
    (measured 2.1 s -> 0.46 s over 5k sf0.1 docs at n=3).  zip_with
    children are ordinary expressions evaluated once per row; the fold
    is O(words x n).  Output strings are identical."""
    t = F.split(F.col(text) if isinstance(text, str) else text, " ")
    k = F.greatest(F.size(t) - (n - 1), F.lit(0))
    g = F.slice(t, 1, F.greatest(k, F.lit(1)))
    for i in range(1, n):
        g = F.zip_with(g, F.slice(t, i + 1, F.greatest(k, F.lit(1))),
                       lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(k > 0, F.array_distinct(g)).otherwise(F.array())


def text_jaccard(text_a, text_b, shingle_size: int = 3, *,
                 _once: bool = False) -> Column:
    """Exact word-n-gram Jaccard of two TEXT columns in one Arrow crossing
    (python set ops per row). Catalyst HOF shingling costs ~1 ms/row
    interpreted — fine corpus-wide once, but the dedup verify step
    evaluates FOUR shingle expressions per candidate pair; this fused
    kernel is ~50x cheaper there. Set semantics identical to
    jaccard_sim(shingles(a), shingles(b)).

    ``_once`` (internal): apply ``.once``, for callers whose threshold
    filter on the result would be pushed below the projection."""
    n = int(shingle_size)

    @lazy_pandas_udf("double")
    def text_jaccard(ta: pd.Series, tb: pd.Series) -> pd.Series:
        out = np.empty(len(ta), dtype="float64")
        va, vb = ta.values, tb.values
        for i in range(len(va)):
            x, y = va[i], vb[i]
            if x is None or y is None:
                out[i] = np.nan
                continue
            tx = x.split(" ")
            ty = y.split(" ")
            sx = {" ".join(tx[j:j + n]) for j in range(len(tx) - n + 1)}
            sy = {" ".join(ty[j:j + n]) for j in range(len(ty) - n + 1)}
            u = len(sx | sy)
            out[i] = (len(sx & sy) / u) if u else 0.0
        return pd.Series(out)

    ca = F.col(text_a) if isinstance(text_a, str) else text_a
    cb = F.col(text_b) if isinstance(text_b, str) else text_b
    return (text_jaccard.once if _once else text_jaccard)(ca, cb)


def jaccard_sim(a, b) -> Column:
    """|A∩B| / |A∪B| over array columns (set semantics)."""
    i = F.size(F.array_intersect(a, b)).cast("double")
    u = F.size(F.array_union(a, b)).cast("double")
    return F.when(u > 0, i / u).otherwise(F.lit(0.0))


# ---------------------------------------------------------------------------
# MinHash + LSH (Broder; banding per Leskovec/Rajaraman/Ullman ch.3)
# ---------------------------------------------------------------------------


def _hash_params(num_perm: int, seed: int = 42):
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, size=num_perm, dtype=np.int64)  # < 2^31
    b = rng.integers(0, _MERSENNE, size=num_perm, dtype=np.int64)
    return a, b


def _minhash_from_lists(lists: list, nz: list, n_rows: int, a, b):
    """Shared minhash core: per-doc shingle lists -> array-of-mins column.
    ONE C-speed hash pass over every shingle in the batch (pandas siphash;
    deterministic fixed key), then per-chunk vectorized universal hashing +
    segment-min via reduceat."""
    out = np.empty(n_rows, dtype=object)
    if not nz:
        return pd.Series(out, dtype=object)
    lens = np.array([len(x) for x in lists], dtype=np.int64)
    ends = np.cumsum(lens)
    starts = ends - lens
    flat = np.concatenate([np.asarray(x, dtype=object) for x in lists])
    base_all = (pd.util.hash_array(flat) & np.uint64(0x7FFFFFFF)).astype(np.int64)
    ac = a[:, None]
    bc = b[:, None]
    budget = 1 << 17  # cap the (num_perm x n_shingles) temp at ~64 MB
    i = 0
    while i < len(nz):
        j = i
        tot = 0
        while j < len(nz) and (tot == 0 or tot + lens[j] <= budget):
            tot += lens[j]
            j += 1
        seg = base_all[starts[i]:ends[j - 1]]
        hmat = (ac * seg[None, :] + bc) % _MERSENNE  # (num_perm, tot)
        mins = np.minimum.reduceat(hmat, starts[i:j] - starts[i], axis=1)
        for t in range(i, j):
            out[nz[t]] = mins[:, t - i].astype("int64")
        i = j
    return pd.Series(out, dtype=object)


def minhash_signature(shingles_col, num_perm: int = 64, seed: int = 42) -> Column:
    """array<string> shingles -> array<long> of `num_perm` minhashes.
    Universal hashing (a·x + b) mod p over a 64-bit base hash of each
    shingle; one vectorized numpy pass per document batch."""
    a, b = _hash_params(num_perm, seed)

    @lazy_pandas_udf("array<long>")
    def udf(sh: pd.Series) -> pd.Series:
        vals = sh.values
        nz = [i for i, arr in enumerate(vals) if arr is not None and len(arr) > 0]
        return _minhash_from_lists([vals[i] for i in nz], nz, len(vals), a, b)

    return udf(shingles_col)


def minhash_signature_text(text_col, shingle_size: int = 3,
                           num_perm: int = 64, seed: int = 42, *,
                           _once: bool = False) -> Column:
    """Fused text -> shingle -> minhash in ONE Arrow crossing of the raw
    text. Skips the interpreted Catalyst HOF shingling AND the transfer of
    shingle arrays (~3x the text bytes) — the cold-path win for
    minhash_dedup_pairs. Shingle semantics identical to ``shingles()``
    (split on single space, word n-grams, set semantics; minhash is
    order-insensitive so distinct order never matters). NULL for docs with
    fewer than ``shingle_size`` tokens.

    ``_once`` (internal): apply ``.once``, for callers whose
    ``isNotNull()`` filter on the signature would be pushed below the
    projection."""
    a, b = _hash_params(num_perm, seed)
    n = int(shingle_size)

    @lazy_pandas_udf("array<long>")
    def minhash_signature_text(texts: pd.Series) -> pd.Series:
        vals = texts.values
        lists = []
        nz = []
        for i, t in enumerate(vals):
            if t is None:
                continue
            toks = t.split(" ")
            if len(toks) < n:
                continue
            ss = list({" ".join(toks[j:j + n]) for j in range(len(toks) - n + 1)})
            nz.append(i)
            lists.append(ss)
        return _minhash_from_lists(lists, nz, len(vals), a, b)

    return (minhash_signature_text.once if _once
            else minhash_signature_text)(text_col)




def _salted_self_pairs(banded: DataFrame, key_cols: list[str], id_col: str,
                       carry_cols: list[str],
                       hot_bucket_threshold: int = 10000,
                       hot_bucket_salts: int = 16,
                       input_rows: int | None = None) -> DataFrame:
    """Distinct pairs of ``banded`` rows sharing ``key_cols``, with
    ``a.id < b.id``: a :func:`~rasterframes_spark.pipeline.skew.salted_join`
    of ``banded`` with itself, so a hot bucket (boilerplate or empty
    documents are common in web corpora) spreads over
    ``hot_bucket_salts`` tasks by an id-hash salt.  ``input_rows`` (the
    distinct source rows feeding ``banded``; each holds at most one row
    per bucket) bounds every bucket, so at or below the threshold the
    plain self-join runs.

    Returns columns: id_a, id_b, a.carry as <c>_a, b.carry as <c>_b.
    """
    pairs = salted_join(banded.alias("a"), banded.alias("b"), key_cols,
                        F.xxhash64(F.col(id_col)), hot_bucket_salts,
                        hot_bucket_threshold, input_rows)
    sel = [F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")]
    for c in carry_cols:
        sel += [F.col(f"a.{c}").alias(f"{c.lstrip('_')}_a"),
                F.col(f"b.{c}").alias(f"{c.lstrip('_')}_b")]
    return (pairs.where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(*sel).dropDuplicates(["id_a", "id_b"]))


def _check_bands(fn: str, num_perm: int, bands: int) -> None:
    """Build-time half of the LSH band check (see :func:`_band_buckets`)."""
    if bands < 1 or num_perm % bands != 0:
        raise ValueError(
            f"{fn}: bands ({bands}) must divide num_perm ({num_perm}) — a "
            "remainder silently drops trailing minhash values from banding "
            "(and bands > num_perm collapses every bucket to its band "
            "index: all-pairs blowup)")


def _band_buckets(sig: Column, bands: int, fn: str) -> Column:
    """The ``bands`` LSH buckets of the minhash array ``sig``, for
    ``posexplode`` (position = band index).  A bucket is an xxhash64
    chain over its band's slice, seeded by the band index — all-numeric
    (measured ~20% faster on the candidates stage than stringifying the
    slice into concat_ws); equal slices collide exactly.

    Runtime half of the band check: ``bands`` must divide the signature
    length.  A remainder silently drops trailing values from banding,
    and bands > length floors the band width to 0, so every bucket
    collapses to its seed and ALL documents collide.  Such a row raises
    instead.  :func:`_check_bands` is the build-time half, for callers
    that know ``num_perm``."""
    n = F.size(sig)
    rows_per_band = F.when(
        (n >= bands) & (n % bands == 0), F.floor(n / bands),
    ).otherwise(
        F.raise_error(F.concat(
            F.lit(f"{fn}: bands must divide the signature length and be "
                  "<= it; got bands="), F.lit(str(bands)),
            F.lit(", len(signature)="), n.cast("string")))
    ).cast("int")
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda bnd: F.aggregate(
            F.slice(sig, bnd * rows_per_band + 1, rows_per_band),
            bnd.cast("long"),
            lambda acc, v: F.xxhash64(acc, v)))


def minhash_lsh_candidates(df: DataFrame, id_col: str, sig_col: str = "minhash",
                           bands: int = 16, hot_bucket_threshold: int = 10000,
                           hot_bucket_salts: int = 16,
                           input_rows: int | None = None) -> DataFrame:
    """Signature -> (band, bucket) explode -> skew-safe self-join: candidate
    id pairs. Returns distinct (id_a, id_b) with id_a < id_b.

    ``input_rows``: known row count of ``df`` — lets the skew guard skip hot
    -bucket detection entirely when no bucket can reach the threshold.

    ``bands`` must divide the signature length (see
    :func:`_band_buckets`); the signature length is a runtime value
    here, so a row that breaks the rule raises when the plan runs."""
    banded = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(_band_buckets(F.col(sig_col), bands,
                                   "minhash_lsh_candidates"))
        .alias("__band", "__bucket"),
    )
    return _salted_self_pairs(
        banded, ["__band", "__bucket"], "__id", [],
        hot_bucket_threshold, hot_bucket_salts, input_rows)


def minhash_dedup_pairs(df: DataFrame, id_col: str, text_col: str = "text",
                        shingle_size: int = 3, num_perm: int = 64,
                        bands: int = 16, threshold: float = 0.8,
                        hot_bucket_threshold: int = 10000,
                        hot_bucket_salts: int = 16,
                        input_rows: int | str | None = "auto") -> DataFrame:
    """Full near-dup pipeline: shingle → minhash → LSH candidates →
    exact-Jaccard verify ≥ threshold. Returns (id_a, id_b, jaccard).

    ``input_rows``: 'auto' (default) feeds the skew guard from the eager
    signature-cache materialization count (one Spark job at call time —
    and, since r14, the ONLY upstream evaluation: the text rides in the
    cached frame, so the verify join's two sides read the cache instead
    of re-running the input lineage, and no separate ``df.count()`` pass
    exists).  Pass the row count when the caller already knows it, or
    ``None`` for a fully lazy plan (no job until the result is acted on;
    the skew guard then always runs its lazy hot-bucket detection
    instead of being skipped).

    Ids are expected UNIQUE per row (the same contract
    ``remove_repeated_spans`` documents): since the r14 single-pass
    rework the verify join reads the null-signature-filtered cache, so
    with duplicate ids where one copy has a null/empty-text signature
    the degenerate extra verify rows the pre-r14 lineage emitted no
    longer appear.  Identical results for unique-id inputs."""
    _check_bands("minhash_dedup_pairs", num_perm, bands)
    src = _spread(
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__txt")),
        rows=input_rows if isinstance(input_rows, int) else None)
    # fused text->shingle->minhash: one Arrow crossing of the raw text
    # (see minhash_signature_text) — no corpus-wide HOF shingling.  The
    # cached frame carries (__id, __txt, minhash): r13 cached signatures
    # only, and the exact-Jaccard join's two text sides then re-evaluated
    # the whole input lineage once EACH — plus an eager df.count() for
    # the skew guard — so one cold minhash_dedup_pairs run cost FOUR
    # upstream passes (§2.4 "don't compute things you throw away"; the
    # r14 doc_ingest_chain A/B: 0.59x median with the WARC->HTML->C4->
    # Gopher upstream, where those passes were the cell's dominant
    # cost).  Text in the cache trades memory for passes; it spills to
    # disk gracefully and releases with release_cache(result).
    # _once: the isNotNull filter below would be pushed under the projection
    sigs = src.select("__id", "__txt", minhash_signature_text(
        "__txt", shingle_size, num_perm, _once=True).alias("minhash"))
    sigs = sigs.where(F.col("minhash").isNotNull())
    sigs.cache()
    n_docs = input_rows
    if input_rows == "auto":
        # Pin the cache EAGERLY before any consumer plan touches it
        # (VERDICT r9 #1/#3): when the hot-LSH-bucket branch of the
        # banded join resolves empty, AQE short-circuits that branch
        # and CANCELS the still-in-flight cache-materialization
        # stages, killing their Python workers mid-task — benign for
        # results, but it floods stderr with "Python worker exited
        # unexpectedly" / "Block rdd_N does not exist" noise and
        # recomputes the cancelled blocks in the next consumer, adding
        # run-to-run variance.  The count doubles as the skew guard's
        # row bound (tighter than the old full-input df.count(): only
        # docs with signatures can land in a bucket).  An explicit
        # integer input_rows stays plan-build-lazy per the docstring
        # contract (code-review r10 #6), trading back the benign
        # cancellation noise if that plan's hot-bucket branch resolves
        # empty.
        n_docs = sigs.count()
    cands = minhash_lsh_candidates(sigs, "__id", "minhash", bands,
                                   hot_bucket_threshold, hot_bucket_salts,
                                   input_rows=n_docs)
    # exact-Jaccard verify: shingles evaluate ONLY for candidate rows
    # (post-join projection), not the whole corpus — both text sides
    # read the CACHED frame (zero upstream recompute)
    sa = sigs.select(F.col("__id").alias("id_a"), F.col("__txt").alias("__ta"))
    sb = sigs.select(F.col("__id").alias("id_b"), F.col("__txt").alias("__tb"))
    # _once: the threshold filter would be pushed under the projection
    verified = (
        cands.join(sa, "id_a").join(sb, "id_b")
        .select("id_a", "id_b", F.round(text_jaccard(
            "__ta", "__tb", shingle_size, _once=True), 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )
    # cached-signature handle: release with
    # rasterframes_spark.release_cache(result) once materialized
    verified._rf_cached_inputs = (sigs,)
    return verified


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(text, bits: int = 64) -> Column:
    """64-bit SimHash over whitespace tokens (Charikar): sign of the
    per-bit sum of token hashes."""

    shifts = np.arange(bits, dtype=np.uint64)

    @lazy_pandas_udf("long")
    def udf(t: pd.Series) -> pd.Series:
        vals = t.values
        out = np.empty(len(vals), dtype=object)
        toks = [s.split(" ") if s is not None else None for s in vals]
        nz = [i for i, tk in enumerate(toks) if tk is not None]
        if not nz:
            return pd.Series(out, dtype=object)
        # ONE C-speed hash pass over every token in the batch, then chunked
        # per-bit sign sums via reduceat over document segments.
        lens = np.array([len(toks[i]) for i in nz], dtype=np.int64)
        ends = np.cumsum(lens)
        starts = ends - lens
        flat = np.concatenate([np.asarray(toks[i], dtype=object) for i in nz])
        hs_all = pd.util.hash_array(flat)  # uint64
        budget = 1 << 17  # cap the (n_tokens x 64) temp at ~64 MB
        i = 0
        while i < len(nz):
            j = i
            tot = 0
            while j < len(nz) and (tot == 0 or tot + lens[j] <= budget):
                tot += lens[j]
                j += 1
            seg = hs_all[starts[i]:ends[j - 1]]
            bitmat = ((seg[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64)
            sums = np.add.reduceat(bitmat, starts[i:j] - starts[i], axis=0)
            acc = 2 * sums - lens[i:j, None]  # (n_docs, bits) sign sums
            packed = ((acc > 0).astype(np.uint64) << shifts[None, :]).sum(
                axis=1, dtype=np.uint64).view(np.int64)
            for t2 in range(i, j):
                out[nz[t2]] = int(packed[t2 - i])
            i = j
        return pd.Series(out, dtype=object)

    return udf(F.col(text) if isinstance(text, str) else text)


def _hamming_pairs(sigs: DataFrame, sig_col: str, max_hamming: int,
                   hot_bucket_threshold: int, hot_bucket_salts: int,
                   input_rows: int | None) -> DataFrame:
    """(id_a, id_b, hamming) for the pairs of ``sigs`` rows (``__id``,
    64-bit ``sig_col``) whose signatures differ in at most
    ``max_hamming`` bits.  The 64 bits split into ``max_hamming + 1``
    chunks; by pigeonhole a qualifying pair agrees on at least one, so
    a salted self-join per chunk (:func:`_salted_self_pairs`) finds
    every candidate and ``bit_count`` verifies it."""
    chunks = int(max_hamming) + 1
    width = 64 // chunks
    mask = (1 << width) - 1
    if mask >= (1 << 63):
        mask -= 1 << 64  # two's-complement signed long (width == 64 -> -1)
    chunk_cols = [
        F.shiftrightunsigned(F.col(sig_col), i * width).bitwiseAND(F.lit(mask))
        for i in range(chunks)
    ]
    banded = sigs.select(
        "__id", sig_col,
        F.posexplode(F.array(*chunk_cols)).alias("__chunk_i", "__chunk"),
    )
    c = sig_col.lstrip("_")
    return (
        _salted_self_pairs(banded, ["__chunk_i", "__chunk"], "__id", [sig_col],
                           hot_bucket_threshold, hot_bucket_salts, input_rows)
        .withColumn("hamming",
                    F.bit_count(F.col(f"{c}_a").bitwiseXOR(F.col(f"{c}_b"))))
        .where(F.col("hamming") <= int(max_hamming))
        .select("id_a", "id_b", "hamming")
    )


def simhash_near_pairs(df: DataFrame, id_col: str, text_col: str = "text",
                       max_hamming: int = 3, hot_bucket_threshold: int = 10000,
                       hot_bucket_salts: int = 16,
                       input_rows: int | str | None = "auto") -> DataFrame:
    """Near-dup pairs with simhash hamming distance ≤ max_hamming, found by
    banding 64 bits into (max_hamming+1) chunks (pigeonhole: a qualifying
    pair collides on ≥1 chunk) + exact popcount verify via bit_count.
    Hot chunks (identical boilerplate docs) are salted via
    ``_hamming_pairs`` so no single join task gets the O(n^2) bucket;
    at sub-threshold input sizes the detection jobs are skipped entirely.

    ``input_rows``: 'auto' = eager count at call time (see
    minhash_dedup_pairs); an int = caller-known bound, no job; None =
    fully lazy, skew detection always in-plan."""
    sh = _spread(df.select(F.col(id_col).alias("__id"),
                           F.col(text_col).alias("__t")),
                 rows=input_rows if isinstance(input_rows, int) else None) \
        .select("__id", simhash("__t").alias("__sh"))
    # the tokenize+hash UDF pass is the dominant cost and _hamming_pairs
    # scans the frame up to 3x (hot-count + both join sides)
    sh = sh.cache()
    n_docs = input_rows
    if input_rows == "auto":
        # r14: the eager skew-guard count materializes the signature
        # cache directly instead of a separate full-input df.count()
        # pass (one fewer upstream evaluation; same eager contract,
        # tighter bound — only rows with signatures can fill a bucket)
        n_docs = sh.count()
    pairs = _hamming_pairs(sh, "__sh", max_hamming, hot_bucket_threshold,
                           hot_bucket_salts, n_docs)
    # cached-signature handle: release with
    # rasterframes_spark.release_cache(result) once materialized
    pairs._rf_cached_inputs = (sh,)
    return pairs


# ---------------------------------------------------------------------------
# exact n-gram Jaccard within blocks
# ---------------------------------------------------------------------------


def _check_blocked(block_cols, allow_unblocked, fn_name):
    if not block_cols and not allow_unblocked:
        raise ValueError(
            f"{fn_name}: no block_cols given — this would compute ALL pairs "
            "(quadratic in input size). Pass block_cols, or "
            "allow_unblocked=True for bounded inputs (use minhash/simhash "
            "LSH for unblocked near-dup at scale).")


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str = "text",
                        block_cols: list[str] | None = None, n: int = 1,
                        threshold: float = 0.5,
                        allow_unblocked: bool = False) -> DataFrame:
    """Exact Jaccard over word n-gram sets for pairs sharing a blocking key.
    All-pairs (no blocks) must be opted into via ``allow_unblocked`` — it is
    quadratic and only for bounded inputs. Pure built-ins:
    array_intersect/array_union are codegen'd."""
    _check_blocked(block_cols, allow_unblocked, "ngram_jaccard_pairs")
    t = df.select(
        F.col(id_col).alias("__id"),
        *(block_cols or []),
        shingles(text_col, n).alias("__grams"),
    )
    a, b = t.alias("a"), t.alias("b")
    cond = F.col("a.__id") < F.col("b.__id")
    for c in (block_cols or []):
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    return (
        a.join(b, cond)
        .select(
            F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"),
            F.round(jaccard_sim(F.col("a.__grams"), F.col("b.__grams")), 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


def cosine_sim(a, b) -> Column:
    """Cosine similarity of two array<float/double> columns — built-ins only
    (zip_with product + aggregate sum), JVM-side."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))
    # try_divide: a zero-norm vector has no defined cosine — NULL (which
    # callers filter) instead of an ANSI DIVIDE_BY_ZERO error
    return F.try_divide(dot, na * nb)


def _round_half_up6(a):
    """HALF_UP rounding to 6 dp, sign-aware — matches Spark's
    ``F.round`` (ROUND_HALF_UP) so the blas and sql paths agree on
    exact threshold-boundary cosines (``np.round`` is half-EVEN and
    diverges on a cosine landing exactly on a 5e-7 boundary).  The
    residual caveat: Spark rounds the double's shortest DECIMAL repr
    (BigDecimal), so a binary value an ulp below a .5 decimal boundary
    can still differ — no constructible case at 6 dp has been found."""
    return np.sign(a) * np.floor(np.abs(a) * 1e6 + 0.5) / 1e6


_GRAM_TILE = 4096  # gram tile rows: one 4096^2 float64 tile is 128 MB


def _gram_input(df: DataFrame, id_col: str, vec_col: str, *rest) -> DataFrame:
    """(``__id``, ``__v``, ``*rest``) for a gram kernel.  A null id crosses as
    a typed 0 with a null vector, so it pairs with nothing and the ids
    stay exact (pandas makes an integer column holding a null float64)."""
    i = F.col(id_col)
    return df.select(
        F.coalesce(i, F.lit(0).cast(df.schema[id_col].dataType)).alias("__id"),
        F.when(i.isNotNull(), F.col(vec_col)).alias("__v"), *rest)


def _gram_pairs(ids, vecs, thr: float, step: int = _GRAM_TILE):
    """One block's near-duplicate pairs as row positions ``(a, b, cos)``:
    ``ids[a] < ids[b]`` and the cosine, rounded HALF_UP to 6 decimals, is
    >= ``thr``.  Rows of one id never pair; a null or zero vector has no
    cosine and pairs with nothing.  Tiling the gram matrix ``step`` rows
    at a time bounds memory to one tile; the pairs do not depend on it."""
    rows = np.flatnonzero(~pd.isna(vecs))
    rows = rows[np.argsort(ids[rows], kind="stable")]
    out_a, out_b, out_c = [rows[:0]], [rows[:0]], [np.empty(0)]
    if len(rows) < 2:
        return out_a[0], out_b[0], out_c[0]
    x = np.stack([np.asarray(vecs[r], dtype="float64") for r in rows])
    norms = np.linalg.norm(x, axis=1)
    ok = norms > 0
    rows, x = rows[ok], x[ok] / norms[ok, None]
    sid, n = ids[rows], len(rows)
    for i0 in range(0, n, step):
        xi = x[i0:i0 + step]
        for j0 in range(i0, n, step):
            sims = _round_half_up6(xi @ x[j0:j0 + step].T)
            ii, jj = np.nonzero(sims >= thr)
            gi, gj = ii + i0, jj + j0
            m = (gi < gj) & (sid[gi] != sid[gj])
            out_a.append(rows[gi[m]])
            out_b.append(rows[gj[m]])
            out_c.append(sims[ii[m], jj[m]])
    return np.concatenate(out_a), np.concatenate(out_b), np.concatenate(out_c)


def embedding_neardup_pairs(df: DataFrame, id_col: str, vec_col: str = "embedding",
                            block_cols: list[str] | None = None,
                            threshold: float = 0.95,
                            allow_unblocked: bool = False,
                            method: str = "sql",
                            gram_chunk_rows: int = _GRAM_TILE) -> DataFrame:
    """Pairs with cosine ≥ threshold within blocking keys (e.g. an LSH
    bucket or a label). All-pairs requires ``allow_unblocked=True``
    (quadratic; use hyperplane LSH buckets as blocks at scale).
    Returns (id_a, id_b, cos), cos rounded to 6 decimals.

    ``method='sql'`` (default) is the pure-Catalyst self-join — fully
    DuckDB-mirrorable, but every candidate pair carries BOTH vector
    payloads through the join (~1 KB/pair at d=64: the r8 sf1 rehearsal
    measured this dominating semantic_dedup wall time). ``method='blas'``
    computes each block's pair set as ONE numpy gram matrix inside
    ``applyInPandas`` — vectors cross the wire once per row, pairs leave
    as 3 scalars — the posture a 100 TB corpus needs. Both methods round
    cosines to 6 decimals HALF_UP before thresholding and agree
    pair-for-pair (tests/test_semantic_dedup.py parity test).

    ``gram_chunk_rows`` is the blas path's gram tile (``_gram_pairs``):
    a skewed mega-cluster costs time, never an OOM-killed executor."""
    _check_blocked(block_cols, allow_unblocked, "embedding_neardup_pairs")
    if method not in ("sql", "blas"):
        raise ValueError(f"embedding_neardup_pairs: unknown method {method!r}")
    bcols = list(block_cols or [])
    if method == "blas":
        if not bcols:
            raise ValueError(
                "embedding_neardup_pairs: method='blas' requires block_cols"
                " (one gram matrix per block)")
        id_t = df.schema[id_col].dataType.simpleString()
        thr = float(threshold)
        step = max(int(gram_chunk_rows), 1)

        def gram(pdf):
            ids = pdf["__id"].to_numpy()
            a, b, cos = _gram_pairs(ids, pdf["__v"].to_numpy(), thr, step)
            return pd.DataFrame({"id_a": ids[a], "id_b": ids[b], "cos": cos})

        return _gram_input(df, id_col, vec_col, *bcols).groupBy(
            *bcols).applyInPandas(
            gram, schema=f"id_a {id_t}, id_b {id_t}, cos double")
    t = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"),
                  *bcols)
    a, b = t.alias("a"), t.alias("b")
    cond = F.col("a.__id") < F.col("b.__id")
    for c in bcols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    return (
        a.join(b, cond)
        .select(
            F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"),
            F.round(cosine_sim(
                F.col("a.__v").cast("array<double>"),
                F.col("b.__v").cast("array<double>")), 6).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


def _min_id_labels(ids, a, b) -> np.ndarray:
    """Each row's component label, its min id, for rows joined by the edges
    ``(a, b)`` or a shared id: a union-find over the sorted distinct ids
    that links the larger root under the smaller."""
    uniq, pos = np.unique(ids, return_inverse=True)
    parent = list(range(len(uniq)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for x, y in zip(pos[a].tolist(), pos[b].tolist()):
        rx, ry = find(x), find(y)
        parent[max(rx, ry)] = min(rx, ry)
    return uniq[[find(p) for p in pos.tolist()]]


def semantic_dedup(df: DataFrame, id_col: str, vec_col: str = "embedding",
                   n_clusters: int = 16, threshold: float = 0.95,
                   centroids=None, sample_size: int = 2048, seed: int = 42,
                   keep: str = "farthest",
                   corpus_rows: int | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): embedding-space
    semantic deduplication. K-means the embeddings into ``n_clusters``,
    find near-duplicate pairs WITHIN each cluster (cosine >= threshold),
    connect them transitively, and keep exactly one document per
    duplicate group.

    ``keep='farthest'`` is the paper's rule — within a duplicate group,
    keep the member with the LOWEST cosine to its cluster centroid (the
    least prototypical copy, preserving diversity); ``keep='min_id'``
    keeps the smallest id (geometry-independent, fully deterministic
    under float reassociation). Ties break on id either way.

    Returns (id, sem_list, cent_cos, sem_cluster, kept):
    ``sem_list`` the centroid index, ``cent_cos`` cosine to that
    centroid, ``sem_cluster`` the duplicate-group label (min id in the
    group; a document with no near-duplicate is its own group),
    ``kept`` the survival verdict. ``df.join(out.where('kept'), id)``
    is the deduplicated corpus. A null embedding is dropped, a zero
    vector is its own group, and a null id gets a null ``sem_cluster``
    and ``kept``. Rows of one id in one cluster share a group.

    Scale: this IS the paper's algorithm — within-cluster all-pairs,
    O((N/k)^2 * k) comparisons; pairs never cross clusters (the paper's
    accepted approximation; it uses 50k clusters for LAION-440M). So
    each cluster is ONE ``applyInPandas`` kernel: gram pairs, a
    union-find labelling each group with its min id, the keeper pick. A
    task holds one cluster plus one 4096^2 gram tile, so ``n_clusters``
    is the size knob: size it so N/k stays tractable. Centroids train
    on a seeded driver-side sample (``_train_unit_centroids``, the only
    jobs run while building) or inject ``centroids=`` for
    reproducible/oracle-testable assignment."""
    if keep not in ("farthest", "min_id"):
        raise ValueError("semantic_dedup: keep must be 'farthest' or "
                         f"'min_id' (got {keep!r})")
    if centroids is None:
        from rasterframes_spark.pipeline.similarity import (
            _train_unit_centroids)

        cents = _train_unit_centroids(df, vec_col, n_clusters, sample_size,
                                      seed, corpus_rows,
                                      caller="semantic_dedup")
    else:
        cents = np.asarray(centroids, dtype="float64")
        cents = cents / np.maximum(
            np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)

    @lazy_pandas_udf("struct<l:int,c:double>")
    def assign(v: pd.Series) -> pd.DataFrame:
        ls = np.full(len(v), -1, dtype="int32")
        cs = np.full(len(v), np.nan)
        nz = [i for i, arr in enumerate(v.values) if arr is not None]
        if nz:
            x = np.stack([np.asarray(v.values[i], dtype="float64")
                          for i in nz])
            x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
            sims = x @ cents.T
            best = np.argmax(sims, axis=1)
            ls[nz] = best.astype("int32")
            cs[nz] = sims[np.arange(len(nz)), best]
        return pd.DataFrame({"l": ls, "c": cs})

    # .once: the `sem_list >= 0` filter below would be pushed under this
    # projection
    base = _gram_input(df, id_col, vec_col,
                       assign.once(F.col(vec_col)).alias("__a"))
    base = base.select(
        "__id", "__v", F.col("__a.l").alias("sem_list"),
        F.round(F.col("__a.c"), 9).alias("cent_cos"),
    ).where(F.col("sem_list") >= 0)
    thr = float(threshold)

    def block(pdf):
        # a null vector here is a null id (null embeddings are filtered
        # above): it pairs with nothing and gets no label and no verdict
        live = pdf["__v"].notna()
        out = pdf[live].drop(columns="__v").reset_index(drop=True)
        ids = out["__id"].to_numpy()
        a, b, _ = _gram_pairs(ids, pdf["__v"][live].to_numpy(), thr)
        out["sem_cluster"] = _min_id_labels(ids, a, b)
        if keep == "min_id":
            out["kept"] = ids == out["sem_cluster"]
        else:  # the first row of each group by (cent_cos, id)
            out["kept"] = ~out.sort_values(
                ["cent_cos", "__id"], kind="mergesort").duplicated("sem_cluster")
        if not live.all():
            out = pd.concat([out.astype(object),
                             pdf.loc[~live, ["sem_list", "cent_cos"]]])
        return out.rename(columns={"__id": id_col})

    id_t = df.schema[id_col].dataType.simpleString()
    return base.groupBy("sem_list").applyInPandas(
        block, schema=f"`{id_col}` {id_t}, sem_list int, cent_cos double, "
                      f"sem_cluster {id_t}, kept boolean")


def dedup_clusters(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                   max_iter: int = 25) -> DataFrame:
    """Near-dup pairs -> transitive connected components:
    (id, cluster_id = min id in the component). The step a production dedup
    needs after pair generation — keep one canonical doc per cluster
    (``where id == cluster_id``), drop the rest.

    Iterative min-label propagation: each round joins the current labels
    across edges and takes the per-node min — O(component diameter) rounds
    (near-dup clusters are shallow; planted-dup chains converge in 2-3).
    Lineage is truncated every round (``localCheckpoint``) so the plan
    stays bounded; each round is one equi-join + one groupBy, both
    shuffle-partitioned on the node id.  Checkpoints are LAZY and each
    round runs ONE action (r15, VERDICT r14 #5/#6: eager checkpoints +
    a separate convergence count made every round two driver-blocking
    jobs, and edges/labels two more — the convergence count's full
    count() now materializes the round's checkpoint in the same job;
    count touches every partition, so the truncated lineage is always
    fully persisted before the next round reads it).  For billion-edge
    graphs swap the body for large-star/small-star — the API (pairs in,
    labels out) holds.  Ids absent from every pair (singletons) are
    absent from the output.
    """
    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = e.union(e.select(F.col("dst").alias("src"),
                             F.col("src").alias("dst"))).distinct()
    edges = edges.localCheckpoint(eager=False)
    labels = (edges.select("src").distinct()
              .withColumn("comp", F.col("src"))
              .localCheckpoint(eager=False))
    converged = False
    for _ in range(max_iter):
        prop = (edges.join(labels.withColumnRenamed("src", "dst"), "dst")
                .select("src", "comp"))
        new = (labels.select("src", "comp").union(prop)
               .groupBy("src").agg(F.min("comp").alias("comp"))
               .localCheckpoint(eager=False))
        # full count (no limit): the action computes EVERY partition of
        # `new` — materializing its checkpoint (and, on round one,
        # edges'/labels') inside this same job
        changed = (new.withColumnRenamed("comp", "nc")
                   .join(labels, "src")
                   .where(F.col("nc") != F.col("comp")).count())
        labels = new
        if changed == 0:
            converged = True
            break
    if not converged:
        # labels are still moving: a component's diameter exceeds max_iter
        # rounds and the output would silently mislabel long chains
        raise RuntimeError(
            f"dedup_clusters did not converge within max_iter={max_iter} "
            "rounds — a connected component has a longer chain diameter. "
            "Raise max_iter (rounds needed = component diameter), or use a "
            "large-star/small-star contraction for adversarially long "
            "chains.")
    return labels.select(F.col("src").alias(id_a.removesuffix("_a")
                                            if id_a.endswith("_a") else "id"),
                         F.col("comp").alias("cluster_id"))


# ---------------------------------------------------------------------------
# Exact substring (repeated-span) dedup — token-aligned n-grams + winnowing
# ---------------------------------------------------------------------------


def token_gram_hashes(text_col, n: int = 50,
                      winnow_stride: int = 1) -> Column:
    """Distinct xxhash64 fingerprints of word ``n``-grams, optionally
    thinned by robust winnowing — the exact-substring dedup signal of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better"), word-aligned so selection is CONTENT-defined: two documents
    sharing a span land on identical grams regardless of where the span
    sits in each document (a position-strided char sampler misses
    off-alignment repeats).

    ``winnow_stride`` s > 1 keeps, for every run of s consecutive gram
    hashes, only the minimum (standard winnowing): expected output is
    ~2/s of the grams, with the DETERMINISTIC guarantee that any shared
    word-aligned span of at least ``n + s - 1`` tokens selects at least
    one common fingerprint in both documents (a full s-window of shared
    grams lies inside the run in both; its min is selected in both).
    Pure built-ins, no Python.

    COST NOTE (r9): as a single Column expression the nested
    higher-order functions re-inline the token-hash array per gram
    position (Catalyst interprets HOF lambdas without CSE) —
    O(words^2) per document.  The operators (:func:`flag_repeated_spans`
    / :func:`exact_substring_pairs`) route through
    :func:`_gram_fingerprint_rows`, which stages each intermediate
    array behind a Generate boundary and produces IDENTICAL fingerprint
    values at O(words) — prefer the operators for corpus-scale work.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = F.split(c, r"\s+")
    # two-stage hashing (r9): each token's bytes hash ONCE, then every
    # gram hashes a sliced array of n int64s (xxhash64 accepts complex
    # types) — the previous per-position concat_ws built an ~n-token
    # string per gram, O(words x n x token_len) char copying that made
    # the gram pass ~4x the cost of everything downstream.  Gram
    # identity is unchanged (same token sequences collide), only the
    # fingerprint VALUES differ — callers treat them as opaque.
    th = F.transform(toks, lambda t: F.xxhash64(t))
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.xxhash64(F.slice(th, i, n)),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return _winnow(grams, winnow_stride)


def _winnow(grams, winnow_stride: int):
    s = int(winnow_stride)
    if s <= 1:
        return F.array_distinct(grams)
    return F.array_distinct(F.when(
        F.size(grams) >= s,
        F.transform(
            F.sequence(F.lit(1), F.size(grams) - (s - 1)),
            lambda j: F.array_min(F.slice(grams, j, s)),
        ),
    ).otherwise(grams))  # fewer than s grams: keep them all (short docs)


def _gram_fingerprint_rows(docs: DataFrame, id_col: str, text_col: str,
                           n: int, winnow_stride: int) -> DataFrame:
    """(__id, __w) distinct gram-fingerprint rows with STAGED evaluation.

    Catalyst interprets higher-order-function lambdas and re-inlines
    every referenced expression per element: a lambda over gram
    positions that references the token(-hash) array recomputes that
    whole array per position — O(words^2) per document, and the winnow
    stage over the gram array squared it again (measured r9 on sf0.1
    documents: 4.2 s plain / 154 s winnowed collapsing to ~1.05 s
    each).  Exploding a ONE-element array wrapper forces a Generate
    boundary, so each intermediate array materializes exactly once per
    row and later stages reference a plain attribute.  Fingerprint
    values are identical to :func:`token_gram_hashes`.

    The input is spread across cores first (r14): the tokenize + per-
    gram xxhash64-over-slice projection is the operator's heaviest
    stage, and a single-file corpus scans as ONE partition — serial.
    No-op at real scale / for well-partitioned inputs.  Sized from the
    free scan row bound (r15, VERDICT r14 #2): this census is cheap-
    per-row JVM codegen, and fanning a few thousand rows to the 32-way
    cap cost ~2x over ceil(rows/500) partitions (near-empty census
    tasks + that many cache blocks for the fingerprint table)."""
    docs = _spread(docs, rows="bound", rows_per_task=500)
    nn = int(n)
    toks = F.split(F.col(text_col) if isinstance(text_col, str)
                   else text_col, r"\s+")
    th = F.transform(toks, lambda t: F.xxhash64(t))
    staged = docs.select(F.col(id_col).alias("__id"),
                         F.explode(F.array(th)).alias("__th"))
    thc = F.col("__th")
    grams = F.when(
        F.size(thc) >= nn,
        F.transform(F.sequence(F.lit(1), F.size(thc) - (nn - 1)),
                    lambda i: F.xxhash64(F.slice(thc, i, nn))),
    ).otherwise(F.array().cast("array<bigint>"))
    if int(winnow_stride) > 1:
        staged = staged.select("__id",
                               F.explode(F.array(grams)).alias("__g"))
        grams = _winnow(F.col("__g"), winnow_stride)
    else:
        grams = F.array_distinct(grams)
    return staged.select("__id", F.explode(grams).alias("__w")).distinct()


def flag_repeated_spans(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 50,
                        winnow_stride: int = 1,
                        min_docs: int = 2,
                        broadcast_hits: bool = True) -> DataFrame:
    """Append ``has_repeated_span``: does this document share a word
    ``n``-gram fingerprint (winnowed per :func:`token_gram_hashes`) with
    at least ``min_docs - 1`` OTHER documents?  Linear cost: explode to
    (id, gram-hash), count distinct docs per hash, semi-join the flagged
    hashes back — one shuffle keyed on the 8-byte hash, documents never
    shuffle, and no pair enumeration (boilerplate shared by millions of
    docs costs its bucket count, not its pair count).

    The fingerprint table appears twice in the plan (frequency count +
    semi-join back); it is cached so the shingling pass runs once —
    release with ``rasterframes_spark.release_cache(result)`` once the
    result is materialized.

    ``broadcast_hits`` (default True) PINS the flag join as a broadcast
    of the affected-doc id set (9 bytes/row) so the full document
    payload is never shuffled — a conservative stats estimate at real
    scale would otherwise sort-merge-exchange the whole corpus text
    (VERDICT r9 #4).  Set False only if the affected-doc set itself
    outgrows driver/executor memory (then the sort-merge shuffle of the
    corpus is the unavoidable correct plan)."""
    fp = _gram_fingerprint_rows(docs, id_col, text_col, n, winnow_stride)
    fp.cache()
    hot = (fp.groupBy("__w").agg(F.count("*").alias("__n"))
           .where(F.col("__n") >= int(min_docs)))
    hits = (fp.join(hot, "__w", "left_semi")
            .select("__id").distinct()
            .withColumn("__hit", F.lit(True)))
    if broadcast_hits:
        hits = F.broadcast(hits)
    out = (docs.join(hits, docs[id_col] == hits["__id"], "left")
           .withColumn("has_repeated_span",
                       F.coalesce(F.col("__hit"), F.lit(False)))
           .drop("__id", "__hit"))
    out._rf_cached_inputs = (fp,)
    return out


def exact_substring_pairs(docs: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", n: int = 50,
                          winnow_stride: int = 1,
                          max_docs_per_gram: int = 64) -> DataFrame:
    """(id_a, id_b, shared_grams) for document pairs sharing word
    ``n``-gram fingerprints — the pair-level view of
    :func:`flag_repeated_spans` for dedup decisions that need the
    counterpart, not just a flag.

    Grams held by more than ``max_docs_per_gram`` documents are dropped
    before pairing (a boilerplate gram shared by N docs would otherwise
    enumerate N^2/2 pairs — the same hot-bucket posture as the MinHash
    LSH join); the flag operator above still reports such docs.

    The fingerprint table appears FOUR times in the plan (frequency
    count + both sides of the self-join); it is cached so the shingling
    pass runs once (r9: the sf0.1 bench cell dropped 5.3 s -> ~1.7 s) —
    release with ``rasterframes_spark.release_cache(result)``.

    The hot-gram table ``ok`` is cached too (r15): the alias self-join
    duplicates the ENTIRE filtered subtree — its two semi-join
    broadcasts each rebuilt the frequency aggregate over the full
    fingerprint table (plan-verified: two structurally identical
    BroadcastExchange subtrees, no ReusedExchange because the aliased
    expr-ids defeat canonicalization).  ``ok`` is small by construction
    (one 8-byte hash per gram shared by 2..max_docs_per_gram docs), so
    the cache dedups a full re-aggregate + second broadcast build for
    KBs of storage; released by the same handle."""
    fp = _gram_fingerprint_rows(docs, id_col, text_col, n, winnow_stride)
    fp.cache()
    ok = (fp.groupBy("__w").agg(F.count("*").alias("__n"))
          .where((F.col("__n") >= 2)
                 & (F.col("__n") <= int(max_docs_per_gram)))
          .select("__w"))
    ok.cache()
    fp2 = fp.join(ok, "__w", "left_semi")
    a, b = fp2.alias("a"), fp2.alias("b")
    out = (a.join(b, (F.col("a.__w") == F.col("b.__w"))
                  & (F.col("a.__id") < F.col("b.__id")))
           .groupBy(F.col("a.__id").alias("id_a"),
                    F.col("b.__id").alias("id_b"))
           .agg(F.count("*").alias("shared_grams")))
    out._rf_cached_inputs = (fp, ok)
    return out


def _require_unique_ids(docs: DataFrame, id_col: str, fn: str) -> None:
    """Raise unless ``id_col`` is unique per row of ``docs`` (a duplicated
    id would duplicate rows through a rebuild join on it).  One Spark
    job: a partial-aggregate pass whose ``take(1)`` stops at the first
    duplicated id, not two full actions (count + distinct-count)."""
    if docs.groupBy(F.col(id_col).alias("__id")).count() \
            .where(F.col("count") > 1).take(1):
        raise ValueError(
            f"{fn}: {id_col!r} must be unique per document (the rebuilt "
            "text joins back on it)")


def remove_repeated_spans(docs: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", n: int = 50,
                          min_docs: int = 2, keep_first: bool = True,
                          out_col: str | None = None,
                          assume_unique_ids: bool = False,
                          broadcast_starts: bool = True) -> DataFrame:
    """ACTUALLY remove cross-document duplicated spans — the surgery of
    Lee et al. 2022 §4 that :func:`flag_repeated_spans` only flags.

    A token is cut when it is covered by any word ``n``-gram whose
    fingerprint occurs in at least ``min_docs`` documents.
    ``keep_first=True`` (the paper's remove-all-but-one policy) keeps
    the span intact in the holder with the SMALLEST id and cuts it
    everywhere else; ``False`` cuts every copy (the stricter policy
    some pipelines use).  ``out_col`` (default: replace ``text_col``)
    receives the rebuilt text.

    Whitespace canonicalization: tokens are whitespace-split and
    rejoined with single spaces, so documents WITHOUT removed spans
    still normalize runs of whitespace — diff the token sequences, not
    the raw strings.

    Scale shape: one shuffle keyed on the 8-byte gram hash (the
    duplicated-gram census), one keyed on the doc id (flagged start
    positions fold into one array per affected document), and a
    map-side rebuild; documents without duplicated spans never carry
    position payloads.  All gram/rebuild arrays are staged behind
    Generate boundaries (see :func:`_gram_fingerprint_rows` — Catalyst
    re-inlines HOF-captured expressions per element).

    ``broadcast_starts`` (default True) PINS the rebuild join as a
    broadcast of the flagged-start table (affected docs only) so the
    full corpus text is never sort-merge-shuffled on a conservative
    stats estimate (VERDICT r9 #4); set False only when the affected
    set itself is too large to broadcast.

    The default duplicate-id precheck (:func:`_require_unique_ids`)
    runs one Spark job over the id column; pass
    ``assume_unique_ids=True`` to skip it when the caller already
    guarantees uniqueness (the curation-gate example does)."""
    if not assume_unique_ids:
        _require_unique_ids(docs, id_col, "remove_repeated_spans")
    # spread BEFORE both branches (census + rebuild): a single-file
    # corpus scans as one partition, serializing the tokenize/gram
    # census AND the rebuild's per-token exists() filter onto one core
    # (r14; no-op at real scale / for well-partitioned inputs).  Sized
    # from the free scan row bound (r15): measured ~2x faster at
    # ceil(rows/500) partitions than at the 32-way cap on small
    # fixtures — cheap-per-row JVM census, see _gram_fingerprint_rows
    docs = _spread(docs, rows="bound", rows_per_task=500)
    nn = int(n)
    dst = out_col or text_col

    toks_expr = F.split(F.col(text_col), r"\s+")
    th = F.transform(toks_expr, lambda t: F.xxhash64(t))
    staged = docs.select(F.col(id_col).alias("__id"),
                         F.explode(F.array(th)).alias("__th"))
    thc = F.col("__th")
    grams = F.when(
        F.size(thc) >= nn,
        F.transform(F.sequence(F.lit(1), F.size(thc) - (nn - 1)),
                    lambda i: F.xxhash64(F.slice(thc, i, nn))),
    ).otherwise(F.array().cast("array<bigint>"))
    # 0-based gram START positions this time (posexplode, no distinct —
    # every occurrence can need cutting)
    rows = staged.select("__id", F.posexplode(grams).alias("__p", "__w"))
    hot = (rows.groupBy("__w")
           .agg(F.count_distinct("__id").alias("__nd"),
                F.min("__id").alias("__keep"))
           .where(F.col("__nd") >= int(min_docs)))
    flagged = rows.join(hot, "__w")
    if keep_first:
        flagged = flagged.where(F.col("__id") != F.col("__keep"))
    starts = (flagged.groupBy("__id")
              .agg(F.array_sort(F.collect_set("__p")).alias("__starts")))

    # rebuild: token i survives unless some flagged start p satisfies
    # p <= i < p + n.  Tokens and positions are staged attributes, so
    # the exists() lambda captures only cheap per-row arrays.
    if broadcast_starts:
        starts = F.broadcast(starts)
    joined = docs.join(starts, docs[id_col] == starts["__id"], "left") \
        .drop("__id")
    rebuilt = (joined
               .select("*", F.explode(F.array(toks_expr)).alias("__tk"))
               .drop(*([dst] if dst in docs.columns else [])))
    tk, st_ = F.col("__tk"), F.col("__starts")
    kept = F.filter(
        F.sequence(F.lit(0), F.size(tk) - 1),
        lambda i: ~F.exists(st_, lambda p: (p <= i) & (i < p + nn)))
    out_text = F.when(st_.isNull(), F.concat_ws(" ", tk)).otherwise(
        F.concat_ws(" ", F.transform(kept,
                                     lambda i: F.element_at(tk, i + 1))))
    keep_cols = [c for c in docs.columns if c != dst] \
        if dst in docs.columns else list(docs.columns)
    return rebuilt.select(*keep_cols, out_text.alias(dst))


def remove_duplicated_lines(docs: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", min_docs: int = 2,
                            keep_first: bool = True,
                            out_col: str | None = None, sep: str = "\n",
                            assume_unique_ids: bool = False) -> DataFrame:
    """Corpus-wide duplicated-LINE removal — the CCNet §4.1 /
    RefinedWeb boilerplate-line surgery (navigation bars, cookie
    banners, footers repeat verbatim across a crawl; within-document
    repetition metrics in :mod:`pipeline.text` flag them, this removes
    them).  A line is cut when it occurs (byte-identical) in at least
    ``min_docs`` DISTINCT documents.  ``keep_first=True`` (CCNet's
    first-seen policy, same convention as
    :func:`remove_repeated_spans`) keeps every occurrence in the
    holder with the smallest id and cuts the line everywhere else;
    ``False`` cuts every copy.  ``out_col`` (default: replace
    ``text_col``) receives the rebuilt text; line order is preserved
    and EMPTY or WHITESPACE-ONLY lines are never treated as duplicates
    (paragraph structure — including indented or tab-only separator
    lines — survives; ADVICE r13).  NULL text stays NULL; a document
    whose every line is cut comes back as the empty string.

    ``sep`` is a LITERAL separator on both sides: the split pattern is
    ``\\Q…\\E``-quoted (Java ``Pattern.quote`` semantics — regex
    metacharacters like ``.`` or ``|`` are safe, and embedded ``\\E``
    is re-escaped), and the re-join uses the same literal, so split
    and join cannot desync (self-enforcing since r14; previously a
    documented caveat).

    Pure Catalyst (zero Python UDFs).  Scale shape: the duplicated-line
    census shuffles 8-byte ``xxhash64(line)`` keys with map-side
    partial aggregation (one (key, id)-distinct stage, then the
    count), the per-occurrence flag join is keyed on the same 8-byte
    hash (AQE skew-join splits the pathological all-docs-share-a-line
    key), and the rebuild groups once on the doc id — the same
    two-keyed-shuffles posture as :func:`remove_repeated_spans`.
    Hash note: the census keys are 64-bit line hashes, so two DISTINCT
    lines colliding would dedupe as one (2^-64-scale, the same
    contract as the span/doc-digest operators).

    No reference counterpart (build-brief training-data extension;
    cf. CCNet, Wenzek et al. 2020 §4.1)."""
    if not assume_unique_ids:
        _require_unique_ids(docs, id_col, "remove_duplicated_lines")
    # (r14: measured a _spread here — the per-row work (line split +
    # xxhash census) is too light to pay for the round-robin text
    # shuffle on narrow inputs: interleaved A/B 1.8x median REGRESSION.
    # Left on the caller's partitioning.)
    dst = out_col or text_col
    # Pattern.quote-equivalent \Q…\E literal quoting (embedded \E split)
    split_pat = "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"

    lines = docs.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.col(text_col), split_pat, -1))
        .alias("__p", "__ln")).withColumn("__k", F.xxhash64("__ln"))
    # \s (Java regex: space/tab/newline/CR/FF/VT), not F.trim — trim
    # strips only ASCII spaces, so a tab-only or CR-only separator line
    # (every CRLF corpus split on '\n' has them) would still census as
    # content (r14 review finding)
    blankish = F.length(F.regexp_replace("__ln", r"\s", "")) > 0
    hot = (lines.where(blankish)
           .select("__k", "__id")
           .groupBy("__k")
           .agg(F.count_distinct("__id").alias("__nd"),
                F.min("__id").alias("__keep"))
           .where(F.col("__nd") >= int(min_docs))
           .select("__k", "__keep"))
    kept = (lines.join(hot, "__k", "left")
            .where(F.col("__keep").isNull()
                   | (F.lit(bool(keep_first))
                      & (F.col("__id") == F.col("__keep")))))
    rebuilt = (kept.groupBy("__id")
               .agg(F.array_sort(
                   F.collect_list(F.struct("__p", "__ln"))).alias("__ls"))
               .select(F.col("__id"),
                       F.array_join(
                           F.transform("__ls", lambda s: s["__ln"]),
                           sep).alias("__new")))
    joined = docs.join(rebuilt, docs[id_col] == rebuilt["__id"], "left") \
        .drop("__id")
    out_text = F.when(F.col(text_col).isNull(), F.lit(None).cast("string")) \
        .otherwise(F.coalesce(F.col("__new"), F.lit("")))
    keep_cols = [c for c in docs.columns if c != dst] \
        if dst in docs.columns else list(docs.columns)
    return joined.select(*keep_cols, out_text.alias(dst))

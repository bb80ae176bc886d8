"""doc_dedup part of the join_export_dedup workload: the document
pipeline's three corpus-wide dedup operators.

Set-up generates a seeded corpus: documents drawn from a Zipf-weighted
pseudo-word vocabulary, with planted near-duplicate copies (one word
substituted), planted shared passages (one 30-word span inserted into two
documents), and clustered embeddings with planted near-duplicate vectors.
Its queries run one at a time: ``minhash_dedup_pairs``,
``exact_substring_pairs`` and ``semantic_dedup``, releasing operator
caches after each.  Every planted pair or span must be found.

The corpus is generated rather than read from disk so that the benchmark
reads nothing outside its checkout.
"""

from __future__ import annotations

import numpy as np

SIZES = {
    # documents, planted near-dups, planted spans, embedding dim, vector near-dups
    "full": dict(docs=600, near=20, spans=20, dim=32, vec_dups=20),
    "smoke": dict(docs=120, near=4, spans=4, dim=16, vec_dups=4),
}
SPAN_WORDS, GRAM = 30, 10
CLUSTERS = 8


class Workload:
    latency_kinds = input_kinds = ("minhash", "exact_substring", "semantic_dedup")

    def __init__(self, spark, rng: np.random.Generator, size: str, work: str):
        p = SIZES[size]
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        vocab = sorted({"".join(rng.choice(letters, int(rng.integers(3, 10))))
                        for _ in range(6000)})
        weights = 1.0 / (np.arange(len(vocab)) + 10.0)
        weights /= weights.sum()

        def words(n):
            return [vocab[i] for i in rng.choice(len(vocab), n, p=weights)]

        n = p["docs"]
        texts = [words(int(rng.integers(60, 160))) for _ in range(n)]
        ids = rng.permutation(n)            # planted pairs use random ids
        self.near_pairs, self.span_pairs = [], []
        for k in range(p["near"]):
            a, b = int(ids[2 * k]), int(ids[2 * k + 1])
            copy = list(texts[a])
            copy[int(rng.integers(len(copy)))] = words(1)[0]
            texts[b] = copy
            self.near_pairs.append((min(a, b), max(a, b)))
        base = 2 * p["near"]
        for k in range(p["spans"]):
            a, b = int(ids[base + 2 * k]), int(ids[base + 2 * k + 1])
            span = words(SPAN_WORDS)
            for d in (a, b):
                at = int(rng.integers(len(texts[d]) + 1))
                texts[d] = texts[d][:at] + span + texts[d][at:]
            self.span_pairs.append((min(a, b), max(a, b)))
        docs = [(i, " ".join(t)) for i, t in enumerate(texts)]
        text_mb = sum(len(t) for _, t in docs) / 1e6
        self.rates = {"docs_per_s": (n, self.input_kinds)}

        # embeddings: CLUSTERS well-separated centres; near-dup vectors
        # differ by noise far below any cluster boundary
        dim = p["dim"]
        centres = rng.normal(size=(CLUSTERS, dim))
        centres /= np.linalg.norm(centres, axis=1, keepdims=True)
        vec = centres[rng.integers(CLUSTERS, size=n)] + rng.normal(
            scale=1.0 / np.sqrt(dim), size=(n, dim))
        self.vec_pairs = []
        for k in range(p["vec_dups"]):
            a, b = int(ids[-1 - 2 * k]), int(ids[-2 - 2 * k])
            vec[b] = vec[a] + rng.normal(scale=1e-6, size=dim)
            self.vec_pairs.append((a, b))
        self.input_mb = text_mb + vec.nbytes / 1e6

        self.docs = spark.createDataFrame(docs, "doc_id long, text string").localCheckpoint()
        self.emb = spark.createDataFrame(
            [(i, v.tolist()) for i, v in enumerate(vec)],
            "vec_id long, embedding array<double>").localCheckpoint()

    def build_reference(self) -> None:
        """The planted pairs are the reference; nothing to compute."""

    # -- queries ------------------------------------------------------------
    def minhash(self, tracer):
        from rasterframes_spark import release_cache
        from rasterframes_spark.pipeline import minhash_dedup_pairs

        with tracer.span("pipeline.minhash") as sp:
            q = minhash_dedup_pairs(self.docs, "doc_id", "text",
                                    num_perm=32, bands=16, threshold=0.8)
            sp.built()
            rows = sp.collect(q)
        release_cache(q)
        found = {(min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"])) for r in rows}
        return lambda: all(pr in found for pr in self.near_pairs)

    def exact_substring(self, tracer):
        from rasterframes_spark import release_cache
        from rasterframes_spark.pipeline import exact_substring_pairs

        with tracer.span("pipeline.exact_substring") as sp:
            q = exact_substring_pairs(self.docs, "doc_id", "text", n=GRAM)
            sp.built()
            rows = sp.collect(q)
        release_cache(q)
        found = {(r["id_a"], r["id_b"]): r["shared_grams"] for r in rows}
        need = SPAN_WORDS - GRAM + 1
        return lambda: all(found.get(pr, 0) >= need for pr in self.span_pairs)

    def semantic(self, tracer):
        from rasterframes_spark.pipeline import semantic_dedup

        with tracer.span("pipeline.semantic_dedup") as sp:
            q = semantic_dedup(self.emb, "vec_id", "embedding",
                               n_clusters=CLUSTERS, threshold=0.97, seed=7)
            sp.built()
            rows = sp.collect(q.select("vec_id", "sem_cluster", "kept"))

        def check():
            by_id = {r["vec_id"]: (r["sem_cluster"], r["kept"]) for r in rows}
            return all(a in by_id and b in by_id and by_id[a][0] == by_id[b][0]
                       and not (by_id[a][1] and by_id[b][1])
                       for a, b in self.vec_pairs)
        return check

    def plan(self) -> list:
        return [("minhash", self.minhash),
                ("exact_substring", self.exact_substring),
                ("semantic_dedup", self.semantic)]

    def microbench(self) -> dict:
        """No tile or GeoTIFF work in this workload: the codec rates stay 0."""
        return {}

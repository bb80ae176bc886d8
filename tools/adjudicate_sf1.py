"""Fresh-session singles of one sf1 rehearsal leg (VERDICT r11 #1).

The r11 record's minhash sf1 breach (x10 = 2.34 official / 2.83 judge)
had run MINIMA matching the r10 singles while the medians were 2-3x —
evidence pointing at the in-session median-of-3 regime, not the
operator.  The decisive measurement is N FRESH-SESSION singles of the
same leg: each run gets a cold JVM (no accumulated broadcast/shuffle/
old-gen debris), so if the singles sit at the historical level the
operator is exonerated and the measurement regime owns the move.
The r12 adjudication ran exactly this (PLANS.md) and, combined with
the /proc/stat steal measurements, attributed the breach to
hypervisor CPU steal under sustained load.

Each single runs in a SUBPROCESS so sessions share nothing; per-run
steal seconds are recorded so a stolen single indicts the host, not
the leg.  Output: one JSON line {"leg", "sf_dir", "runs": [sec...],
"steal": [sec...], "median", "min", "load1"} on stdout.

Usage:
    python tools/adjudicate_sf1.py [leg] [N]      # default minhash 5
Legs: minhash_dedup, span_removal, exact_substring, semantic_dedup, ivf_ann
"""
from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# each leg: the timed body, given docs10/emb10 as appropriate (mirrors
# bench._sf1_rehearsal's cell definitions exactly)
_LEG_BODY = {
    "minhash_dedup": """
docs10 = bench._docs10(spark, sf_dir); docs10.count()
t0 = time.time()
n = bench._count_release(P.minhash_dedup_pairs(
    docs10, "doc_id", "text", num_perm=32, bands=16, threshold=0.8))
wall = time.time() - t0
""",
    "span_removal": """
docs10 = bench._docs10(spark, sf_dir); docs10.count()
t0 = time.time()
n = P.remove_repeated_spans(docs10, n=10, min_docs=2,
                            assume_unique_ids=True) \\
    .agg(F.sum(F.length("text"))).collect()[0][0]
wall = time.time() - t0
""",
    "exact_substring": """
docs10 = bench._docs10(spark, sf_dir); docs10.count()
t0 = time.time()
n = bench._count_release(P.exact_substring_pairs(
    docs10, "doc_id", "text", n=10))
wall = time.time() - t0
""",
    "semantic_dedup": """
emb10 = _emb10(spark, sf_dir)
t0 = time.time()
n = P.semantic_dedup(emb10, "vec_id", "embedding", n_clusters=64,
                     threshold=0.97).where("kept").count()
wall = time.time() - t0
""",
    "ivf_ann": """
emb10 = _emb10(spark, sf_dir)
annq = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .orderBy("vec_id").limit(8)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .localCheckpoint())
annq.count()
t0 = time.time()
n = P.ivf_ann_topk(emb10, annq, k=10, n_lists=16, n_probe=3).count()
wall = time.time() - t0
""",
}

_SINGLE = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from rasterframes_spark import create_rf_spark_session
from pyspark.sql import functions as F
import bench
from rasterframes_spark import pipeline as P


def _steal():
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except Exception:
        return None


def _emb10(spark, sf_dir):
    reps = F.explode(F.sequence(F.lit(0), F.lit(9))).alias("rep")
    emb01 = spark.read.parquet(f"{{sf_dir}}/embeddings.parquet")
    e = (emb01.select("vec_id", "embedding", reps)
         .select((F.col("vec_id").cast("long")
                  + F.col("rep").cast("long")
                  * F.lit(1_000_000_000).cast("long")).alias("vec_id"),
                 F.transform(
                     "embedding",
                     lambda x, i: x * (F.lit(1.0) + F.lit(0.5) * F.sin(
                         F.col("rep") * (i.cast("double") + 1.0))))
                 .alias("embedding"))
         .localCheckpoint())
    e.count()
    return e


spark = create_rf_spark_session(app_name="adjudicate-sf1")
spark.sparkContext.setLogLevel("ERROR")
sf_dir = {sf_dir!r}
# warm-up: JVM + Python workers (the r11 diagnosis: fresh-session
# scatter is first-run worker spawn; warm once, untimed, on foreign
# work so the leg itself still runs cold-cache)
spark.read.parquet(f"{{sf_dir}}/lineitem.parquet").limit(10).count()
s0 = _steal()
{body}
s1 = _steal()
steal = round((s1 - s0) / 100.0, 1) if s0 is not None else None
spark.sparkContext.setLogLevel("OFF")
spark.stop()
sys.stdout.flush()
print(json.dumps({{"sec": round(wall, 3), "n": int(n),
                   "steal": steal}}))
"""


def main():
    leg = sys.argv[1] if len(sys.argv) > 1 else "minhash_dedup"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    if leg not in _LEG_BODY:
        raise SystemExit(f"unknown leg {leg!r}; one of {sorted(_LEG_BODY)}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    code = _SINGLE.format(repo=REPO, sf_dir=sf_dir, body=_LEG_BODY[leg])
    runs, steals = [], []
    for i in range(n):
        p = subprocess.run([sys.executable, "-c", code], cwd=REPO,
                           capture_output=True, text=True, timeout=1800)
        line = next((ln for ln in reversed(p.stdout.splitlines())
                     if ln.startswith("{")), None)
        if p.returncode != 0 or line is None:
            raise RuntimeError(f"single {i} failed rc={p.returncode}\n"
                               f"{p.stderr[-1500:]}")
        got = json.loads(line)
        runs.append(got["sec"])
        steals.append(got.get("steal"))
        print(f"single {i + 1}/{n}: {got['sec']} s "
              f"(steal {got.get('steal')} s, n={got['n']})",
              file=sys.stderr)
    try:
        load1 = round(os.getloadavg()[0], 2)
    except OSError:
        load1 = None
    print(json.dumps({"leg": leg, "sf_dir": sf_dir, "runs": runs,
                      "steal": steals,
                      "median": round(statistics.median(runs), 3),
                      "min": min(runs), "load1": load1}))


if __name__ == "__main__":
    main()

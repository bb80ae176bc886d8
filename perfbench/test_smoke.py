"""Smoke test of the benchmark: tiny inputs, one measured pass.

    python3 -m pytest perfbench/test_smoke.py -q

For each workload and each trace mode, runs ``run.py --size smoke`` in a
subprocess and checks that every metric named in BENCHMARK.json is
emitted, that no query failed its check, that the layers a workload
exercises report non-zero work, and that no layer's Python time exceeds
what ``nproc`` cores can do in the layer's own wall time.  About forty seconds per run, most of it
Spark start-up.
"""

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Per-layer metrics that must be non-zero on each workload (the layer is
# exercised there); see the per-layer table in README.md.
EXERCISED = {
    "ndvi_zonal": ("sources.read.self_s", "sources.read.tasks",
                   "sources.read.decode_mpix_per_s", "functions.self_s",
                   "operators.zonal.self_s", "operators.zonal.pairs",
                   "operators.zonal.python_s", "sources.read.python_s",
                   "tile.decode_mb_per_s", "tile.encode_mb_per_s",
                   "tile.arrow_mb_sent", "spark.jobs"),
    "join_export_dedup": (
        "operators.raster_join.self_s", "operators.raster_join.jobs",
        "operators.raster_join.shuffle_mb",
        "operators.vector_join.self_s", "operators.vector_join.jobs",
        "sources.write.self_s", "sources.write.mb",
        "sources.write.encode_mb_per_s", "tile.encode_mb_per_s",
        "pipeline.minhash.self_s", "pipeline.minhash.jobs",
        "pipeline.minhash.python_s",
        "pipeline.exact_substring.self_s",
        "pipeline.semantic_dedup.self_s", "pipeline.semantic_dedup.jobs",
        "spark.jobs"),
}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace),
         "--size", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(EXERCISED))
def test_smoke(workload, trace):
    spec = _spec()
    assert workload in {w["name"] for w in spec["workloads"]}
    out = _run(workload, trace)
    assert out["correct"] is True
    assert out["failed"] == 0 and out["attempted"] >= 1
    named = spec["per_layer" if trace else "end_to_end"]
    metrics = out["metrics"]
    assert set(metrics) == {m["name"] for m in named}
    if trace:
        for name in EXERCISED[workload]:
            assert metrics[name]["value"] > 0, name
        # one traced pass at smoke size, so both are that pass's totals
        nproc = len(os.sched_getaffinity(0))
        for name, v in metrics.items():
            if name.endswith(".python_s"):
                layer = name[:-len("python_s")]
                assert v["value"] <= nproc * metrics[layer + "self_s"]["value"] + 0.05, name
    else:
        for name, v in metrics.items():
            assert v["value"] > 0, name

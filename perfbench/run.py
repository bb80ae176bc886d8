"""rasterframes_spark benchmark.

    python3 perfbench/run.py --workload ndvi_zonal --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  One process, one workload, closed loop
on ``local[nproc]``.  The last stdout line is one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``; the line
before it carries run details (host state, sample counts, percentiles).
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics and writes a span file under ``.perfbench_out/``.  See README.md.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ndvi_zonal", "join_export_dedup")



def load_spec() -> dict:
    """BENCHMARK.json: the metric names and units reported."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="measured time; passes run until it is used up")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full",
                    help="smoke: tiny inputs and a single measured pass")
    return ap.parse_args(argv)


def _gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3


def _measure(wl, tracer, seconds: float, size: str, label: str) -> list[dict]:
    """Closed loop: passes back to back until ``seconds`` are used (at
    least one; exactly one at smoke size)."""
    import harness as H

    passes, t0 = [], time.perf_counter()
    while not passes or (size == "full" and time.perf_counter() - t0 < seconds):
        passes.append(H.run_queries(wl.name, tracer, f"{label}{len(passes)}", wl.plan()))
    return passes


def _summary(wl, passes: list[dict], H) -> dict:
    """Per-run figures over the measured passes, in wall seconds and in
    process-tree CPU seconds (``*_cpu_s``)."""
    out = {}
    for suffix, key in (("s", "s"), ("cpu_s", "cpu_s")):
        lat = [q[key] for p in passes for q in p["queries"] if q["kind"] in wl.latency_kinds]
        inp = [sum(q[key] for q in p["queries"] if q["kind"] in wl.input_kinds)
               for p in passes]
        tail_v, tail_q = H.tail(lat)
        out.update({
            f"pass_{suffix}": H.median([p[f"pass_{suffix}"] for p in passes]),
            f"input_mb_per_{suffix}": H.median([wl.input_mb / t for t in inp]),
            f"query_p50_{suffix}": H.nearest_rank(lat, 0.5),
            f"query_tail_{suffix}": tail_v,
        })
        if key == "s":
            out["query_samples"], out["query_tail_percentile"] = len(lat), tail_q
    for name, (units, kinds) in wl.rates.items():
        out[name] = H.median([units / sum(q["s"] for q in p["queries"] if q["kind"] in kinds)
                              for p in passes])
    out["query_kind_median_s"] = {
        k: H.median([q["s"] for p in passes for q in p["queries"] if q["kind"] == k])
        for k in dict.fromkeys(q["kind"] for q in passes[0]["queries"])}
    return out


def run(args, work: str) -> tuple[dict, dict]:
    import numpy as np

    import harness as H

    spec = load_spec()
    nproc = len(os.sched_getaffinity(0))
    rng = np.random.default_rng(args.seed)
    mod = importlib.import_module(args.workload)

    spark = H.start_session(ROOT, work, nproc)
    try:
        session_s = time.perf_counter() - T_START
        t = time.perf_counter()
        wl = mod.Workload(spark, rng, args.size, work)
        inputs_s = time.perf_counter() - t
        ref_cpu = H.tree_cpu_s()
        wl.build_reference()                  # the check's cost, not set-up
        ref_cpu = H.tree_cpu_s() - ref_cpu
        off = H.Tracer(spark, False)
        warm = H.run_queries(wl.name, off, "warmup", wl.plan())
        setup_wall_s = session_s + inputs_s + warm["pass_s"]
        # process-tree CPU seconds from process start to the end of the
        # warm-up pass, without the reference computation
        setup_cpu_s = H.tree_cpu_s() - ref_cpu
        all_passes = [warm]

        host = H.HostWindow(nproc)
        cpu0, gc0, t0 = H.tree_cpu_s(), _gc_s(spark), time.perf_counter()
        span = args.seconds / 2 if args.trace else args.seconds
        plain = _measure(wl, off, span, args.size, "p")
        wall = time.perf_counter() - t0
        busy = (H.tree_cpu_s() - cpu0) / (wall * nproc)
        gc_per_pass = (_gc_s(spark) - gc0) / len(plain)
        all_passes += plain

        summary = _summary(wl, plain, H)
        pass_s = summary["pass_s"]
        detail = {
            "workload": args.workload, "seed": args.seed, "size": args.size,
            "trace": args.trace, "passes": len(plain),
            "session_s": session_s, "inputs_s": inputs_s,
            "warmup_pass_s": warm["pass_s"], "setup_wall_s": setup_wall_s,
            "reference_cpu_s": ref_cpu, "cpu_busy_frac": busy, **summary,
        }
        if not args.trace:
            values = {"setup_s": setup_cpu_s,
                      **{k: summary[k] for k in ("pass_cpu_s", "input_mb_per_cpu_s",
                                                 "query_p50_cpu_s", "query_tail_cpu_s")}}
        else:
            on = H.Tracer(spark, True)
            traced = _measure(wl, on, args.seconds / 2, args.size, "t")
            all_passes += traced
            values = layer_metrics(spec, on, traced, H)
            values.update({
                "session.start_s": session_s,
                "session.first_pass_extra_s": warm["pass_s"] - pass_s,
                "spark.cpu_busy_frac": busy,
                "spark.jvm_gc_s": gc_per_pass,
                "trace.untraced_pass_s": pass_s,
            })
            values["trace.overhead"] = values["trace.pass_s"] / pass_s
            values.update(wl.microbench())
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            path = os.path.join(ROOT, ".perfbench_out",
                                f"spans-{args.workload}-seed{args.seed}.jsonl")
            on.dump(path, T_START)
            detail["span_file"] = os.path.relpath(path, ROOT)
        # peak RSS does not repeat within a tenth over seeds on
        # join_export_dedup, so it is a traced-run (per-layer) metric
        detail["peak_rss_mb"] = H.tree_hwm_mb()
        if args.trace:
            values["spark.peak_rss_mb"] = detail["peak_rss_mb"]
        detail["host"] = host.report()
    finally:
        H.stop_session(spark)

    attempted = sum(p["attempted"] for p in all_passes)
    failed = sum(p["failed"] for p in all_passes)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                    for m in spec["per_layer" if args.trace else "end_to_end"]},
    }
    return detail, result


# Per-span figure for each stat suffix of a per-layer metric named
# ``<span name>.<stat>`` in BENCHMARK.json.
SPAN_STATS = {
    "self_s": lambda t, s: t.self_time(s),
    "build_s": lambda t, s: (s.built_at - s.start) if s.built_at else 0.0,
    "build_jobs": lambda t, s: s.build_jobs,
    "jobs": lambda t, s: s.counts.get("jobs", 0.0),
    "tasks": lambda t, s: s.counts.get("tasks", 0.0),
    "python_s": lambda t, s: s.counts.get("python_s", 0.0),
    "udf_sites": lambda t, s: s.counts.get("udf_sites", 0.0),
    "pairs": lambda t, s: s.counts.get("join_rows", 0.0),
    "shuffle_mb": lambda t, s: s.counts.get("shuffleBytesWritten", 0.0) / 1e6,
    "fetch_wait_s": lambda t, s: s.counts.get("fetchWaitTime", 0.0),
    "spill_mb": lambda t, s: s.counts.get("spillSize", 0.0) / 1e6,
    "mb": lambda t, s: s.counts.get("bytes_written", 0.0) / 1e6,
}
# Whole-pass sums over every layer span: metric -> (count key, scale).
PASS_SUMS = {
    "spark.jobs": ("jobs", 1.0), "spark.stages": ("stages", 1.0),
    "spark.tasks": ("tasks", 1.0),
    "tile.arrow_mb_sent": ("pythonDataSent", 1e-6),
    "tile.arrow_mb_received": ("pythonDataReceived", 1e-6),
    "tile.python_crossings": ("udf_sites", 1.0),
}


def layer_metrics(spec: dict, tracer, traced: list[dict], H) -> dict:
    """Per-pass medians of each layer's span totals over the traced
    passes.  A layer a workload does not call reports 0."""
    names = [m["name"] for m in spec["per_layer"]]
    per_pass: dict[str, list[float]] = {}
    for p in traced:
        layers = [s for s in tracer.spans
                  if s.pass_id == p["pass_id"] and not s.name.startswith("query.")]
        vals = dict.fromkeys(names, 0.0)
        for s in layers:
            for st, fn in SPAN_STATS.items():
                if f"{s.name}.{st}" in vals:
                    vals[f"{s.name}.{st}"] += fn(tracer, s)
            for k, (ck, scale) in PASS_SUMS.items():
                vals[k] += s.counts.get(ck, 0.0) * scale
        vals["trace.pass_s"] = p["pass_s"]
        vals["trace.residual_s"] = p["pass_s"] - sum(s.end - s.start for s in layers)
        for k, v in vals.items():
            per_pass.setdefault(k, []).append(v)
    return {k: H.median(v) for k, v in per_pass.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "rasterframes_spark", "__init__.py")):
        print(f"perfbench: no rasterframes_spark package next to {HERE}; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    try:
        detail, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail, sort_keys=True, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

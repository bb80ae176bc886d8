"""Bench stdout-reporting contract (VERDICT r8 #1).

The driver records only the LAST ~2000 chars of bench stdout; in r8 the
final JSON line grew to ~3.4 KB and the round's official perf record was
lost to mid-object truncation (BENCH_r08.json parsed: null). bench.py now
writes the complete result to BENCH_full.json and prints a compact final
line that must ALWAYS parse from a 2000-char tail slice.
"""
from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from bench import STDOUT_LINE_LIMIT, compact_result_line  # noqa: E402

CELLS = [
    "agg_stats", "local_add_sum", "normalized_difference", "mask_pipeline",
    "explode", "assemble", "quantiles", "text_metrics", "minhash_dedup",
    "cosine_topk", "ivf_ann", "line_dedup", "scrub_repetition", "semantic_dedup",
    "exact_substring",
    "span_removal", "st_join_points", "knn_points", "doc_ingest_chain",
    "baseline_agg_stats_400x240", "baseline_arrow_floor_100x64",
    "baseline_local_add_100x64", "baseline_local_add_10x_1000x64",
    "baseline_explode_100x256", "baseline_assemble_100x256",
    "baseline_assemble_shuffle_floor",
    "raster_join_tiles", "baseline_encode_f32_256_x2000",
    "baseline_roundtrip_f64_512_x1000", "baseline_render_png_963x754_rgb",
    "jp2_decode_tile_192_4x4cb", "jp2_overview_1830_reduce4",
]

SF1_LEGS = ["minhash_dedup", "semantic_dedup", "decontaminate",
            "ivf_ann", "exact_substring", "span_removal", "line_dedup", "st_join", "knn",
            "raster_join", "doc_ingest"]


def _full_result(n_extra: int = 0) -> dict:
    """A result dict sized like the real r9 suite (or larger)."""
    queries = {c: round(0.123 + i * 0.037, 3)
               for i, c in enumerate(CELLS)}
    for i in range(n_extra):
        queries[f"extra_cell_with_a_long_descriptive_name_{i:03d}"] = 1.234
    norm = {k: round(v / 0.26, 3) for k, v in queries.items()
            if k != "baseline_arrow_floor_100x64"}
    sf1 = {"rows": {"documents": 50000, "embeddings": 20000,
                    "points": 1200000}}
    for leg in SF1_LEGS:
        sf1[leg] = {"shuffle_read_mb": 41.3, "shuffle_write_mb": 41.4,
                    "spilled_mb": 0.0,
                    "max_over_median_task_shuffle_read": 1.65,
                    "sec": 17.012, "vs_10x_sf01": 1.95}
    # r13 shapes: recall pin on the ANN leg, re-run armor markers,
    # paired controls on four legs
    sf1["ivf_ann"]["recall_vs_brute"] = 0.987
    sf1["minhash_dedup"]["reran_for"] = ["steal"]
    for leg in ("minhash_dedup", "span_removal", "raster_join",
                "doc_ingest"):
        sf1[leg]["paired_sf01"] = [0.41, 0.39, 0.44]
        sf1[leg]["x10_paired"] = 1.7
        sf1[leg]["runs"] = [15.1, 17.012, 18.3]
        sf1[leg]["gc_sec"] = [1.2, 0.8, 0.9]
        sf1[leg]["steal_sec"] = [0.0, 4.1, 2.2]
    for leg in SF1_LEGS:
        sf1[leg]["compiles"] = [[120, 1.2, 9.8], [0, 0.0, 2.1], [0, 0.0, 0.4]]
    return {
        "metric": "headline_suite_total", "value": 23.456, "unit": "sec",
        "queries": queries, "median": dict(queries),
        "derived": {"local_add_minus_floor": 0.009,
                    "explode_minus_floor": 0.1,
                    "assemble_minus_floor": 0.4,
                    "local_add_10x_vs_10x_baseline": 0.49},
        "normalized": norm, "normalized_median": norm,
        "normalized_unit": "x_arrow_floor", "sf1": sf1, "sf": 0.1,
        "load1": 0.12, "load5": 0.3, "load15": 0.4,
        "psi_cpu_avg10": 0.0, "waited_for_quiet_sec": 0,
        "contended": False,
        "semantics": {"minhash_dedup": "cold", "exact_substring": "cold"},
        # per repeat: [classes compiled, their compile s, JIT s]
        "compiles": {c: [[40, 0.31, 1.8]] + [[0, 0.0, 0.2]] * 4 for c in CELLS},
    }


def _parse_from_tail(line: str) -> dict:
    """Exactly the driver's capture: keep the last 2000 chars of stdout
    and parse the last line."""
    stdout = "earlier warning noise\n" * 300 + line + "\n"
    tail = stdout[-2000:]
    return json.loads(tail.strip().splitlines()[-1])


def test_r9_sized_result_fits_and_parses():
    full = _full_result()
    line = compact_result_line(full)
    assert len(line) <= STDOUT_LINE_LIMIT
    d = _parse_from_tail(line)
    # fidelity where it matters: the COMPLETE min series (values may
    # round to 2dp under the trim cascade — <= 5 ms precision traded
    # for keeping the sf1 scale evidence), the headline value, and an
    # sf1 one-liner per leg
    assert set(d["queries"]) == set(full["queries"])
    for k, v in full["queries"].items():
        assert abs(d["queries"][k] - v) <= 0.0051, k
    assert d["value"] == full["value"]
    assert d["full"] == "BENCH_full.json"
    assert set(SF1_LEGS) <= set(d["sf1"])
    # compile counts live only in the full file
    assert "compiles" not in d
    assert not any("compiles" in v for v in d["sf1"].values())
    # the scale evidence survives compaction: per-leg wall seconds AND
    # the vs-10x-linear ratio (skew/spill may trim, full file keeps all)
    leg = d["sf1"]["minhash_dedup"]
    assert leg["sec"] == 17.012 and leg["x10"] == 1.95
    # r13: the self-describing markers survive compaction — the
    # cold-repeat semantics note (VERDICT r12 #3), the ANN recall pin
    # (#4), the paired-control ratio on all four watched legs (#5),
    # and the re-run armor trail (#1/#7)
    assert d["semantics"]["minhash_dedup"] == "cold"
    assert d["sf1"]["ivf_ann"]["recall"] == 0.987
    assert leg["rr"] == ["steal"]
    for wl in ("minhash_dedup", "raster_join", "doc_ingest"):
        assert d["sf1"][wl]["x10p"] == 1.7, wl
    # the drift-proof normalized_median series may shed from the line
    # (it did in the real r12 record too) — it always lives complete in
    # BENCH_full.json, which the line points to via d["full"]


def test_oversized_result_still_parses():
    # 60 extra long-named cells: way past the limit pre-trim; every
    # trim stage must end in valid JSON under the cap
    for extra in (10, 30, 60, 200):
        full = _full_result(n_extra=extra)
        line = compact_result_line(full)
        assert len(line) <= STDOUT_LINE_LIMIT, extra
        d = _parse_from_tail(line)
        assert d["value"] == full["value"]


def test_sf1_error_form_parses():
    full = _full_result()
    full["sf1"] = {"error": "RuntimeError: REST API unreachable"}
    d = _parse_from_tail(compact_result_line(full))
    assert d["sf1"]["error"].startswith("RuntimeError")


EXECUTOR_SPAM = (
    "25/08/15 21:46:01 ERROR Executor: Exception in task 13.0 in stage "
    "1142.0 (TID 9981)\norg.apache.spark.SparkException: Python worker "
    "exited unexpectedly (crashed)\n"
    + "".join(
        f"25/08/15 21:46:02 ERROR TaskSetManager: Block rdd_2826_{i} "
        "does not exist\n" for i in range(13))
)


def test_spam_after_line_buries_it_but_new_ordering_survives():
    """The r9 failure mode, pinned (VERDICT r9 #1): executor
    stage-cancellation ERROR spam written AFTER the compact line pushes
    it out of the driver's 2000-char tail. Proves (a) the old ordering
    (line, then teardown noise) genuinely loses the record, and (b) the
    fixed ordering (noise, then line printed last after spark.stop())
    keeps it parseable."""
    line = compact_result_line(_full_result())
    spam = EXECUTOR_SPAM
    while len(spam) < 2000:
        spam += EXECUTOR_SPAM
    # (a) old ordering: spam lands after the line -> tail has no JSON
    stdout_old = "startup noise\n" * 50 + line + "\n" + spam
    tail = stdout_old[-2000:]
    with pytest.raises(Exception):
        json.loads(tail.strip().splitlines()[-1])
    # (b) new ordering: line printed after teardown -> always last
    stdout_new = "startup noise\n" * 50 + spam + line + "\n"
    tail = stdout_new[-2000:]
    d = json.loads(tail.strip().splitlines()[-1])
    assert d["value"] == 23.456


def test_bench_source_prints_compact_line_after_spark_stop():
    """Structural pin of the ordering fix: in bench.py's suite runner the
    compact-line print must come AFTER spark.stop() (and after a
    setLogLevel call that silences the JVM), so no executor/scheduler
    thread can write past it."""
    src = (REPO / "bench.py").read_text()
    stop_at = src.index("\n    spark.stop()")  # statement, not the comment
    print_at = src.index("print(compact_result_line(full))")
    off_at = src.index('setLogLevel("OFF")')
    assert off_at < stop_at < print_at


def test_never_mid_object_truncated_even_at_tiny_limit():
    # belt-and-braces: even with an absurd 200-char cap the fallback
    # prints a complete, parseable headline object
    full = _full_result(n_extra=100)
    line = compact_result_line(full, limit=200)
    assert len(line) <= 200
    d = json.loads(line)
    assert d["value"] == full["value"] and d["metric"] == full["metric"]


def test_sf1_triples_are_chronological_and_watchlist_sheds_last():
    """VERDICT r11 #2: the compact record line carries each repeat
    leg's run triple in CHRONOLOGICAL order (never re-sorted) with
    per-run JVM GC seconds attached; when the line is over budget,
    triples shed from non-watchlist legs first and the standing
    adjudication set keeps its chronology."""
    full = _full_result()
    decreasing = [31.507, 22.043, 13.861]     # sorted() would reorder
    for leg in SF1_LEGS:
        full["sf1"][leg]["runs"] = list(decreasing)
        full["sf1"][leg]["gc_sec"] = [21.3, 11.2, 3.4]
    d = _parse_from_tail(compact_result_line(full))
    mh = d["sf1"]["minhash_dedup"]
    assert mh["runs"] == [31.5, 22.0, 13.9]   # order preserved, rounded
    # per-run gc/steal may shed one stage before the chronology at r13
    # record density (the full file always keeps them); if present they
    # are chronological too
    assert mh.get("gc") in (None, [21.3, 11.2, 3.4])
    assert "runs" in d["sf1"]["span_removal"]
    # the over-budget case: non-watchlist triples shed, watchlist stays
    full_big = _full_result(n_extra=25)
    for leg in SF1_LEGS:
        full_big["sf1"][leg]["runs"] = list(decreasing)
        full_big["sf1"][leg]["gc_sec"] = [21.3, 11.2, 3.4]
    d2 = _parse_from_tail(compact_result_line(full_big))
    if isinstance(d2.get("sf1"), dict) and \
            isinstance(d2["sf1"].get("minhash_dedup"), dict):
        got_mh = "runs" in d2["sf1"]["minhash_dedup"]
        got_sem = isinstance(d2["sf1"]["semantic_dedup"], dict) and \
            "runs" in d2["sf1"]["semantic_dedup"]
        # watchlist never sheds before a non-watchlist leg
        assert got_mh or not got_sem


def test_assemble_floor_bar_statistic_is_pinned():
    """VERDICT r13 #3: the assemble floor bar's statistic is named, not
    interpreted.  compute_derived must (a) compute the NORMATIVE
    assemble_vs_shuffle_floor as min-over-min (the `timings` dict holds
    min-of-reps), (b) stamp the form in-record as
    assemble_vs_shuffle_floor_stat = min_over_min_paired, and (c) keep
    the median ratio as a separately-named diagnostic field."""
    from bench import compute_derived

    timings = {  # mins — a case where min/min passes the 2.2x bar...
        "baseline_arrow_floor_100x64": 0.22,
        "baseline_local_add_100x64": 0.26,
        "baseline_explode_100x256": 0.37,
        "baseline_assemble_100x256": 0.70,
        "baseline_assemble_shuffle_floor": 0.50,
        "baseline_local_add_10x_1000x64": 0.24,
    }
    medians = dict(timings)  # ...and medians straddle it
    medians["baseline_assemble_100x256"] = 0.80
    medians["baseline_assemble_shuffle_floor"] = 0.33
    d = compute_derived(timings, medians)
    assert d["assemble_vs_shuffle_floor"] == round(0.70 / 0.50, 3)
    assert d["assemble_vs_shuffle_floor_stat"] == "min_over_min_paired"
    assert d["assemble_vs_shuffle_floor_median"] == round(0.80 / 0.33, 3)
    # the normative form is the one under the BASELINE.md 2.2 bound
    assert d["assemble_vs_shuffle_floor"] <= 2.2
    # and BASELINE.md itself names the statistic
    text = (REPO / "BASELINE.md").read_text()
    assert "MIN-over-MIN" in text and "min_over_min_paired" in text

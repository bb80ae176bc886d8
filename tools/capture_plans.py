"""Capture .explain("formatted") for every declared query into
plans/<round>/<query>_<tag>.txt (tag = before/after), so plan claims of an
optimization round can be checked against the files.  Each query runs
first, so every dump is its final adaptive plan.

Run: python tools/capture_plans.py <round> <tag> [query1,query2,...]
Defaults: all queries, sf dir from $SPARK_GRAFT_SF_DIR (default sf0.01 —
plan SHAPE is scale-independent; eager plan-time estimators run against
the small inputs).
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    rnd, tag = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    from rasterframes_spark import create_rf_spark_session
    import __spark_entry__ as entry

    spark = create_rf_spark_session(master="local[8]",
                                    app_name=f"capture-{rnd}-plans")
    spark.sparkContext.setLogLevel("ERROR")

    outdir = os.path.join(os.path.dirname(__file__), "..", "plans", rnd)
    os.makedirs(outdir, exist_ok=True)

    qs = entry.queries()
    for name, fn in qs.items():
        if only and name not in only:
            continue
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        try:
            df = fn(spark, sf_dir)
            # run the query first: every capture then prints the final
            # adaptive plan, whatever the builder already materialized
            df.collect()
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as exc:  # noqa: BLE001 — record, keep going
            text = f"ERROR building plan: {exc!r}\n"
        with open(path, "w") as f:
            f.write(f"# query: {name}  tag: {tag}  sf_dir: {sf_dir}\n")
            f.write(text)
        print(f"wrote {path} ({len(text)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()

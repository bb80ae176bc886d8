import uuid
from collections import Counter

import numpy as np
import pytest

from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    from rasterframes_spark.session import create_rf_spark_session

    s = create_rf_spark_session(
        master="local[4]",
        app_name="rf-tests",
        **{"spark.sql.shuffle.partitions": "8"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def rng():
    return np.random.default_rng(42)


_PANDAS_FUNC_NODES = ("FlatMapGroupsInPandasExec", "MapInPandasExec",
                      "FlatMapCoGroupsInPandasExec")


def plan_nodes(df):
    """Each node of ``df``'s executed physical plan, once.  Walks into AQE
    plans, query stages and cached relations; a node reached twice (a
    cache read by several scans) is yielded once."""
    jvm = df.sparkSession._jvm
    seen: set[int] = set()
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        p = todo.pop()
        key = jvm.System.identityHashCode(p)
        if key in seen:
            continue
        seen.add(key)
        yield p
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(p.plan())
        elif cls == "InMemoryTableScanExec":
            todo.append(p.relation().cachedPlan())
        ch = p.children()
        todo.extend(ch.apply(i) for i in range(ch.size()))


def udf_sites(df) -> Counter:
    """Python UDF evaluation sites in ``df``'s executed plan, counted by UDF
    name: one per UDF on each ``*EvalPythonExec`` node, and one per
    ``applyInPandas`` / ``mapInPandas`` / cogrouped node by its function's
    name (nodes from :func:`plan_nodes`)."""
    sites: Counter = Counter()
    for p in plan_nodes(df):
        cls = p.getClass().getSimpleName()
        if cls.endswith("EvalPythonExec"):
            it = p.udfs().iterator()
            while it.hasNext():
                sites[it.next().name()] += 1
        elif cls in _PANDAS_FUNC_NODES:
            sites[p.func().name()] += 1
    return sites


def count_jobs(spark, fn):
    """Run ``fn()`` in a job group of its own; return its result and the
    number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count jobs")
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def make_tile_df(spark, tiles, extra=None):
    """DataFrame with columns (tile_id, tile [, extras])."""
    from rasterframes_spark.tile import TILE_SCHEMA
    from pyspark.sql.types import StructType, StructField, StringType

    rows = []
    for i, t in enumerate(tiles):
        row = {"tile_id": f"t{i}", "tile": t.to_row() if t is not None else None}
        if extra:
            row.update({k: v[i] for k, v in extra.items()})
        rows.append(row)
    schema = StructType(
        [StructField("tile_id", StringType(), False), StructField("tile", TILE_SCHEMA, True)]
    )
    return spark.createDataFrame(rows, schema=schema)


def make_interlaced_png(img):
    """Hand-build an Adam7-interlaced PNG (filter-0 rows) straight from
    the spec pass grid — shared by the decode-parity and fuzz tests.
    (test_pipeline.py keeps its own transcription on purpose: it also
    asserts the grid tiles the plane exactly once.)"""
    import struct
    import zlib

    ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
             (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

    def chunk(tag, payload):
        return (struct.pack(">I", len(payload)) + tag + payload
                + struct.pack(">I", zlib.crc32(tag + payload)))

    h, w, ch = img.shape
    ctype = {1: 0, 3: 2, 4: 6}[ch]
    raw = bytearray()
    for x0, y0, dx, dy in ADAM7:
        sub = img[y0::dy, x0::dx, :]
        if sub.size == 0:
            continue
        for row in sub:
            raw.append(0)
            raw += row.tobytes()
    out = bytearray(b"\x89PNG\r\n\x1a\n")
    out += chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 1))
    out += chunk(b"IDAT", zlib.compress(bytes(raw)))
    out += chunk(b"IEND", b"")
    return bytes(out)

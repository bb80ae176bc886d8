import numpy as np
import pytest

from pyspark.sql import SparkSession

# plan and job views, imported by the tests from here
from rasterframes_spark.observe import count_jobs, plan_nodes, udf_sites  # noqa: F401


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

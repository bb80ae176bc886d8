"""Every st_* SQL name answers exactly what its Column function answers.

SQL registers the Column API's own kernels (``geom/functions.py:
SQL_FUNCTIONS``), so one wide SQL select and one wide Column select over
the same fixture rows must agree value for value, nulls and NaNs
included."""

import math
import struct

import pytest

import rasterframes_spark as rf
from rasterframes_spark.geom import core as G
from rasterframes_spark.geom.functions import SQL_FUNCTIONS

WKTS = [
    "POINT (1 2)",
    "LINESTRING (0 0, 1 0, 1 1)",
    "LINESTRING (0 0, 1 0, 1 1, 0 0)",
    "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0), (0.5 0.5, 1 0.5, 1 1, 0.5 1, 0.5 0.5))",
    "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))",
    "MULTIPOINT ((1 1), (2 2))",
    "MULTILINESTRING ((0 0, 1 1), (1 1, 2 0))",
    "GEOMETRYCOLLECTION (POINT (1 1), LINESTRING (0 0, 1 1))",
    "POINT EMPTY",
    "LINESTRING EMPTY",
    "POLYGON EMPTY",
    "MULTIPOLYGON EMPTY",
    "GEOMETRYCOLLECTION EMPTY",
    None,
]
GEOHASHES = ["u0qj5", "9q8yy", "s0000", "ezs42", None]
INDEXES = [1, 2, -1, 1, 2, 3, 1, 0]


class Lit:
    """A literal argument: a Python value for the Column function, its
    SQL literal in the query."""

    def __init__(self, v):
        self.v = v

    def sql(self):
        return f"'{self.v}'" if isinstance(self.v, str) else repr(self.v)


# (SQL name, argument columns or literals); optional arguments appear in
# both forms
CALLS = [
    ("st_point", "x", "y"), ("st_makePoint", "x", "y"),
    ("st_makePointM", "x", "y", "m"),
    ("st_makeBBox", "x", "y", "m", "m"), ("st_makeBox2D", "c", "p"),
    ("st_makeLine", "pts"), ("st_makePolygon", "g"), ("st_polygon", "g"),
    ("st_geom_from_wkt", "wkt"), ("st_geomFromWKT", "wkt"),
    ("st_pointFromText", "wkt"), ("st_lineFromText", "wkt"),
    ("st_polygonFromText", "wkt"), ("st_mPointFromText", "wkt"),
    ("st_mLineFromText", "wkt"), ("st_mPolyFromText", "wkt"),
    ("st_pointFromWKB", "g"), ("st_geomFromWKB", "g"),
    ("st_geomFromGeoHash", "gh"), ("st_geomFromGeoHash", "gh", Lit(10)),
    ("st_pointFromGeoHash", "gh"), ("st_pointFromGeoHash", "gh", Lit(10)),
    ("st_asText", "g"), ("st_asBinary", "g"), ("st_asGeoJSON", "g"),
    ("st_asLatLonText", "g"), ("st_geoHash", "g"), ("st_geoHash", "g", Lit(9)),
    ("st_byteArray", "wkt"),
    ("st_castToPoint", "g"), ("st_castToLineString", "g"),
    ("st_castToPolygon", "g"),
    ("st_geometryType", "g"), ("st_x", "g"), ("st_y", "g"),
    ("st_centroid", "g"), ("st_envelope", "g"), ("st_area", "g"),
    ("st_length", "g"), ("st_lengthSphere", "g"), ("st_numPoints", "g"),
    ("st_numGeometries", "g"), ("st_geometryN", "g", "n"),
    ("st_pointN", "g", "n"), ("st_interiorRingN", "g", "n"),
    ("st_exteriorRing", "g"), ("st_boundary", "g"), ("st_dimension", "g"),
    ("st_coordDim", "g"),
    ("st_distance", "g", "h"), ("st_distance_sphere", "c", "p"),
    ("st_distanceSphere", "c", "p"), ("st_aggregateDistanceSphere", "pts"),
    ("st_closestPoint", "g", "h"),
    ("st_intersects", "g", "h"), ("st_contains", "g", "h"),
    ("st_within", "g", "h"), ("st_disjoint", "g", "h"),
    ("st_equals", "g", "h"), ("st_covers", "g", "h"),
    ("st_coveredBy", "g", "h"), ("st_touches", "g", "h"),
    ("st_crosses", "g", "h"), ("st_overlaps", "g", "h"),
    ("st_relate", "g", "h"), ("st_relateBool", "g", "h", Lit("T********")),
    ("st_isValid", "g"), ("st_isEmpty", "g"), ("st_isSimple", "g"),
    ("st_isClosed", "g"), ("st_isRing", "g"), ("st_isCollection", "g"),
    ("st_translate", "g", Lit(1.0), Lit(-2.0)),
    ("st_bufferPoint", "g", Lit(1000.0)),
    ("st_reproject", "g", Lit("EPSG:4326"), Lit("EPSG:3857")),
    ("st_antimeridianSafeGeom", "g"),
]


def _wkb(wkt):
    return None if wkt is None else G.wkb_dumps(G.wkt_loads(wkt))


@pytest.fixture(scope="module")
def parity_df(spark):
    n = len(WKTS)
    rows = []
    for i, wkt in enumerate(WKTS):
        g = None if wkt is None else G.wkt_loads(wkt)
        x = None if i % 5 == 2 else i * 1.5 - 3.0
        rows.append({
            "id": i, "wkt": wkt, "g": _wkb(wkt),
            # second operand: another fixture row, empties and null included
            "h": _wkb(WKTS[(i + 3) % n]),
            "c": None if g is None else G.wkb_dumps(("Point", G.centroid(g))),
            "p": G.wkb_dumps(("Point", (3.0, 4.0))),
            "gh": GEOHASHES[i % len(GEOHASHES)],
            "x": x, "y": i * 0.5, "m": float(i),
            "n": INDEXES[i % len(INDEXES)],
            "pts": None if i == 4 else [
                G.wkb_dumps(("Point", (float(i), 0.0))), None,
                G.wkb_dumps(("Point", (float(i), 1.0)))],
        })
    df = spark.createDataFrame(rows, schema=(
        "id int, wkt string, g binary, h binary, c binary, p binary, "
        "gh string, x double, y double, m double, n int, pts array<binary>"))
    df.createOrReplaceTempView("parity_geoms")
    return df


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    if isinstance(a, (tuple, list)) and isinstance(b, (tuple, list)):
        return len(a) == len(b) and all(_same(u, v) for u, v in zip(a, b))
    return a == b


def test_sql_calls_cover_the_sql_table():
    assert {c[0] for c in CALLS} == set(SQL_FUNCTIONS)


def test_sql_matches_column_api(spark, parity_df):
    def sql_arg(a):
        return a.sql() if isinstance(a, Lit) else a

    def col_arg(a):
        return a.v if isinstance(a, Lit) else a

    sql = spark.sql("select id, " + ", ".join(
        f"{name}({', '.join(sql_arg(a) for a in args)}) as c{k}"
        for k, (name, *args) in enumerate(CALLS)) + " from parity_geoms order by id"
    ).collect()
    api = parity_df.select("id", *[
        getattr(rf, name)(*[col_arg(a) for a in args]).alias(f"c{k}")
        for k, (name, *args) in enumerate(CALLS)]).orderBy("id").collect()
    assert len(sql) == len(api) == len(WKTS)
    for s, a in zip(sql, api):
        for k, (name, *_args) in enumerate(CALLS):
            assert _same(s[f"c{k}"], a[f"c{k}"]), (name, s["id"], s[f"c{k}"], a[f"c{k}"])

    # st_makePointM with a null x: a NaN-x point like st_makePoint and the
    # Column function (the row UDF it replaces answered null)
    pm = CALLS.index(("st_makePointM", "x", "y", "m"))
    for s in sql:
        if s["id"] % 5 == 2:
            b = bytes(s[f"c{pm}"])
            x, y = struct.unpack("<dd", b[5:])
            assert b[:5] == b"\x01\x01\x00\x00\x00" and math.isnan(x)
            assert y == s["id"] * 0.5


def test_distance_of_an_empty_geometry_is_null_in_any_batch(spark):
    """``st_distance`` of POINT EMPTY is NULL alone in its batch (the
    all-point fast path) and beside a polygon in the same partition (the
    general path), in SQL and in the Column API."""
    empty, pt = _wkb("POINT EMPTY"), _wkb("POINT (1 1)")
    poly = _wkb("POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))")
    for rows, want in (([(0, empty, pt)], [None]),
                       ([(0, empty, pt), (1, poly, pt)], [None, pytest.approx(math.sqrt(32))])):
        df = spark.createDataFrame(rows, "id int, a binary, b binary").coalesce(1)
        df.createOrReplaceTempView("dist_empty")
        api = df.select("id", rf.st_distance("a", "b").alias("d")).orderBy("id").collect()
        sql = spark.sql("select id, st_distance(a, b) as d from dist_empty order by id").collect()
        assert [r.d for r in api] == [r.d for r in sql] == want

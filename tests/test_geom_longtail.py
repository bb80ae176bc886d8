"""Long-tail st_* surface vs closed-form geometry — constructors, indexed
accessors, boundary/dimension, shape predicates, casts, antimeridian.
Reference export list: python/pyrasterframes/rasterfunctions.py:1092-1433."""

import math

import pytest

from pyspark.sql import functions as F

import rasterframes_spark as rf


@pytest.fixture(scope="module")
def gdf(spark):
    return spark.createDataFrame([{
        "pt": "POINT (1 2)",
        "ln": "LINESTRING (0 0, 1 0, 1 1)",
        "closed_ln": "LINESTRING (0 0, 1 0, 1 1, 0 0)",
        "bowtie": "LINESTRING (0 0, 2 2, 2 0, 0 2)",
        "pl": "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0), (0.5 0.5, 1 0.5, 1 1, 0.5 1, 0.5 0.5))",
        "mp": "MULTIPOINT ((1 1), (2 2))",
        "ml": "MULTILINESTRING ((0 0, 1 1), (1 1, 2 0))",
        "mg": "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))",
    }])


def _one(df, col):
    return df.select(col.alias("v")).head()["v"]


def test_typed_wkt_parsers(spark, gdf):
    assert _one(gdf, rf.st_asText(rf.st_pointFromText("pt"))) == "POINT (1 2)"
    assert _one(gdf, rf.st_asText(rf.st_lineFromText("ln"))) == "LINESTRING (0 0, 1 0, 1 1)"
    # wrong type -> null
    assert _one(gdf, rf.st_pointFromText("ln")) is None
    assert _one(gdf, rf.st_polygonFromText("pl")) is not None
    assert _one(gdf, rf.st_mPointFromText("mp")) is not None
    assert _one(gdf, rf.st_mLineFromText("ml")) is not None
    assert _one(gdf, rf.st_mPolyFromText("mg")) is not None
    assert _one(gdf, rf.st_mPolyFromText("pt")) is None


def test_point_from_wkb_and_geohash(spark, gdf):
    pt = rf.st_point(F.lit(10.0), F.lit(20.0))
    assert _one(gdf, rf.st_asText(rf.st_pointFromWKB(pt))) == "POINT (10 20)"
    assert _one(gdf, rf.st_pointFromWKB(rf.st_geomFromWKT("ln"))) is None
    # geohash center round-trips to within cell size
    gh = rf.st_geoHash(pt, 12)
    back = rf.st_pointFromGeoHash(gh)
    assert abs(_one(gdf, rf.st_x(back)) - 10.0) < 1e-6
    assert abs(_one(gdf, rf.st_y(back)) - 20.0) < 1e-6


def test_make_line_polygon_box(spark, gdf):
    mk = rf.st_makeLine(F.array(
        rf.st_point(F.lit(0.0), F.lit(0.0)), rf.st_point(F.lit(3.0), F.lit(4.0))))
    assert _one(gdf, rf.st_length(mk)) == 5.0
    poly = rf.st_makePolygon(rf.st_lineFromText("ln"))
    assert abs(_one(gdf, rf.st_area(poly)) - 0.5) < 1e-12
    assert _one(gdf, rf.st_asText(rf.st_polygon(rf.st_lineFromText("ln")))) == \
        _one(gdf, rf.st_asText(poly))
    box = rf.st_makeBox2D(rf.st_point(F.lit(0.0), F.lit(0.0)),
                          rf.st_point(F.lit(2.0), F.lit(3.0)))
    assert _one(gdf, rf.st_area(box)) == 6.0
    bbox = rf.st_makeBBox(F.lit(1.0), F.lit(1.0), F.lit(4.0), F.lit(5.0))
    assert _one(gdf, rf.st_area(bbox)) == 12.0
    # makePointM drops the measure but keeps x/y
    assert _one(gdf, rf.st_x(rf.st_makePointM(F.lit(7.0), F.lit(8.0), F.lit(99.0)))) == 7.0


def test_indexed_accessors(spark, gdf):
    mg = rf.st_geomFromWKT("mg")
    assert _one(gdf, rf.st_numGeometries(mg)) == 2
    assert _one(gdf, rf.st_asText(rf.st_geometryN(mg, 2))) == \
        "POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))"
    assert _one(gdf, rf.st_geometryN(mg, 3)) is None
    # simple geometry: itself at n=1
    assert _one(gdf, rf.st_asText(rf.st_geometryN(rf.st_geomFromWKT("pt"), 1))) == "POINT (1 2)"
    ln = rf.st_geomFromWKT("ln")
    assert _one(gdf, rf.st_asText(rf.st_pointN(ln, 1))) == "POINT (0 0)"
    assert _one(gdf, rf.st_asText(rf.st_pointN(ln, -1))) == "POINT (1 1)"
    assert _one(gdf, rf.st_pointN(ln, 4)) is None
    pl = rf.st_geomFromWKT("pl")
    assert _one(gdf, rf.st_asText(rf.st_interiorRingN(pl, 1))) == \
        "LINESTRING (0.5 0.5, 1 0.5, 1 1, 0.5 1, 0.5 0.5)"
    assert _one(gdf, rf.st_interiorRingN(pl, 2)) is None


def test_boundary_dimension_coorddim(spark, gdf):
    pl = rf.st_geomFromWKT("pl")
    assert _one(gdf, rf.st_geometryType(rf.st_boundary(pl))) == "MultiLineString"
    # open line boundary = endpoints; closed line boundary = empty
    b = _one(gdf, rf.st_asText(rf.st_boundary(rf.st_geomFromWKT("ln"))))
    assert b == "MULTIPOINT ((0 0), (1 1))"
    assert _one(gdf, rf.st_isEmpty(rf.st_boundary(rf.st_geomFromWKT("closed_ln"))))
    # mod-2 rule: shared endpoint (1 1) of the two ml parts is interior
    mlb = _one(gdf, rf.st_asText(rf.st_boundary(rf.st_geomFromWKT("ml"))))
    assert "(1 1)" not in mlb and "(0 0)" in mlb and "(2 0)" in mlb
    assert _one(gdf, rf.st_dimension(rf.st_geomFromWKT("pt"))) == 0
    assert _one(gdf, rf.st_dimension(rf.st_geomFromWKT("ln"))) == 1
    assert _one(gdf, rf.st_dimension(pl)) == 2
    assert _one(gdf, rf.st_coordDim(pl)) == 2


def test_shape_predicates(spark, gdf):
    assert not _one(gdf, rf.st_isClosed(rf.st_geomFromWKT("ln")))
    assert _one(gdf, rf.st_isClosed(rf.st_geomFromWKT("closed_ln")))
    assert _one(gdf, rf.st_isSimple(rf.st_geomFromWKT("ln")))
    assert not _one(gdf, rf.st_isSimple(rf.st_geomFromWKT("bowtie")))
    assert _one(gdf, rf.st_isRing(rf.st_geomFromWKT("closed_ln")))
    assert not _one(gdf, rf.st_isRing(rf.st_geomFromWKT("ln")))
    assert _one(gdf, rf.st_isCollection(rf.st_geomFromWKT("mg")))
    assert not _one(gdf, rf.st_isCollection(rf.st_geomFromWKT("pl")))
    assert not _one(gdf, rf.st_isEmpty(rf.st_geomFromWKT("pt")))


def test_casts_bytearray_latlon(spark, gdf):
    assert _one(gdf, rf.st_asText(rf.st_castToPoint(rf.st_geomFromWKT("pt")))) == "POINT (1 2)"
    assert _one(gdf, rf.st_castToPoint(rf.st_geomFromWKT("ln"))) is None
    assert _one(gdf, rf.st_castToLineString(rf.st_geomFromWKT("ln"))) is not None
    assert _one(gdf, rf.st_castToPolygon(rf.st_geomFromWKT("pl"))) is not None
    assert bytes(_one(gdf, rf.st_byteArray(F.lit("hi")))) == b"hi"
    dms = _one(gdf, rf.st_asLatLonText(rf.st_point(F.lit(-115.0), F.lit(35.5))))
    assert dms == "35°30'00.000\"N 115°0'00.000\"W"


def test_antimeridian_and_agg_distance(spark, gdf):
    am = rf.st_antimeridianSafeGeom(rf.st_geomFromWKT(
        F.lit("POLYGON ((170 0, -170 0, -170 10, 170 10, 170 0))")))
    assert _one(gdf, rf.st_geometryType(am)) == "MultiPolygon"
    # both halves end at the antimeridian; total area preserved (20 x 10)
    assert abs(_one(gdf, rf.st_area(am)) - 200.0) < 1e-9
    # non-crossing passthrough
    keep = rf.st_antimeridianSafeGeom(rf.st_geomFromWKT("pl"))
    assert _one(gdf, rf.st_asText(keep)) == _one(gdf, rf.st_asText(rf.st_geomFromWKT("pl")))
    # one-degree hop at the equator ~ 111.195 km
    d = _one(gdf, rf.st_aggregateDistanceSphere(F.array(
        rf.st_point(F.lit(0.0), F.lit(0.0)),
        rf.st_point(F.lit(1.0), F.lit(0.0)),
        rf.st_point(F.lit(2.0), F.lit(0.0)))))
    assert abs(d - 2 * 111195.0802335329) < 1e-3


def test_empty_geometry_geohash_translate_null_not_crash(spark, gdf):
    """st_geoHash / st_translate on the empty geometries the WKT parser
    can construct: null / empty out, never an IndexError inside the UDF
    (review pin: empty centroid is ())."""
    e = rf.st_geomFromWKT(F.lit("POINT EMPTY"))
    assert _one(gdf, rf.st_geohash(e, 9)) is None
    moved = _one(gdf, rf.st_asText(rf.st_translate(e, 1.0, 2.0)))
    assert moved in ("POINT EMPTY", None)
    # SQL registrations take the same path
    row = spark.sql(
        "select st_geoHash(st_geomFromWKT('POINT EMPTY'), 9) as gh, "
        "       st_asText(st_translate(st_geomFromWKT('POLYGON EMPTY'), 1.0, 2.0)) as tr"
    ).head()
    assert row["gh"] is None
    assert row["tr"] in ("POLYGON EMPTY", None)

    # each of these raised IndexError in the Python worker and failed the
    # whole query; an empty operand now gives null
    pt = rf.st_point(F.lit(1.0), F.lit(1.0))
    assert _one(gdf, rf.st_exterior_ring(rf.st_geomFromWKT(F.lit("POLYGON EMPTY")))) is None
    for wkt in ("POINT EMPTY", "LINESTRING EMPTY", "POLYGON EMPTY"):
        e = rf.st_geomFromWKT(F.lit(wkt))
        assert _one(gdf, rf.st_reproject(e, "EPSG:4326", "EPSG:3857")) is None
        assert _one(gdf, rf.st_make_box2d(rf.st_centroid(e), pt)) is None
        assert _one(gdf, rf.st_make_box2d(pt, rf.st_centroid(e))) is None
        for a, b in ((e, pt), (pt, e), (e, rf.st_geomFromWKT("pl"))):
            assert _one(gdf, rf.st_relate_bool(a, b, "T********")) is None
    row = spark.sql("""
        select st_exteriorRing(st_geomFromWKT('POLYGON EMPTY')) as er,
               st_reproject(st_geomFromWKT('POINT EMPTY'), 'EPSG:4326', 'EPSG:3857') as rp,
               st_reproject(st_geomFromWKT('LINESTRING EMPTY'), 'EPSG:4326', 'EPSG:3857') as rl,
               st_makeBox2D(st_centroid(st_geomFromWKT('MULTIPOLYGON EMPTY')),
                            st_makePoint(1.0, 1.0)) as bx,
               st_relateBool(st_geomFromWKT('POLYGON EMPTY'),
                             st_geomFromWKT('POINT (1 1)'), 'T********') as rb
    """).head()
    assert row.asDict() == {"er": None, "rp": None, "rl": None, "bx": None, "rb": None}

"""Geometry-engine hardening pins (round-6 review fixes).

Covers: WKB Z/M dimension handling (EWKB flags + ISO offsets), empty
geometries, GeometryCollection dispatch in intersects/distance, geodesic
st_bufferPoint (meters contract, geomesa `org.locationtech.geomesa.spark.jts`
parity; reference re-exports it via pyrasterframes rasterfunctions.py),
geohash bit-precision truncation, z2/xz2 null propagation, and the
antimeridian LineString split / polygon-hole clip.

No SparkSession needed — these exercise the pure-python kernels the UDFs
wrap, so they run in milliseconds.
"""
import math
import struct

import numpy as np
import pytest

import rasterframes_spark.geom.core as G
import rasterframes_spark.geom.relate as R
import rasterframes_spark.geom.sfc as sfc
from rasterframes_spark.geom.functions import _antimeridian_safe, _geohash_box


# ---------------------------------------------------------------------------
# WKB Z/M dimensions
# ---------------------------------------------------------------------------

def _wkb_point(x, y, *extra, code=1, flags=0, srid=None):
    """Hand-build a WKB point with arbitrary type code/flags."""
    full = code | flags | (0x20000000 if srid is not None else 0)
    out = struct.pack("<BI", 1, full)
    if srid is not None:
        out += struct.pack("<I", srid)
    out += struct.pack("<" + "d" * (2 + len(extra)), x, y, *extra)
    return out


def test_wkb_ewkb_z_flag():
    # EWKB Z bit (0x80000000): 3 doubles per vertex, z dropped
    g = G.wkb_loads(_wkb_point(3.0, 4.0, 99.0, flags=0x80000000))
    assert g == ("Point", (3.0, 4.0))


def test_wkb_ewkb_zm_flags_with_srid():
    g = G.wkb_loads(_wkb_point(1.0, 2.0, 9.0, 8.0,
                               flags=0x80000000 | 0x40000000, srid=4326))
    assert g == ("Point", (1.0, 2.0))


def test_wkb_iso_z_offset_linestring():
    # ISO code 1002 = LineString Z: stride is 24 bytes/vertex
    pts = [(0.0, 0.0, 5.0), (1.0, 1.0, 6.0), (2.0, 0.0, 7.0)]
    body = struct.pack("<BII", 1, 1002, len(pts))
    for p in pts:
        body += struct.pack("<ddd", *p)
    g = G.wkb_loads(body)
    assert g[0] == "LineString"
    assert g[1] == [(0.0, 0.0), (1.0, 1.0), (2.0, 0.0)]


def test_wkb_iso_zm_polygon():
    # ISO 3003 = Polygon ZM: 4 doubles per vertex
    ring = [(0, 0), (4, 0), (4, 4), (0, 0)]
    body = struct.pack("<BIII", 1, 3003, 1, len(ring))
    for x, y in ring:
        body += struct.pack("<dddd", x, y, 1.0, 2.0)
    g = G.wkb_loads(body)
    assert g[0] == "Polygon"
    assert g[1][0] == [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 0.0)]


# ---------------------------------------------------------------------------
# Empty geometries / GeometryCollection dispatch
# ---------------------------------------------------------------------------

def test_wkt_empty_parses_and_has_no_envelope():
    for txt in ("POINT EMPTY", "POLYGON EMPTY", "GEOMETRYCOLLECTION EMPTY"):
        g = G.wkt_loads(txt)
        assert G.envelope(g) is None
        # empty touches nothing, intersects nothing
        box = G.box_polygon(-10, -10, 10, 10)
        assert not G.intersects(g, box)
        assert G.distance(g, box) == math.inf


def test_typed_empty_preserves_type_and_roundtrips():
    # JTS parity: st_geometryType('POINT EMPTY') is Point, not a
    # canonicalized GeometryCollection; WKB round-trip keeps the type
    # (POINT EMPTY encodes as the (NaN, NaN) WKB convention)
    for txt, typ in [("POINT EMPTY", "Point"), ("LINESTRING EMPTY", "LineString"),
                     ("POLYGON EMPTY", "Polygon"),
                     ("MULTIPOLYGON EMPTY", "MultiPolygon"),
                     ("GEOMETRYCOLLECTION EMPTY", "GeometryCollection")]:
        g = G.wkt_loads(txt)
        assert g[0] == typ
        back = G.wkb_loads(G.wkb_dumps(g))
        assert back[0] == typ
        assert G.wkt_dumps(back) == txt
        assert G.centroid(back) == ()
        assert G.area(back) == 0.0 and G.length(back) == 0.0


def test_antimeridian_vertex_exactly_on_meridian():
    # a vertex at +-180 must still split the line; previously the whole
    # chain shifted -360 and emitted x < -180
    out = _antimeridian_safe(
        ("LineString", [(170.0, 0.0), (180.0, 0.0), (-170.0, 0.0)]))
    assert out[0] == "MultiLineString"
    xs = [x for part in out[1] for x, _ in part]
    assert all(-180.0 <= x <= 180.0 for x in xs), out
    assert out[1][0] == [(170.0, 0.0), (180.0, 0.0)]
    assert out[1][1] == [(-180.0, 0.0), (-170.0, 0.0)]


def test_geometrycollection_intersects_and_distance():
    gc = ("GeometryCollection", [
        ("Point", (100.0, 100.0)),
        ("LineString", [(0.0, 0.0), (2.0, 2.0)]),
    ])
    box = G.box_polygon(1, 1, 3, 3)
    # the line component crosses the box even though the point is far away
    assert G.intersects(gc, box)
    assert G.intersects(box, gc)
    assert G.distance(gc, box) == 0.0
    far = G.box_polygon(50, 50, 60, 60)
    assert not G.intersects(gc, far)
    # nearest component is the point at (100,100)? no — line end (2,2):
    # dist((2,2),(50,50)) vs dist((100,100), box) = dist to (60,60)
    d = G.distance(gc, far)
    assert d == pytest.approx(min(math.dist((2, 2), (50, 50)),
                                  math.dist((100, 100), (60, 60))))


# ---------------------------------------------------------------------------
# Geodesic buffer point (meters, geomesa contract)
# ---------------------------------------------------------------------------

def test_buffer_point_geodesic_constant_distance():
    center = (8.0, 47.0)  # mid-latitude: planar degrees would be ~30% off
    radius = 25_000.0  # 25 km
    poly = G.buffer_point_geodesic(center, radius)
    ring = poly[1][0]
    assert ring[0] == ring[-1]
    for p in ring[:-1]:
        assert G.distance_sphere(center, p) == pytest.approx(radius, rel=1e-6)


def test_buffer_point_geodesic_contains_center():
    poly = G.buffer_point_geodesic((-70.0, -33.0), 1000.0)
    assert R.contains(poly, ("Point", (-70.0, -33.0)))


# ---------------------------------------------------------------------------
# Geohash precision bits
# ---------------------------------------------------------------------------

def test_geohash_box_full_precision_nested_in_truncated():
    gh = "u0qj5"  # 25 bits
    fine = G.envelope(_geohash_box(gh))
    coarse = G.envelope(_geohash_box(gh, precision_bits=10))
    # truncated cell must contain the full-precision cell and be larger
    assert coarse[0] <= fine[0] and coarse[1] <= fine[1]
    assert coarse[2] >= fine[2] and coarse[3] >= fine[3]
    assert (coarse[2] - coarse[0]) > (fine[2] - fine[0])


def test_geohash_box_precision_equal_to_length_is_identity():
    gh = "ezs42"
    assert G.envelope(_geohash_box(gh)) == G.envelope(
        _geohash_box(gh, precision_bits=25))


# ---------------------------------------------------------------------------
# Z2 / XZ2 null propagation and resolution
# ---------------------------------------------------------------------------

def test_z2_nan_propagates_null_not_zero():
    x = np.array([0.0, np.nan, -180.0])
    y = np.array([0.0, 1.0, -90.0])
    out = sfc.z2_index(x, y)
    assert out[1] is None
    # corner cell is a real index — must NOT collide with the null row
    assert out[2] is not None and out[2] == 0
    assert out[0] is not None and out[0] != 0


def test_z2_resolution_changes_granularity():
    x = np.array([10.000, 10.001])
    y = np.array([20.000, 20.001])
    hi = sfc.z2_index(x, y, resolution=31)
    lo = sfc.z2_index(x, y, resolution=8)
    assert hi[0] != hi[1]       # distinguishable at 31 bits
    assert lo[0] == lo[1]       # same coarse cell at 8 bits


def test_xz2_nan_propagates_null():
    out = sfc.xz2_index(np.array([0.0, np.nan]), np.array([0.0, 0.0]),
                        np.array([1.0, 1.0]), np.array([1.0, 1.0]))
    assert out[1] is None and out[0] is not None


# ---------------------------------------------------------------------------
# Antimeridian
# ---------------------------------------------------------------------------

def test_antimeridian_linestring_splits_at_180():
    # line crossing the antimeridian: 170 -> -170 (20 degrees of longitude)
    g = ("LineString", [(170.0, 0.0), (-170.0, 10.0)])
    out = _antimeridian_safe(g)
    assert out[0] == "MultiLineString"
    parts = out[1]
    assert len(parts) == 2
    xs = [x for part in parts for x, _ in part]
    assert max(xs) <= 180.0 and min(xs) >= -180.0
    # crossing vertex interpolated at the meridian on both parts
    assert any(abs(x) == 180.0 for x, _ in parts[0])
    assert any(abs(x) == 180.0 for x, _ in parts[1])
    # crossing latitude is the midpoint (symmetric spans)
    cross_lats = {y for part in parts for x, y in part if abs(x) == 180.0}
    assert cross_lats == {5.0}


def test_antimeridian_polygon_holes_clipped():
    # polygon spanning the antimeridian with a hole on the western side
    shell = [(170.0, -5.0), (-170.0, -5.0), (-170.0, 5.0), (170.0, 5.0),
             (170.0, -5.0)]
    hole = [(172.0, -2.0), (176.0, -2.0), (176.0, 2.0), (172.0, 2.0),
            (172.0, -2.0)]
    g = ("Polygon", [shell, hole])
    out = _antimeridian_safe(g)
    assert out[0] == "MultiPolygon"
    # hole interior must NOT be inside the output
    inside_hole = ("Point", (174.0, 0.0))
    assert not any(R.contains(("Polygon", rings), inside_hole)
                   for rings in out[1])
    # but points outside the hole on both hemispheres are
    west = ("Point", (178.0, 0.0))
    east = ("Point", (-175.0, 0.0))
    for pt in (west, east):
        assert any(R.contains(("Polygon", rings), pt) for rings in out[1])


def test_antimeridian_non_crossing_passthrough():
    g = G.box_polygon(-10, -10, 10, 10)
    assert _antimeridian_safe(g) is g


def test_z2_xz2_resolution_bounds_rejected():
    """resolution beyond the int64-safe range raises instead of silently
    overflowing into the sign bit (breaks range-prefix joins)."""
    x = np.array([0.0]); y = np.array([0.0])
    with pytest.raises(ValueError):
        sfc.z2_index(x, y, resolution=32)
    with pytest.raises(ValueError):
        sfc.z2_index(x, y, resolution=0)
    with pytest.raises(ValueError):
        sfc.xz2_index(x, y, x, y, resolution=29)
    # max valid resolutions stay non-negative
    assert sfc.z2_index(np.array([179.9]), np.array([89.9]), 31)[0] >= 0
    assert sfc.xz2_index(np.array([1.0]), np.array([1.0]),
                         np.array([1.1]), np.array([1.1]), 28)[0] >= 0


def test_translate_empty_geometry_noop():
    for txt in ("POINT EMPTY", "POLYGON EMPTY", "GEOMETRYCOLLECTION EMPTY"):
        g = G.wkt_loads(txt)
        out = G.translate(g, 5.0, 7.0)
        assert out[0] == g[0]
        assert not out[1] or out == g


def test_centroid_empty_returns_empty_tuple():
    g = G.wkt_loads("POINT EMPTY")
    assert G.centroid(g) == () or G.centroid(g) is None or not G.centroid(g)


def test_vectorized_point_polygon_intersects_identical(spark):
    """r9: the st_intersects UDF's grouped vectorized point-vs-polygon
    path must be boolean-IDENTICAL to the scalar kernel — including
    points exactly on outer/hole boundaries, vertices, and NaN-free
    grid points — and identical through the Spark UDF whichever side
    the points are on."""
    import numpy as np
    from rasterframes_spark.geom import core as C

    rng = np.random.default_rng(17)
    # polygon with a hole; vertices on a 0.25 lattice so test points
    # can land EXACTLY on edges
    outer = [(0, 0), (8, 0), (8, 6), (4, 9), (0, 6), (0, 0)]
    hole = [(2, 2), (4, 2), (4, 4), (2, 4), (2, 2)]
    rings = [outer, hole]
    pts = [(float(x), float(y))
           for x in np.arange(-1, 9.5, 0.5) for y in np.arange(-1, 10, 0.5)]
    pts += [(2.0, 3.0), (4.0, 4.0), (8.0, 3.0), (6.0, 7.5),  # boundaries
            (0.0, 0.0), (2.0, 2.0)]                          # vertices
    pts += [tuple(map(float, rng.uniform(-1, 10, 2))) for _ in range(200)]
    px = np.array([p[0] for p in pts])
    py = np.array([p[1] for p in pts])
    vec = C.points_in_polygon_vec_exact(px, py, rings)
    scal = np.array([C.point_in_polygon(p, rings) for p in pts])
    assert (vec == scal).all()


    # end-to-end through the UDF: point column vs one repeated polygon
    # (triggers the grouped path) must equal per-row scalar intersects
    import rasterframes_spark as rf
    from pyspark.sql import functions as F

    wkt = ("POLYGON ((0 0, 8 0, 8 6, 4 9, 0 6, 0 0), "
           "(2 2, 4 2, 4 4, 2 4, 2 2))")
    df = spark.createDataFrame(
        [(i, p[0], p[1]) for i, p in enumerate(pts)], ["i", "x", "y"])
    got = {r["i"]: r["hit"] for r in df.select(
        "i", rf.st_intersects(
            rf.st_point("x", "y"),
            rf.st_geom_from_wkt(F.lit(wkt))).alias("hit")).collect()}
    g = C.wkb_loads(bytes(
        df.limit(1).select(rf.st_geom_from_wkt(F.lit(wkt)).alias("g"))
        .collect()[0]["g"]))
    for i, p in enumerate(pts):
        exp = C.intersects(("Point", (p[0], p[1])), g)
        assert got[i] == exp, (p, got[i], exp)


def test_vec_exact_chunked_and_overlapping_holes_identical(monkeypatch):
    """ADVICE r9 (geom/core.py): (1) the point-axis chunking that
    bounds the (points x edges) working set must not change a single
    bit — forced here with a budget smaller than edges*points; (2) with
    degenerate OVERLAPPING holes, the vectorized hole loop must mirror
    the scalar first-hole-decides order (a point on hole A's boundary
    but strictly inside overlapping hole B is True both ways)."""
    import numpy as np
    from rasterframes_spark.geom import core as C

    rng = np.random.default_rng(41)
    # many-vertex outer ring (closed), one hole
    th = np.linspace(0, 2 * np.pi, 701)
    outer = [(float(5 + 4 * np.cos(t)), float(5 + 4 * np.sin(t)))
             for t in th[:-1]] + [(9.0, 5.0)]
    hole_a = [(4, 4), (6, 4), (6, 6), (4, 6), (4, 4)]
    # hole B overlaps hole A (invalid geometry, still must mirror scalar)
    hole_b = [(5, 3.5), (7, 3.5), (7, 5.5), (5, 5.5), (5, 3.5)]
    rings = [outer, hole_a, hole_b]
    pts = [tuple(map(float, rng.uniform(0, 10, 2))) for _ in range(500)]
    # the divergence point ADVICE describes: on A's boundary, strictly
    # inside B — scalar early-returns True at A
    pts += [(6.0, 5.0), (5.0, 4.0), (6.0, 4.0), (5.5, 5.5), (6.5, 4.5)]
    px = np.array([p[0] for p in pts])
    py = np.array([p[1] for p in pts])
    scal = np.array([C.point_in_polygon(p, rings) for p in pts])
    full = C.points_in_polygon_vec_exact(px, py, rings)
    assert (full == scal).all()
    # force chunking: 700 edges x 505 points >> budget 2048 -> step 2
    monkeypatch.setattr(C, "_PIP_VEC_BUDGET", 2048)
    chunked = C.points_in_polygon_vec_exact(px, py, rings)
    assert (chunked == scal).all()


def test_envelope_fast_path_nan_x_matches_general_path():
    """r14: the all-point envelope fast path must honor the POINT EMPTY
    convention (_wkb_read keys EMPTY on NaN x alone) exactly like the
    general parse path — and the answer must not depend on whether the
    batch contained a non-point that forced the fallback."""
    import pandas as pd

    from rasterframes_spark.geom import functions as GF

    kernel = GF._envelope_udf.__wrapped__
    p_ok = G.wkb_dumps(("Point", (1.0, 2.0)))
    p_nanx = struct.pack("<BIdd", 1, 1, float("nan"), 5.0)   # NaN x, finite y
    p_nany = struct.pack("<BIdd", 1, 1, 3.0, float("nan"))   # finite x, NaN y
    line = G.wkb_dumps(("LineString", [(0.0, 0.0), (1.0, 1.0)]))

    fast = kernel(pd.Series([p_ok, p_nanx, p_nany, None]))
    general = kernel(pd.Series([p_ok, p_nanx, p_nany, None, line]))[:4]

    for got in (fast, general):
        assert list(got.iloc[0]) == [1.0, 2.0, 1.0, 2.0]
        assert all(v != v for v in got.iloc[1])          # EMPTY: all null
        row2 = list(got.iloc[2])
        assert row2[0] == 3.0 and row2[2] == 3.0         # x kept
        assert row2[1] != row2[1] and row2[3] != row2[3]  # NaN y stays null
        assert all(v is None or v != v for v in got.iloc[3])


# ---------------------------------------------------------------------------
# pixel_centres_in: the scanline fill rf_rasterize and zonal_stats share
# ---------------------------------------------------------------------------

def _ray_cast(x, y, ring):
    """Even-odd test of one point by the crossing expression the scanline
    fill uses, one edge at a time."""
    inside = False
    for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
        if (y1 > y) != (y2 > y) and x1 + (y - y1) * (x2 - x1) / (y2 - y1) > x:
            inside = not inside
    return inside


def test_pixel_centres_in_matches_per_point_ray_cast():
    """Random star polygons, with holes, as multipolygons and with integer
    vertices: the scanline grid equals the per-centre ray cast cell for
    cell (holes subtracted, polygons ORed)."""
    rng = np.random.default_rng(23)

    def ring(cx, cy, r, k, integer):
        ang = np.sort(rng.random(k) * 2 * np.pi)
        rad = r * (0.3 + rng.random(k))
        pts = np.c_[cx + rad * np.cos(ang), cy + rad * np.sin(ang)]
        pts = [tuple(map(float, p)) for p in (np.round(pts) if integer else pts)]
        return pts + [pts[0]]

    for t in range(40):
        polys = []
        for _ in range(1 + t % 2):
            c = rng.random(2) * 20
            rings = [ring(c[0], c[1], 8, int(rng.integers(3, 25)), t % 3 == 0)]
            if t % 4 == 1:
                rings.append(ring(c[0], c[1], 2, int(rng.integers(3, 8)), t % 3 == 0))
            polys.append(rings)
        geom = ("MultiPolygon", polys) if len(polys) > 1 else ("Polygon", polys[0])
        nc, nr = int(rng.integers(1, 24)), int(rng.integers(1, 24))
        bounds = (-5.0, -5.0, 30.0, 30.0)
        got = G.pixel_centres_in(geom, bounds, nc, nr)
        pw, ph = 35.0 / nc, 35.0 / nr
        want = np.array([[any(_ray_cast(-5.0 + (c + 0.5) * pw, 30.0 - (r + 0.5) * ph,
                                        rings[0])
                              and not any(_ray_cast(-5.0 + (c + 0.5) * pw,
                                                    30.0 - (r + 0.5) * ph, h)
                                          for h in rings[1:])
                              for rings in polys)
                          for c in range(nc)] for r in range(nr)])
        assert np.array_equal(got, want), t
    assert not G.pixel_centres_in(("Polygon", []), (0.0, 0.0, 1.0, 1.0), 2, 2).any()

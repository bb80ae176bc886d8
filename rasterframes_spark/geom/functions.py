"""The st_* vector function surface (SURVEY.md §2.12, §2.2) plus
extent/geometry converters (§2.11) and SFC indexes.

Geometry columns are WKB ``BinaryType`` (the reference's Python side also
round-trips WKB through its GeometryUDT, ``python/geomesa_pyspark/types.py``).
All kernels are Arrow-vectorized pandas UDFs over the pure-python geometry
core. Extent-typed args are ``struct{xmin,ymin,xmax,ymax}``.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import Column, functions as F

from rasterframes_spark.functions._kernel import col_or_name, lazy_pandas_udf
from rasterframes_spark.geom import core as G
from rasterframes_spark.geom import proj as P
from rasterframes_spark.geom import relate as R
from rasterframes_spark.geom import sfc

__all__ = [
    "st_point", "st_make_point", "st_geom_from_wkt", "st_geom_from_wkb",
    "st_as_text", "st_as_binary", "st_geometry_type",
    "st_x", "st_y", "st_centroid", "st_envelope",
    "st_area", "st_length", "st_distance", "st_distance_sphere",
    "st_intersects", "st_contains", "st_within", "st_disjoint",
    "st_covers", "st_covered_by", "st_touches", "st_crosses", "st_overlaps",
    "st_relate", "st_relate_bool",
    "st_equals", "st_translate", "st_buffer_point",
    "st_geohash", "st_reproject", "st_extent", "st_geometry",
    "st_geom_from_geohash", "st_exterior_ring", "st_num_points",
    "st_is_valid", "st_length_sphere", "st_closest_point", "st_as_geojson",
    "rf_z2_index", "rf_xz2_index", "rf_spatial_grid_cells", "rf_mk_crs",
    "extent_struct",
]


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _geoms(s: pd.Series):
    """WKB series -> parsed geometries, memoizing parses WITHIN the
    batch.  Join outputs repeat the small side's geometry thousands of
    times per Arrow batch (every candidate pair carries its zone's WKB),
    so parse-per-row turned the exact-predicate kernel into the st_join
    bottleneck at scale — the cache makes it parse-per-distinct."""
    cache: dict = {}
    out = []
    for b in s.values:
        if b is None:
            out.append(None)
            continue
        b = bytes(b)
        g = cache.get(b)
        if g is None:
            g = G.wkb_loads(b)
            cache[b] = g
        out.append(g)
    return out


def _is_null(v) -> bool:
    """A null argument: None, or NaN (a null double crosses Arrow as NaN)."""
    return v is None or (isinstance(v, float) and v != v)


def _row_kernel(fn, rtype, geoms: int = 1):
    """Kernel applying ``fn(*row)`` to each row of its argument columns.
    The first ``geoms`` columns are WKB and reach ``fn`` parsed; the rest
    reach it as plain values.  A null argument gives a null result.  SQL
    may pass fewer columns than the Column API (an optional trailing
    argument); ``fn`` then applies its own default."""
    @lazy_pandas_udf(rtype)
    def udf(*cols: pd.Series) -> pd.Series:
        vals = [_geoms(c) if i < geoms else c.values for i, c in enumerate(cols)]
        return pd.Series(
            [None if any(map(_is_null, row)) else fn(*row) for row in zip(*vals)],
            dtype=object)
    return udf


def _index_arg(n) -> Column:
    """The ``n`` of the st_*_n accessors: a column (or its name) as
    given, a number as an int literal."""
    return col_or_name(n) if isinstance(n, (str, Column)) else F.lit(int(n))


def _binary_pred(fn):
    @lazy_pandas_udf("boolean")
    def udf(a: pd.Series, b: pd.Series) -> pd.Series:
        ga, gb = _geoms(a), _geoms(b)
        return pd.Series(
            [None if (x is None or y is None) else bool(fn(x, y)) for x, y in zip(ga, gb)],
            dtype=object,
        )
    return udf


def extent_struct(xmin, ymin, xmax, ymax) -> Column:
    return F.struct(
        col_or_name(xmin).cast("double").alias("xmin"),
        col_or_name(ymin).cast("double").alias("ymin"),
        col_or_name(xmax).cast("double").alias("xmax"),
        col_or_name(ymax).cast("double").alias("ymax"),
    )


# ---------------------------------------------------------------------------
# constructors / casts / serializers
# ---------------------------------------------------------------------------


@lazy_pandas_udf("binary")
def _point_udf(x: pd.Series, y: pd.Series) -> pd.Series:
    # r14 (§4.2): float64 batches (the cast in st_point guarantees them
    # unless nulls made the column object-typed) assemble all 21-byte
    # WKB rows in one numpy buffer; the per-row work drops to one
    # memcpy slice (~4x on the bench's 120k-point fixture build).
    # Null doubles arrive as NaN, which the scalar path packs as NaN
    # coordinates too — byte-identical.
    if x.dtype == np.float64 and y.dtype == np.float64:
        n = len(x)
        buf = np.empty((n, 21), dtype=np.uint8)
        buf[:, 0] = 1
        buf[:, 1:5] = (1, 0, 0, 0)
        buf[:, 5:13] = np.ascontiguousarray(
            x.values, dtype="<f8").view(np.uint8).reshape(n, 8)
        buf[:, 13:21] = np.ascontiguousarray(
            y.values, dtype="<f8").view(np.uint8).reshape(n, 8)
        raw = buf.tobytes()
        return pd.Series([raw[i * 21:(i + 1) * 21] for i in range(n)],
                         dtype=object)
    return pd.Series(
        [None if (a is None or b is None) else G.wkb_dumps(("Point", (float(a), float(b))))
         for a, b in zip(x.values, y.values)],
        dtype=object,
    )


def st_point(x, y) -> Column:
    """Point constructor (geomesa st_point / st_makePoint)."""
    return _point_udf(col_or_name(x).cast("double"), col_or_name(y).cast("double"))


st_make_point = st_point


@lazy_pandas_udf("binary")
def _from_wkt_udf(s: pd.Series) -> pd.Series:
    return pd.Series(
        [None if t is None else G.wkb_dumps(G.wkt_loads(t)) for t in s.values], dtype=object
    )


def st_geom_from_wkt(wkt) -> Column:
    return _from_wkt_udf(col_or_name(wkt))


def st_geom_from_wkb(wkb) -> Column:
    """WKB is the native format — identity passthrough (validity unchecked)."""
    return col_or_name(wkb)


def st_as_binary(geom) -> Column:
    return col_or_name(geom)


_as_text = _row_kernel(G.wkt_dumps, "string")


def st_as_text(geom) -> Column:
    return _as_text(col_or_name(geom))


_geom_type = _row_kernel(lambda g: g[0], "string")


def st_geometry_type(geom) -> Column:
    return _geom_type(col_or_name(geom))


# ---------------------------------------------------------------------------
# accessors / measures
# ---------------------------------------------------------------------------

_x = _row_kernel(lambda g: float(g[1][0]) if g[0] == "Point" and g[1] else None, "double")
_y = _row_kernel(lambda g: float(g[1][1]) if g[0] == "Point" and g[1] else None, "double")


def st_x(geom) -> Column:
    return _x(col_or_name(geom))


def st_y(geom) -> Column:
    return _y(col_or_name(geom))


_centroid = _row_kernel(lambda g: G.wkb_dumps(("Point", G.centroid(g))), "binary")


def st_centroid(geom) -> Column:
    return _centroid(col_or_name(geom))


@lazy_pandas_udf("struct<xmin:double,ymin:double,xmax:double,ymax:double>")
def _envelope_udf(s: pd.Series) -> pd.DataFrame:
    # r14 (§4.2): all-point batches (the dominant st_join/knn left side —
    # the bench cell feeds 120k WKB points through here per repeat) skip
    # the per-row WKB parse: a point's envelope is (x, y, x, y), and
    # nulls surface as NaN exactly as the general path's None rows do
    # once the frame is float64 (measured 10x on a 120k-point batch).
    fp = _point_xy_fast(s)
    if fp is not None:
        xs, ys, _null = fp          # null rows already NaN in xs/ys
        # NaN-x is the POINT EMPTY convention (core.py _wkb_read keys on
        # x alone); the general path returns an ALL-null envelope for
        # it, so the y must be masked too — otherwise a NaN-x/finite-y
        # row would answer (null, y, null, y) here but all-null whenever
        # a mixed batch forces the fallback parser.
        ys[np.isnan(xs)] = np.nan
        return pd.DataFrame({"xmin": xs, "ymin": ys,
                             "xmax": xs.copy(), "ymax": ys.copy()})
    rows = []
    for g in _geoms(s):
        e = None if g is None else G.envelope(g)
        if e is None:  # null input or empty geometry
            rows.append((None,) * 4)
        else:
            rows.append(tuple(float(v) for v in e))
    return pd.DataFrame(rows, columns=["xmin", "ymin", "xmax", "ymax"])


def st_envelope(geom) -> Column:
    """Bounding box as an extent struct (geomesa st_envelope returns a
    geometry; the extent struct is this engine's canonical bbox — use
    st_geometry to polygonize)."""
    return _envelope_udf(col_or_name(geom))


st_extent = st_envelope  # transformers/GeometryToExtent.scala:40

_area = _row_kernel(lambda g: float(G.area(g)), "double")
_length = _row_kernel(lambda g: float(G.length(g)), "double")


def st_area(geom) -> Column:
    return _area(col_or_name(geom))


def st_length(geom) -> Column:
    return _length(col_or_name(geom))


def _point_xy_fast(s: pd.Series):
    """(xs, ys, null_mask) when every non-null value in the batch is a
    21-byte little-endian WKB Point; None for any other shape (caller
    falls back to the general parser).  The knn/dwithin exact kernels
    evaluate millions of point-point pairs per task, and the general
    path costs a WKB parse + an ``intersects`` pre-check + per-pair
    array allocation each — this path is one buffer concat + one
    ``frombuffer`` per batch (r9: the knn_points bench cell's exact
    phase dropped ~5x)."""
    vals = s.values
    n = len(vals)
    null = np.zeros(n, dtype=bool)
    parts = []
    idx = []
    for i, b in enumerate(vals):
        if b is None:
            null[i] = True
            continue
        if len(b) != 21:
            return None
        parts.append(b)
        idx.append(i)
    xs = np.full(n, np.nan)
    ys = np.full(n, np.nan)
    if idx:
        # r14 (§4.2): header checks and coordinate extraction are batch
        # numpy over one joined buffer — the old loop paid bytes() +
        # two slices per row (~0.8 us/row at 120k-point batches)
        arr = np.frombuffer(b"".join(parts), dtype=np.uint8).reshape(-1, 21)
        if (arr[:, 0] != 1).any() or (arr[:, 1:5] !=
                                      (1, 0, 0, 0)).any():
            return None
        xy = np.ascontiguousarray(arr[:, 5:]).view("<f8").reshape(-1, 2)
        xs[idx] = xy[:, 0]
        ys[idx] = xy[:, 1]
    return xs, ys, null


@lazy_pandas_udf("double")
def _distance_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    fa, fb = _point_xy_fast(a), _point_xy_fast(b)
    if fa is not None and fb is not None:
        xa, ya, na = fa
        xb, yb, nb = fb
        # sqrt of the coordinate-difference squares — the exact same
        # float sequence as the general path (and the SQL oracles), NOT
        # np.hypot (last-ulp differences would break value hashes)
        d = np.sqrt((xa - xb) ** 2 + (ya - yb) ** 2)
        out = pd.Series(d, dtype="float64")
        out[na | nb] = np.nan          # Arrow from_pandas: NaN -> null
        return out
    ga, gb = _geoms(a), _geoms(b)
    return pd.Series([_distance_or_null(x, y) for x, y in zip(ga, gb)], dtype=object)


def _distance_or_null(x, y):
    """``G.distance``, but NULL where a side is null or empty (no part
    pairs: ``G.distance`` answers inf), as the point fast path answers
    POINT EMPTY, so the answer does not hang on what shares the batch."""
    if x is None or y is None:
        return None
    d = G.distance(x, y)
    return None if d == math.inf else float(d)


def st_distance(a, b) -> Column:
    return _distance_udf(col_or_name(a), col_or_name(b))


_distance_sphere_udf = _row_kernel(
    lambda x, y: float(G.distance_sphere(x[1], y[1]))
    if x[0] == y[0] == "Point" and x[1] and y[1] else None, "double", geoms=2)


def st_distance_sphere(a, b) -> Column:
    """Haversine meters between lon/lat points (geomesa st_distanceSphere)."""
    return _distance_sphere_udf(col_or_name(a), col_or_name(b))


# ---------------------------------------------------------------------------
# predicates (SpatialRelation.scala:74-114 re-expressed; DE-9IM semantics
# from geom/relate.py)
# ---------------------------------------------------------------------------

def _points_vs_polys_vec(a: pd.Series, b: pd.Series):
    """Vectorized ``intersects`` for the batch shape st_join's exact
    phase produces: side ``a`` all 21-byte WKB points, side ``b`` a few
    DISTINCT (broadcast-zone) polygons repeated thousands of times.
    Groups rows by the right geometry's WKB and runs one
    ``points_in_polygon_vec_exact`` per distinct polygon — per-pair
    python drops to per-distinct-geometry.  Returns None when the batch
    doesn't fit (mixed left types, non-polygon rights, or not enough
    repetition to pay off) — the caller falls back to the scalar loop."""
    fa = _point_xy_fast(a)
    if fa is None:
        return None
    xs, ys, nulls = fa
    vals = b.values
    groups: dict = {}
    for i, wb in enumerate(vals):
        if wb is not None:
            groups.setdefault(bytes(wb), []).append(i)
    if len(groups) > 64 and len(groups) * 4 > len(vals):
        return None
    out = np.full(len(vals), None, dtype=object)
    for wb, idx in groups.items():
        g = G.wkb_loads(wb)
        if g is None or g[0] not in ("Polygon", "MultiPolygon"):
            return None
        ii = np.asarray(idx, dtype="int64")
        hit = np.zeros(len(ii), dtype=bool)
        for rings in G._polygons(g):
            hit |= G.points_in_polygon_vec_exact(xs[ii], ys[ii], rings)
        for j, i in enumerate(idx):
            out[i] = bool(hit[j])
    for i in np.nonzero(nulls)[0]:
        out[i] = None
    return pd.Series(out, dtype=object)


@lazy_pandas_udf("boolean")
def _intersects(a: pd.Series, b: pd.Series) -> pd.Series:
    fast = _points_vs_polys_vec(a, b)
    if fast is None:
        fast = _points_vs_polys_vec(b, a)   # intersects is symmetric
    if fast is not None:
        return fast
    ga, gb = _geoms(a), _geoms(b)
    return pd.Series(
        [None if (x is None or y is None) else bool(G.intersects(x, y))
         for x, y in zip(ga, gb)],
        dtype=object,
    )
_contains = _binary_pred(R.contains)
_within = _binary_pred(R.within)
_disjoint = _binary_pred(G.disjoint)
_equals = _binary_pred(R.equals_topo)  # order/direction-insensitive (JTS equals)
_covers = _binary_pred(R.covers)
_covered_by = _binary_pred(R.covered_by)
_touches = _binary_pred(R.touches)
_crosses = _binary_pred(R.crosses)
_overlaps = _binary_pred(R.overlaps)


_relate_udf = _row_kernel(R.relate_matrix, "string", geoms=2)


def st_intersects(a, b) -> Column:
    return _intersects(col_or_name(a), col_or_name(b))


def st_contains(a, b) -> Column:
    """Strict OGC contains: a geometry lying wholly in the boundary is
    covered but not contained (SpatialRelation.scala:84)."""
    return _contains(col_or_name(a), col_or_name(b))


def st_within(a, b) -> Column:
    return _within(col_or_name(a), col_or_name(b))


def st_disjoint(a, b) -> Column:
    return _disjoint(col_or_name(a), col_or_name(b))


def st_covers(a, b) -> Column:
    """Boundary-inclusive containment (SpatialRelation.scala:88)."""
    return _covers(col_or_name(a), col_or_name(b))


def st_covered_by(a, b) -> Column:
    return _covered_by(col_or_name(a), col_or_name(b))


def st_touches(a, b) -> Column:
    """Boundaries meet, interiors do not (SpatialRelation.scala:98)."""
    return _touches(col_or_name(a), col_or_name(b))


def st_crosses(a, b) -> Column:
    """Interiors meet in a lower dimension than the higher-dimensional
    argument (SpatialRelation.scala:92)."""
    return _crosses(col_or_name(a), col_or_name(b))


def st_overlaps(a, b) -> Column:
    """Same-dimension interiors partially overlap (SpatialRelation.scala:96)."""
    return _overlaps(col_or_name(a), col_or_name(b))


def st_relate(a, b) -> Column:
    """The DE-9IM matrix as a 9-char string (geomesa st_relate)."""
    return _relate_udf(col_or_name(a), col_or_name(b))


_relate_bool = _row_kernel(
    lambda x, y, pat: None if _is_empty(x) or _is_empty(y)
    else bool(R.relate_pattern(x, y, str(pat))), "boolean", geoms=2)


def st_relate_bool(a, b, pattern: str) -> Column:
    """DE-9IM pattern predicate (geomesa st_relateBool); null when either
    geometry is empty."""
    return _relate_bool(col_or_name(a), col_or_name(b), F.lit(str(pattern)))


def st_equals(a, b) -> Column:
    return _equals(col_or_name(a), col_or_name(b))


# ---------------------------------------------------------------------------
# transforms
# ---------------------------------------------------------------------------


_translate = _row_kernel(
    lambda g, dx, dy: G.wkb_dumps(G.translate(g, float(dx), float(dy))), "binary")


def st_translate(geom, dx, dy) -> Column:
    return _translate(col_or_name(geom), F.lit(float(dx)), F.lit(float(dy)))


_buffer_point = _row_kernel(
    lambda g, r: G.wkb_dumps(G.buffer_point_geodesic(g[1], float(r)))
    if g[0] == "Point" and g[1] else None, "binary")


def st_buffer_point(geom, radius) -> Column:
    """Buffer polygon of all points within ``radius`` METERS of a lon/lat
    point — the geomesa st_bufferPoint contract (geodesic, spherical
    direct formula; previously this engine buffered in planar coordinate
    units, an undocumented divergence)."""
    return _buffer_point(col_or_name(geom), F.lit(float(radius)))


def _geohash_of(g, precision=12):
    c = G.centroid(g)
    return G.geohash(c[0], c[1], int(precision)) if c else None  # empty -> null


_geohash = _row_kernel(_geohash_of, "string")


def st_geohash(geom, precision=12) -> Column:
    return _geohash(col_or_name(geom), F.lit(int(precision)))


@lazy_pandas_udf("binary")
def _reproject_udf(s: pd.Series, src: pd.Series, dst: pd.Series) -> pd.Series:
    # one transform per distinct (src, dst) pair in the batch, over the
    # vertices of all its rows; an empty geometry gives null
    gs = _geoms(s)
    pairs: dict = {}
    for i, row in enumerate(zip(gs, src.values, dst.values)):
        if not any(map(_is_null, row)) and not _is_empty(row[0]):
            pairs.setdefault(row[1:], []).append(i)
    out = [None] * len(gs)
    for (a, b), idx in pairs.items():
        moved = P.transform_geoms([gs[i] for i in idx], str(a), str(b))
        for i, g in zip(idx, moved):
            out[i] = G.wkb_dumps(g)
    return pd.Series(out, dtype=object)


def st_reproject(geom, src_crs: str, dst_crs: str) -> Column:
    """Reproject geometry between CRSs (transformers/ReprojectGeometry.scala:52-105).
    The Column API takes literal CRS strings; the kernel takes CRS columns
    (raster_join handles per-row CRS inside its merge kernel)."""
    return _reproject_udf(col_or_name(geom), F.lit(str(src_crs)), F.lit(str(dst_crs)))


@lazy_pandas_udf("binary")
def _geometry_udf(e: pd.DataFrame) -> pd.Series:
    out = []
    for i in range(len(e)):
        if e["xmin"].values[i] is None or (isinstance(e["xmin"].values[i], float) and np.isnan(e["xmin"].values[i])):
            out.append(None)
        else:
            out.append(G.wkb_dumps(G.box_polygon(
                float(e["xmin"].values[i]), float(e["ymin"].values[i]),
                float(e["xmax"].values[i]), float(e["ymax"].values[i]))))
    return pd.Series(out, dtype=object)


def st_geometry(extent) -> Column:
    """Extent struct -> polygon geometry (transformers/ExtentToGeometry.scala:41)."""
    return _geometry_udf(col_or_name(extent))


def rf_mk_crs(crs: str) -> Column:
    return F.lit(str(crs))


# -- additional geomesa-parity accessors/serializers -------------------------

_GEOHASH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash_box(gh: str, precision_bits: int | None = None):
    """Geohash string -> its bounding-box polygon geometry.
    ``precision_bits`` (geomesa st_geomFromGeoHash's 2nd arg) truncates
    decoding after that many BITS — the cell geomesa returns."""
    if precision_bits is not None:
        precision_bits = int(precision_bits)
    lat = [-90.0, 90.0]
    lon = [-180.0, 180.0]
    even = True
    used = 0
    for ch in gh:
        bits = _GEOHASH32.index(ch)
        for b in (16, 8, 4, 2, 1):
            if precision_bits is not None and used >= precision_bits:
                break
            r = lon if even else lat
            mid = (r[0] + r[1]) / 2
            if bits & b:
                r[0] = mid
            else:
                r[1] = mid
            even = not even
            used += 1
    return G.box_polygon(lon[0], lat[0], lon[1], lat[1])


def st_geom_from_geohash(geohash_col, precision: int | None = None) -> Column:
    """Geohash string -> its bounding-box polygon (geomesa
    st_geomFromGeoHash). ``precision`` is in BITS and truncates the cell
    to that precision (previously accepted and silently ignored)."""
    return _geom_from_geohash(*_geohash_args(geohash_col, precision))


def _geohash_args(geohash_col, precision) -> list:
    args = [col_or_name(geohash_col)]
    return args if precision is None else args + [F.lit(int(precision))]


_geom_from_geohash = _row_kernel(
    lambda gh, *bits: G.wkb_dumps(_geohash_box(gh, *bits)), "binary", geoms=0)

_exterior_ring = _row_kernel(
    lambda g: G.wkb_dumps(("LineString", g[1][0])) if g[0] == "Polygon" and g[1] else None,
    "binary",
)


def st_exterior_ring(geom) -> Column:
    return _exterior_ring(col_or_name(geom))


_num_points = _row_kernel(lambda g: len(G._points(g)), "int")


def st_num_points(geom) -> Column:
    return _num_points(col_or_name(geom))


def _is_valid(g) -> bool:
    if g[0] in ("Polygon", "MultiPolygon"):
        for rings in G._polygons(g):
            for r in rings:
                if len(r) < 4 or tuple(r[0]) != tuple(r[-1]):
                    return False
                if abs(G._ring_area(r)) == 0:
                    return False
    return True


_is_valid_udf = _row_kernel(_is_valid, "boolean")


def st_is_valid(geom) -> Column:
    """Basic validity: rings closed, >= 4 points, non-zero area (full OGC
    self-intersection checking is out of scope for the engine's surface)."""
    return _is_valid_udf(col_or_name(geom))


def _length_sphere(g) -> float:
    total = 0.0
    for line in (G._lines(g) if g[0] in ("LineString", "MultiLineString") else []):
        for a, b in zip(line[:-1], line[1:]):
            total += G.distance_sphere(a, b)
    return total


_length_sphere_udf = _row_kernel(_length_sphere, "double")


def st_length_sphere(geom) -> Column:
    """Haversine length of lon/lat linestrings (geomesa st_lengthSphere)."""
    return _length_sphere_udf(col_or_name(geom))


def _closest_vertex(x, y):
    """The vertex of ``x`` closest to ``y``, as WKB."""
    best, bd = None, float("inf")
    for kind, data in G._all_lines_or_points(x):
        for p in (data[None, :] if kind == "pt" else data):
            d = G.distance(("Point", tuple(p)), y)
            if d < bd:
                bd, best = d, tuple(float(v) for v in p)
    return G.wkb_dumps(("Point", best)) if best else None


_closest_point_udf = _row_kernel(_closest_vertex, "binary", geoms=2)


def st_closest_point(a, b) -> Column:
    """Vertex of `a` closest to `b` (vertex-resolution approximation of
    geomesa st_closestPoint)."""
    return _closest_point_udf(col_or_name(a), col_or_name(b))


def _as_geojson(g):
    import json as _json

    gtype, body = g
    if gtype == "Point":
        coords = list(body)
    elif gtype in ("LineString", "MultiPoint"):
        coords = [list(p) for p in body]
    elif gtype in ("Polygon", "MultiLineString"):
        coords = [[list(p) for p in part] for part in body]
    elif gtype == "MultiPolygon":
        coords = [[[list(p) for p in r] for r in poly] for poly in body]
    else:
        return _json.dumps({"type": "GeometryCollection",
                            "geometries": [_json.loads(_as_geojson(x)) for x in body]})
    return _json.dumps({"type": gtype, "coordinates": coords})


_as_geojson_udf = _row_kernel(_as_geojson, "string")


def st_as_geojson(geom) -> Column:
    return _as_geojson_udf(col_or_name(geom))


# ---------------------------------------------------------------------------
# SFC indexes (transformers/XZ2Indexer.scala, Z2Indexer.scala)
# ---------------------------------------------------------------------------


def _z2_udf(resolution: int):
    @lazy_pandas_udf("long")
    def udf(x: pd.Series, y: pd.Series) -> pd.Series:
        return pd.Series(sfc.z2_index(x.values.astype("float64"),
                                      y.values.astype("float64"),
                                      resolution=resolution), dtype=object)
    return udf


def rf_z2_index(x_or_extent, y=None, resolution: int = 31) -> Column:
    """Z2 index of a point (x, y) or of an extent struct's centroid, at
    ``resolution`` bits per dimension (previously the parameter was
    accepted and silently ignored). Null/NaN coordinates yield null."""
    udf = _z2_udf(int(resolution))
    if y is not None:
        return udf(col_or_name(x_or_extent).cast("double"),
                   col_or_name(y).cast("double"))
    e = col_or_name(x_or_extent)
    cx = (e.getField("xmin") + e.getField("xmax")) / 2
    cy = (e.getField("ymin") + e.getField("ymax")) / 2
    return udf(cx, cy)


def _xz2_udf_at(resolution: int):
    @lazy_pandas_udf("long")
    def udf(e: pd.DataFrame) -> pd.Series:
        return pd.Series(sfc.xz2_index(
            e["xmin"].values.astype("float64"),
            e["ymin"].values.astype("float64"),
            e["xmax"].values.astype("float64"),
            e["ymax"].values.astype("float64"),
            resolution=resolution), dtype=object)
    return udf


def rf_xz2_index(extent, resolution: int = 18) -> Column:
    """XZ2-style index of an extent struct at quadtree depth
    ``resolution`` (previously accepted and silently ignored)."""
    return _xz2_udf_at(int(resolution))(col_or_name(extent))


def rf_spatial_grid_cells(extent, cell_size: float) -> Column:
    """array<long> of fixed-grid cells the extent overlaps — explode + equi-join
    for scalable spatial joins."""
    cs = float(cell_size)

    @lazy_pandas_udf("array<long>")
    def udf(e: pd.DataFrame) -> pd.Series:
        out = []
        xm, ym, xM, yM = (e[c].values for c in ("xmin", "ymin", "xmax", "ymax"))
        for i in range(len(e)):
            if xm[i] is None or (isinstance(xm[i], float) and np.isnan(xm[i])):
                out.append(None)
            else:
                out.append(np.array(sfc.grid_cells(xm[i], ym[i], xM[i], yM[i], cs), dtype="int64"))
        return pd.Series(out, dtype=object)

    return udf(col_or_name(extent))


# ---------------------------------------------------------------------------
# long-tail geomesa-parity surface (reference export list:
# python/pyrasterframes/rasterfunctions.py:1092-1433; semantics follow the
# public geomesa-spark-jts function docs: 1-based sub-geometry indices,
# null for out-of-range / wrong-type args)
# ---------------------------------------------------------------------------


def _typed_from_wkt(expect: str):
    def fn(t):
        g = G.wkt_loads(t)
        return G.wkb_dumps(g) if g[0] == expect else None
    return _row_kernel(fn, "binary", geoms=0)


_point_from_text = _typed_from_wkt("Point")
_line_from_text = _typed_from_wkt("LineString")
_polygon_from_text = _typed_from_wkt("Polygon")
_m_point_from_text = _typed_from_wkt("MultiPoint")
_m_line_from_text = _typed_from_wkt("MultiLineString")
_m_poly_from_text = _typed_from_wkt("MultiPolygon")


def st_point_from_text(wkt) -> Column:
    """WKT -> Point geometry (null for non-point WKT)."""
    return _point_from_text(col_or_name(wkt))


def st_line_from_text(wkt) -> Column:
    return _line_from_text(col_or_name(wkt))


def st_polygon_from_text(wkt) -> Column:
    return _polygon_from_text(col_or_name(wkt))


def st_m_point_from_text(wkt) -> Column:
    return _m_point_from_text(col_or_name(wkt))


def st_m_line_from_text(wkt) -> Column:
    return _m_line_from_text(col_or_name(wkt))


def st_m_poly_from_text(wkt) -> Column:
    return _m_poly_from_text(col_or_name(wkt))


def st_point_from_wkb(wkb) -> Column:
    """WKB -> Point (null if the bytes decode to any other type)."""
    return _cast_point(col_or_name(wkb))


_point_from_geohash = _row_kernel(
    lambda gh, *bits: G.wkb_dumps(("Point", G.centroid(_geohash_box(gh, *bits)))),
    "binary", geoms=0)


def st_point_from_geohash(geohash_col, precision: int | None = None) -> Column:
    """Geohash -> center point of its cell (``precision`` in bits, like
    st_geom_from_geohash)."""
    return _point_from_geohash(*_geohash_args(geohash_col, precision))


def _line_through(arr):
    pts = []
    for b in arr:
        if b is None:
            continue
        g = G.wkb_loads(bytes(b))
        if g[0] == "Point" and g[1]:
            pts.append(g[1])
        elif g[0] in ("MultiPoint", "LineString"):
            pts.extend(g[1])
    return G.wkb_dumps(("LineString", pts)) if len(pts) >= 2 else None


_make_line = _row_kernel(_line_through, "binary", geoms=0)


def st_make_line(points) -> Column:
    """array<binary> of point WKBs -> LineString through them in order."""
    return _make_line(col_or_name(points))


def _close_ring(pts):
    pts = list(pts)
    if tuple(pts[0]) != tuple(pts[-1]):
        pts.append(pts[0])
    return pts


_make_polygon = _row_kernel(
    lambda g: G.wkb_dumps(("Polygon", [_close_ring(g[1])]))
    if g[0] == "LineString" and len(g[1]) >= 3 else None,
    "binary",
)


def st_make_polygon(shell) -> Column:
    """LineString shell -> Polygon (ring auto-closed)."""
    return _make_polygon(col_or_name(shell))


st_polygon = st_make_polygon  # geomesa exposes both names

_make_box2d = _row_kernel(
    lambda a, b: G.wkb_dumps(G.box_polygon(a[1][0], a[1][1], b[1][0], b[1][1]))
    if a[0] == b[0] == "Point" and a[1] and b[1] else None,
    "binary", geoms=2)


def st_make_box2d(lower_left, upper_right) -> Column:
    """Two corner points -> axis-aligned box polygon (null unless both are
    non-empty points)."""
    return _make_box2d(col_or_name(lower_left), col_or_name(upper_right))


def st_make_bbox(xmin, ymin, xmax, ymax) -> Column:
    """Four doubles -> box polygon geometry (geomesa st_makeBBox)."""
    return st_geometry(extent_struct(xmin, ymin, xmax, ymax))


@lazy_pandas_udf("binary")
def _make_bbox_udf(xmin: pd.Series, ymin: pd.Series, xmax: pd.Series,
                   ymax: pd.Series) -> pd.Series:
    # SQL st_makeBBox: the st_geometry kernel over four bound columns
    return _geometry_udf.fn(pd.DataFrame(
        {"xmin": xmin, "ymin": ymin, "xmax": xmax, "ymax": ymax}))


def st_make_point_m(x, y, m) -> Column:
    """Point with measure. The engine stores 2-D WKB; the measure is
    accepted for API parity and dropped (documented divergence)."""
    return st_point(x, y)


# -- accessors ---------------------------------------------------------------


def _sub_geoms(g):
    gtype, body = g
    if gtype == "MultiPoint":
        return [("Point", p) for p in body]
    if gtype == "MultiLineString":
        return [("LineString", l) for l in body]
    if gtype == "MultiPolygon":
        return [("Polygon", p) for p in body]
    if gtype == "GeometryCollection":
        return list(body)
    return [g]


def _nth(items, n):
    """1-based ``items[n - 1]``; None when out of range."""
    n = int(n)
    return items[n - 1] if 1 <= n <= len(items) else None


def _geometry_n_of(g, n):
    sub = _nth(_sub_geoms(g), n)
    return None if sub is None else G.wkb_dumps(sub)


def _point_n_of(g, n):
    if g[0] != "LineString":
        return None
    n = int(n)
    p = _nth(g[1], len(g[1]) + n + 1 if n < 0 else n)
    return None if p is None else G.wkb_dumps(("Point", tuple(p)))


def _interior_ring_n_of(g, n):
    ring = _nth(g[1][1:], n) if g[0] == "Polygon" else None
    return None if ring is None else G.wkb_dumps(("LineString", ring))


_geometry_n = _row_kernel(_geometry_n_of, "binary")
_point_n = _row_kernel(_point_n_of, "binary")
_interior_ring_n = _row_kernel(_interior_ring_n_of, "binary")
_num_geometries = _row_kernel(lambda g: len(_sub_geoms(g)), "int")


def st_geometry_n(geom, n) -> Column:
    """1-based n-th sub-geometry (the geometry itself for simple types)."""
    return _geometry_n(col_or_name(geom), _index_arg(n))


def st_num_geometries(geom) -> Column:
    return _num_geometries(col_or_name(geom))


def st_point_n(geom, n) -> Column:
    """1-based n-th vertex of a LineString (negative n counts from the end,
    geomesa-style); null for other types or out of range."""
    return _point_n(col_or_name(geom), _index_arg(n))


def st_interior_ring_n(geom, n) -> Column:
    """1-based n-th interior ring of a Polygon as a LineString."""
    return _interior_ring_n(col_or_name(geom), _index_arg(n))


def _boundary_of(g):
    gtype, body = g
    if gtype in ("Point", "MultiPoint"):
        return ("GeometryCollection", [])
    if gtype == "LineString":
        if len(body) == 0 or tuple(body[0]) == tuple(body[-1]):
            return ("MultiPoint", [])
        return ("MultiPoint", [tuple(body[0]), tuple(body[-1])])
    if gtype == "MultiLineString":
        # mod-2 rule: endpoints appearing an odd number of times
        from collections import Counter
        cnt = Counter()
        for l in body:
            if len(l) and tuple(l[0]) != tuple(l[-1]):
                cnt[tuple(l[0])] += 1
                cnt[tuple(l[-1])] += 1
        pts = [p for p, c in cnt.items() if c % 2 == 1]
        return ("MultiPoint", pts)
    if gtype == "Polygon":
        if len(body) == 1:
            return ("LineString", list(body[0]))
        return ("MultiLineString", [list(r) for r in body])
    if gtype == "MultiPolygon":
        rings = [list(r) for poly in body for r in poly]
        return ("LineString", rings[0]) if len(rings) == 1 else ("MultiLineString", rings)
    return ("GeometryCollection", [_boundary_of(sub) for sub in body])


_boundary = _row_kernel(lambda g: G.wkb_dumps(_boundary_of(g)), "binary")


def st_boundary(geom) -> Column:
    """OGC boundary: polygon -> rings, line -> odd-degree endpoints
    (mod-2 rule), point -> empty."""
    return _boundary(col_or_name(geom))


_DIMS = {"Point": 0, "MultiPoint": 0, "LineString": 1, "MultiLineString": 1,
         "Polygon": 2, "MultiPolygon": 2}


def _dimension_of(g):
    if g[0] == "GeometryCollection":
        return max((_dimension_of(s) for s in g[1]), default=0)
    return _DIMS[g[0]]


_dimension = _row_kernel(_dimension_of, "int")


def st_dimension(geom) -> Column:
    """Topological dimension: 0 points, 1 lines, 2 polygons (max over
    collections)."""
    return _dimension(col_or_name(geom))


def st_coord_dim(geom) -> Column:
    """Coordinate dimension — always 2 (the engine stores 2-D WKB)."""
    return F.when(col_or_name(geom).isNotNull(), F.lit(2)).otherwise(F.lit(None).cast("int"))


# -- shape predicates --------------------------------------------------------


def _is_empty(g):
    if g[0] == "Point":
        return g[1] is None or len(g[1]) == 0 or (
            isinstance(g[1][0], float) and math.isnan(g[1][0]))
    return len(g[1]) == 0


_is_empty_udf = _row_kernel(lambda g: bool(_is_empty(g)), "boolean")


def st_is_empty(geom) -> Column:
    return _is_empty_udf(col_or_name(geom))


def _line_is_simple(pts) -> bool:
    """No self-intersection besides shared endpoints of adjacent segments
    (and an allowed closing point). O(S^2) over segment pairs — fine for
    the per-row geometry sizes this surface serves."""
    n = len(pts) - 1
    if n < 2:
        return True
    closed = tuple(pts[0]) == tuple(pts[-1])
    for i in range(n):
        for j in range(i + 1, n):
            adjacent = (j == i + 1) or (closed and i == 0 and j == n - 1)
            seg_i = [pts[i], pts[i + 1]]
            seg_j = [pts[j], pts[j + 1]]
            if not G.segments_intersect_any(seg_i, seg_j):
                continue
            if adjacent:
                continue  # shared endpoint only (overlap would need collinearity — rare; accepted)
            return False
    return True


def _is_simple(g):
    gtype, body = g
    if gtype == "Point":
        return True
    if gtype == "MultiPoint":
        return len({tuple(p) for p in body}) == len(body)
    if gtype == "LineString":
        return _line_is_simple(body)
    if gtype == "MultiLineString":
        return all(_line_is_simple(l) for l in body)
    return True  # polygons: validity implies simplicity here


_is_simple_udf = _row_kernel(lambda g: bool(_is_simple(g)), "boolean")


def st_is_simple(geom) -> Column:
    return _is_simple_udf(col_or_name(geom))


def _is_closed(g):
    gtype, body = g
    if gtype == "LineString":
        return len(body) > 0 and tuple(body[0]) == tuple(body[-1])
    if gtype == "MultiLineString":
        return all(len(l) > 0 and tuple(l[0]) == tuple(l[-1]) for l in body)
    return True  # points/polygons: vacuously closed (geomesa convention)


_is_closed_udf = _row_kernel(lambda g: bool(_is_closed(g)), "boolean")
_is_ring = _row_kernel(
    lambda g: bool(g[0] == "LineString" and _is_closed(g) and _is_simple(g)), "boolean")
_is_collection = _row_kernel(
    lambda g: g[0] in ("MultiPoint", "MultiLineString", "MultiPolygon",
                       "GeometryCollection"), "boolean")


def st_is_closed(geom) -> Column:
    return _is_closed_udf(col_or_name(geom))


def st_is_ring(geom) -> Column:
    """Closed AND simple LineString."""
    return _is_ring(col_or_name(geom))


def st_is_collection(geom) -> Column:
    return _is_collection(col_or_name(geom))


# -- casts / serializers -----------------------------------------------------


def _cast_to(expect: str):
    return _row_kernel(lambda g: G.wkb_dumps(g) if g[0] == expect else None, "binary")


_cast_point = _cast_to("Point")
_cast_line = _cast_to("LineString")
_cast_polygon = _cast_to("Polygon")


def st_cast_to_point(geom) -> Column:
    """Null if the value is not a Point (geomesa throws a ClassCastException;
    null keeps the column total — documented divergence)."""
    return _cast_point(col_or_name(geom))


def st_cast_to_linestring(geom) -> Column:
    return _cast_line(col_or_name(geom))


def st_cast_to_polygon(geom) -> Column:
    return _cast_polygon(col_or_name(geom))


def st_byte_array(s) -> Column:
    """String -> UTF-8 bytes (geomesa st_byteArray)."""
    return F.encode(col_or_name(s), "UTF-8")


def _dms(value: float, pos: str, neg: str) -> str:
    hemi = pos if value >= 0 else neg
    v = abs(value)
    d = int(v)
    m = int((v - d) * 60)
    s = (v - d - m / 60.0) * 3600.0
    return f"{d}°{m}'{s:06.3f}\"{hemi}"


_as_lat_lon_text = _row_kernel(
    lambda g: f"{_dms(g[1][1], 'N', 'S')} {_dms(g[1][0], 'E', 'W')}"
    if g[0] == "Point" and g[1] else None,
    "string")


def st_as_lat_lon_text(point) -> Column:
    """Point -> 'DDD°MM'SS.SSS"N DDD°MM'SS.SSS"E' (lat first, geomesa
    st_asLatLonText)."""
    return _as_lat_lon_text(col_or_name(point))


# -- antimeridian ------------------------------------------------------------


def _clip_ring_halfplane(ring, xsplit: float, keep_left: bool):
    """Sutherland-Hodgman clip of a ring against the vertical line
    x == xsplit, keeping x <= xsplit (keep_left) or x >= xsplit."""
    def inside(p):
        return p[0] <= xsplit if keep_left else p[0] >= xsplit

    def cross(p1, p2):
        t = (xsplit - p1[0]) / (p2[0] - p1[0])
        return (xsplit, p1[1] + t * (p2[1] - p1[1]))

    out = []
    pts = list(ring[:-1]) if tuple(ring[0]) == tuple(ring[-1]) else list(ring)
    for i in range(len(pts)):
        cur, nxt = pts[i], pts[(i + 1) % len(pts)]
        if inside(cur):
            out.append(tuple(cur))
            if not inside(nxt):
                out.append(cross(cur, nxt))
        elif inside(nxt):
            out.append(cross(cur, nxt))
    if len(out) < 3:
        return None
    out.append(out[0])
    return out


def _antimeridian_safe(g):
    """Geometries whose longitudes span the antimeridian (bbox width > 180°)
    are normalized to [0, 360), split at x=180, and the eastern part shifted
    back by 360 — result is a MultiPolygon/MultiLineString on [-180, 180]
    (geomesa st_antimeridianSafeGeom). Non-crossing geoms pass through."""
    env = G.envelope(g)
    if env is None:
        return g
    xmin, _, xmax, _ = env
    if xmax - xmin <= 180.0:
        return g

    def norm_pt(p):
        return (p[0] + 360.0 if p[0] < 0 else p[0], p[1])

    if g[0] in ("Polygon", "MultiPolygon"):
        parts = []
        for rings in G._polygons(g):
            # clip EVERY ring (shell and holes) into both hemispheres —
            # dropping holes silently treated former hole area as interior
            halves = {True: [], False: []}
            for ri, ring in enumerate(rings):
                pts = [norm_pt(p) for p in ring]
                for keep_left in (True, False):
                    clipped = _clip_ring_halfplane(pts, 180.0, keep_left)
                    if clipped is None:
                        continue
                    if not keep_left:
                        clipped = [(x - 360.0, y) for x, y in clipped]
                    halves[keep_left].append((ri, clipped))
            for keep_left in (True, False):
                shell = [c for ri, c in halves[keep_left] if ri == 0]
                holes = [c for ri, c in halves[keep_left] if ri != 0]
                if shell:
                    parts.append([shell[0]] + holes)
        if not parts:
            return g
        return ("Polygon", parts[0]) if len(parts) == 1 else ("MultiPolygon", parts)
    if g[0] in ("LineString", "MultiLineString"):
        def _side(x):
            return -1 if x < 180.0 else (1 if x > 180.0 else 0)

        def unnorm(s):
            # eastern-hemisphere segments shift wholesale (incl. the
            # shared 180 crossing vertex -> -180), matching the
            # polygon branch's per-side convention
            if max(x for x, _ in s) > 180.0:
                return [(x - 360.0, y) for x, y in s]
            return s

        out = []
        for line in G._lines(g):
            # normalize to [0, 360) and SPLIT at x=180: break wherever an
            # edge strictly crosses (interpolating the crossing vertex
            # into both parts) AND at any vertex lying exactly on the
            # meridian whose neighbors straddle it — otherwise a
            # 170→180→190 chain stayed one segment and the wholesale
            # -360 shift pushed its western points below -180
            pts = [norm_pt(p) for p in line]
            segs = []
            seg = [pts[0]]
            seg_side = _side(pts[0][0])  # hemisphere of this segment
            for a, b in zip(pts[:-1], pts[1:]):
                sa, sb = _side(a[0]), _side(b[0])
                if sa * sb < 0:  # strict crossing mid-edge
                    t = (180.0 - a[0]) / (b[0] - a[0])
                    ycross = a[1] + t * (b[1] - a[1])
                    seg.append((180.0, ycross))
                    segs.append(seg)
                    seg = [(180.0, ycross), b]
                    seg_side = sb
                elif sb != 0 and seg_side != 0 and sb != seg_side:
                    # hemisphere flips across an on-meridian vertex (a)
                    segs.append(seg)
                    seg = [a, b]
                    seg_side = sb
                else:
                    seg.append(b)
                    if seg_side == 0:
                        seg_side = sb
            if len(seg) >= 2:
                segs.append(seg)
            out.extend(unnorm(s) for s in segs)
        return ("LineString", out[0]) if len(out) == 1 else ("MultiLineString", out)
    return g


_antimeridian_safe_udf = _row_kernel(lambda g: G.wkb_dumps(_antimeridian_safe(g)), "binary")


def st_antimeridian_safe_geom(geom) -> Column:
    return _antimeridian_safe_udf(col_or_name(geom))


def _path_distance_sphere(arr) -> float:
    pts = [G.wkb_loads(bytes(b))[1] for b in arr if b is not None]
    total = 0.0
    for a, b in zip(pts[:-1], pts[1:]):
        total += G.distance_sphere(a, b)
    return total


_aggregate_distance_sphere = _row_kernel(_path_distance_sphere, "double", geoms=0)


def st_aggregate_distance_sphere(points_array) -> Column:
    """Total haversine path length (meters) over an array<binary> of point
    WKBs in order — pair with ``F.collect_list`` for the geomesa UDAF shape:
    ``df.groupBy(...).agg(st_aggregate_distance_sphere(F.collect_list(pt)))``."""
    return _aggregate_distance_sphere(col_or_name(points_array))


# ---------------------------------------------------------------------------
# reference-exact camelCase aliases (the reference exports camelCase names,
# python/pyrasterframes/rasterfunctions.py:1092-1433; the engine's canonical
# names are snake_case — both resolve to the same functions)
# ---------------------------------------------------------------------------

st_makePoint = st_point
st_makeLine = st_make_line
st_makePolygon = st_make_polygon
st_makeBox2D = st_make_box2d
st_makeBBox = st_make_bbox
st_makePointM = st_make_point_m
st_geomFromWKT = st_geom_from_wkt
st_geomFromWKB = st_geom_from_wkb
st_geomFromGeoHash = st_geom_from_geohash
st_pointFromText = st_point_from_text
st_lineFromText = st_line_from_text
st_polygonFromText = st_polygon_from_text
st_mPointFromText = st_m_point_from_text
st_mLineFromText = st_m_line_from_text
st_mPolyFromText = st_m_poly_from_text
st_pointFromWKB = st_point_from_wkb
st_pointFromGeoHash = st_point_from_geohash
st_asText = st_as_text
st_asBinary = st_as_binary
st_asGeoJSON = st_as_geojson
st_asLatLonText = st_as_lat_lon_text
st_byteArray = st_byte_array
st_castToPoint = st_cast_to_point
st_castToLineString = st_cast_to_linestring
st_castToPolygon = st_cast_to_polygon
st_geometryType = st_geometry_type
st_geometryN = st_geometry_n
st_numGeometries = st_num_geometries
st_pointN = st_point_n
st_numPoints = st_num_points
st_interiorRingN = st_interior_ring_n
st_exteriorRing = st_exterior_ring
st_coordDim = st_coord_dim
st_isEmpty = st_is_empty
st_isSimple = st_is_simple
st_isRing = st_is_ring
st_isClosed = st_is_closed
st_isCollection = st_is_collection
st_isValid = st_is_valid
st_distanceSphere = st_distance_sphere
st_lengthSphere = st_length_sphere
st_aggregateDistanceSphere = st_aggregate_distance_sphere
st_antimeridianSafeGeom = st_antimeridian_safe_geom
st_bufferPoint = st_buffer_point
st_closestPoint = st_closest_point
st_relateBool = st_relate_bool
st_coveredBy = st_covered_by
st_geoHash = st_geohash

__all__ += [
    # snake_case canonical names
    "st_point_from_text", "st_line_from_text", "st_polygon_from_text",
    "st_m_point_from_text", "st_m_line_from_text", "st_m_poly_from_text",
    "st_point_from_wkb", "st_point_from_geohash",
    "st_make_line", "st_make_polygon", "st_polygon", "st_make_box2d",
    "st_make_bbox", "st_make_point_m",
    "st_geometry_n", "st_num_geometries", "st_point_n", "st_interior_ring_n",
    "st_boundary", "st_dimension", "st_coord_dim",
    "st_is_empty", "st_is_simple", "st_is_closed", "st_is_ring",
    "st_is_collection",
    "st_cast_to_point", "st_cast_to_linestring", "st_cast_to_polygon",
    "st_byte_array", "st_as_lat_lon_text",
    "st_antimeridian_safe_geom", "st_aggregate_distance_sphere",
    # reference-exact camelCase aliases
    "st_makePoint", "st_makeLine", "st_makePolygon", "st_makeBox2D",
    "st_makeBBox", "st_makePointM", "st_geomFromWKT", "st_geomFromWKB",
    "st_geomFromGeoHash", "st_pointFromText", "st_lineFromText",
    "st_polygonFromText", "st_mPointFromText", "st_mLineFromText",
    "st_mPolyFromText", "st_pointFromWKB", "st_pointFromGeoHash",
    "st_asText", "st_asBinary", "st_asGeoJSON", "st_asLatLonText",
    "st_byteArray", "st_castToPoint", "st_castToLineString",
    "st_castToPolygon", "st_geometryType", "st_geometryN",
    "st_numGeometries", "st_pointN", "st_numPoints", "st_interiorRingN",
    "st_exteriorRing", "st_coordDim", "st_isEmpty", "st_isSimple",
    "st_isRing", "st_isClosed", "st_isCollection", "st_isValid",
    "st_distanceSphere", "st_lengthSphere", "st_aggregateDistanceSphere",
    "st_antimeridianSafeGeom", "st_bufferPoint", "st_closestPoint",
    "st_relateBool", "st_coveredBy", "st_geoHash",
]


# ---------------------------------------------------------------------------
# SQL surface (the reference registers each expression once for every API,
# core/.../rasterframes/package.scala:60-83): a SQL name runs the Column
# API's kernel.  A string value is the body of a SQL function, for Column
# functions that are Catalyst expressions (no Python crossing); those come
# last, as one of them calls a registered kernel.
# ---------------------------------------------------------------------------

SQL_FUNCTIONS = {
    # constructors / parsers
    "st_point": _point_udf, "st_makePoint": _point_udf,
    "st_makeBBox": _make_bbox_udf, "st_makeBox2D": _make_box2d,
    "st_makeLine": _make_line,
    "st_makePolygon": _make_polygon, "st_polygon": _make_polygon,
    "st_geom_from_wkt": _from_wkt_udf, "st_geomFromWKT": _from_wkt_udf,
    "st_pointFromText": _point_from_text, "st_lineFromText": _line_from_text,
    "st_polygonFromText": _polygon_from_text,
    "st_mPointFromText": _m_point_from_text,
    "st_mLineFromText": _m_line_from_text,
    "st_mPolyFromText": _m_poly_from_text,
    "st_pointFromWKB": _cast_point,
    "st_geomFromGeoHash": _geom_from_geohash,
    "st_pointFromGeoHash": _point_from_geohash,
    # serializers / casts
    "st_asText": _as_text, "st_asGeoJSON": _as_geojson_udf,
    "st_asLatLonText": _as_lat_lon_text, "st_geoHash": _geohash,
    "st_castToPoint": _cast_point, "st_castToLineString": _cast_line,
    "st_castToPolygon": _cast_polygon,
    # accessors / measures
    "st_geometryType": _geom_type, "st_x": _x, "st_y": _y,
    "st_centroid": _centroid, "st_envelope": _envelope_udf,
    "st_area": _area, "st_length": _length,
    "st_lengthSphere": _length_sphere_udf,
    "st_numPoints": _num_points, "st_numGeometries": _num_geometries,
    "st_geometryN": _geometry_n, "st_pointN": _point_n,
    "st_interiorRingN": _interior_ring_n, "st_exteriorRing": _exterior_ring,
    "st_boundary": _boundary, "st_dimension": _dimension,
    "st_distance": _distance_udf,
    "st_distance_sphere": _distance_sphere_udf,
    "st_distanceSphere": _distance_sphere_udf,
    "st_aggregateDistanceSphere": _aggregate_distance_sphere,
    "st_closestPoint": _closest_point_udf,
    # predicates
    "st_intersects": _intersects, "st_contains": _contains,
    "st_within": _within, "st_disjoint": _disjoint, "st_equals": _equals,
    "st_covers": _covers, "st_coveredBy": _covered_by,
    "st_touches": _touches, "st_crosses": _crosses, "st_overlaps": _overlaps,
    "st_relate": _relate_udf, "st_relateBool": _relate_bool,
    "st_isValid": _is_valid_udf, "st_isEmpty": _is_empty_udf,
    "st_isSimple": _is_simple_udf, "st_isClosed": _is_closed_udf,
    "st_isRing": _is_ring, "st_isCollection": _is_collection,
    # transforms
    "st_translate": _translate, "st_bufferPoint": _buffer_point,
    "st_reproject": _reproject_udf,
    "st_antimeridianSafeGeom": _antimeridian_safe_udf,
    # SQL functions: the Catalyst expressions, and st_makePointM as the
    # Column API builds it (st_makePoint over double casts)
    "st_geomFromWKB": "(wkb BINARY) RETURNS BINARY RETURN wkb",
    "st_asBinary": "(geom BINARY) RETURNS BINARY RETURN geom",
    "st_byteArray": "(s STRING) RETURNS BINARY RETURN encode(s, 'UTF-8')",
    "st_coordDim": "(geom BINARY) RETURNS INT RETURN CASE WHEN geom IS NOT NULL THEN 2 END",
    "st_makePointM": "(x DOUBLE, y DOUBLE, m DOUBLE) RETURNS BINARY RETURN st_makePoint(x, y)",
}

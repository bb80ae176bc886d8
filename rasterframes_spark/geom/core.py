"""GEOS-lite: a pure-python/numpy computational geometry core.

The reference delegates its ~60 st_* functions to GeoMesa spark-jts (JTS =
JVM GEOS port; SURVEY.md §2.12). This environment has no shapely/GEOS, so
the engine carries a minimal, dependency-free geometry kernel: WKB/WKT
codec + the algorithms the st_* surface needs (area, length, distance,
centroid, predicates, point-in-polygon, segment intersection).

Geometries are immutable tuples: ("Point", (x, y)), ("LineString", [(x,y)...]),
("Polygon", [ring, ...]) (first ring = shell, rest = holes),
("MultiPoint"/"MultiLineString"/"MultiPolygon"/"GeometryCollection", [geom...]).
Rings are closed (first == last vertex).
"""

from __future__ import annotations

import math
import struct

import numpy as np

# WKB geometry type codes
_WKB_TYPES = {
    1: "Point", 2: "LineString", 3: "Polygon",
    4: "MultiPoint", 5: "MultiLineString", 6: "MultiPolygon",
    7: "GeometryCollection",
}
_WKB_CODES = {v: k for k, v in _WKB_TYPES.items()}


# ---------------------------------------------------------------------------
# WKB codec (2-D, little-endian on write; either endianness on read)
# ---------------------------------------------------------------------------


def wkb_dumps(geom) -> bytes:
    gtype, body = geom
    out = [b"\x01", struct.pack("<I", _WKB_CODES[gtype])]
    if gtype == "Point":
        if not body:  # POINT EMPTY: WKB convention is (NaN, NaN)
            out.append(struct.pack("<dd", float("nan"), float("nan")))
        else:
            out.append(struct.pack("<dd", body[0], body[1]))
    elif gtype == "LineString":
        out.append(struct.pack("<I", len(body)))
        for x, y in body:
            out.append(struct.pack("<dd", x, y))
    elif gtype == "Polygon":
        out.append(struct.pack("<I", len(body)))
        for ring in body:
            out.append(struct.pack("<I", len(ring)))
            for x, y in ring:
                out.append(struct.pack("<dd", x, y))
    else:  # multi / collection
        out.append(struct.pack("<I", len(body)))
        for sub in body:
            if gtype == "MultiPoint":
                sub = ("Point", sub) if not isinstance(sub, tuple) or not isinstance(sub[0], str) else sub
            elif gtype == "MultiLineString":
                sub = ("LineString", sub) if not isinstance(sub[0], str) else sub
            elif gtype == "MultiPolygon":
                sub = ("Polygon", sub) if not isinstance(sub[0], str) else sub
            out.append(wkb_dumps(sub))
    return b"".join(out)


def wkb_loads(data: bytes):
    geom, _ = _wkb_read(memoryview(data), 0)
    return geom


def _wkb_read(mv, off):
    bo = "<" if mv[off] == 1 else ">"
    off += 1
    (code,) = struct.unpack_from(bo + "I", mv, off)
    off += 4
    # dimension flags: EWKB bit flags (PostGIS) and ISO +1000/+2000/+3000
    # offsets both mean extra coords per vertex — read the full stride and
    # DROP z/m (a 2-D read of a 3-D stream garbles every coordinate)
    extra = 0
    if code & 0x80000000:  # EWKB Z
        extra += 1
        code &= ~0x80000000
    if code & 0x40000000:  # EWKB M
        extra += 1
        code &= ~0x40000000
    if code & 0x20000000:  # EWKB SRID flag (4-byte srid follows)
        off += 4
        code &= ~0x20000000
    iso = code // 1000  # 1=Z, 2=M, 3=ZM
    if iso in (1, 2):
        extra += 1
    elif iso == 3:
        extra += 2
    code = code % 1000
    dim = 2 + extra
    stride = 8 * dim
    fmt = bo + "d" * dim
    gtype = _WKB_TYPES[code]
    if gtype == "Point":
        vals = struct.unpack_from(fmt, mv, off)
        if vals[0] != vals[0]:  # (NaN, NaN) = POINT EMPTY convention
            return ("Point", ()), off + stride
        return ("Point", (vals[0], vals[1])), off + stride
    if gtype == "LineString":
        (n,) = struct.unpack_from(bo + "I", mv, off)
        off += 4
        pts = [(v[0], v[1]) for v in struct.iter_unpack(
            fmt, mv[off:off + stride * n].tobytes())]
        return ("LineString", pts), off + stride * n
    if gtype == "Polygon":
        (nr,) = struct.unpack_from(bo + "I", mv, off)
        off += 4
        rings = []
        for _ in range(nr):
            (n,) = struct.unpack_from(bo + "I", mv, off)
            off += 4
            rings.append([(v[0], v[1]) for v in struct.iter_unpack(
                fmt, mv[off:off + stride * n].tobytes())])
            off += stride * n
        return ("Polygon", rings), off
    # multi / collection
    (n,) = struct.unpack_from(bo + "I", mv, off)
    off += 4
    subs = []
    for _ in range(n):
        g, off = _wkb_read(mv, off)
        subs.append(g)
    if gtype == "MultiPoint":
        return ("MultiPoint", [g[1] for g in subs]), off
    if gtype == "MultiLineString":
        return ("MultiLineString", [g[1] for g in subs]), off
    if gtype == "MultiPolygon":
        return ("MultiPolygon", [g[1] for g in subs]), off
    return ("GeometryCollection", subs), off


# ---------------------------------------------------------------------------
# WKT codec
# ---------------------------------------------------------------------------


def wkt_dumps(geom) -> str:
    gtype, body = geom

    def coords(pts):
        return ", ".join(f"{_num(x)} {_num(y)}" for x, y in pts)

    if not body and gtype != "GeometryCollection":
        return f"{gtype.upper()} EMPTY"
    if gtype == "Point":
        return f"POINT ({_num(body[0])} {_num(body[1])})"
    if gtype == "LineString":
        return f"LINESTRING ({coords(body)})"
    if gtype == "Polygon":
        return "POLYGON (" + ", ".join(f"({coords(r)})" for r in body) + ")"
    if gtype == "MultiPoint":
        return "MULTIPOINT (" + ", ".join(f"({_num(x)} {_num(y)})" for x, y in body) + ")"
    if gtype == "MultiLineString":
        return "MULTILINESTRING (" + ", ".join(f"({coords(l)})" for l in body) + ")"
    if gtype == "MultiPolygon":
        return ("MULTIPOLYGON (" + ", ".join(
            "(" + ", ".join(f"({coords(r)})" for r in poly) + ")" for poly in body) + ")")
    if not body:
        return "GEOMETRYCOLLECTION EMPTY"
    return "GEOMETRYCOLLECTION (" + ", ".join(wkt_dumps(g) for g in body) + ")"


def _num(v: float) -> str:
    return repr(int(v)) if float(v).is_integer() else repr(float(v))


def wkt_loads(text: str):
    text = text.strip()
    if text.upper().endswith("EMPTY"):
        # typed empty geometry: preserve the declared head type so
        # st_geometryType('POINT EMPTY') reports Point (JTS parity);
        # payload is () for Point, [] otherwise
        head = text.split()[0].upper()
        name = {"POINT": "Point", "LINESTRING": "LineString",
                "POLYGON": "Polygon", "MULTIPOINT": "MultiPoint",
                "MULTILINESTRING": "MultiLineString",
                "MULTIPOLYGON": "MultiPolygon"}.get(head, "GeometryCollection")
        return (name, () if name == "Point" else [])
    i = text.index("(") if "(" in text else len(text)
    head = text[:i].strip().upper().replace(" Z", "").replace(" M", "")
    body = text[i:]
    name = {"POINT": "Point", "LINESTRING": "LineString", "POLYGON": "Polygon",
            "MULTIPOINT": "MultiPoint", "MULTILINESTRING": "MultiLineString",
            "MULTIPOLYGON": "MultiPolygon", "GEOMETRYCOLLECTION": "GeometryCollection"}[head]
    if head == "GEOMETRYCOLLECTION":
        inner = body.strip()[1:-1]
        parts, depth, start = [], 0, 0
        for j, ch in enumerate(inner):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 0:
                parts.append(inner[start:j])
                start = j + 1
        parts.append(inner[start:])
        return ("GeometryCollection", [wkt_loads(p) for p in parts])
    nested = _parse_parens(body)
    if name == "Point":
        return ("Point", tuple(_pt(nested[0] if isinstance(nested[0], str) else nested[0])))
    if name == "LineString":
        return ("LineString", [_pt(p) for p in _split_pts(nested)])
    if name == "Polygon":
        return ("Polygon", [[_pt(p) for p in _split_pts(r)] for r in nested])
    if name == "MultiPoint":
        pts = []
        for item in nested:
            if isinstance(item, list):
                pts.append(_pt(item[0]))
            else:
                pts.extend(_pt(p) for p in _split_pts([item]))
        return ("MultiPoint", pts)
    if name == "MultiLineString":
        return ("MultiLineString", [[_pt(p) for p in _split_pts(l)] for l in nested])
    if name == "MultiPolygon":
        return ("MultiPolygon", [[[_pt(p) for p in _split_pts(r)] for r in poly] for poly in nested])
    raise ValueError(name)


def _parse_parens(s: str):
    """Parse nested parens into nested lists of comma-separated strings."""
    stack = [[]]
    token = []

    def flush():
        t = "".join(token).strip()
        token.clear()
        if t:
            stack[-1].append(t)

    for ch in s:
        if ch == "(":
            new = []
            stack[-1].append(new)
            stack.append(new)
        elif ch == ")":
            flush()
            stack.pop()
        elif ch == ",":
            flush()
        else:
            token.append(ch)
    root = stack[0][0]
    return root


def _split_pts(items):
    out = []
    for it in items:
        if isinstance(it, str):
            out.append(it)
        else:
            out.extend(_split_pts(it))
    return out


def _pt(s):
    if isinstance(s, (list, tuple)):
        s = s[0]
    parts = s.replace(",", " ").split()
    return (float(parts[0]), float(parts[1]))


# ---------------------------------------------------------------------------
# Decomposition helpers
# ---------------------------------------------------------------------------


def _polygons(geom):
    gtype, body = geom
    if gtype == "Polygon":
        return [body]
    if gtype == "MultiPolygon":
        return list(body)
    if gtype == "GeometryCollection":
        return [p for g in body for p in _polygons(g)]
    return []


def _lines(geom):
    gtype, body = geom
    if gtype == "LineString":
        return [body]
    if gtype == "MultiLineString":
        return list(body)
    if gtype == "Polygon":
        return list(body)  # rings as lines for boundary work
    if gtype == "MultiPolygon":
        return [r for poly in body for r in poly]
    if gtype == "GeometryCollection":
        return [l for g in body for l in _lines(g)]
    return []


def _points(geom):
    gtype, body = geom
    if gtype == "Point":
        return [body] if body else []
    if gtype == "MultiPoint":
        return list(body)
    if gtype in ("LineString",):
        return list(body)
    if gtype == "MultiLineString":
        return [p for l in body for p in l]
    if gtype == "Polygon":
        return [p for r in body for p in r]
    if gtype == "MultiPolygon":
        return [p for poly in body for r in poly for p in r]
    return [p for g in body for p in _points(g)]


def envelope(geom):
    """Bounding box, or None for an empty geometry (zero points).
    Scalar min/max — per-call numpy array construction dominated the
    predicate bbox pretest for point-heavy joins (r8 sf1 rehearsal);
    numpy still takes over for large vertex counts."""
    if geom[0] == "Point":
        if not geom[1]:
            return None
        x, y = geom[1]
        return (x, y, x, y)
    pts = _points(geom)
    if not pts:
        return None
    if len(pts) > 256:
        a = np.asarray(pts, dtype="float64")
        return (a[:, 0].min(), a[:, 1].min(), a[:, 0].max(), a[:, 1].max())
    xs = [p[0] for p in pts]
    ys = [p[1] for p in pts]
    return (min(xs), min(ys), max(xs), max(ys))


# ---------------------------------------------------------------------------
# Measures
# ---------------------------------------------------------------------------


def _ring_area(ring) -> float:
    a = np.asarray(ring, dtype="float64")
    x, y = a[:, 0], a[:, 1]
    return 0.5 * float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))


def area(geom) -> float:
    total = 0.0
    for rings in _polygons(geom):
        if not rings or not rings[0]:  # empty polygon
            continue
        total += abs(_ring_area(rings[0]))
        for hole in rings[1:]:
            total -= abs(_ring_area(hole))
    return total


def length(geom) -> float:
    total = 0.0
    gtype = geom[0]
    if gtype in ("LineString", "MultiLineString"):
        for line in ([geom[1]] if gtype == "LineString" else geom[1]):
            if len(line) < 2:  # empty/degenerate line contributes nothing
                continue
            a = np.asarray(line, dtype="float64")
            total += float(np.sqrt(((a[1:] - a[:-1]) ** 2).sum(axis=1)).sum())
    elif gtype in ("Polygon", "MultiPolygon"):
        for rings in _polygons(geom):
            for r in rings:
                a = np.asarray(r, dtype="float64")
                total += float(np.sqrt(((a[1:] - a[:-1]) ** 2).sum(axis=1)).sum())
    elif gtype == "GeometryCollection":
        total = sum(length(g) for g in geom[1])
    return total


def centroid(geom):
    gtype = geom[0]
    polys = [p for p in _polygons(geom) if p and p[0]]  # drop empty shells
    if polys:
        # shoelace in LOCAL coordinates: tiny rings far from the origin
        # (e.g. a precision-12 geohash cell) otherwise lose the centroid to
        # catastrophic cancellation (term magnitude ~x*y, result ~area)
        ref = np.asarray(polys[0][0][0], dtype="float64")
        cx = cy = aa = 0.0
        for rings in polys:
            for k, ring in enumerate(rings):
                a = np.asarray(ring, dtype="float64") - ref
                x, y = a[:-1, 0], a[:-1, 1]
                x1, y1 = a[1:, 0], a[1:, 1]
                cross = x * y1 - x1 * y
                ra = float(cross.sum()) / 2.0
                if ra == 0:
                    continue
                rcx = float(((x + x1) * cross).sum()) / (6 * ra)
                rcy = float(((y + y1) * cross).sum()) / (6 * ra)
                sign = 1.0 if k == 0 else -1.0
                w = sign * abs(ra)
                cx += rcx * w
                cy += rcy * w
                aa += w
        if aa != 0:
            return (cx / aa + ref[0], cy / aa + ref[1])
    if gtype in ("LineString", "MultiLineString"):
        sx = sy = sl = 0.0
        for line in ([geom[1]] if gtype == "LineString" else geom[1]):
            if len(line) < 2:  # empty/degenerate line contributes nothing
                continue
            a = np.asarray(line, dtype="float64")
            seg = a[1:] - a[:-1]
            ln = np.sqrt((seg ** 2).sum(axis=1))
            mid = (a[1:] + a[:-1]) / 2
            sx += float((mid[:, 0] * ln).sum())
            sy += float((mid[:, 1] * ln).sum())
            sl += float(ln.sum())
        if sl > 0:
            return (sx / sl, sy / sl)
    pts_list = _points(geom)
    if not pts_list:  # empty geometry -> empty-point centroid (JTS parity)
        return ()
    pts = np.asarray(pts_list, dtype="float64")
    return (float(pts[:, 0].mean()), float(pts[:, 1].mean()))


# ---------------------------------------------------------------------------
# Predicates
# ---------------------------------------------------------------------------


def _pt_seg_dist2(x, y, x1, y1, x2, y2) -> float:
    """Squared distance from (x, y) to segment (x1,y1)-(x2,y2), scalar."""
    dx, dy = x2 - x1, y2 - y1
    dd = dx * dx + dy * dy
    if dd == 0.0:
        ex, ey = x - x1, y - y1
        return ex * ex + ey * ey
    t = ((x - x1) * dx + (y - y1) * dy) / dd
    if t < 0.0:
        t = 0.0
    elif t > 1.0:
        t = 1.0
    ex, ey = x - (x1 + t * dx), y - (y1 + t * dy)
    return ex * ex + ey * ey


def _pt_on_ring(x, y, ring, tol2: float = 1e-24) -> bool:
    px, py = ring[0][0], ring[0][1]
    for i in range(1, len(ring)):
        qx, qy = ring[i][0], ring[i][1]
        if _pt_seg_dist2(x, y, px, py, qx, qy) < tol2:
            return True
        px, py = qx, qy
    return False


def point_in_ring(pt, ring) -> bool:
    """Ray casting; boundary counts as inside.  Pure scalar arithmetic —
    per-point numpy on a handful of vertices cost ~60 us of array
    overhead per test and dominated st_join's exact phase (r8 sf1
    rehearsal); this form is ~25x faster and boolean-identical (the
    boundary tolerance compares squared distance to 1e-24 = (1e-12)^2,
    and the crossing x is computed only when the edge straddles y, so
    the divide-by-zero guard the vectorized form needed is moot)."""
    x, y = pt
    inside = False
    px, py = ring[0][0], ring[0][1]
    for i in range(1, len(ring)):
        qx, qy = ring[i][0], ring[i][1]
        if _pt_seg_dist2(x, y, px, py, qx, qy) < 1e-24:
            return True
        if (py > y) != (qy > y):
            if px + (y - py) * (qx - px) / (qy - py) > x:
                inside = not inside
        px, py = qx, qy
    return inside


def pixel_centres_in(geom, bounds, cols: int, rows: int) -> np.ndarray:
    """(rows, cols) bool grid: which pixel centres of the north-up grid
    over ``bounds`` (xmin, ymin, xmax, ymax) lie in ``geom``'s polygons by
    the even-odd rule — holes subtracted, the polygons of a multipolygon
    ORed.  A scanline fill: each pixel row sorts its edge crossings once
    and takes every column's parity with ``searchsorted``, so the cost is
    rows x edges, not cells x edges.  Centres on a boundary are
    unspecified (use point_in_polygon for boundary-inclusive tests)."""
    xmin, ymin, xmax, ymax = bounds
    pw, ph = (xmax - xmin) / cols, (ymax - ymin) / rows
    cx = xmin + (np.arange(cols) + 0.5) * pw
    cy = ymax - (np.arange(rows) + 0.5) * ph
    inside = np.zeros((rows, cols), dtype=bool)
    for rings in _polygons(geom):
        if rings:
            part = _ring_rows(rings[0], cx, cy)
            for hole in rings[1:]:
                part &= ~_ring_rows(hole, cx, cy)
            inside |= part
    return inside


def _ring_rows(ring, cx, cy) -> np.ndarray:
    a = np.asarray(ring, dtype="float64").reshape(-1, 2)
    x1, y1, x2, y2 = a[:-1, 0], a[:-1, 1], a[1:, 0], a[1:, 1]
    if cy.size:
        # an edge outside the rows' y range is crossed by no row
        keep = (np.maximum(y1, y2) > cy.min()) & (np.minimum(y1, y2) <= cy.max())
        x1, y1, x2, y2 = x1[keep], y1[keep], x2[keep], y2[keep]
    py = cy[:, None]
    cond = (y1 > py) != (y2 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xs = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
    xs = np.sort(np.where(cond, xs, np.inf), axis=1)
    n = cond.sum(axis=1)
    out = np.empty((cy.size, cx.size), dtype=bool)
    for i in range(cy.size):
        # crossings strictly right of each centre: odd means inside
        out[i] = (n[i] - np.searchsorted(xs[i], cx, side="right")) % 2 == 1
    return out


# cap on the elements of one (points x edges) intermediate inside
# points_in_polygon_vec_exact: ~8 such float64 matrices live at once,
# so 2M elements bounds the working set near 130 MB regardless of how
# many points an Arrow batch carries or how many vertices a coastline-
# scale polygon has (ADVICE r9: the unchunked form allocated tens of
# GB for 10k points x 1e5 edges)
_PIP_VEC_BUDGET = 2 << 20


def points_in_polygon_vec_exact(px: np.ndarray, py: np.ndarray,
                                rings) -> np.ndarray:
    """Boundary-INCLUSIVE vectorized test for many points against one
    polygon, boolean-identical to ``point_in_polygon`` (same even-odd
    crossings, same 1e-24 squared boundary tolerance, same on-hole-
    boundary-counts-inside rule, same FIRST-hole-decides order for
    degenerate overlapping holes).  Vectorizes over POINTS — the
    st_join exact phase evaluates ~millions of candidate points against
    a handful of broadcast polygons.  Memory is bounded:
    points are processed in chunks sized so each (points x edges)
    intermediate stays under ``_PIP_VEC_BUDGET`` elements."""
    px = np.asarray(px, dtype="float64")
    py = np.asarray(py, dtype="float64")
    # ring geometry precomputed ONCE across point chunks
    prep = []
    max_edges = 1
    for ring in rings:
        a = np.asarray(ring, dtype="float64")
        x1, y1 = a[:-1, 0].copy(), a[:-1, 1].copy()
        y2 = a[1:, 1].copy()        # TRUE endpoint: y1 + dy can round
        dx, dy = a[1:, 0] - x1, a[1:, 1] - y1   # differently at large
        dd = dx * dx + dy * dy      # magnitudes and flip the straddle
        prep.append((x1, y1, y2, dx, dy, dd))   # test vs the scalar
        max_edges = max(max_edges, x1.shape[0])
    n = px.shape[0]
    step = max(1, _PIP_VEC_BUDGET // max_edges)
    if step >= n:
        return _pip_vec_exact_block(px, py, prep)
    out = np.empty(n, dtype=bool)
    for s in range(0, n, step):
        out[s:s + step] = _pip_vec_exact_block(
            px[s:s + step], py[s:s + step], prep)
    return out


def _pip_vec_exact_block(px, py, prep) -> np.ndarray:
    def ring_tests(ring):
        x1, y1, y2, dx, dy, dd = ring
        ex = px[:, None] - x1[None, :]
        ey = py[:, None] - y1[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            t = (ex * dx[None, :] + ey * dy[None, :]) / dd[None, :]
        # degenerate zero-length edges: scalar measures to the endpoint
        t = np.clip(np.where(np.isfinite(t), t, 0.0), 0.0, 1.0)
        cx = ex - t * dx[None, :]
        cy = ey - t * dy[None, :]
        on_b = ((cx * cx + cy * cy) < 1e-24).any(axis=1)
        cond = (y1[None, :] > py[:, None]) != (y2[None, :] > py[:, None])
        with np.errstate(divide="ignore", invalid="ignore"):
            xs = (x1[None, :]
                  + (py[:, None] - y1[None, :]) * dx[None, :] / dy[None, :])
        inside = ((cond & (xs > px[:, None])).sum(axis=1) % 2) == 1
        return on_b, inside

    on0, in0 = ring_tests(prep[0])
    res = on0 | in0
    # mirror the scalar hole loop EXACTLY: the first hole (in ring
    # order) whose boundary contains the point decides True; the first
    # hole that strictly contains it decides False; later holes never
    # override (only reachable with invalid overlapping holes, but the
    # boolean-identity claim covers it — ADVICE r9)
    undecided = res.copy()
    for hole in prep[1:]:
        if not undecided.any():
            break
        onh, inh = ring_tests(hole)
        newly_in = undecided & ~onh & inh
        res &= ~newly_in
        undecided &= ~(onh | inh)
    return res


def point_in_polygon(pt, rings) -> bool:
    if not point_in_ring(pt, rings[0]):
        return False
    x, y = pt
    for hole in rings[1:]:
        if _pt_on_ring(x, y, hole):
            return True  # on hole boundary = on polygon boundary
        if point_in_ring(pt, hole):
            return False
    return True


def _segs(line):
    a = np.asarray(line, dtype="float64")
    return a[:-1], a[1:]


def segments_intersect_any(line1, line2) -> bool:
    """Any segment of line1 properly or improperly intersects any of line2."""
    p1, p2 = _segs(line1)
    q1, q2 = _segs(line2)
    # vectorized orientation tests: for each pair (i, j)
    def cross(o, a, b):
        return (a[..., 0] - o[..., 0]) * (b[..., 1] - o[..., 1]) - (
            a[..., 1] - o[..., 1]) * (b[..., 0] - o[..., 0])

    P1 = p1[:, None, :]
    P2 = p2[:, None, :]
    Q1 = q1[None, :, :]
    Q2 = q2[None, :, :]
    d1 = cross(Q1, Q2, P1)
    d2 = cross(Q1, Q2, P2)
    d3 = cross(P1, P2, Q1)
    d4 = cross(P1, P2, Q2)
    proper = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))
    if proper.any():
        return True

    def on_seg(o, e, p):
        return (
            (np.minimum(o[..., 0], e[..., 0]) - 1e-12 <= p[..., 0])
            & (p[..., 0] <= np.maximum(o[..., 0], e[..., 0]) + 1e-12)
            & (np.minimum(o[..., 1], e[..., 1]) - 1e-12 <= p[..., 1])
            & (p[..., 1] <= np.maximum(o[..., 1], e[..., 1]) + 1e-12)
        )

    collin = (
        ((np.abs(d1) < 1e-12) & on_seg(Q1, Q2, P1))
        | ((np.abs(d2) < 1e-12) & on_seg(Q1, Q2, P2))
        | ((np.abs(d3) < 1e-12) & on_seg(P1, P2, Q1))
        | ((np.abs(d4) < 1e-12) & on_seg(P1, P2, Q2))
    )
    return bool(collin.any())


def _bbox_disjoint(g1, g2) -> bool:
    e1, e2 = envelope(g1), envelope(g2)
    if e1 is None or e2 is None:  # empty geometry touches nothing
        return True
    return e1[2] < e2[0] or e2[2] < e1[0] or e1[3] < e2[1] or e2[3] < e1[1]


def intersects(g1, g2) -> bool:
    # decompose collections so every pairwise branch below sees concrete
    # component types (a GC fell through the type guards and returned
    # False regardless of its contents)
    if g1[0] == "GeometryCollection":
        return any(intersects(g, g2) for g in g1[1])
    if g2[0] == "GeometryCollection":
        return any(intersects(g1, g) for g in g2[1])
    if _bbox_disjoint(g1, g2):
        return False
    polys1, polys2 = _polygons(g1), _polygons(g2)
    pts1, pts2 = (g1[0] in ("Point", "MultiPoint")), (g2[0] in ("Point", "MultiPoint"))
    lines1 = _lines(g1) if g1[0] in ("LineString", "MultiLineString") else []
    lines2 = _lines(g2) if g2[0] in ("LineString", "MultiLineString") else []

    # point vs X
    if pts1:
        return any(_point_hits(pt, g2) for pt in _points(g1))
    if pts2:
        return any(_point_hits(pt, g1) for pt in _points(g2))

    # line vs line
    if lines1 and lines2:
        return any(segments_intersect_any(l1, l2) for l1 in lines1 for l2 in lines2)
    # line vs polygon
    if lines1 and polys2:
        return _line_poly_intersects(lines1, polys2)
    if lines2 and polys1:
        return _line_poly_intersects(lines2, polys1)
    # polygon vs polygon
    for pa in polys1:
        for pb in polys2:
            if point_in_polygon(pa[0][0], pb) or point_in_polygon(pb[0][0], pa):
                return True
            if any(segments_intersect_any(ra, rb) for ra in pa for rb in pb):
                return True
    return False


def _point_hits(pt, g) -> bool:
    for rings in _polygons(g):
        if point_in_polygon(pt, rings):
            return True
    for line in (_lines(g) if g[0] in ("LineString", "MultiLineString") else []):
        a = np.asarray(line, dtype="float64")
        if _pts_to_segs_dist(np.array([pt], dtype="float64"), a)[0] < 1e-12:
            return True
    for p in (_points(g) if g[0] in ("Point", "MultiPoint") else []):
        if abs(p[0] - pt[0]) < 1e-12 and abs(p[1] - pt[1]) < 1e-12:
            return True
    return False


def _line_poly_intersects(lines, polys) -> bool:
    for line in lines:
        for rings in polys:
            if any(point_in_polygon(tuple(p), rings) for p in line):
                return True
            if any(segments_intersect_any(line, r) for r in rings):
                return True
    return False


def contains(g1, g2) -> bool:
    """g1 contains g2 (boundary-inclusive 'covers' semantics for robustness;
    the reference exposes both st_contains and st_covers — we map both here
    and note the open-boundary distinction as a divergence)."""
    if _bbox_disjoint(g1, g2):
        return False
    polys1 = _polygons(g1)
    if not polys1:
        return False
    for pt in _points(g2):
        if not any(point_in_polygon(tuple(pt), rings) for rings in polys1):
            return False
    # all vertices inside; for line/polygon arguments also require no edge
    # crossing out through a hole or concavity
    if g2[0] not in ("Point", "MultiPoint"):
        for rings in polys1:
            for line in _lines(g2):
                for hole in rings[1:]:
                    if segments_intersect_any(line, hole):
                        return False
    return True


def within(g1, g2) -> bool:
    return contains(g2, g1)


def disjoint(g1, g2) -> bool:
    return not intersects(g1, g2)


def equals(g1, g2) -> bool:
    if g1[0] != g2[0]:
        return False
    return wkb_dumps(g1) == wkb_dumps(g2) or (
        abs(area(g1) - area(g2)) < 1e-12 and contains(g1, g2) and contains(g2, g1)
        if _polygons(g1) else _points_eq(g1, g2)
    )


def _points_eq(g1, g2):
    p1, p2 = _points(g1), _points(g2)
    return len(p1) == len(p2) and all(
        abs(a[0] - b[0]) < 1e-12 and abs(a[1] - b[1]) < 1e-12 for a, b in zip(p1, p2)
    )


# ---------------------------------------------------------------------------
# Distance
# ---------------------------------------------------------------------------


def _pts_to_segs_dist(pts: np.ndarray, line: np.ndarray) -> np.ndarray:
    """Min distance from each point to polyline (vectorized)."""
    a, b = line[:-1], line[1:]
    ab = b - a  # (S,2)
    ap = pts[:, None, :] - a[None, :, :]  # (P,S,2)
    denom = (ab ** 2).sum(axis=1)  # (S,)
    denom = np.where(denom == 0, 1, denom)
    t = np.clip((ap * ab[None, :, :]).sum(axis=2) / denom[None, :], 0, 1)  # (P,S)
    proj = a[None, :, :] + t[..., None] * ab[None, :, :]
    d = np.sqrt(((pts[:, None, :] - proj) ** 2).sum(axis=2))
    return d.min(axis=1)


def distance(g1, g2) -> float:
    if g1[0] == "GeometryCollection":
        return min((distance(g, g2) for g in g1[1]), default=math.inf)
    if g2[0] == "GeometryCollection":
        return min((distance(g1, g) for g in g2[1]), default=math.inf)
    if intersects(g1, g2):
        return 0.0
    best = math.inf
    lines1 = _all_lines_or_points(g1)
    lines2 = _all_lines_or_points(g2)
    for kind1, data1 in lines1:
        for kind2, data2 in lines2:
            if kind1 == "pt" and kind2 == "pt":
                d = float(np.sqrt(((data1 - data2) ** 2).sum()))
            elif kind1 == "pt":
                d = float(_pts_to_segs_dist(data1[None, :], data2)[0])
            elif kind2 == "pt":
                d = float(_pts_to_segs_dist(data2[None, :], data1)[0])
            else:
                d = min(
                    float(_pts_to_segs_dist(data1, data2).min()),
                    float(_pts_to_segs_dist(data2, data1).min()),
                )
            best = min(best, d)
    return best


def _all_lines_or_points(g):
    """Points and lines (rings) of ``g`` as arrays; empty parts are left
    out, so the distance to an empty geometry is inf."""
    out = []
    gtype = g[0]
    if gtype in ("Point", "MultiPoint"):
        for p in _points(g):
            if len(p):
                out.append(("pt", np.asarray(p, dtype="float64")))
    elif gtype in ("LineString", "MultiLineString"):
        for l in _lines(g):
            if len(l):
                out.append(("line", np.asarray(l, dtype="float64")))
    else:
        for rings in _polygons(g):
            for r in rings:
                if len(r):
                    out.append(("line", np.asarray(r, dtype="float64")))
    return out


EARTH_RADIUS_M = 6371008.8


def distance_sphere(p1, p2) -> float:
    """Haversine distance in meters between two lon/lat points."""
    lon1, lat1, lon2, lat2 = map(math.radians, (p1[0], p1[1], p2[0], p2[1]))
    dlat, dlon = lat2 - lat1, lon2 - lon1
    h = math.sin(dlat / 2) ** 2 + math.cos(lat1) * math.cos(lat2) * math.sin(dlon / 2) ** 2
    return 2 * EARTH_RADIUS_M * math.asin(math.sqrt(h))


# ---------------------------------------------------------------------------
# Transforms / constructors
# ---------------------------------------------------------------------------


def translate(geom, dx, dy):
    gtype, body = geom
    if not body:
        return geom  # translating an empty geometry is a no-op
    if gtype == "Point":
        return (gtype, (body[0] + dx, body[1] + dy))
    if gtype in ("LineString", "MultiPoint"):
        return (gtype, [(x + dx, y + dy) for x, y in body])
    if gtype in ("Polygon", "MultiLineString"):
        return (gtype, [[(x + dx, y + dy) for x, y in part] for part in body])
    if gtype == "MultiPolygon":
        return (gtype, [[[(x + dx, y + dy) for x, y in r] for r in poly] for poly in body])
    return (gtype, [translate(g, dx, dy) for g in body])


def box_polygon(xmin, ymin, xmax, ymax):
    return ("Polygon", [[(xmin, ymin), (xmax, ymin), (xmax, ymax), (xmin, ymax), (xmin, ymin)]])


def buffer_point_geodesic(pt, radius_m, segments=64):
    """Geodesic point buffer: ring of points at constant great-circle
    distance ``radius_m`` METERS from a lon/lat point (spherical direct
    formula — the geomesa st_bufferPoint contract, which takes meters,
    not degrees)."""
    lon, lat = math.radians(pt[0]), math.radians(pt[1])
    d = radius_m / EARTH_RADIUS_M
    ring = []
    for i in range(segments + 1):
        th = 2 * math.pi * i / segments
        lat2 = math.asin(math.sin(lat) * math.cos(d)
                         + math.cos(lat) * math.sin(d) * math.cos(th))
        lon2 = lon + math.atan2(
            math.sin(th) * math.sin(d) * math.cos(lat),
            math.cos(d) - math.sin(lat) * math.sin(lat2))
        ring.append((math.degrees(lon2), math.degrees(lat2)))
    ring[-1] = ring[0]
    return ("Polygon", [ring])


_GEOHASH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash(lon, lat, precision=12) -> str:
    lat_r, lon_r = [-90.0, 90.0], [-180.0, 180.0]
    bits, bit, even = 0, 0, True
    out = []
    while len(out) < precision:
        if even:
            mid = (lon_r[0] + lon_r[1]) / 2
            if lon >= mid:
                bits = (bits << 1) | 1
                lon_r[0] = mid
            else:
                bits <<= 1
                lon_r[1] = mid
        else:
            mid = (lat_r[0] + lat_r[1]) / 2
            if lat >= mid:
                bits = (bits << 1) | 1
                lat_r[0] = mid
            else:
                bits <<= 1
                lat_r[1] = mid
        even = not even
        bit += 1
        if bit == 5:
            out.append(_GEOHASH32[bits])
            bits, bit = 0, 0
    return "".join(out)

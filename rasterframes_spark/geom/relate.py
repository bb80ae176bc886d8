"""DE-9IM-lite topological relate engine.

Parity target: the reference maps ``st_intersects/contains/covers/crosses/
overlaps/touches/within/relate`` to JTS via Catalyst expressions
(``core/src/main/scala/org/locationtech/rasterframes/expressions/
SpatialRelation.scala:74-114``).  This module re-derives the same DE-9IM
semantics over the pure-python geometry core (the environment has no
shapely/GEOS).

Method — adaptive boundary sampling:

* Each geometry's 1-D carrier paths (polygon rings, linestring paths) are
  split at every intersection with the *other* geometry's carrier segments
  (including collinear-overlap endpoints).  After splitting, the interior of
  every sub-segment lies in exactly one of the other geometry's three
  point-set classes (Interior / Boundary / Exterior), so its midpoint
  classifies the whole piece ("arc" sample, dim 1); split points and
  vertices are point samples (dim 0).
* 2-D interiors are probed with a representative interior point per polygon
  part (scanline midpoint) plus hole representatives, and completed by an
  open-set propagation rule: a boundary sample lying strictly inside an
  *open* region of the other geometry (its exterior, or a polygon interior)
  implies the adjacent 2-D interior/exterior neighborhoods meet that region.
* Cell dimensions are capped at ``min(dim(region_A), dim(region_B))``.

All predicates (contains, covers, touches, crosses, overlaps, relate
pattern matching) are then pattern reads of the 9-char matrix, matching
JTS/OGC definitions.
"""

from __future__ import annotations

from collections import Counter

import numpy as np

from rasterframes_spark.geom import core as C

EPS = 1e-9


def dim(g) -> int:
    t = g[0]
    if t in ("Point", "MultiPoint"):
        return 0
    if t in ("LineString", "MultiLineString"):
        return 1
    if t in ("Polygon", "MultiPolygon"):
        return 2
    return max((dim(x) for x in g[1]), default=0)


def _line_paths(g):
    t = g[0]
    if t == "LineString":
        return [g[1]]
    if t == "MultiLineString":
        return list(g[1])
    if t == "GeometryCollection":
        return [p for s in g[1] for p in _line_paths(s)]
    return []


def _carrier_paths(g):
    """All 1-D paths carrying the geometry: polygon rings + line paths."""
    return [r for rings in C._polygons(g) for r in rings] + _line_paths(g)


def _carrier_segments(g):
    starts, ends = [], []
    for path in _carrier_paths(g):
        a = np.asarray(path, dtype="float64")
        if len(a) >= 2:
            starts.append(a[:-1])
            ends.append(a[1:])
    if starts:
        return np.concatenate(starts), np.concatenate(ends)
    return np.zeros((0, 2)), np.zeros((0, 2))


def _boundary_endpoints(g):
    """OGC mod-2 boundary of 1-D components: endpoints used an odd number
    of times (a closed ring therefore has an empty boundary)."""
    cnt = Counter()
    for path in _line_paths(g):
        for p in (path[0], path[-1]):
            cnt[(round(float(p[0]), 9), round(float(p[1]), 9))] += 1
    return [k for k, v in cnt.items() if v % 2 == 1]


def _split_params(p, q, S, E):
    """Sorted params t in (0,1) where segment p->q meets any segment
    S[i]->E[i] — proper crossings plus collinear-overlap endpoints."""
    if not len(S):
        return []
    p = np.asarray(p, dtype="float64")
    q = np.asarray(q, dtype="float64")
    rx, ry = q[0] - p[0], q[1] - p[1]
    seglen2 = rx * rx + ry * ry
    if seglen2 <= 0:
        return []
    sx, sy = E[:, 0] - S[:, 0], E[:, 1] - S[:, 1]
    wx, wy = S[:, 0] - p[0], S[:, 1] - p[1]
    denom = rx * sy - ry * sx
    tnum = wx * sy - wy * sx
    unum = wx * ry - wy * rx
    scale = np.maximum(1.0, np.hypot(rx, ry) * np.hypot(sx, sy))
    nz = np.abs(denom) > EPS * scale
    ts = []
    with np.errstate(divide="ignore", invalid="ignore"):
        t = np.where(nz, tnum / np.where(nz, denom, 1.0), np.nan)
        u = np.where(nz, unum / np.where(nz, denom, 1.0), np.nan)
    ok = nz & (t > 1e-12) & (t < 1 - 1e-12) & (u >= -1e-12) & (u <= 1 + 1e-12)
    ts.extend(t[ok].tolist())
    # parallel & collinear: project the other segment's endpoints
    colin = (~nz) & (np.abs(unum) <= EPS * np.maximum(1.0, np.hypot(wx, wy) * np.hypot(rx, ry)))
    if colin.any():
        for ox, oy in ((S[colin, 0], S[colin, 1]), (E[colin, 0], E[colin, 1])):
            tv = ((ox - p[0]) * rx + (oy - p[1]) * ry) / seglen2
            ts.extend(tv[(tv > 1e-12) & (tv < 1 - 1e-12)].tolist())
    return sorted({round(float(tv), 12) for tv in ts})


def _rep_point(rings):
    """A point strictly interior to the polygon (scanline-midpoint probe)."""
    a = np.asarray(rings[0], dtype="float64")
    ymin, ymax = float(a[:, 1].min()), float(a[:, 1].max())
    if ymax - ymin <= 0:
        return None
    vys = sorted({float(y) for r in rings for _, y in r})
    for frac in (0.5, 0.37, 0.63, 0.21, 0.79, 0.11, 0.89, 0.031, 0.969):
        y = ymin + frac * (ymax - ymin)
        if any(abs(y - vy) <= 1e-9 * max(1.0, abs(vy)) for vy in vys):
            continue
        xs = []
        for r in rings:
            b = np.asarray(r, dtype="float64")
            x1, y1 = b[:-1, 0], b[:-1, 1]
            x2, y2 = b[1:, 0], b[1:, 1]
            m = (y1 > y) != (y2 > y)
            if m.any():
                xs.extend((x1[m] + (y - y1[m]) * (x2[m] - x1[m]) / (y2[m] - y1[m])).tolist())
        xs.sort()
        for i in range(0, len(xs) - 1, 2):
            if xs[i + 1] - xs[i] > 1e-12:
                cand = ((xs[i] + xs[i + 1]) / 2.0, y)
                if C.point_in_polygon(cand, rings):
                    return cand
    c = C.centroid(("Polygon", rings))
    return (float(c[0]), float(c[1]))


def _locate(pt, g) -> str:
    """Classify a point against a geometry: 'I'nterior / 'B'oundary / 'E'xterior."""
    t = g[0]
    if t == "GeometryCollection":
        best = "E"
        for sub in g[1]:
            c = _locate(pt, sub)
            if c == "I":
                return "I"
            if c == "B":
                best = "B"
        return best
    d = dim(g)
    arr = np.array([pt], dtype="float64")
    if d == 0:
        for p in C._points(g):
            if abs(p[0] - pt[0]) <= EPS and abs(p[1] - pt[1]) <= EPS:
                return "I"
        return "E"
    if d == 1:
        on = any(
            C._pts_to_segs_dist(arr, np.asarray(path, dtype="float64"))[0] <= EPS
            for path in _line_paths(g)
        )
        if not on:
            return "E"
        if any(abs(b[0] - pt[0]) <= EPS and abs(b[1] - pt[1]) <= EPS
               for b in _boundary_endpoints(g)):
            return "B"
        return "I"
    cls = "E"
    for rings in C._polygons(g):
        if any(C._pts_to_segs_dist(arr, np.asarray(r, dtype="float64"))[0] <= EPS
               for r in rings):
            cls = "B"
            continue
        if C.point_in_polygon(pt, rings):
            return "I"
    return cls


def _samples_of(g, other):
    """(pt, class-in-g, kind) samples covering g, refined against ``other``.
    kind: 0 = point, 1 = arc (uniform sub-segment), 2 = 2-D neighborhood."""
    out = []
    t = g[0]
    if t == "GeometryCollection":
        for sub in g[1]:
            out.extend(_samples_of(sub, other))
        return out
    d = dim(g)
    if d == 0:
        for p in C._points(g):
            out.append(((float(p[0]), float(p[1])), "I", 0))
        return out
    S, E = _carrier_segments(other)
    bpts = _boundary_endpoints(g) if d == 1 else []

    def rowclass(pt):
        if d == 2:
            return "B"
        if any(abs(pt[0] - b[0]) <= EPS and abs(pt[1] - b[1]) <= EPS for b in bpts):
            return "B"
        return "I"

    paths = ([r for rings in C._polygons(g) for r in rings] if d == 2 else _line_paths(g))
    for path in paths:
        a = np.asarray(path, dtype="float64")
        for i in range(len(a) - 1):
            p, q = a[i], a[i + 1]
            if p[0] == q[0] and p[1] == q[1]:
                continue
            ts = [0.0] + _split_params(p, q, S, E) + [1.0]
            pts = [(float(p[0] + tv * (q[0] - p[0])), float(p[1] + tv * (q[1] - p[1])))
                   for tv in ts]
            for j, ptv in enumerate(pts):
                out.append((ptv, rowclass(ptv), 0))
                if j + 1 < len(pts):
                    mid = ((ptv[0] + pts[j + 1][0]) / 2.0, (ptv[1] + pts[j + 1][1]) / 2.0)
                    out.append((mid, "B" if d == 2 else rowclass(mid), 1))
    if d == 2:
        for rings in C._polygons(g):
            rp = _rep_point(rings)
            if rp is not None:
                out.append((rp, "I", 2))
            for hole in rings[1:]:
                hp = _rep_point([hole])
                if hp is not None:
                    out.append((hp, _locate(hp, g), 2))
    return out


_IDX = {"I": 0, "B": 1, "E": 2}


def relate_matrix(g1, g2) -> str:
    """The DE-9IM matrix of g1 vs g2 as a 9-char string over {F,0,1,2},
    row-major ``[II IB IE / BI BB BE / EI EB EE]``."""
    d1, d2 = dim(g1), dim(g2)
    cells = [[-1] * 3 for _ in range(3)]
    regA = {"I": d1, "B": d1 - 1, "E": 2}
    regB = {"I": d2, "B": d2 - 1, "E": 2}

    def add(rc, cc, kind):
        ra, cb = regA[rc], regB[cc]
        if ra < 0 or cb < 0:
            return
        cap = min(ra, cb)
        dv = cap if kind == 2 else min(kind, cap)
        r, c = _IDX[rc], _IDX[cc]
        if dv > cells[r][c]:
            cells[r][c] = dv

    # an empty geometry gives no samples and holds no point: only the
    # other's parts meet it, in its exterior
    e1, e2 = C.envelope(g1) is None, C.envelope(g2) is None
    for pt, rc, kind in ([] if e1 else _samples_of(g1, g2)):
        add(rc, "E" if e2 else _locate(pt, g2), kind)
    for pt, cc, kind in ([] if e2 else _samples_of(g2, g1)):
        add("E" if e1 else _locate(pt, g1), cc, kind)
    # both geometries are bounded: the exteriors always share a 2-D region
    add("E", "E", 2)
    # open-set propagation (see module docstring)
    for cc in ("I", "E"):
        open_cc = cc == "E" or d2 == 2
        if cells[1][_IDX[cc]] >= 0 and open_cc:
            if d1 == 2:
                add("I", cc, 2)
            add("E", cc, 2)
    for rc in ("I", "E"):
        open_rc = rc == "E" or d1 == 2
        if cells[_IDX[rc]][1] >= 0 and open_rc:
            if d2 == 2:
                add(rc, "I", 2)
            add(rc, "E", 2)
    return "".join(
        "F" if cells[r][c] < 0 else str(cells[r][c]) for r in range(3) for c in range(3)
    )


def relate_pattern(g1, g2, pattern: str) -> bool:
    """JTS ``relate(g1, g2, pattern)``: T = non-empty, F = empty, * = any,
    0/1/2 = exact dimension."""
    m = relate_matrix(g1, g2)
    for mc, pc in zip(m, pattern):
        if pc in "*":
            continue
        if pc == "T":
            if mc == "F":
                return False
        elif mc != pc:
            return False
    return True


# ---------------------------------------------------------------------------
# predicates (pattern reads of the matrix; JTS/OGC definitions)
# ---------------------------------------------------------------------------


def contains(g1, g2) -> bool:
    """Strict OGC contains: interiors intersect and no part of g2 lies in
    g1's exterior (a geometry lying wholly in the boundary is NOT contained
    — that is ``covers``)."""
    m = relate_matrix(g1, g2)
    return m[0] != "F" and m[6] == "F" and m[7] == "F"


def within(g1, g2) -> bool:
    return contains(g2, g1)


def covers(g1, g2) -> bool:
    """No part of g2 in g1's exterior (boundary-inclusive containment)."""
    m = relate_matrix(g1, g2)
    inter = any(m[i] != "F" for i in (0, 1, 3, 4))
    return inter and m[6] == "F" and m[7] == "F"


def covered_by(g1, g2) -> bool:
    return covers(g2, g1)


def touches(g1, g2) -> bool:
    """Boundaries meet, interiors do not (false for point/point pairs,
    whose boundaries are empty)."""
    m = relate_matrix(g1, g2)
    return m[0] == "F" and (m[1] != "F" or m[3] != "F" or m[4] != "F")


def crosses(g1, g2) -> bool:
    d1, d2 = dim(g1), dim(g2)
    m = relate_matrix(g1, g2)
    if d1 < d2:
        return m[0] != "F" and m[2] != "F"
    if d1 > d2:
        return m[0] != "F" and m[6] != "F"
    if d1 == 1:
        return m[0] == "0"
    return False


def overlaps(g1, g2) -> bool:
    d1, d2 = dim(g1), dim(g2)
    if d1 != d2:
        return False
    m = relate_matrix(g1, g2)
    if d1 == 1:
        return m[0] == "1" and m[2] != "F" and m[6] != "F"
    return m[0] != "F" and m[2] != "F" and m[6] != "F"


def equals_topo(g1, g2) -> bool:
    m = relate_matrix(g1, g2)
    return (m[0] != "F" and m[2] == "F" and m[5] == "F"
            and m[6] == "F" and m[7] == "F")

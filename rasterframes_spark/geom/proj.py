"""CRS handling and reprojection — pure math, no pyproj.

The reference parses proj4/EPSG strings lazily (``core/.../model/LazyCRS.scala``)
and reprojects via GeoTrellis (``transformers/ReprojectGeometry.scala:52-105``).
This engine supports the CRS family its workflows actually use:

- EPSG:4326 (WGS84 lon/lat)
- EPSG:3857 (Web/Spherical Mercator)
- EPSG:326xx / 327xx (WGS84 UTM north/south) via the standard Transverse
  Mercator series (Snyder 1987 / Karney-lite, <1 mm against PROJ for
  in-zone coordinates)

CRS values are plain strings; unknown-but-equal strings still work for all
same-CRS operations (reprojection between two unknown CRSs raises).
"""

from __future__ import annotations

import math
import re

import numpy as np

from rasterframes_spark.geom.core import _points

WGS84_A = 6378137.0
WGS84_F = 1 / 298.257223563
WGS84_E2 = WGS84_F * (2 - WGS84_F)


def normalize_crs(crs: str) -> str:
    c = crs.strip().lower().replace(" ", "")
    if c in ("epsg:4326", "+proj=longlat+datum=wgs84+no_defs", "wgs84", "crs84", "ogc:crs84"):
        return "epsg:4326"
    if c in ("epsg:3857", "epsg:900913", "webmercator"):
        return "epsg:3857"
    m = re.match(r"^epsg:(32[67])(\d\d)$", c)
    if m:
        return c
    m = re.match(r"^\+proj=utm\+zone=(\d+)(\+south)?", c)
    if m:
        zone = int(m.group(1))
        return f"epsg:{327 if m.group(2) else 326}{zone:02d}"
    return c


def crs_equal(a: str, b: str) -> bool:
    return normalize_crs(a) == normalize_crs(b)


def _to_wgs84(x: np.ndarray, y: np.ndarray, crs: str):
    crs = normalize_crs(crs)
    if crs == "epsg:4326":
        return x, y
    if crs == "epsg:3857":
        lon = x / (WGS84_A * math.pi) * 180.0
        lat = np.degrees(2 * np.arctan(np.exp(y / WGS84_A)) - math.pi / 2)
        return lon, lat
    m = re.match(r"^epsg:(32[67])(\d\d)$", crs)
    if m:
        zone, south = int(m.group(2)), m.group(1) == "327"
        return _utm_to_ll(x, y, zone, south)
    raise ValueError(f"unsupported CRS: {crs}")


def _from_wgs84(lon: np.ndarray, lat: np.ndarray, crs: str):
    crs = normalize_crs(crs)
    if crs == "epsg:4326":
        return lon, lat
    if crs == "epsg:3857":
        x = np.asarray(lon) * WGS84_A * math.pi / 180.0
        y = WGS84_A * np.log(np.tan(math.pi / 4 + np.radians(np.asarray(lat)) / 2))
        return x, y
    m = re.match(r"^epsg:(32[67])(\d\d)$", crs)
    if m:
        zone, south = int(m.group(2)), m.group(1) == "327"
        return _ll_to_utm(lon, lat, zone, south)
    raise ValueError(f"unsupported CRS: {crs}")


def transform_points(x, y, src_crs: str, dst_crs: str):
    """Vectorized coordinate transform via WGS84 hub."""
    x = np.asarray(x, dtype="float64")
    y = np.asarray(y, dtype="float64")
    if crs_equal(src_crs, dst_crs):
        return x, y
    lon, lat = _to_wgs84(x, y, src_crs)
    return _from_wgs84(lon, lat, dst_crs)


# -- Transverse Mercator (UTM) series, Snyder 1987 eq. 8-9..8-25 -------------

_K0 = 0.9996
_E2 = WGS84_E2
_EP2 = _E2 / (1 - _E2)


def _ll_to_utm(lon, lat, zone, south):
    lon = np.radians(np.asarray(lon, dtype="float64"))
    lat = np.radians(np.asarray(lat, dtype="float64"))
    lon0 = math.radians(-183 + 6 * zone)
    N = WGS84_A / np.sqrt(1 - _E2 * np.sin(lat) ** 2)
    T = np.tan(lat) ** 2
    C = _EP2 * np.cos(lat) ** 2
    A = np.cos(lat) * (lon - lon0)
    M = WGS84_A * (
        (1 - _E2 / 4 - 3 * _E2**2 / 64 - 5 * _E2**3 / 256) * lat
        - (3 * _E2 / 8 + 3 * _E2**2 / 32 + 45 * _E2**3 / 1024) * np.sin(2 * lat)
        + (15 * _E2**2 / 256 + 45 * _E2**3 / 1024) * np.sin(4 * lat)
        - (35 * _E2**3 / 3072) * np.sin(6 * lat)
    )
    easting = _K0 * N * (A + (1 - T + C) * A**3 / 6
                         + (5 - 18 * T + T**2 + 72 * C - 58 * _EP2) * A**5 / 120) + 500000.0
    northing = _K0 * (M + N * np.tan(lat) * (
        A**2 / 2 + (5 - T + 9 * C + 4 * C**2) * A**4 / 24
        + (61 - 58 * T + T**2 + 600 * C - 330 * _EP2) * A**6 / 720))
    if south:
        northing = northing + 10000000.0
    return easting, northing


def _utm_to_ll(easting, northing, zone, south):
    x = np.asarray(easting, dtype="float64") - 500000.0
    y = np.asarray(northing, dtype="float64")
    if south:
        y = y - 10000000.0
    lon0 = math.radians(-183 + 6 * zone)
    M = y / _K0
    mu = M / (WGS84_A * (1 - _E2 / 4 - 3 * _E2**2 / 64 - 5 * _E2**3 / 256))
    e1 = (1 - math.sqrt(1 - _E2)) / (1 + math.sqrt(1 - _E2))
    phi1 = mu + (3 * e1 / 2 - 27 * e1**3 / 32) * np.sin(2 * mu) \
        + (21 * e1**2 / 16 - 55 * e1**4 / 32) * np.sin(4 * mu) \
        + (151 * e1**3 / 96) * np.sin(6 * mu) \
        + (1097 * e1**4 / 512) * np.sin(8 * mu)
    N1 = WGS84_A / np.sqrt(1 - _E2 * np.sin(phi1) ** 2)
    T1 = np.tan(phi1) ** 2
    C1 = _EP2 * np.cos(phi1) ** 2
    R1 = WGS84_A * (1 - _E2) / (1 - _E2 * np.sin(phi1) ** 2) ** 1.5
    D = x / (N1 * _K0)
    lat = phi1 - (N1 * np.tan(phi1) / R1) * (
        D**2 / 2 - (5 + 3 * T1 + 10 * C1 - 4 * C1**2 - 9 * _EP2) * D**4 / 24
        + (61 + 90 * T1 + 298 * C1 + 45 * T1**2 - 252 * _EP2 - 3 * C1**2) * D**6 / 720)
    lon = lon0 + (D - (1 + 2 * T1 + C1) * D**3 / 6
                  + (5 - 2 * C1 + 28 * T1 - 3 * C1**2 + 8 * _EP2 + 24 * T1**2) * D**5 / 120) / np.cos(phi1)
    return np.degrees(lon), np.degrees(lat)


def transform_geoms(geoms, src_crs: str, dst_crs: str) -> list:
    """Reproject geometry tuples (densify-free; vertices only, like JTS)
    with one ``transform_points`` call over all their vertices."""
    pts = [p for g in geoms for p in _points(g)]
    if not pts:
        return list(geoms)
    a = np.asarray(pts, dtype="float64")
    x, y = transform_points(a[:, 0], a[:, 1], src_crs, dst_crs)
    it = zip(x.tolist(), y.tolist())
    return [_with_points(g, it) for g in geoms]


def _with_points(geom, it):
    """``geom`` with its vertices, in ``core._points`` order, taken from
    ``it``."""
    gtype, body = geom
    if gtype == "Point":
        return (gtype, next(it) if body else body)
    if gtype in ("LineString", "MultiPoint"):
        return (gtype, [next(it) for _ in body])
    if gtype in ("Polygon", "MultiLineString"):
        return (gtype, [[next(it) for _ in part] for part in body])
    if gtype == "MultiPolygon":
        return (gtype, [[[next(it) for _ in r] for r in poly] for poly in body])
    return (gtype, [_with_points(g, it) for g in body])


def transform_extent(extent: tuple, src_crs: str, dst_crs: str) -> tuple:
    """Reproject an extent by transforming a 7x7 boundary sample and taking
    the bbox (GeoTrellis ReprojectRasterExtent-style densified edge)."""
    xmin, ymin, xmax, ymax = extent
    xs = np.linspace(xmin, xmax, 7)
    ys = np.linspace(ymin, ymax, 7)
    bx = np.concatenate([xs, xs, np.full(7, xmin), np.full(7, xmax)])
    by = np.concatenate([np.full(7, ymin), np.full(7, ymax), ys, ys])
    tx, ty = transform_points(bx, by, src_crs, dst_crs)
    return (float(tx.min()), float(ty.min()), float(tx.max()), float(ty.max()))

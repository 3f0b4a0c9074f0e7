"""From-scratch geometry kernel (pure numpy + stdlib struct).

The reference ships every geometry operation to PostGIS per row
(ST_Contains/ST_Crosses at MunicipalityJobs.java:292, ST_Covers at
TheoreticalHousenumbers.java:880, ST_Union at MunicipalityArea.java:517-537,
ST_LineMerge at OSMStreet.java:169, ST_Centroid at
TheoreticalHousenumbers.java:858-867 — all under /root/reference/src). No
geometry library is available in this environment, so the engine implements
the needed predicates itself, vectorized over numpy arrays, and runs them
inside Arrow-batched pandas UDFs only on *cell-join candidates* (the refine
step), never on the full fact table.

Geometry model
--------------
- ``Polygon``: list of rings; ring = float64 array (n, 2) of (lon, lat),
  closed (first == last). Ring 0 = exterior, rest = holes.
- ``MultiPolygon``: list of Polygons.
- ``LineString``: float64 array (n, 2).
- WKB: standard OGC well-known binary, little-endian, 2D, geometry types
  1 (Point), 2 (LineString), 3 (Polygon), 6 (MultiPolygon) — enough for the
  reference's data model (dbstructure.sql geometry columns).

Predicate semantics (matched to the PostGIS calls the reference makes):
- ``covers``  — boundary-inclusive point-in-polygon (ST_Covers).
- ``contains_point`` — boundary-exclusive (ST_Contains for points).
- line vs polygon (ST_Contains OR ST_Crosses of MunicipalityJobs.java:292)
  is the JVM expression ``pip_join.seg_crossing_expr``; its numpy oracle is
  tests/geo_oracle.py.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

import numpy as np

_WKB_POINT = 1
_WKB_LINESTRING = 2
_WKB_POLYGON = 3
_WKB_MULTIPOLYGON = 6
_LE = 1


@dataclass
class Polygon:
    rings: list[np.ndarray] = field(default_factory=list)  # each (n,2), closed

    @property
    def exterior(self) -> np.ndarray:
        return self.rings[0]

    def bbox(self) -> tuple[float, float, float, float]:
        ext = self.rings[0]
        return (
            float(ext[:, 0].min()),
            float(ext[:, 1].min()),
            float(ext[:, 0].max()),
            float(ext[:, 1].max()),
        )


@dataclass
class MultiPolygon:
    polygons: list[Polygon] = field(default_factory=list)

    def bbox(self) -> tuple[float, float, float, float]:
        bs = np.array([p.bbox() for p in self.polygons])
        return (
            float(bs[:, 0].min()),
            float(bs[:, 1].min()),
            float(bs[:, 2].max()),
            float(bs[:, 3].max()),
        )


# ---------------------------------------------------------------------------
# WKB
# ---------------------------------------------------------------------------

def _close_ring(ring: np.ndarray) -> np.ndarray:
    ring = np.asarray(ring, dtype=np.float64).reshape(-1, 2)
    if len(ring) and not np.array_equal(ring[0], ring[-1]):
        ring = np.vstack([ring, ring[:1]])
    return ring


def point_wkb(lon: float, lat: float) -> bytes:
    return struct.pack("<BIdd", _LE, _WKB_POINT, lon, lat)


def linestring_wkb(coords: np.ndarray) -> bytes:
    coords = np.asarray(coords, dtype=np.float64).reshape(-1, 2)
    return (
        struct.pack("<BII", _LE, _WKB_LINESTRING, len(coords))
        + coords.astype("<f8").tobytes()
    )


def polygon_wkb(rings: list[np.ndarray]) -> bytes:
    rings = [_close_ring(r) for r in rings]
    out = struct.pack("<BII", _LE, _WKB_POLYGON, len(rings))
    for r in rings:
        out += struct.pack("<I", len(r)) + r.astype("<f8").tobytes()
    return out


def multipolygon_wkb(polys: list[list[np.ndarray]]) -> bytes:
    out = struct.pack("<BII", _LE, _WKB_MULTIPOLYGON, len(polys))
    for rings in polys:
        out += polygon_wkb(rings)
    return out


def box_wkb(lon_min: float, lat_min: float, lon_max: float, lat_max: float) -> bytes:
    """Axis-aligned rectangle polygon (CCW exterior)."""
    ring = np.array(
        [
            [lon_min, lat_min],
            [lon_max, lat_min],
            [lon_max, lat_max],
            [lon_min, lat_max],
            [lon_min, lat_min],
        ]
    )
    return polygon_wkb([ring])


def parse_wkb(buf: bytes | bytearray | memoryview):
    """Parse WKB → ('point', (x,y)) | ('linestring', arr) | Polygon | MultiPolygon."""
    geom, off = _parse_at(memoryview(bytes(buf)), 0)
    return geom


def _parse_at(mv: memoryview, off: int):
    byte_order = mv[off]
    fmt = "<" if byte_order == 1 else ">"
    (gtype_raw,) = struct.unpack_from(fmt + "I", mv, off + 1)
    off += 5
    # EWKB (PostGIS) flag bits and ISO/SQL-MM +1000/+2000 type offsets:
    # both declare extra Z/M ordinates per coordinate, and EWKB's SRID
    # flag means 4 extra header bytes — all of which must be CONSUMED,
    # not just masked off, or every later offset is garbage
    has_srid = bool(gtype_raw & 0x20000000)
    ewkb_z = bool(gtype_raw & 0x80000000)
    ewkb_m = bool(gtype_raw & 0x40000000)
    base = gtype_raw & 0x0FFFFFFF
    iso = base // 1000  # 0 plain, 1 Z, 2 M, 3 ZM
    gtype = base % 1000
    ndims = 2 + int(ewkb_z or iso in (1, 3)) + int(ewkb_m or iso in (2, 3))
    if has_srid:
        off += 4  # embedded SRID (EWKB)

    def coords(n: int, off: int) -> tuple[np.ndarray, int]:
        arr = np.frombuffer(
            mv, dtype=fmt + "f8", count=ndims * n, offset=off
        ).reshape(n, ndims)
        return arr[:, :2].copy(), off + 8 * ndims * n

    if gtype == _WKB_POINT:
        pt, off = coords(1, off)
        return ("point", (float(pt[0, 0]), float(pt[0, 1]))), off
    if gtype == _WKB_LINESTRING:
        (n,) = struct.unpack_from(fmt + "I", mv, off)
        arr, off = coords(n, off + 4)
        return ("linestring", arr), off
    if gtype == _WKB_POLYGON:
        (nr,) = struct.unpack_from(fmt + "I", mv, off)
        off += 4
        rings = []
        for _ in range(nr):
            (n,) = struct.unpack_from(fmt + "I", mv, off)
            ring, off = coords(n, off + 4)
            rings.append(ring)
        return Polygon(rings), off
    if gtype == _WKB_MULTIPOLYGON:
        (np_,) = struct.unpack_from(fmt + "I", mv, off)
        off += 4
        polys = []
        for _ in range(np_):
            poly, off = _parse_at(mv, off)
            polys.append(poly)
        return MultiPolygon(polys), off
    raise ValueError(f"unsupported WKB geometry type {gtype}")


def to_polygons(geom) -> list[Polygon]:
    """Normalize a parsed geometry to a list of Polygons."""
    if isinstance(geom, Polygon):
        return [geom]
    if isinstance(geom, MultiPolygon):
        return geom.polygons
    raise TypeError(f"not an areal geometry: {type(geom)}")


# ---------------------------------------------------------------------------
# predicates (vectorized over many points / one polygon)
# ---------------------------------------------------------------------------

def _points_in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Ray-cast (crossing number) — strictly-inside test, boundary excluded.

    Vectorized: O(n_points × n_edges) numpy ops, evaluated edge-blockwise.
    """
    x0 = ring[:-1, 0][None, :]
    y0 = ring[:-1, 1][None, :]
    x1 = ring[1:, 0][None, :]
    y1 = ring[1:, 1][None, :]
    px = px[:, None]
    py = py[:, None]
    cond = (y0 <= py) != (y1 <= py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x0 + (py - y0) * (x1 - x0) / (y1 - y0)
    crossings = np.sum(cond & (px < xint), axis=1)
    return (crossings % 2).astype(bool)


def _points_on_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray, eps: float = 1e-12) -> np.ndarray:
    """True where a point lies on a ring segment (within eps, degrees)."""
    x0 = ring[:-1, 0][None, :]
    y0 = ring[:-1, 1][None, :]
    x1 = ring[1:, 0][None, :]
    y1 = ring[1:, 1][None, :]
    px_ = px[:, None]
    py_ = py[:, None]
    dx = x1 - x0
    dy = y1 - y0
    seg_len2 = dx * dx + dy * dy
    with np.errstate(divide="ignore", invalid="ignore"):
        t = np.where(seg_len2 > 0, ((px_ - x0) * dx + (py_ - y0) * dy) / seg_len2, 0.0)
    t = np.clip(t, 0.0, 1.0)
    cx = x0 + t * dx
    cy = y0 + t * dy
    d2 = (px_ - cx) ** 2 + (py_ - cy) ** 2
    return np.any(d2 <= eps * eps, axis=1)


def covers(poly: Polygon | MultiPolygon, px: np.ndarray, py: np.ndarray) -> np.ndarray:
    """ST_Covers semantics: inside OR on boundary. Vectorized over points."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    out = np.zeros(len(px), dtype=bool)
    for p in to_polygons(poly):
        inside = _points_in_ring(px, py, p.rings[0])
        for hole in p.rings[1:]:
            inside &= ~_points_in_ring(px, py, hole)
        on_b = _points_on_ring(px, py, p.rings[0])
        for hole in p.rings[1:]:
            on_b |= _points_on_ring(px, py, hole)
        out |= inside | on_b
    return out


def contains_point(poly: Polygon | MultiPolygon, px: np.ndarray, py: np.ndarray) -> np.ndarray:
    """ST_Contains for points: strictly inside (boundary excluded)."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    out = np.zeros(len(px), dtype=bool)
    for p in to_polygons(poly):
        inside = _points_in_ring(px, py, p.rings[0])
        for hole in p.rings[1:]:
            hole_strict = _points_in_ring(px, py, hole) | _points_on_ring(px, py, hole)
            inside &= ~hole_strict
        on_b = _points_on_ring(px, py, p.rings[0])
        out |= inside & ~on_b
    return out


# ---------------------------------------------------------------------------
# constructive ops
# ---------------------------------------------------------------------------

def ring_area(ring: np.ndarray) -> float:
    """Signed shoelace area (degrees²); CCW positive."""
    x = ring[:, 0]
    y = ring[:, 1]
    return 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


def polygon_centroid(poly: Polygon | MultiPolygon) -> tuple[float, float]:
    """Area-weighted centroid (ST_Centroid parity for label points,
    TheoreticalHousenumbers.java:856-869)."""
    cx = cy = area = 0.0
    for p in to_polygons(poly):
        for i, ring in enumerate(p.rings):
            a = ring_area(ring)
            if i > 0:
                a = -abs(a)  # holes subtract
            else:
                a = abs(a)
            x = ring[:, 0]
            y = ring[:, 1]
            cross = x[:-1] * y[1:] - x[1:] * y[:-1]
            sgn = 1.0 if ring_area(ring) >= 0 else -1.0
            cxi = float(np.sum((x[:-1] + x[1:]) * cross)) / 6.0 * sgn
            cyi = float(np.sum((y[:-1] + y[1:]) * cross)) / 6.0 * sgn
            cx += cxi if a >= 0 else -cxi
            cy += cyi if a >= 0 else -cyi
            area += a
    if area == 0:
        ext = to_polygons(poly)[0].rings[0]
        return float(ext[:, 0].mean()), float(ext[:, 1].mean())
    return cx / area, cy / area


def linemerge(lines: list[np.ndarray]) -> list[np.ndarray]:
    """Merge linestrings sharing endpoints into maximal paths.

    From-scratch ST_LineMerge parity (OSMStreet.java:139-190 calls PostGIS
    iteratively per segment; here it is one endpoint-graph stitch per street
    group). Deterministic: seeds are processed in input order.
    """
    segs = [np.asarray(l, dtype=np.float64).reshape(-1, 2) for l in lines if len(l) >= 2]
    if not segs:
        return []

    def key(pt: np.ndarray) -> tuple[float, float]:
        return (round(float(pt[0]), 9), round(float(pt[1]), 9))

    endpoints: dict[tuple[float, float], list[int]] = {}
    for i, s in enumerate(segs):
        for pt in (s[0], s[-1]):
            endpoints.setdefault(key(pt), []).append(i)

    used = [False] * len(segs)
    out: list[np.ndarray] = []
    for seed in range(len(segs)):
        if used[seed]:
            continue
        used[seed] = True
        chain = segs[seed]
        # extend forward then backward until no unique continuation
        for direction in (1, -1):
            while True:
                end = chain[-1] if direction == 1 else chain[0]
                cands = [j for j in endpoints.get(key(end), []) if not used[j]]
                if len(cands) != 1:
                    break
                j = cands[0]
                nxt = segs[j]
                if key(nxt[0]) == key(end):
                    piece = nxt[1:]
                elif key(nxt[-1]) == key(end):
                    piece = nxt[::-1][1:]
                else:
                    break
                used[j] = True
                chain = np.vstack([chain, piece]) if direction == 1 else np.vstack(
                    [piece[::-1], chain]
                )
        out.append(chain)
    return out


def union_as_multipolygon(wkbs: list[bytes]) -> bytes:
    """Assemble boundary parts into one MultiPolygon.

    The reference's iterative ST_Union over relation members
    (MunicipalityArea.java:517-537) combines *disjoint* boundary parts of one
    admin relation; set-union of disjoint parts is exactly multipolygon
    collection, which is what this returns. (True overlapping-polygon
    dissolve is out of scope — admin relation parts do not overlap.)
    """
    polys: list[list[np.ndarray]] = []
    for b in wkbs:
        g = parse_wkb(b)
        if isinstance(g, Polygon):
            polys.append(g.rings)
        elif isinstance(g, MultiPolygon):
            polys.extend(p.rings for p in g.polygons)
        else:
            raise TypeError("union_as_multipolygon expects areal WKB")
    return multipolygon_wkb(polys)

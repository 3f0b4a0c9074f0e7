"""Python oracle for the JVM street refine (``street_catalog.streets_in_areas``,
``pip_join.seg_crossing_expr``): inclusive line-vs-polygon intersection,
vectorized over numpy segment arrays."""

from __future__ import annotations

import numpy as np

from housenumbercore_spark.geo import geometry as G


def segments_intersect(
    a0: np.ndarray, a1: np.ndarray, b0: np.ndarray, b1: np.ndarray
) -> np.ndarray:
    """Pairwise: does segment set A (n,2,2) intersect segment set B (m,2,2)?

    Returns (n, m) bool. Standard orientation test incl. collinear overlap.
    """
    def cross(o, p, q):
        return (p[..., 0] - o[..., 0]) * (q[..., 1] - o[..., 1]) - (
            p[..., 1] - o[..., 1]
        ) * (q[..., 0] - o[..., 0])

    A0 = a0[:, None, :]
    A1 = a1[:, None, :]
    B0 = b0[None, :, :]
    B1 = b1[None, :, :]
    d1 = cross(A0, A1, B0)
    d2 = cross(A0, A1, B1)
    d3 = cross(B0, B1, A0)
    d4 = cross(B0, B1, A1)
    proper = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))

    def on_seg(p0, p1, q):
        return (
            (np.minimum(p0[..., 0], p1[..., 0]) <= q[..., 0])
            & (q[..., 0] <= np.maximum(p0[..., 0], p1[..., 0]))
            & (np.minimum(p0[..., 1], p1[..., 1]) <= q[..., 1])
            & (q[..., 1] <= np.maximum(p0[..., 1], p1[..., 1]))
        )

    touch = (
        ((d1 == 0) & on_seg(A0, A1, B0))
        | ((d2 == 0) & on_seg(A0, A1, B1))
        | ((d3 == 0) & on_seg(B0, B1, A0))
        | ((d4 == 0) & on_seg(B0, B1, A1))
    )
    return proper | touch


def line_intersects_polygon(poly: G.Polygon | G.MultiPolygon, line: np.ndarray) -> bool:
    """ST_Contains(poly, line) OR ST_Crosses(poly, line) — the union predicate
    of MunicipalityJobs.java:292: the line shares interior area with the
    polygon, i.e. a vertex is covered or an edge crosses the boundary.
    """
    line = np.asarray(line, dtype=np.float64).reshape(-1, 2)
    if G.covers(poly, line[:, 0], line[:, 1]).any():
        return True
    a0 = line[:-1]
    a1 = line[1:]
    for p in G.to_polygons(poly):
        for ring in p.rings:
            if segments_intersect(a0, a1, ring[:-1], ring[1:]).any():
                return True
    return False

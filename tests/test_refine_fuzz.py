"""Randomized batch equivalence: JVM refine expressions vs python kernels.

One Spark job per case (all probes in a single DataFrame), deterministic
seeds — fuzz coverage without per-example job overhead. Coordinates are
drawn half from a continuous distribution and half SNAPPED to a coarse
grid so exact collinearity/vertex/edge degeneracies actually occur (the
failure modes the half-open crossing rules exist for)."""

from __future__ import annotations

import numpy as np
import pytest

from housenumbercore_spark.geo import geometry as G
from housenumbercore_spark.operators import pip_join as PJ
from housenumbercore_spark.operators import street_catalog as SC
from geo_oracle import line_intersects_polygon

def _multi_wkb():
    return G.multipolygon_wkb([
        [np.array([[0.0, 0.0], [1.5, 0.0], [1.5, 1.5], [0.0, 1.5], [0.0, 0.0]])],
        [np.array([[2.5, 2.5], [4.0, 2.5], [4.0, 4.0], [2.5, 4.0], [2.5, 2.5]]),
         np.array([[3.0, 3.0], [3.5, 3.0], [3.5, 3.5], [3.0, 3.5], [3.0, 3.0]])],
    ])


POLYGONS = {
    "diamond": [np.array(
        [[2.0, 0.0], [4.0, 2.0], [2.0, 4.0], [0.0, 2.0], [2.0, 0.0]]
    )],
    "concave": [np.array(
        [[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [2.0, 2.0], [0.0, 4.0], [0.0, 0.0]]
    )],
    "holed": [
        np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]]),
        np.array([[1.5, 1.5], [2.5, 1.5], [2.5, 2.5], [1.5, 2.5], [1.5, 1.5]]),
    ],
}


def _wkb_for(shape):
    if shape == "multi":
        return _multi_wkb()
    return G.polygon_wkb(POLYGONS[shape])


SHAPES = sorted(POLYGONS) + ["multi"]


def _coords(rng, n):
    """Half continuous, half snapped to the 0.5 grid (degeneracy bait)."""
    c = rng.uniform(-1.0, 5.0, n)
    snap = rng.random(n) < 0.5
    c[snap] = np.round(c[snap] * 2) / 2
    return c


@pytest.mark.parametrize("shape", SHAPES)
def test_point_refine_matches_python_kernel(spark, shape):
    rng = np.random.default_rng(__import__("zlib").crc32(shape.encode()))
    n = 400
    px, py = _coords(rng, n), _coords(rng, n)
    wkb = _wkb_for(shape)
    poly = G.parse_wkb(wkb)
    bx = poly.bbox()
    areas = spark.createDataFrame(
        [(1, bytearray(wkb), *bx)],
        "area_id long, polygon binary, xmin double, ymin double, "
        "xmax double, ymax double",
    )
    pts = spark.createDataFrame(
        [(i, float(px[i]), float(py[i])) for i in range(n)],
        "point_id long, lon double, lat double",
    )
    got = {
        r.point_id
        for r in PJ.assign_points_to_areas(spark, pts, areas, res=4)
        .select("point_id")
        .collect()
    }
    want = set(np.nonzero(G.covers(poly, px, py))[0].tolist())
    assert got == want, f"{shape}: jvm^python={sorted(got ^ want)[:10]}"


def _rings_for(shape):
    if shape == "multi":
        return [
            np.array([[0.0, 0.0], [1.5, 0.0], [1.5, 1.5], [0.0, 1.5], [0.0, 0.0]]),
            np.array([[2.5, 2.5], [4.0, 2.5], [4.0, 4.0], [2.5, 4.0], [2.5, 2.5]]),
            np.array([[3.0, 3.0], [3.5, 3.0], [3.5, 3.5], [3.0, 3.5], [3.0, 3.0]]),
        ]
    return POLYGONS[shape]


@pytest.mark.parametrize("shape", SHAPES)
def test_segment_refine_vertex_collinear_endpoints(spark, shape):
    """Segments whose endpoints land EXACTLY on polygon vertices or edges —
    the degeneracy class that bit the round-1 point refine. Endpoint pool:
    every ring vertex, edge lerp points (t=¼,½,¾), plus inside/outside
    probes; pairs include vertex→vertex segments lying exactly along an
    edge. JVM crossing expression must agree with the python kernel on all
    of them."""
    rng = np.random.default_rng(__import__("zlib").crc32(shape.encode()) + 99)
    pool = []
    for ring in _rings_for(shape):
        for j in range(len(ring) - 1):
            a, b = ring[j], ring[j + 1]
            pool.append(a)
            for t in (0.25, 0.5, 0.75):
                pool.append(a + t * (b - a))
    pool.extend(
        [np.array([2.0, 2.0]), np.array([-0.7, -0.7]), np.array([5.0, 5.0]),
         np.array([0.75, 0.75])]
    )
    pool = np.array(pool)
    n = 300
    i0 = rng.integers(0, len(pool), n)
    i1 = rng.integers(0, len(pool), n)
    keep = ~np.all(pool[i0] == pool[i1], axis=1)  # drop zero-length pairs
    p0, p1 = pool[i0][keep], pool[i1][keep]
    x0, y0, x1, y1 = p0[:, 0], p0[:, 1], p1[:, 0], p1[:, 1]
    m = len(x0)
    wkb = _wkb_for(shape)
    poly = G.parse_wkb(wkb)
    bx = poly.bbox()
    areas = spark.createDataFrame(
        [(1, bytearray(wkb), *bx)],
        "area_id long, polygon binary, xmin double, ymin double, "
        "xmax double, ymax double",
    )
    segs = spark.createDataFrame(
        [(i, float(x0[i]), float(y0[i]), float(x1[i]), float(y1[i]))
         for i in range(m)],
        "osm_id long, x0 double, y0 double, x1 double, y1 double",
    )
    got = {
        r.osm_id
        for r in SC.streets_in_areas(spark, segs, areas, res=4)
        .select("osm_id")
        .collect()
    }
    want = {
        i
        for i in range(m)
        if line_intersects_polygon(
            poly, np.array([[x0[i], y0[i]], [x1[i], y1[i]]])
        )
    }
    assert got == want, f"{shape}: jvm^python={sorted(got ^ want)[:10]}"


@pytest.mark.parametrize("shape", SHAPES)
def test_segment_refine_matches_python_kernel(spark, shape):
    rng = np.random.default_rng(__import__("zlib").crc32(shape.encode()) + 7)
    n = 200
    x0, y0 = _coords(rng, n), _coords(rng, n)
    # mix of short offsets and axis-aligned segments (collinear bait)
    dx, dy = _coords(rng, n) / 4, _coords(rng, n) / 4
    axis = rng.random(n) < 0.3
    dy[axis] = 0.0
    x1, y1 = x0 + dx, y0 + dy
    wkb = _wkb_for(shape)
    poly = G.parse_wkb(wkb)
    bx = poly.bbox()
    areas = spark.createDataFrame(
        [(1, bytearray(wkb), *bx)],
        "area_id long, polygon binary, xmin double, ymin double, "
        "xmax double, ymax double",
    )
    segs = spark.createDataFrame(
        [
            (i, float(x0[i]), float(y0[i]), float(x1[i]), float(y1[i]))
            for i in range(n)
        ],
        "osm_id long, x0 double, y0 double, x1 double, y1 double",
    )
    got = {
        r.osm_id
        for r in SC.streets_in_areas(spark, segs, areas, res=4)
        .select("osm_id")
        .collect()
    }
    want = {
        i
        for i in range(n)
        if line_intersects_polygon(
            poly, np.array([[x0[i], y0[i]], [x1[i], y1[i]]])
        )
    }
    assert got == want, f"{shape}: jvm^python={sorted(got ^ want)[:10]}"

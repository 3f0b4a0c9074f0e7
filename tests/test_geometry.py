"""Unit tests for the from-scratch geometry kernel (geo/geometry.py).

Independent oracle: a second, deliberately different point-in-polygon
implementation (winding number, scalar python) cross-checks the vectorized
ray-cast on random polygons.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from housenumbercore_spark.geo import geometry as G
from geo_oracle import line_intersects_polygon


def _winding_inside(poly: list[tuple[float, float]], x: float, y: float) -> bool:
    """Scalar winding-number oracle (independent of the kernel's ray cast)."""
    wn = 0
    for (x0, y0), (x1, y1) in zip(poly[:-1], poly[1:]):
        if y0 <= y:
            if y1 > y and (x1 - x0) * (y - y0) - (x - x0) * (y1 - y0) > 0:
                wn += 1
        else:
            if y1 <= y and (x1 - x0) * (y - y0) - (x - x0) * (y1 - y0) < 0:
                wn -= 1
    return wn != 0


SQUARE = np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]])
HOLE = np.array([[1.0, 1.0], [3.0, 1.0], [3.0, 3.0], [1.0, 3.0], [1.0, 1.0]])


def test_wkb_roundtrip_polygon():
    wkb = G.polygon_wkb([SQUARE, HOLE])
    poly = G.parse_wkb(wkb)
    assert isinstance(poly, G.Polygon)
    assert len(poly.rings) == 2
    np.testing.assert_allclose(poly.rings[0], SQUARE)
    np.testing.assert_allclose(poly.rings[1], HOLE)


def test_wkb_roundtrip_multipolygon_point_linestring():
    mp = G.parse_wkb(G.multipolygon_wkb([[SQUARE], [HOLE]]))
    assert isinstance(mp, G.MultiPolygon)
    assert len(mp.polygons) == 2
    kind, (x, y) = G.parse_wkb(G.point_wkb(6.08, 50.77))
    assert kind == "point" and (x, y) == (6.08, 50.77)
    kind, arr = G.parse_wkb(G.linestring_wkb(SQUARE[:3]))
    assert kind == "linestring"
    np.testing.assert_allclose(arr, SQUARE[:3])


def test_covers_vs_contains_boundary():
    poly = G.parse_wkb(G.polygon_wkb([SQUARE]))
    px = np.array([2.0, 0.0, 4.0, 2.0, 5.0, -0.1])
    py = np.array([2.0, 2.0, 4.0, 0.0, 2.0, 2.0])
    cov = G.covers(poly, px, py)
    cnt = G.contains_point(poly, px, py)
    assert cov.tolist() == [True, True, True, True, False, False]
    assert cnt.tolist() == [True, False, False, False, False, False]


def test_hole_excluded():
    poly = G.parse_wkb(G.polygon_wkb([SQUARE, HOLE]))
    px = np.array([2.0, 0.5, 1.0])
    py = np.array([2.0, 0.5, 2.0])  # in hole, in shell, on hole boundary
    cov = G.covers(poly, px, py)
    assert cov.tolist() == [False, True, True]  # hole boundary is covered
    cnt = G.contains_point(poly, px, py)
    assert cnt.tolist() == [False, True, False]


def test_random_polygons_vs_winding_oracle():
    rng = np.random.default_rng(11)
    for trial in range(20):
        # random star-shaped polygon around a center (always simple)
        nv = rng.integers(5, 30)
        ang = np.sort(rng.uniform(0, 2 * math.pi, nv))
        rad = rng.uniform(0.5, 2.0, nv)
        cx, cy = rng.uniform(-50, 50, 2)
        ring = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
        ring = np.vstack([ring, ring[:1]])
        poly = G.Polygon([ring])
        px = rng.uniform(cx - 2.5, cx + 2.5, 200)
        py = rng.uniform(cy - 2.5, cy + 2.5, 200)
        got = G.contains_point(poly, px, py)
        want = np.array(
            [_winding_inside([tuple(p) for p in ring], x, y) for x, y in zip(px, py)]
        )
        on_b = G._points_on_ring(px, py, ring)
        # away from the boundary the two implementations must agree exactly
        assert (got[~on_b] == want[~on_b]).all()


def test_line_intersects_polygon_cases():
    poly = G.parse_wkb(G.polygon_wkb([SQUARE]))
    inside = np.array([[1.0, 1.0], [2.0, 2.0]])
    crossing = np.array([[-1.0, 2.0], [5.0, 2.0]])
    outside = np.array([[5.0, 5.0], [6.0, 6.0]])
    touching = np.array([[4.0, 1.0], [5.0, 1.0]])  # touches boundary
    assert line_intersects_polygon(poly, inside)
    assert line_intersects_polygon(poly, crossing)
    assert not line_intersects_polygon(poly, outside)
    assert line_intersects_polygon(poly, touching)


def test_centroid_square_and_multi():
    poly = G.parse_wkb(G.polygon_wkb([SQUARE]))
    cx, cy = G.polygon_centroid(poly)
    assert abs(cx - 2.0) < 1e-9 and abs(cy - 2.0) < 1e-9
    # with a centered hole the centroid stays put
    poly2 = G.parse_wkb(G.polygon_wkb([SQUARE, HOLE]))
    cx2, cy2 = G.polygon_centroid(poly2)
    assert abs(cx2 - 2.0) < 1e-9 and abs(cy2 - 2.0) < 1e-9


def test_linemerge_stitches_chains():
    a = np.array([[0.0, 0.0], [1.0, 0.0]])
    b = np.array([[1.0, 0.0], [2.0, 0.0]])
    c = np.array([[3.0, 0.0], [2.0, 0.0]])  # reversed
    d = np.array([[10.0, 10.0], [11.0, 11.0]])  # disconnected
    merged = G.linemerge([a, b, c, d])
    assert len(merged) == 2
    lens = sorted(len(m) for m in merged)
    assert lens == [2, 4]
    chain = [m for m in merged if len(m) == 4][0]
    np.testing.assert_allclose(chain[:, 0], [0, 1, 2, 3])


def test_linemerge_no_merge_at_junction():
    # three segments meeting at one point: continuation ambiguous, keep split
    a = np.array([[0.0, 0.0], [1.0, 1.0]])
    b = np.array([[1.0, 1.0], [2.0, 0.0]])
    c = np.array([[1.0, 1.0], [2.0, 2.0]])
    merged = G.linemerge([a, b, c])
    assert len(merged) >= 2


def test_union_as_multipolygon():
    wkb = G.union_as_multipolygon([G.polygon_wkb([SQUARE]), G.polygon_wkb([HOLE])])
    mp = G.parse_wkb(wkb)
    assert isinstance(mp, G.MultiPolygon)
    assert len(mp.polygons) == 2


def test_crs_roundtrip_webmercator():
    from housenumbercore_spark.geo import crs

    lon, lat = crs.webmercator_to_wgs84(np.array([676721.8]), np.array([6581734.9]))
    assert abs(lon[0] - 6.0790) < 0.01
    assert abs(lat[0] - 50.7766) < 0.01


def test_crs_utm32_known_point():
    from housenumbercore_spark.geo import crs

    # Aachen cathedral approx: UTM32N E=294407 N=5628713 → lon≈6.084 lat≈50.774
    lon, lat = crs.utm_to_wgs84(np.array([294407.0]), np.array([5628713.0]), 32)
    assert abs(lon[0] - 6.084) < 0.01
    assert abs(lat[0] - 50.774) < 0.01
    # the 25832 easting-prefix hack (CsvReader.java:507-509)
    lon2, lat2 = crs.transform_to_wgs84(
        np.array([32294407.0]), np.array([5628713.0]), 25832
    )
    assert abs(lon2[0] - lon[0]) < 1e-9 and abs(lat2[0] - lat[0]) < 1e-9


def test_parse_wkb_ewkb_srid_and_z():
    """EWKB flag bits imply a 4-byte SRID and/or extra Z/M ordinates that
    must be CONSUMED, not just masked (a masked-only parser read the ring
    count out of the SRID bytes)."""
    import struct

    import numpy as np

    from housenumbercore_spark.geo import geometry as G

    ring = np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]])
    plain = G.polygon_wkb([ring])

    # EWKB: polygon | SRID flag, then srid=4326, then the plain body
    ewkb = struct.pack("<BI", 1, 3 | 0x20000000) + struct.pack("<I", 4326) + plain[5:]
    poly = G.parse_wkb(ewkb)
    assert G.covers(poly, np.array([2.0]), np.array([2.0]))[0]

    # ISO Z point (type 1001): 3 doubles, z dropped
    zpt = struct.pack("<BIddd", 1, 1001, 6.08, 50.77, 123.0)
    kind, (x, y) = G.parse_wkb(zpt)
    assert kind == "point" and (x, y) == (6.08, 50.77)

    # EWKB Z-flagged point
    zpt2 = struct.pack("<BIddd", 1, 1 | 0x80000000, 6.08, 50.77, 9.0)
    kind2, (x2, y2) = G.parse_wkb(zpt2)
    assert kind2 == "point" and (x2, y2) == (6.08, 50.77)


def test_crs_null_srid_and_zone_prefix():
    import numpy as np

    from housenumbercore_spark.geo import crs

    # zone-30 prefixed easting strips like the zone-32 reference hack
    lon30, lat30 = crs.transform_to_wgs84(
        np.array([30_500_000.0]), np.array([4_649_776.0]), 25830
    )
    lon30p, lat30p = crs.transform_to_wgs84(
        np.array([500_000.0]), np.array([4_649_776.0]), 25830
    )
    assert abs(lon30[0] - lon30p[0]) < 1e-9 and abs(lat30[0] - lat30p[0]) < 1e-9


def test_with_wgs84_null_srid_rows_become_null(spark):
    from pyspark.sql import functions as F

    from housenumbercore_spark.geo import crs

    df = spark.createDataFrame(
        [(6.08, 50.77, 4326), (1.0, 2.0, None)],
        "x double, y double, srid int",
    )
    out = crs.with_wgs84(df, "x", "y", "srid").collect()
    by = {r.srid: r for r in out}
    assert abs(by[4326].lon - 6.08) < 1e-12
    assert by[None].lon is None and by[None].lat is None


def test_cover_bbox_includes_boundary_cell():
    """A bbox whose max edge sits exactly on a cell boundary must cover the
    cell that boundary POINTS encode to (superset guarantee)."""
    import numpy as np

    from housenumbercore_spark.geo import cells

    res = 7
    n = 1 << res
    xmax = -180.0 + 5 * 360.0 / n  # exact cell boundary
    ymax = -90.0 + 3 * 180.0 / n
    cover = set(
        cells.cover_bbox(-180.0, -90.0, xmax, ymax, res).tolist()
    )
    boundary_cell = cells.encode_cells(
        np.array([xmax]), np.array([ymax]), res
    )[0]
    assert int(boundary_cell) in cover

"""Property-based tests (hypothesis) for the pure kernels.

The reference has no randomized testing (SURVEY.md §5); these pin the
engine's from-scratch kernels against independent formulations over
generated inputs — no Spark session needed, so they run in milliseconds.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from housenumbercore_spark.geo import cells as C
from housenumbercore_spark.geo import crs as CRS
from housenumbercore_spark.geo import geometry as G

lons = st.floats(min_value=-179.99, max_value=179.99, allow_nan=False)
lats = st.floats(min_value=-89.99, max_value=89.99, allow_nan=False)
ress = st.integers(min_value=1, max_value=13)


@settings(max_examples=200, deadline=None)
@given(lons, lats, ress)
def test_cell_bounds_contain_point(lon, lat, res):
    cell = C.encode_cells(np.array([lon]), np.array([lat]), res)
    lo, la, hi, ha = C.cell_bounds(cell)
    assert lo[0] - 1e-9 <= lon <= hi[0] + 1e-9
    assert la[0] - 1e-9 <= lat <= ha[0] + 1e-9


@settings(max_examples=100, deadline=None)
@given(lons, lats, st.integers(min_value=2, max_value=12))
def test_parent_contains_child(lon, lat, res):
    child = C.encode_cells(np.array([lon]), np.array([lat]), res)
    parent = C.parent(child, res - 1)
    direct = C.encode_cells(np.array([lon]), np.array([lat]), res - 1)
    assert parent[0] == direct[0]
    assert child[0] in C.children(int(parent[0]))


@settings(max_examples=100, deadline=None)
@given(lons, lats, ress, st.integers(min_value=1, max_value=2))
def test_k_ring_contains_center(lon, lat, res, k):
    cell = C.encode_cells(np.array([lon]), np.array([lat]), res)
    ring = C.k_ring(cell, k)
    assert int(cell[0]) in set(int(c) for c in ring.ravel())


@st.composite
def simple_polygons(draw):
    """Star-shaped (hence simple) polygon around a random center."""
    cx = draw(st.floats(min_value=-170, max_value=170))
    cy = draw(st.floats(min_value=-80, max_value=80))
    n = draw(st.integers(min_value=3, max_value=12))
    radii = draw(
        st.lists(
            st.floats(min_value=0.1, max_value=2.0),
            min_size=n, max_size=n,
        )
    )
    angles = np.sort(np.linspace(0, 2 * np.pi, n, endpoint=False))
    xs = cx + np.array(radii) * np.cos(angles)
    ys = cy + np.array(radii) * np.sin(angles)
    ring = np.column_stack([xs, ys])
    return np.vstack([ring, ring[:1]]), (cx, cy)


def _parity_reference(ring: np.ndarray, x: float, y: float) -> bool:
    """Independent even-odd test (textbook crossing-count formulation)."""
    inside = False
    for i in range(len(ring) - 1):
        x0, y0 = ring[i]
        x1, y1 = ring[i + 1]
        if (y0 > y) != (y1 > y):
            xi = x0 + (y - y0) * (x1 - x0) / (y1 - y0)
            if xi > x:
                inside = not inside
    return inside


@settings(max_examples=150, deadline=None)
@given(simple_polygons(), st.floats(-3, 3), st.floats(-3, 3))
def test_covers_matches_reference_parity(polydata, dx, dy):
    ring, (cx, cy) = polydata
    poly = G.parse_wkb(G.polygon_wkb([ring]))
    px, py = cx + dx, cy + dy
    got = bool(G.covers(poly, np.array([px]), np.array([py]))[0])
    want = _parity_reference(ring, px, py)
    # covers is boundary-inclusive; only compare strictly off-boundary points
    d = min(
        abs((px - ring[i][0]) * (ring[i + 1][1] - ring[i][1])
            - (py - ring[i][1]) * (ring[i + 1][0] - ring[i][0]))
        for i in range(len(ring) - 1)
    )
    if d > 1e-9:
        assert got == want


@settings(max_examples=100, deadline=None)
@given(lons, st.floats(min_value=-84, max_value=84))
def test_webmercator_roundtrip(lon, lat):
    R = 6378137.0
    x = np.radians(np.array([lon])) * R
    y = np.log(np.tan(np.pi / 4 + np.radians(np.array([lat])) / 2)) * R
    glon, glat = CRS.webmercator_to_wgs84(x, y)
    assert abs(glon[0] - lon) < 1e-9
    assert abs(glat[0] - lat) < 1e-9


@settings(max_examples=50, deadline=None)
@given(
    st.floats(min_value=6.0, max_value=12.0),
    st.floats(min_value=47.0, max_value=55.0),
)
def test_utm_inverse_consistency(lon, lat):
    """Inverse(forward(p)) ≈ p with forward computed by an independent
    transverse-Mercator series (standard Snyder formulation)."""
    a, f, k0 = 6378137.0, 1 / 298.257222101, 0.9996
    e2 = f * (2 - f)
    ep2 = e2 / (1 - e2)
    zone = 32
    lon0 = np.radians((zone - 1) * 6 - 180 + 3)
    phi, lam = np.radians(lat), np.radians(lon)
    N = a / np.sqrt(1 - e2 * np.sin(phi) ** 2)
    T = np.tan(phi) ** 2
    Cc = ep2 * np.cos(phi) ** 2
    A = (lam - lon0) * np.cos(phi)
    M = a * (
        (1 - e2 / 4 - 3 * e2**2 / 64 - 5 * e2**3 / 256) * phi
        - (3 * e2 / 8 + 3 * e2**2 / 32 + 45 * e2**3 / 1024) * np.sin(2 * phi)
        + (15 * e2**2 / 256 + 45 * e2**3 / 1024) * np.sin(4 * phi)
        - (35 * e2**3 / 3072) * np.sin(6 * phi)
    )
    easting = k0 * N * (
        A + (1 - T + Cc) * A**3 / 6
        + (5 - 18 * T + T**2 + 72 * Cc - 58 * ep2) * A**5 / 120
    ) + 500000.0
    northing = k0 * (
        M + N * np.tan(phi) * (
            A**2 / 2 + (5 - T + 9 * Cc + 4 * Cc**2) * A**4 / 24
            + (61 - 58 * T + T**2 + 600 * Cc - 330 * ep2) * A**6 / 720
        )
    )
    glon, glat = CRS.utm_to_wgs84(np.array([easting]), np.array([northing]), zone)
    assert abs(glon[0] - lon) < 1e-7  # ~1 cm
    assert abs(glat[0] - lat) < 1e-7


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=9999), min_size=2, max_size=2))
def test_housenumber_sortable_orders_numerically(nums):
    """The sort key's SQL twin (the one the DuckDB oracles use) orders
    plain housenumbers numerically; test_norm pins the twin to the Spark
    expression."""
    import duckdb

    from housenumbercore_spark.norm.housenumbers import housenumber_sortable_sql

    a, b = nums
    sa, sb = duckdb.execute(
        f"select {housenumber_sortable_sql('x')}, {housenumber_sortable_sql('y')}"
        " from (select ?::varchar as x, ?::varchar as y)",
        [str(a), str(b)],
    ).fetchone()
    assert (a < b) == (sa < sb) or a == b

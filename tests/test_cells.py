"""Unit tests for the from-scratch cell grid (geo/cells.py)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from housenumbercore_spark.geo import cells


def test_encode_roundtrip_bounds():
    lon = np.array([-180.0, 0.0, 13.4, 179.999, -0.0001])
    lat = np.array([-90.0, 0.0, 52.5, 89.999, -0.0001])
    for res in (0, 1, 7, 13, 26):
        c = cells.encode_cells(lon, lat, res)
        assert (cells.cell_res(c) == res).all()
        lo, la, hi, ha = cells.cell_bounds(c)
        assert (lo <= lon).all() and (lon < hi + 1e-9).all()
        assert (la <= lat).all() and (lat < ha + 1e-9).all()


def test_clamp_at_edges():
    c = cells.encode_cells(np.array([180.0, 200.0]), np.array([90.0, 95.0]), 7)
    n = 1 << 7
    assert (cells.cell_ix(c) == n - 1).all()
    assert (cells.cell_iy(c) == n - 1).all()


def test_parent_children_consistency():
    c = cells.encode_cells(np.array([6.08]), np.array([50.77]), 13)  # Aachen
    p = cells.parent(c, 7)
    assert cells.cell_res(p)[0] == 7
    assert cells.parent(c, 13)[0] == c[0]
    kids = cells.children(int(p[0]))
    assert len(kids) == 4
    assert (cells.parent(kids, 7) == p[0]).all()


def test_k_ring_shape_and_wrap():
    c = cells.encode_cells(np.array([-179.9, 0.0]), np.array([0.0, 0.0]), 7)
    ring = cells.k_ring(c, 1)
    assert ring.shape == (2, 9)
    # antimeridian wrap: cell at ix=0 must include a neighbor at ix=n-1
    n = 1 << 7
    assert (cells.cell_ix(ring[0]) == n - 1).any()
    # self is a member
    assert (ring[0] == c[0]).any()
    assert (ring[1] == c[1]).any()


def test_cover_bbox_superset():
    ids = cells.cover_bbox(5.9, 50.6, 6.3, 50.9, 10)
    # every point in the box must land in a cover cell
    rng = np.random.default_rng(7)
    lon = rng.uniform(5.9, 6.3, 500)
    lat = rng.uniform(50.6, 50.9, 500)
    pc = cells.encode_cells(lon, lat, 10)
    assert np.isin(pc, ids).all()


def test_pick_cover_res_bounds():
    res = cells.pick_cover_res(5.9, 50.6, 6.3, 50.9, max_cells=64)
    n = 1 << res
    ids = cells.cover_bbox(5.9, 50.6, 6.3, 50.9, res)
    assert len(ids) <= 64
    assert res > 0


@settings(max_examples=200, deadline=None)
@given(
    lon=st.floats(min_value=-180, max_value=180, allow_nan=False),
    lat=st.floats(min_value=-90, max_value=90, allow_nan=False),
    res=st.integers(min_value=0, max_value=26),
)
def test_encode_property(lon, lat, res):
    c = cells.encode_cells(np.array([lon]), np.array([lat]), res)
    n = 1 << res
    assert 0 <= cells.cell_ix(c)[0] < n
    assert 0 <= cells.cell_iy(c)[0] < n
    assert cells.cell_res(c)[0] == res
    assert c[0] > 0 or res == 0


def test_morton_key_orders_locally():
    # neighboring cells should have closer morton keys than far cells
    a = cells.encode_cells(np.array([6.0]), np.array([50.0]), 13)
    b = cells.encode_cells(np.array([6.01]), np.array([50.0]), 13)
    far = cells.encode_cells(np.array([120.0]), np.array([-30.0]), 13)
    ka, kb, kf = (int(cells.morton_key(x)[0]) for x in (a, b, far))
    assert abs(ka - kb) < abs(ka - kf)


def test_cell_col_matches_numpy(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    rng = np.random.default_rng(42)
    # res-13 cell edges and their float neighbours, plus the domain bounds
    k = np.array([0, 1, 4095, 4096, 8191, 8192], dtype=np.float64)
    edges = np.concatenate([k, np.nextafter(k, -1), np.nextafter(k, 1e9)]) / 8192
    lon = np.concatenate([rng.uniform(-180, 180, 1000), edges * 360 - 180])
    lat = np.concatenate([rng.uniform(-90, 90, 1000), edges * 180 - 90])
    pdf = pd.DataFrame({"lon": lon, "lat": lat})
    df = spark.createDataFrame(pdf)
    for res in (0, 7, 13, 26):
        got = df.select(
            cells.cell_col("lon", "lat", res).alias("c"),
            F.expr(cells.cell_sql("lon", "lat", res)).alias("s"),
        ).toPandas()
        want = cells.encode_cells(lon, lat, res)
        assert (got["c"].to_numpy() == want).all(), f"res={res}"
        # the SQL twin parsed by Spark (the kNN ladder's form) is identical
        assert (got["s"].to_numpy() == want).all(), f"res={res}"


def test_cell_sql_matches_numpy():
    import duckdb

    rng = np.random.default_rng(43)
    lon = rng.uniform(-180, 180, 1000)
    lat = rng.uniform(-90, 90, 1000)
    con = duckdb.connect()
    con.register("pts", __import__("pandas").DataFrame({"lon": lon, "lat": lat}))
    for res in (0, 7, 13):
        got = con.execute(
            f"select {cells.cell_sql('lon', 'lat', res)} as c from pts"
        ).fetchnumpy()["c"]
        want = cells.encode_cells(lon, lat, res)
        assert (got.astype(np.int64) == want).all(), f"res={res}"


def test_pack_col_matches_numpy(spark):
    """Column-side pack/unpack (pack_col/cell_ix_col/cell_iy_col) must be
    bit-identical to the numpy kernel — the ring-expansion and segment-
    cover joins rebuild cell ids through these helpers."""
    import pandas as pd
    from pyspark.sql import functions as F

    rng = np.random.default_rng(7)
    res = 13
    n = 1 << res
    ix = rng.integers(0, n, 500)
    iy = rng.integers(0, n, 500)
    df = spark.createDataFrame(pd.DataFrame({"ix": ix, "iy": iy}))
    got = (
        df.select(
            cells.pack_col(res, F.col("ix"), F.col("iy")).alias("c")
        )
        .toPandas()["c"]
        .to_numpy()
    )
    want = cells.pack(res, ix, iy)
    assert (got == want).all()
    # unpack round-trip
    back = spark.createDataFrame(pd.DataFrame({"c": want})).select(
        cells.cell_ix_col("c").alias("x"), cells.cell_iy_col("c").alias("y")
    ).toPandas()
    assert (back["x"].to_numpy() == ix).all()
    assert (back["y"].to_numpy() == iy).all()

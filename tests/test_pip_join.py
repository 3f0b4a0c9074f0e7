"""Point-in-polygon cell join: correctness vs brute-force oracle on sf0.001."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from housenumbercore_spark.geo import geometry as G
from housenumbercore_spark.operators import pip_join as PJ
from housenumbercore_spark.sources import synthetic as S

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def world(spark):
    pts = S.points_df(spark, SF).cache()
    areas = S.areas_df(spark, SF).cache()
    return pts, areas


def test_points_deterministic_and_skewed(spark, world):
    pts, _ = world
    pdf = pts.toPandas()
    assert pdf.point_id.is_unique
    assert ((pdf.lon >= S.LON0) & (pdf.lon <= S.LON0 + S.LON_SPAN)).all()
    frac_hot = pdf.hot.mean()
    assert 0.2 < frac_hot < 0.4  # ~30% skew


def test_cover_cells_superset(spark, world):
    pts, areas = world
    res = PJ.pick_join_res(areas)
    cover = PJ.cover_cells(areas, res).toPandas()
    # every area has at least one cover cell; municipalities don't explode
    assert set(cover.area_id) == set(areas.toPandas().area_id)
    per_area = cover.groupby("area_id").size()
    assert per_area.max() <= 2000


def test_assign_matches_bruteforce(spark, world):
    pts, areas = world
    got = (
        PJ.assign_points_to_areas(spark, pts, areas)
        .select("point_id", "area_id")
        .toPandas()
        .sort_values(["point_id", "area_id"])
        .reset_index(drop=True)
    )
    # brute-force oracle: rectangle arithmetic on pandas
    p = pts.toPandas()
    a = areas.toPandas()
    rows = []
    for _, ar in a.iterrows():
        m = (
            (p.lon >= ar.xmin)
            & (p.lon <= ar.xmax)
            & (p.lat >= ar.ymin)
            & (p.lat <= ar.ymax)
        )
        for pid in p.point_id[m]:
            rows.append((pid, ar.area_id))
    import pandas as pd

    want = (
        pd.DataFrame(rows, columns=["point_id", "area_id"])
        .sort_values(["point_id", "area_id"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    assert (got.point_id.values == want.point_id.values).all()
    assert (got.area_id.values == want.area_id.values).all()


def test_every_point_gets_two_levels(spark, world):
    pts, areas = world
    out = PJ.assign_points_to_areas(spark, pts, areas)
    counts = out.groupBy("point_id").count().toPandas()
    # every point lies in exactly one level-8 and one level-6 area
    assert (counts["count"] == 2).all()
    assert len(counts) == pts.count()


def test_nonrectangular_polygon_refine(spark):
    # triangle + square with hole: refine must beat the bbox cover
    tri = G.polygon_wkb([np.array([[0.0, 0.0], [10.0, 0.0], [0.0, 10.0], [0.0, 0.0]])])
    sq_hole = G.polygon_wkb(
        [
            np.array([[20.0, 20.0], [30.0, 20.0], [30.0, 30.0], [20.0, 30.0], [20.0, 20.0]]),
            np.array([[22.0, 22.0], [28.0, 22.0], [28.0, 28.0], [22.0, 28.0], [22.0, 22.0]]),
        ]
    )
    areas = spark.createDataFrame(
        [(1, bytearray(tri), 0.0, 0.0, 10.0, 10.0), (2, bytearray(sq_hole), 20.0, 20.0, 30.0, 30.0)],
        "area_id long, polygon binary, xmin double, ymin double, xmax double, ymax double",
    )
    pts = spark.createDataFrame(
        [
            (1, 1.0, 1.0),    # in triangle
            (2, 9.0, 9.0),    # in tri bbox but outside hypotenuse
            (3, 21.0, 21.0),  # in square shell
            (4, 25.0, 25.0),  # in hole
            (5, 50.0, 50.0),  # nowhere
        ],
        "point_id long, lon double, lat double",
    )
    got = (
        PJ.assign_points_to_areas(spark, pts, areas, res=6)
        .select("point_id", "area_id")
        .toPandas()
        .sort_values("point_id")
    )
    assert list(map(tuple, got.values)) == [(1, 1), (3, 2)]


def test_jvm_refine_vertex_collinear_degeneracy(spark):
    """Points whose ref→point transport segment passes EXACTLY through a
    polygon vertex (binary-exact with grid-derived coordinates) must still
    classify correctly; the strict crossing test counted zero at the vertex
    and flipped parity. Ground truth: the vectorized python covers kernel."""
    # res=2 → the boundary cell splits into res-3 cells; the diamond's one,
    # [0,45)×[0,22.5), gets ref = cell center (22.5, 11.25). Diamond vertex
    # at center+(3,3); probes along the exact ray center→vertex, plus
    # on-edge / on-vertex points.
    diamond = np.array(
        [[25.5, 14.25], [30.0, 10.0], [35.0, 14.25], [30.0, 19.0], [25.5, 14.25]]
    )
    wkb = G.polygon_wkb([diamond])
    areas = spark.createDataFrame(
        [(1, bytearray(wkb), 25.5, 10.0, 35.0, 19.0)],
        "area_id long, polygon binary, xmin double, ymin double, xmax double, ymax double",
    )
    probes = [
        (1, 25.5 + 3.0, 14.25 + 3.0),   # exactly ON the west vertex
        (2, 25.5 + 4.5, 14.25 + 4.5),   # past the vertex on the same ray
        (3, 25.5 - 1.5, 14.25 - 1.5),   # before the vertex (outside)
        (4, 30.0, 14.25),               # interior
        (5, 30.0, 10.0),                # exactly ON the south vertex
        (6, 27.75, 12.125),             # exactly ON edge midpoint (v0→v1)
        (7, 40.0, 14.25),               # outside, east
    ]
    pts = spark.createDataFrame(probes, "point_id long, lon double, lat double")
    got = set(
        map(
            tuple,
            PJ.assign_points_to_areas(spark, pts, areas, res=2)
            .select("point_id", "area_id")
            .toPandas()
            .values,
        )
    )
    poly = G.parse_wkb(wkb)
    px = np.array([p[1] for p in probes])
    py = np.array([p[2] for p in probes])
    want = {
        (probes[i][0], 1) for i in range(len(probes)) if G.covers(poly, px, py)[i]
    }
    assert got == want


def test_assign_points_to_areas_is_collect_free():
    """Polygons must never be collected to the driver: the refine payload
    rides the broadcast cover join (the JVM refine itself is checked
    against the numpy kernels in test_refine_fuzz.py)."""
    import inspect

    assert ".collect()" not in inspect.getsource(PJ.assign_points_to_areas)


def test_salted_join_same_result(spark, world):
    """Salted shuffle join == broadcast join on the two-level probe: both
    cover levels must contribute rows, or the comparison would only see
    the full cells at the join resolution."""
    pts, areas = world
    res = PJ.pick_join_res(areas)
    dim = PJ.cover_cells(areas, res)
    from housenumbercore_spark.geo import cells as C

    p2 = pts.withColumn("__cell", PJ.probe_cells_col("lon", "lat", res))
    cols = ["point_id", "area_id", "__cell"]
    salted = PJ.salted_cell_join(p2, dim, n_salt=4).select(*cols)
    plain = p2.join(dim, p2["__cell"] == dim["cell"]).select(*cols)
    a = salted.toPandas().sort_values(cols).reset_index(drop=True)
    b = plain.toPandas().sort_values(cols).reset_index(drop=True)
    assert a.equals(b)
    assert set(C.cell_res(a["__cell"].values)) == {res, res + PJ.COVER_EXTRA_DEPTH}


def test_tile_assign_pure_codegen(spark, world):
    pts, _ = world
    out = PJ.tile_assign(pts, 13)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan  # no UDF on the tile path
    assert out.select(F.countDistinct("tile_id")).collect()[0][0] > 10


def test_payload_cell_column_survives_join(spark, world):
    """A points payload column literally named 'cell' (one of the names
    checkpoint manifests look for) must pass through the cell joins — the
    internal dim join column is renamed, not dropped by user-visible name."""
    pts, areas = world
    from housenumbercore_spark.operators import pip_join as PJ

    tagged = pts.withColumn("cell", F.lit(42).cast("long"))
    out = PJ.assign_points_to_areas(spark, tagged, areas)
    assert "cell" in out.columns
    assert out.filter(F.col("cell") != 42).count() == 0


def test_jvm_strict_contains_excludes_boundary_point(spark):
    """predicate='contains' must reach the JVM refine: a point exactly ON
    a polygon edge is covers-included but contains-excluded."""
    from housenumbercore_spark.geo import geometry as G
    from housenumbercore_spark.operators import pip_join as PJ

    areas = spark.createDataFrame(
        [("a", bytearray(G.box_wkb(0.0, 0.0, 10.0, 10.0)))],
        "area_id string, polygon binary",
    )
    pts = spark.createDataFrame(
        [(1, 5.0, 0.0), (2, 5.0, 5.0)], "point_id int, lon double, lat double"
    )
    covers = PJ.assign_points_to_areas(
        spark, pts, areas, res=7, predicate="covers"
    )
    contains = PJ.assign_points_to_areas(
        spark, pts, areas, res=7, predicate="contains"
    )
    assert sorted(r.point_id for r in covers.collect()) == [1, 2]
    assert sorted(r.point_id for r in contains.collect()) == [2]


def test_payload_columns_named_like_refine_cols_survive(spark, world):
    """The refine payload columns are dunder-reserved (__pj_*): a points
    payload column named 'full' or 'edges' must neither crash the refine
    filter (AMBIGUOUS_REFERENCE) nor be silently dropped."""
    pts, areas = world
    tagged = (
        pts.withColumn("full", F.lit("payload-full"))
        .withColumn("edges", F.array(F.lit(1.0)))
        .withColumn("ref_inside", F.lit(False))
    )
    out = PJ.assign_points_to_areas(spark, tagged, areas)
    assert {"full", "edges", "ref_inside"} <= set(out.columns)
    row = out.select("full").first()
    assert row.full == "payload-full"
    # exact=False path keeps them too (previously drop() clobbered them)
    loose = PJ.assign_points_to_areas(spark, tagged, areas, exact=False)
    assert {"full", "edges", "ref_inside"} <= set(loose.columns)


def test_cover_cells_bad_geometry_names_area(spark):
    """A NULL/non-areal dimension geometry fails loudly WITH the area id
    (a curated-dimension data-model error, not quarantinable payload)."""
    areas = spark.createDataFrame(
        [
            (1, G.polygon_wkb([[(0.0, 0.0), (1.0, 0.0), (1.0, 1.0),
                                (0.0, 1.0), (0.0, 0.0)]]), 0.0, 0.0, 1.0, 1.0),
            (2, None, 0.0, 0.0, 1.0, 1.0),
        ],
        "area_id int, polygon binary, xmin double, ymin double, "
        "xmax double, ymax double",
    )
    with pytest.raises(Exception, match="area_id=2"):
        PJ.cover_cells(areas, 4).collect()


def test_refine_bad_predicate_value_error(spark, world):
    pts, areas = world
    with pytest.raises(ValueError, match="unknown predicate"):
        PJ.assign_points_to_areas(
            spark, pts, areas, predicate="contians"
        ).collect()


def _jagged_ring(rng, n=96):
    """Star-shaped ring with radial jitter: many short edges per cell, like
    real admin boundaries."""
    t = np.linspace(0.0, 2 * np.pi, n, endpoint=False)
    r = 1.8 + 0.25 * rng.uniform(-1.0, 1.0, n)
    ring = np.column_stack([2.0 + r * np.cos(t), 2.0 + r * np.sin(t)])
    return np.vstack([ring, ring[:1]])


def _cover_edges_ok(cover, rings_by_area, fine):
    """Every non-full cover row stores exactly the ring edges whose bbox
    overlaps its cell (padded by the cover's 1e-9 cell-width tolerance)."""
    from housenumbercore_spark.geo import cells as C

    pad = 360.0 / (1 << fine) * 1e-9
    for aid, grp in cover[~cover["__pj_full"]].groupby("area_id"):
        e = np.concatenate([
            np.column_stack([r[:-1], r[1:]])
            for r in map(G._close_ring, rings_by_area[aid])
        ])
        lo, la, hi, ha = C.cell_bounds(grp.cell.values)
        for i, edges in enumerate(grp["__pj_edges"]):
            hit = (
                (np.maximum(e[:, 0], e[:, 2]) >= lo[i] - pad)
                & (np.minimum(e[:, 0], e[:, 2]) <= hi[i] + pad)
                & (np.maximum(e[:, 1], e[:, 3]) >= la[i] - pad)
                & (np.minimum(e[:, 1], e[:, 3]) <= ha[i] + pad)
            )
            assert sorted(map(tuple, edges)) == sorted(map(tuple, e[hit].tolist()))


def test_two_level_cover_disjoint_and_exact(spark):
    """cover_cells is a disjoint two-level cover: rows at the join res are
    full and edge-free, every boundary row sits one level finer and stores
    exactly the ring edges whose bbox overlaps its cell, each (point, area)
    pair meets at most one row, and the refined join equals G.covers;
    overlapping parts and a res past MAX_RES - COVER_EXTRA_DEPTH raise."""
    from housenumbercore_spark.geo import cells as C

    from test_refine_fuzz import POLYGONS, _rings_for, _wkb_for

    rng = np.random.default_rng(13)
    names = sorted(POLYGONS) + ["multi", "jagged"]
    jag = _jagged_ring(rng)
    wkbs = [_wkb_for(nm) for nm in names[:-1]] + [G.polygon_wkb([jag])]
    rings = [_rings_for(nm) for nm in names[:-1]] + [[jag]]
    areas = spark.createDataFrame(
        [(i, bytearray(w)) for i, w in enumerate(wkbs)],
        "area_id long, polygon binary",
    )
    n = 1500
    xy = rng.uniform(-1.0, 5.0, (2, n))
    snap = rng.random(n) < 0.5  # grid-snapped half: edge/vertex degeneracies
    xy[:, snap] = np.round(xy[:, snap] * 4) / 4
    pts = spark.createDataFrame(
        [(i, float(xy[0, i]), float(xy[1, i])) for i in range(n)],
        "point_id long, lon double, lat double",
    )
    want = {
        (i, aid)
        for aid, w in enumerate(wkbs)
        for i in np.nonzero(G.covers(G.parse_wkb(w), xy[0], xy[1]))[0]
    }
    kinds = set()
    for res in (6, 8):
        fine = res + PJ.COVER_EXTRA_DEPTH
        cover = PJ.cover_cells(areas, res).toPandas()
        lvl = C.cell_res(cover.cell.values)
        full = cover["__pj_full"].values
        kinds |= set(zip(lvl.tolist(), full.tolist()))
        assert set(lvl) <= {res, fine}
        assert full[lvl == res].all()
        assert (cover["__pj_edges"][lvl == res].map(len) == 0).all()
        assert (lvl[~full] == fine).all()
        # disjoint: no fine row lies under a join-res row of its own area
        for _, grp in cover.groupby("area_id"):
            g = grp.cell.values
            g_lvl = C.cell_res(g)
            assert not np.isin(C.parent(g[g_lvl == fine], res), g[g_lvl == res]).any()
        _cover_edges_ok(cover, rings, fine)

        cand = PJ.assign_points_to_areas(spark, pts, areas, res=res, exact=False)
        assert cand.groupBy("point_id", "area_id").count().filter("count > 1").count() == 0
        got = {
            (r.point_id, r.area_id)
            for r in PJ.assign_points_to_areas(spark, pts, areas, res=res).collect()
        }
        assert got == want, sorted(got ^ want)[:10]
    # the shapes exercise every row kind: full at both levels (at res 8),
    # and boundary rows
    assert {(7, False), (8, True), (9, True), (9, False)} <= kinds

    # parts the parity refine cannot answer fail loudly, with the area
    # named: a duplicated part (a relation listing one member twice) and a
    # partial overlap
    sq = np.array([[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0], [0.0, 0.0]])
    for aid, parts in ((7, [[sq], [sq]]), (8, [[sq], [sq + 1.0]])):
        bad = spark.createDataFrame(
            [(aid, bytearray(G.multipolygon_wkb(parts)))],
            "area_id long, polygon binary",
        )
        for res in (6, 8):
            with pytest.raises(Exception, match=f"area_id={aid} has overlapping"):
                PJ.cover_cells(bad, res).collect()
    # the boundary level must stay within the grid
    with pytest.raises(ValueError, match="res must be in"):
        PJ.cover_cells(areas, C.MAX_RES)

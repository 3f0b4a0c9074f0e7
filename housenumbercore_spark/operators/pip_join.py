"""Point-in-polygon spatial join via cell equi-join + exact refine.

This operator replaces the reference's per-municipality PostGIS queries —
``ST_Covers(polygon, point)`` over planet tables, one JDBC round-trip per
area (/root/reference/src/de/regioosm/theoreticalhousenumbercore/
TheoreticalHousenumbers.java:879-883, 1062-1065, 1195-1199) — with ONE
set-based plan over all areas at once:

1. **Cover** every admin polygon with grid cells at a join resolution
   (superset cover from the polygon's bbox, pruned to cells whose rectangle
   actually intersects the polygon). Distributed ``mapInPandas`` over the
   dimension; output is the narrow ``(cell, area_id)`` build side.
2. **Encode** every point's cell as pure column arithmetic (whole-stage
   codegen — zero Python on the fact path).
3. **Equi-join** fact.cell == dim.cell. The dimension side is broadcast by
   default (a 10⁵-polygon dim covers to a few million narrow rows ≪ the
   64 MB broadcast threshold), so the 10¹²-row fact side is *never
   shuffled*. For dims too large to broadcast, :func:`salted_cell_join`
   provides a shuffle join with hot-cell salting.
4. **Refine** candidates with the exact predicate as one whole-stage
   codegen expression (:func:`jvm_refine_expr`): each cover row carries
   the ring edges overlapping its cell, an off-boundary reference point
   and that point's membership, so parity transport along ref→point
   decides covers/contains. Full (interior) cells carry no edges and are
   sure hits. No Python runs on the fact path; the numpy kernels of
   geo.geometry are the test-side oracle for this expression.

Scale notes (100 TB / 1000 executors): the only wide operation in the whole
plan is whatever aggregation the caller adds afterwards; candidates stream
map-side through the broadcast join + refine. Cell-boundary correctness:
cover is a superset (bbox cells ∩ polygon-intersecting), so no candidate is
missed; the refine is exact.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geo import cells as C
from ..geo import geometry as G

# dunder-reserved refine-payload columns produced by cover_cells and
# consumed by jvm_refine_expr / seg_crossing_expr (reserved like __cell:
# plain names would collide with user payload columns through the join)
REFINE_COLS = (
    "__pj_full", "__pj_ref_x", "__pj_ref_y", "__pj_ref_inside", "__pj_edges"
)

import os

# Cover granularity trades boundary-cell share (finer → fewer refine
# rows) against broadcast-map size (finer → slower hash probes). Measured
# on the sf0.1 flagship: 256 cells/area beats 1024 by ~35% wall — probe
# locality wins over refine savings here.
COVER_MAX_CELLS_PER_AREA = int(os.environ.get("SPARK_GRAFT_COVER_CELLS", "256"))


def pick_join_res(areas: DataFrame, bbox_cols=("xmin", "ymin", "xmax", "ymax"),
                  max_cells: int = COVER_MAX_CELLS_PER_AREA, finest: int = 13) -> int:
    """One fixed join resolution for the whole dim: the finest res whose
    cover of the *median-sized* area stays under ``max_cells``. Single tiny
    aggregate on the dimension — not the fact table."""
    xmin, ymin, xmax, ymax = bbox_cols
    row = areas.select(
        F.expr(f"percentile({xmax} - {xmin}, 0.5)").alias("w"),
        F.expr(f"percentile({ymax} - {ymin}, 0.5)").alias("h"),
        F.min(xmin).alias("x0"), F.min(ymin).alias("y0"),
    ).collect()[0]
    if row.w is None:
        # empty dimension: any res yields the (empty) join; the coarsest
        # avoids building a pointless fine-grained fact-side cell column
        return 0
    return C.pick_cover_res(
        row.x0, row.y0, row.x0 + max(row.w, 1e-9), row.y0 + max(row.h, 1e-9),
        max_cells=max_cells, finest=finest,
    )


def _boundary_cells(poly, res: int) -> np.ndarray:
    """Cells the polygon BOUNDARY passes through — exact superset.

    Every ring is sampled along its arc length at step = cellsize/2
    (vertices included exactly), and the sampled cells are padded with
    k_ring(1). Any boundary point is within cellsize/4 of a sample, hence
    inside the sample's cell or an adjacent one → always inside the padded
    set. This also catches long edges that cross cells containing no
    vertex (which a vertex-cell test alone would miss).
    """
    n = 1 << res
    step = min(360.0 / n, 180.0 / n) / 2.0
    marked: list[np.ndarray] = []
    for p in G.to_polygons(poly):
        for ring in p.rings:
            xs, ys = ring[:, 0], ring[:, 1]
            seg = np.hypot(np.diff(xs), np.diff(ys))
            cum = np.concatenate([[0.0], np.cumsum(seg)])
            total = float(cum[-1])
            nsamp = max(int(np.ceil(total / step)) + 1, 2)
            ts = np.linspace(0.0, total, nsamp)
            sx = np.concatenate([np.interp(ts, cum, xs), xs])
            sy = np.concatenate([np.interp(ts, cum, ys), ys])
            marked.append(C.encode_cells(sx, sy, res))
    cells = np.unique(np.concatenate(marked))
    return np.unique(C.k_ring(cells, 1).ravel())


def _ring_edges(poly) -> np.ndarray:
    """All ring edges of a (multi)polygon as an (E, 4) array [x0,y0,x1,y1]."""
    segs = []
    for p in G.to_polygons(poly):
        for ring in p.rings:
            r = G._close_ring(ring)  # single ring-closing definition (geo/geometry.py)
            segs.append(
                np.column_stack([r[:-1, 0], r[:-1, 1], r[1:, 0], r[1:, 1]])
            )
    return np.concatenate(segs) if segs else np.empty((0, 4))


def _parity(edges: np.ndarray, x: float, y: float) -> bool:
    """Even-odd membership by ray casting over ALL ring edges (holes are
    handled by parity naturally)."""
    y0, y1 = edges[:, 1], edges[:, 3]
    x0, x1 = edges[:, 0], edges[:, 2]
    m = (y0 > y) != (y1 > y)
    if not m.any():
        return False
    xi = x0[m] + (y - y0[m]) * (x1[m] - x0[m]) / (y1[m] - y0[m])
    return bool(np.count_nonzero(xi > x) % 2)


def _seg_point_dist(edges: np.ndarray, x: float, y: float) -> float:
    dx, dy = edges[:, 2] - edges[:, 0], edges[:, 3] - edges[:, 1]
    L2 = dx * dx + dy * dy
    t = np.clip(
        ((x - edges[:, 0]) * dx + (y - edges[:, 1]) * dy) / np.where(L2 > 0, L2, 1),
        0.0,
        1.0,
    )
    px, py = edges[:, 0] + t * dx, edges[:, 1] + t * dy
    return float(np.min(np.hypot(px - x, py - y))) if len(edges) else np.inf


def cover_cells(
    areas: DataFrame,
    res: int,
    id_col: str = "area_id",
    wkb_col: str = "polygon",
) -> DataFrame:
    """Explode the polygon dimension into refine-ready cover rows:
    ``(cell, area_id, __pj_full, __pj_ref_x, __pj_ref_y, __pj_ref_inside,
    __pj_edges)``.

    The refine payload columns are DUNDER-RESERVED (like ``__cell``): the
    join in assign_points_to_areas duplicates dim columns onto the fact
    side, so plain names like ``full``/``edges`` would collide with user
    payload columns — an AMBIGUOUS_REFERENCE crash in the refine filter,
    or a silently dropped user column on the exact=False path.

    Superset guarantee: a cell is emitted iff a corner/center is covered OR
    the boundary (padded, exact — see _boundary_cells) touches it; no
    covered point can sit in an unemitted cell.

    The refine payload makes the exact point-in-polygon test a PURE JVM
    expression downstream (jvm_refine_expr): for each cell we store the
    ring edges whose bbox overlaps the cell (conservative superset — extra
    edges cannot cross an in-cell segment, so they are harmless), a
    reference point inside the cell that is provably off-boundary, and the
    reference point's even-odd membership. A point P in the cell is inside
    the polygon iff ref_inside XOR (segment ref→P properly crosses an odd
    number of stored edges). Full cells (entirely interior) carry zero
    edges, so the same expression short-circuits to ``__pj_ref_inside``.

    Scale note: the dim explodes to ≈ cover_cells × (1 + edges/cell) narrow
    rows; for dims too large to broadcast, use salted_cell_join and the
    same refine expression.
    """
    out_schema = T.StructType(
        [
            T.StructField("cell", T.LongType(), False),
            T.StructField(id_col, areas.schema[id_col].dataType, False),
            T.StructField("__pj_full", T.BooleanType(), False),
            T.StructField("__pj_ref_x", T.DoubleType(), False),
            T.StructField("__pj_ref_y", T.DoubleType(), False),
            T.StructField("__pj_ref_inside", T.BooleanType(), False),
            T.StructField(
                "__pj_edges",
                T.ArrayType(T.ArrayType(T.DoubleType()), False),
                False,
            ),
        ]
    )

    def gen(batches):
        for pdf in batches:
            rows: list[tuple] = []
            for aid, wkb in zip(pdf[id_col].values, pdf[wkb_col].values):
                # dimension rows are curated admin boundaries: a NULL /
                # empty / non-areal geometry is a data-model error, not
                # dirty payload — fail LOUDLY but with the offending area
                # named (the raw TypeError/IndexError deep in the parse
                # names nothing), unlike the payload-side quarantine seams
                try:
                    if wkb is None:
                        raise ValueError("NULL geometry")
                    poly = G.parse_wkb(bytes(wkb))
                    bx = poly.bbox()
                except Exception as exc:
                    raise ValueError(
                        f"cover_cells: {id_col}={aid!r} has an unusable "
                        f"{wkb_col} ({type(exc).__name__}: {exc}) — the "
                        "polygon dimension must carry valid areal WKB"
                    ) from exc
                cand = C.cover_bbox(bx[0], bx[1], bx[2], bx[3], res)
                lo, la, hi, ha = C.cell_bounds(cand)
                corner_all = np.ones(len(cand), dtype=bool)
                corner_any = np.zeros(len(cand), dtype=bool)
                for cx, cy in ((lo, la), (hi, la), (hi, ha), (lo, ha)):
                    cov = G.covers(poly, cx, cy)
                    corner_all &= cov
                    corner_any |= cov
                corner_any |= G.covers(poly, (lo + hi) / 2, (la + ha) / 2)
                on_boundary = np.isin(cand, _boundary_cells(poly, res))
                keep = corner_any | on_boundary
                full = corner_all & ~on_boundary
                all_edges = _ring_edges(poly)
                ebx = np.minimum(all_edges[:, 0], all_edges[:, 2])
                ebX = np.maximum(all_edges[:, 0], all_edges[:, 2])
                eby = np.minimum(all_edges[:, 1], all_edges[:, 3])
                ebY = np.maximum(all_edges[:, 1], all_edges[:, 3])
                pad = (hi[0] - lo[0]) * 1e-9 if len(cand) else 0.0
                for i in np.nonzero(keep)[0]:
                    if full[i]:
                        rows.append(
                            (int(cand[i]), aid, True,
                             float((lo[i] + hi[i]) / 2),
                             float((la[i] + ha[i]) / 2), True, [])
                        )
                        continue
                    em = (
                        (ebX >= lo[i] - pad) & (ebx <= hi[i] + pad)
                        & (ebY >= la[i] - pad) & (eby <= ha[i] + pad)
                    )
                    edges = all_edges[em]
                    # reference point: strictly inside the cell, off-boundary
                    w, h = hi[i] - lo[i], ha[i] - la[i]
                    ref = None
                    for fx, fy in ((0.5, 0.5), (0.25, 0.25), (0.75, 0.25),
                                   (0.25, 0.75), (0.75, 0.75), (0.382, 0.618),
                                   (0.618, 0.382), (0.137, 0.421)):
                        rx, ry = lo[i] + fx * w, la[i] + fy * h
                        if _seg_point_dist(edges, rx, ry) > 1e-9 * max(w, h):
                            ref = (rx, ry)
                            break
                    if ref is None:  # pathological; fall back to center
                        ref = (lo[i] + 0.5 * w, la[i] + 0.5 * h)
                    rows.append(
                        (int(cand[i]), aid, False, float(ref[0]), float(ref[1]),
                         _parity(all_edges, ref[0], ref[1]),
                         [e.tolist() for e in edges])
                    )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=["cell", id_col, "__pj_full", "__pj_ref_x",
                             "__pj_ref_y", "__pj_ref_inside", "__pj_edges"],
                )

    return areas.select(id_col, wkb_col).mapInPandas(gen, out_schema)


def jvm_refine_expr(
    lon: str = "lon", lat: str = "lat", predicate: str = "covers"
) -> F.Column:
    """Exact point-in-polygon as a pure whole-stage-codegen expression over
    the cover_cells refine payload — boundary-inclusive (``covers``,
    ST_Covers, the default) or strict (``contains``, ST_Contains; the only
    difference is whether a point exactly ON a stored edge is accepted):
    even-odd parity transported from the cell's reference point along the
    segment ref→point, counting crossings with the cell's stored edges.

    Degenerate cases (grid-derived data makes exact collinearity real):

    - Crossing counts use the HALF-OPEN convention ``(d<0) != (d'<0)`` (zero
      lands on the positive side) instead of strict sign products. When the
      ref→point segment passes exactly through a shared edge vertex, the two
      incident edges then contribute exactly one crossing if the boundary
      genuinely crosses the segment and zero/two if it only touches — the
      strict test counted zero either way and flipped the parity.
    - A point lying exactly ON a stored edge is accepted outright
      (``covers`` is boundary-inclusive); parity transport is ambiguous
      there by nature.
    The ref point itself is chosen off-boundary by cover_cells, so d3 ≠ 0
    whenever the edge could cross the ref→point segment interior.
    """
    # ccw(A,B,P) sign tests; A=ref, B=point, C/D=edge endpoints
    rx, ry = "__pj_ref_x", "__pj_ref_y"
    d1 = f"((({lon})-{rx})*(e[1]-{ry}) - (({lat})-{ry})*(e[0]-{rx}))"
    d2 = f"((({lon})-{rx})*(e[3]-{ry}) - (({lat})-{ry})*(e[2]-{rx}))"
    d3 = f"((e[2]-e[0])*({ry}-e[1]) - (e[3]-e[1])*({rx}-e[0]))"
    d4 = f"((e[2]-e[0])*(({lat})-e[1]) - (e[3]-e[1])*(({lon})-e[0]))"
    crossings = (
        f"aggregate(__pj_edges, 0, (acc, e) -> acc + "
        f"IF( (({d1}) < 0) != (({d2}) < 0) AND (({d3}) < 0) != (({d4}) < 0), "
        f"1, 0))"
    )
    on_edge = (
        f"exists(__pj_edges, e -> ({d4}) = 0 "
        f"AND ({lon}) >= least(e[0], e[2]) AND ({lon}) <= greatest(e[0], e[2]) "
        f"AND ({lat}) >= least(e[1], e[3]) AND ({lat}) <= greatest(e[1], e[3]))"
    )
    if predicate not in ("covers", "contains"):
        raise ValueError(f"unknown predicate {predicate!r}")
    edge_result = "true" if predicate == "covers" else "false"
    return F.expr(
        f"CASE WHEN {on_edge} THEN {edge_result} "
        f"ELSE __pj_ref_inside != (({crossings}) % 2 = 1) END"
    )


def seg_crossing_expr(
    x0: str = "x0", y0: str = "y0", x1: str = "x1", y1: str = "y1"
) -> F.Column:
    """Inclusive segment-vs-boundary intersection as a pure codegen
    expression: true iff segment (x0,y0)-(x1,y1) properly crosses OR touches
    any edge in the cell's ``edges`` payload. Exactly mirrors the vectorized
    kernel geo.geometry._segments_intersect (orientation signs + collinear
    bbox touch), so the JVM street refine matches the python path bit for
    bit. Replaces the reference's per-municipality ST_Contains/ST_Crosses
    round-trips (MunicipalityJobs.java:282-304) on the candidate set."""
    # orientation tests; S0/S1 = segment endpoints, E0/E1 = edge endpoints
    d1 = f"((({x1})-({x0}))*(e[1]-({y0})) - (({y1})-({y0}))*(e[0]-({x0})))"
    d2 = f"((({x1})-({x0}))*(e[3]-({y0})) - (({y1})-({y0}))*(e[2]-({x0})))"
    d3 = f"((e[2]-e[0])*(({y0})-e[1]) - (e[3]-e[1])*(({x0})-e[0]))"
    d4 = f"((e[2]-e[0])*(({y1})-e[1]) - (e[3]-e[1])*(({x1})-e[0]))"
    on_seg_s = (  # point (px,py) within the segment's bbox (collinear case)
        lambda px, py: f"({px}) >= least({x0}, {x1}) AND ({px}) <= greatest({x0}, {x1}) "
        f"AND ({py}) >= least({y0}, {y1}) AND ({py}) <= greatest({y0}, {y1})"
    )
    on_seg_e = (
        lambda px, py: f"({px}) >= least(e[0], e[2]) AND ({px}) <= greatest(e[0], e[2]) "
        f"AND ({py}) >= least(e[1], e[3]) AND ({py}) <= greatest(e[1], e[3])"
    )
    proper = f"((({d1}) > 0) != (({d2}) > 0)) AND ((({d3}) > 0) != (({d4}) > 0))"
    touch = (
        f"(({d1}) = 0 AND {on_seg_s('e[0]', 'e[1]')}) OR "
        f"(({d2}) = 0 AND {on_seg_s('e[2]', 'e[3]')}) OR "
        f"(({d3}) = 0 AND {on_seg_e(x0, y0)}) OR "
        f"(({d4}) = 0 AND {on_seg_e(x1, y1)})"
    )
    return F.expr(f"exists(__pj_edges, e -> ({proper}) OR ({touch}))")


def seg_cover_cells_cols(
    df: DataFrame,
    res: int,
    x0: str = "x0",
    y0: str = "y0",
    x1: str = "x1",
    y1: str = "y1",
    out: str = "cell",
) -> DataFrame:
    """Explode each segment row to the grid cells covering its bbox —
    pure column arithmetic + two sequence-explodes, zero Python. Superset
    cover: the exact refine downstream discards false candidates. Index
    arithmetic is the grid's single definition (cells.ix_col/iy_col), so
    the cover can never drift from the point encodes it equi-joins
    against."""
    lo_x = C.ix_col(F.least(F.col(x0), F.col(x1)), res)
    hi_x = C.ix_col(F.greatest(F.col(x0), F.col(x1)), res)
    lo_y = C.iy_col(F.least(F.col(y0), F.col(y1)), res)
    hi_y = C.iy_col(F.greatest(F.col(y0), F.col(y1)), res)
    d = df.withColumn("__gx", F.explode(F.sequence(lo_x, hi_x)))
    d = d.withColumn("__gy", F.explode(F.sequence(lo_y, hi_y)))
    cell = C.pack_col(res, F.col("__gx"), F.col("__gy"))
    return d.withColumn(out, cell).drop("__gx", "__gy")


def assign_points_to_areas(
    spark,
    points: DataFrame,
    areas: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    id_col: str = "area_id",
    wkb_col: str = "polygon",
    res: int | None = None,
    predicate: str = "covers",
    exact: bool = True,
) -> DataFrame:
    """points × areas spatial join: one output row per (point, covering area).

    Overlapping admin levels produce multiple rows per point by design
    (reference evaluates each area independently; SURVEY.md §7.3).

    The exact test stays inside whole-stage codegen — zero Python on the
    fact path (measured: the Arrow/IPC hop caps at a few M rows/s per
    node regardless of cores, so this is the difference between a
    scaling and a non-scaling plan). ``predicate`` is boundary-inclusive
    ``covers`` or strict ``contains`` for points exactly ON a polygon
    boundary.

    ``spark`` is unused (the plan derives everything from the input
    frames); the parameter stays for signature uniformity with the
    session-bound operators every caller already threads a session to.
    """
    if res is None:
        res = pick_join_res(areas)
    dim = cover_cells(areas, res, id_col=id_col, wkb_col=wkb_col)
    refine_cols = list(REFINE_COLS)
    pts = points.withColumn("__cell", C.cell_col(lon, lat, res))
    # internal name for the dim join column — dropping 'cell' by name
    # would also clobber a points payload column called 'cell'
    dim = dim.withColumnRenamed("cell", "__dim_cell")
    cand = pts.join(
        F.broadcast(dim), pts["__cell"] == dim["__dim_cell"], "inner"
    ).drop("__dim_cell", "__cell")
    if not exact:
        return cand.drop(*refine_cols)
    # predicate reaches the codegen refine too (a silently-ignored
    # 'contains' here would return boundary points for BOTH areas
    # sharing an edge while the caller asked for strict containment)
    return cand.filter(
        jvm_refine_expr(lon, lat, predicate=predicate)
    ).drop(*refine_cols)


def salted_cell_join(
    points: DataFrame,
    dim_cells: DataFrame,
    n_salt: int = 8,
    cell_col_name: str = "__cell",
) -> DataFrame:
    """Shuffle cell join with salting, for dimension sides too large to
    broadcast: fact rows pick ``salt = pmod(hash(point_id-ish cols), n_salt)``
    and the dim side is replicated n_salt times, so one hot urban cell
    spreads over ``n_salt`` reducers. AQE skew-join handles residual skew.
    """
    # the salt must be DETERMINISTIC per row: monotonically_increasing_id
    # depends on partition layout and row order, so a task retry or
    # speculative re-execution after an upstream shuffle would re-salt rows
    # differently and route them to reducers that already committed —
    # silently dropping (or duplicating) join rows. Hash the row content
    # instead (maps are unhashable in Spark and excluded; they never carry
    # the identity anyway).
    hashable = [
        f.name for f in points.schema.fields
        if not isinstance(f.dataType, T.MapType)
    ]
    salt = (
        F.pmod(F.xxhash64(*hashable), F.lit(n_salt)).cast("long")
        if hashable else F.lit(0).cast("long")
    )
    pts = points.withColumn("__salt", salt)
    # the dim's join column gets an internal name BEFORE the join: dropping
    # a column literally named 'cell' afterwards would also clobber a
    # points payload column of that name
    dim = (
        dim_cells.withColumnRenamed("cell", "__dim_cell")
        .withColumn("__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))))
        .withColumn("__salt", F.col("__salt").cast("long"))
    )
    joined = pts.join(
        dim,
        (pts[cell_col_name] == dim["__dim_cell"]) & (pts["__salt"] == dim["__salt"]),
        "inner",
    )
    return joined.drop("__salt", "__dim_cell")


def tile_assign(points: DataFrame, res: int, lon: str = "lon", lat: str = "lat",
                out: str = "tile_id") -> DataFrame:
    """Raster-tile assignment: tile id = grid cell id at ``res`` (pure
    codegen). The raster↔vector association of the north rule is then a
    plain equi-join on tile_id."""
    return points.withColumn(out, C.cell_col(lon, lat, res))

"""Point-in-polygon spatial join via cell equi-join + exact refine.

This operator replaces the reference's per-municipality PostGIS queries —
``ST_Covers(polygon, point)`` over planet tables, one JDBC round-trip per
area (/root/reference/src/de/regioosm/theoreticalhousenumbercore/
TheoreticalHousenumbers.java:879-883, 1062-1065, 1195-1199) — with ONE
set-based plan over all areas at once:

1. **Cover** every admin polygon with a disjoint two-level cell cover
   (:func:`cover_cells`): interior cells at the join resolution, boundary
   cells split one level finer. Distributed ``mapInPandas`` over the
   dimension; output is the narrow ``(cell, area_id, refine payload)``
   build side.
2. **Encode** every point's cell at both levels as pure column arithmetic
   (whole-stage codegen — zero Python on the fact path), exploded into one
   probe row per level.
3. **Equi-join** fact.cell == dim.cell. The dimension side is broadcast by
   default (a 10⁵-polygon dim covers to a few million narrow rows ≪ the
   64 MB broadcast threshold), so the 10¹²-row fact side is *never
   shuffled*. For dims too large to broadcast, :func:`salted_cell_join`
   provides a shuffle join with hot-cell salting.
4. **Refine** candidates with the exact predicate as one JVM expression
   (:func:`jvm_refine_expr`): each boundary cover row carries the ring
   edges overlapping its cell, an off-boundary reference point and that
   point's membership, so parity transport along ref→point decides
   covers/contains. Full (interior) cells carry no edges and are sure
   hits. No Python runs on the fact path, but the refine's higher-order
   functions (``aggregate``/``exists``) are not code-generated in Spark
   4.1: the filter holding them runs interpreted outside the whole-stage
   codegen stage, at a cost of candidates × edges per cover row — which
   the finer boundary level keeps small. The numpy kernels of
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

# Cover granularity trades boundary-cell share (finer → fewer refine
# rows) against broadcast-map size (finer → slower hash probes). Measured
# on the sf0.1 flagship: 256 cells/area beats 1024 by ~35% wall — probe
# locality wins over refine savings here.
COVER_MAX_CELLS_PER_AREA = 256

# Boundary cells of the join resolution are split this many levels finer
# (cover_cells). Measured on the perfbench assign inputs (seed 1): depth 1
# cuts the refine's edge checks from 1.74 to 0.61 per candidate (7.4 to
# 4.1 per boundary candidate); on bench.py's rectangles, whose boundary
# cells carry about one edge, it still cuts the candidates that run the
# refine from 21% to 12%. A depth-2 prototype built 3× the cover rows and
# lost on ingest.
COVER_EXTRA_DEPTH = 1


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
    vertex (which a vertex-cell test alone would miss). A cell outside the
    set holds no boundary point in its closed rectangle, so it lies wholly
    inside or wholly outside the polygon.
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


def _memberships(poly, x: np.ndarray, y: np.ndarray):
    """(union, even-odd) membership of off-boundary points, from one ray
    cast per ring (G._points_in_ring). The union of parts is G.covers off
    the boundary; the even-odd count over all rings is what parity
    transport in jvm_refine_expr assumes. They agree unless parts overlap."""
    union = np.zeros(len(x), dtype=bool)
    parity = np.zeros(len(x), dtype=bool)
    for p in G.to_polygons(poly):
        shell, *holes = (G._points_in_ring(x, y, G._close_ring(r)) for r in p.rings)
        parity ^= shell
        for h in holes:
            parity ^= h
            shell &= ~h
        union |= shell
    return union, parity


def _seg_point_dist(edges: np.ndarray, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Distance from points (x, y), shape (P, K), to edges (P, 4), row-wise."""
    x0, y0, x1, y1 = (edges[:, k:k + 1] for k in range(4))
    dx, dy = x1 - x0, y1 - y0
    L2 = dx * dx + dy * dy
    t = np.clip(((x - x0) * dx + (y - y0) * dy) / np.where(L2 > 0, L2, 1), 0.0, 1.0)
    return np.hypot(x0 + t * dx - x, y0 + t * dy - y)


def _cell_edge_pairs(cells: np.ndarray, edges: np.ndarray, res: int):
    """Sparse (cell index, edge index) pairs, sorted by cell then edge, for
    every edge whose bbox overlaps a cell of ``cells`` (sorted, all at
    ``res``) padded by 1e-9 of the cell width — a conservative superset:
    extra edges cannot cross an in-cell segment, so they are harmless.

    Pairs come from each edge's own index range, so the work is the
    boundary's length in cells, not cells × edges."""
    n = 1 << res
    w, h = 360.0 / n, 180.0 / n
    pad = w * 1e-9
    ebx = np.minimum(edges[:, 0], edges[:, 2])
    ebX = np.maximum(edges[:, 0], edges[:, 2])
    eby = np.minimum(edges[:, 1], edges[:, 3])
    ebY = np.maximum(edges[:, 1], edges[:, 3])

    # one index wider on each side: a rounding slip of the floor can only
    # add pairs, which the exact bound test below drops again
    def span(lo, hi, off, size):
        a = np.floor((lo - pad + off) / size).astype(np.int64) - 1
        b = np.floor((hi + pad + off) / size).astype(np.int64) + 1
        return np.clip(a, 0, n - 1), np.clip(b, 0, n - 1)

    ix0, ix1 = span(ebx, ebX, 180.0, w)
    iy0, iy1 = span(eby, ebY, 90.0, h)
    ny = iy1 - iy0 + 1
    cnt = (ix1 - ix0 + 1) * ny
    e = np.repeat(np.arange(len(edges)), cnt)
    k = np.arange(int(cnt.sum())) - np.repeat(np.cumsum(cnt) - cnt, cnt)
    cid = C.pack(res, ix0[e] + k // ny[e], iy0[e] + k % ny[e])
    hit = np.isin(cid, cells)
    ci, e = np.searchsorted(cells, cid[hit]), e[hit]
    lo, la, hi, ha = C.cell_bounds(cells[ci])
    ok = ((ebX[e] >= lo - pad) & (ebx[e] <= hi + pad)
          & (ebY[e] >= la - pad) & (eby[e] <= ha + pad))
    ci, e = ci[ok], e[ok]
    order = np.lexsort((e, ci))
    return ci[order], e[order]


def _split_boundary(cells: np.ndarray, poly, edges: np.ndarray, res: int):
    """Split ``cells`` (all at ``res``) into calm cells — no boundary
    point in the closed cell, so wholly inside or wholly outside — and
    boundary cells: in the padded boundary set AND overlapped by some edge
    bbox. → (calm, boundary, pair cell index into boundary, pair edge)."""
    cells = np.sort(cells)
    ci, ei = _cell_edge_pairs(cells, edges, res)
    bnd = np.zeros(len(cells), dtype=bool)
    bnd[ci] = True
    bnd &= np.isin(cells, _boundary_cells(poly, res))
    keep = bnd[ci]
    return cells[~bnd], cells[bnd], (np.cumsum(bnd) - 1)[ci[keep]], ei[keep]


# reference-point candidates inside a boundary cell, as (x, y) fractions of
# its extent; the first one clear of every stored edge is used, the centre
# (listed first) when none is
_REF_FRACTIONS = np.array(
    [(0.5, 0.5), (0.25, 0.25), (0.75, 0.25), (0.25, 0.75), (0.75, 0.75),
     (0.382, 0.618), (0.618, 0.382), (0.137, 0.421)]
)


def _area_cover(poly, res: int):
    """One area's disjoint two-level cover as row arrays:
    (cells, full, ref_x, ref_y, ref_inside, edge lists), or None when the
    parts overlap (union and even-odd membership disagree at a tested
    point), which the parity refine cannot answer exactly."""
    edges = _ring_edges(poly)
    bx = poly.bbox()
    calm, split, _, _ = _split_boundary(
        C.cover_bbox(bx[0], bx[1], bx[2], bx[3], res), poly, edges, res
    )
    fine = res + COVER_EXTRA_DEPTH
    calm_kids, bnd, ci, ei = _split_boundary(
        C.children(split, COVER_EXTRA_DEPTH), poly, edges, fine
    )

    # a calm cell's centre decides the whole cell
    calm = np.concatenate([calm, calm_kids])
    lo, la, hi, ha = C.cell_bounds(calm)
    cx, cy = (lo + hi) / 2, (la + ha) / 2

    # boundary cells: a reference point strictly inside the cell and
    # off-boundary
    lo, la, hi, ha = C.cell_bounds(bnd)
    w, h = hi - lo, ha - la
    rx = lo[:, None] + _REF_FRACTIONS[None, :, 0] * w[:, None]
    ry = la[:, None] + _REF_FRACTIONS[None, :, 1] * h[:, None]
    near = np.full(rx.shape, np.inf)
    np.minimum.at(near, ci, _seg_point_dist(edges[ei], rx[ci], ry[ci]))
    clear = near > 1e-9 * np.maximum(w, h)[:, None]
    rows = np.arange(len(bnd))
    pick = np.argmax(clear, axis=1)
    ends = np.cumsum(np.bincount(ci, minlength=len(bnd)))
    edge_lists = [edges[ei[a:b]].tolist() for a, b in zip(np.r_[0, ends[:-1]], ends)]

    # membership of the calm centres and the picked reference points; with
    # more than one ring, of every clear candidate too, which only widens
    # the overlapping-parts check (one ring cannot overlap itself)
    multi = sum(len(p.rings) for p in G.to_polygons(poly)) > 1
    tested = clear.copy() if multi else np.zeros_like(clear)
    tested[rows, pick] = True
    union, parity = _memberships(poly, np.r_[cx, rx[tested]], np.r_[cy, ry[tested]])
    if (union != parity).any():
        return None
    inside = union[:len(calm)]
    cand_inside = np.zeros(rx.shape, dtype=bool)
    cand_inside[tested] = union[len(calm):]
    rx, ry, ref_inside = rx[rows, pick], ry[rows, pick], cand_inside[rows, pick]
    n_full = int(inside.sum())
    return (
        np.concatenate([calm[inside], bnd]),
        np.r_[np.ones(n_full, dtype=bool), np.zeros(len(bnd), dtype=bool)],
        np.concatenate([cx[inside], rx]),
        np.concatenate([cy[inside], ry]),
        np.r_[np.ones(n_full, dtype=bool), ref_inside],
        [[]] * n_full + edge_lists,
    )


def cover_cells(
    areas: DataFrame,
    res: int,
    id_col: str = "area_id",
    wkb_col: str = "polygon",
) -> DataFrame:
    """Explode the polygon dimension into a disjoint two-level cover of
    refine-ready rows: ``(cell, area_id, __pj_full, __pj_ref_x, __pj_ref_y,
    __pj_ref_inside, __pj_edges)``.

    The refine payload columns are DUNDER-RESERVED (like ``__cell``): the
    join in assign_points_to_areas duplicates dim columns onto the fact
    side, so plain names like ``full``/``edges`` would collide with user
    payload columns — an AMBIGUOUS_REFERENCE crash in the refine filter,
    or a silently dropped user column on the exact=False path.

    Two levels, per area (cell ids encode their resolution, so the levels
    never collide in the join):

    - a cell of the bbox cover at ``res`` that no boundary point touches
      is wholly inside or wholly outside, so its centre decides it: kept as
      a FULL row (no edges, a sure hit) when inside, dropped when outside;
    - a cell at ``res`` that the boundary touches is replaced by its
      descendants ``COVER_EXTRA_DEPTH`` levels finer, each classified the
      same way; only the boundary ones among them carry refine edges.

    "Touches" is the padded boundary set (_boundary_cells) narrowed to
    cells that some edge bbox overlaps. The cells of one area are
    disjoint, so a point matches at most one of its rows; every covered
    point sits in an emitted cell (superset guarantee). A join against
    this cover must key each point on BOTH levels (probe_cells_col): a
    point keyed at ``res`` alone never meets a boundary row. ``res`` is
    therefore at most ``C.MAX_RES - COVER_EXTRA_DEPTH``.

    The parts of a multipolygon must not overlap (OGC validity; admin
    relation parts do not): the refine counts crossings over all rings,
    so a duplicated or overlapping part would cancel itself out. An area
    whose union and even-odd memberships disagree at a calm-cell centre or
    a reference-point candidate fails with a ValueError naming it; an
    overlap that holds none of these points goes unseen, and its points
    get the even-odd answer.

    A boundary row stores the ring edges whose bbox overlaps the cell,
    a reference point inside the cell that is provably off-boundary, and
    the reference point's even-odd membership. A point P in the cell is
    inside the polygon iff ref_inside XOR (segment ref→P properly crosses
    an odd number of stored edges) — jvm_refine_expr. The refine's cost is
    candidates × edges, and splitting boundary cells one level finer cuts
    both: fewer candidates fall in boundary cells, and each carries fewer
    edges (see COVER_EXTRA_DEPTH).

    Scale note: the dim explodes to ≈ cover_cells × (1 + edges/cell) narrow
    rows; for dims too large to broadcast, use salted_cell_join on points
    keyed with probe_cells_col and the same refine expression.
    """
    if not 0 <= res <= C.MAX_RES - COVER_EXTRA_DEPTH:
        raise ValueError(
            f"cover_cells: res must be in [0, {C.MAX_RES - COVER_EXTRA_DEPTH}] "
            f"(boundary cells are split to res + {COVER_EXTRA_DEPTH} ≤ "
            f"MAX_RES={C.MAX_RES}), got {res}"
        )
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
    cols = ["cell", "__pj_full", "__pj_ref_x", "__pj_ref_y",
            "__pj_ref_inside", "__pj_edges"]

    def gen(batches):
        for pdf in batches:
            parts: list[pd.DataFrame] = []
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
                    poly.bbox()  # non-areal / ring-less geometries raise here
                except Exception as exc:
                    raise ValueError(
                        f"cover_cells: {id_col}={aid!r} has an unusable "
                        f"{wkb_col} ({type(exc).__name__}: {exc}) — the "
                        "polygon dimension must carry valid areal WKB"
                    ) from exc
                rows = _area_cover(poly, res)
                if rows is None:
                    raise ValueError(
                        f"cover_cells: {id_col}={aid!r} has overlapping or "
                        f"duplicated parts in {wkb_col} — dissolve them: the "
                        "exact refine needs interior-disjoint parts"
                    )
                part = pd.DataFrame(dict(zip(cols, rows)))
                part.insert(1, id_col, aid)
                parts.append(part)
            if parts:
                yield pd.concat(parts, ignore_index=True)

    return areas.select(id_col, wkb_col).mapInPandas(gen, out_schema)


def jvm_refine_expr(
    lon: str = "lon", lat: str = "lat", predicate: str = "covers"
) -> F.Column:
    """Exact point-in-polygon as one JVM expression over the cover_cells
    refine payload — boundary-inclusive (``covers``,
    ST_Covers, the default) or strict (``contains``, ST_Contains; the only
    difference is whether a point exactly ON a stored edge is accepted):
    even-odd parity transported from the cell's reference point along the
    segment ref→point, counting crossings with the cell's stored edges.

    No Python runs, but ``aggregate`` and ``exists`` are not code-generated
    in Spark 4.1 (CodegenFallback): the filter holding this expression
    leaves the whole-stage codegen stage, and each lambda call over each
    stored edge is interpreted. Its cost is candidates × edges per cover
    row, which the two-level cover keeps small; full rows are decided
    before any higher-order function runs.

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
    # a full (interior) cell is a sure hit for either predicate
    return F.expr(
        f"CASE WHEN __pj_full THEN true WHEN {on_edge} THEN {edge_result} "
        f"ELSE __pj_ref_inside != (({crossings}) % 2 = 1) END"
    )


def seg_crossing_expr(
    x0: str = "x0", y0: str = "y0", x1: str = "x1", y1: str = "y1"
) -> F.Column:
    """Inclusive segment-vs-boundary intersection as one JVM expression
    (interpreted ``exists``, like :func:`jvm_refine_expr`): true iff segment (x0,y0)-(x1,y1) properly crosses OR touches
    any edge in the cell's ``edges`` payload. Exactly mirrors the numpy
    oracle tests/geo_oracle.py (orientation signs + collinear bbox touch),
    so the JVM street refine matches it bit for bit. Replaces the
    reference's per-municipality ST_Contains/ST_Crosses round-trips
    (MunicipalityJobs.java:282-304) on the candidate set."""
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


def probe_cells_col(lon: str, lat: str, res: int) -> F.Column:
    """One probe row per cover level: ``explode`` of the point's cell at
    ``res`` and at ``res + COVER_EXTRA_DEPTH`` (pure column arithmetic).
    Cell ids encode their resolution, so a disjoint cover_cells cover
    matches at most one of the two per area."""
    return F.explode(F.array(
        C.cell_col(lon, lat, res), C.cell_col(lon, lat, res + COVER_EXTRA_DEPTH)
    ))


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

    Each point probes the two-level cover with its cell at both levels
    (:func:`probe_cells_col`) in one broadcast hash join; an area's cells
    are disjoint, so each (point, area) pair yields at most one candidate.
    The exact test is a JVM expression — zero Python on the
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
    pts = points.withColumn("__cell", probe_cells_col(lon, lat, res))
    # internal name for the dim join column — dropping 'cell' by name
    # would also clobber a points payload column called 'cell'
    dim = dim.withColumnRenamed("cell", "__dim_cell")
    cand = pts.join(
        F.broadcast(dim), pts["__cell"] == dim["__dim_cell"], "inner"
    ).drop("__dim_cell", "__cell")
    if not exact:
        return cand.drop(*refine_cols)
    # predicate reaches the JVM refine too (a silently-ignored
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
    how: str = "inner",
) -> DataFrame:
    """Shuffle cell join with salting, for dimension sides too large to
    broadcast: fact rows pick ``salt = pmod(hash(point_id-ish cols), n_salt)``
    and the dim side is replicated n_salt times, so one hot urban cell
    spreads over ``n_salt`` reducers. AQE skew-join handles residual skew.
    ``how='left'`` keeps every fact row (null-extended when its cell, or
    its NULL key, matches nothing), as the kNN ladder's rounds need.

    Against a cover_cells dim, key the points with probe_cells_col (one
    row per cover level): keyed at the join res alone, they meet only the
    full rows and lose every boundary point.
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
        how,
    )
    return joined.drop("__salt", "__dim_cell")


def tile_assign(points: DataFrame, res: int, lon: str = "lon", lat: str = "lat",
                out: str = "tile_id") -> DataFrame:
    """Raster-tile assignment: tile id = grid cell id at ``res`` (pure
    codegen). The raster↔vector association of the north rule is then a
    plain equi-join on tile_id."""
    return points.withColumn(out, C.cell_col(lon, lat, res))

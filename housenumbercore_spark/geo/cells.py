"""Hierarchical discrete-global-grid cells, built from scratch.

The reference delegates every spatial predicate to PostGIS GiST indexes
(per-row JDBC, e.g. /root/reference/src/de/regioosm/housenumbercore/
MunicipalityJobs.java:282-304). This engine replaces the index with an
H3/S2-style *cell equi-join*: every geometry is assigned one or more cells of
a hierarchical grid, candidate pairs come from a hash join on the cell id, and
an exact geometry refine runs only on candidates.

Grid definition (the "HNS grid"):

- resolution ``r`` in [0, MAX_RES=26]
- at resolution r the world splits into ``2^r × 2^r`` cells over
  lon ∈ [-180, 180), lat ∈ [-90, 90)
- ``ix = floor((lon+180)/360 * 2^r)`` (clamped), ``iy`` likewise for lat
- cell id (int64): ``(r << 58) | (ix << 29) | iy``

The id packing is deliberately plain (res/ix/iy bit fields, not Morton) so
that it can be computed *JVM-side as pure column arithmetic* — the hot path
(a billion point encodes) never leaves whole-stage codegen and the DuckDB
oracle can reproduce it in ANSI SQL (see :func:`cell_sql`). A Morton/Z-order
key (:func:`morton_key`) is provided separately for storage layout (sorting
files so that spatially close cells land in the same parquet row groups —
min/max pruning then behaves like a coarse spatial index).

Everything here is vectorized numpy; the Spark-facing column builders are in
this module too so the grid has exactly one definition.

Approx cell edge sizes (lat direction): r=7 → ~156 km, r=10 → ~19.5 km,
r=13 → ~2.4 km, r=16 → ~0.3 km.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_RES = 26
_RES_SHIFT = 58
_IX_SHIFT = 29

# ---------------------------------------------------------------------------
# numpy kernel
# ---------------------------------------------------------------------------

def encode_cells(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """Vectorized (lon, lat) → int64 cell id at resolution ``res``."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}], got {res}")
    n = np.int64(1) << res
    ix = np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * n).astype(np.int64)
    iy = np.floor((np.asarray(lat, dtype=np.float64) + 90.0) / 180.0 * n).astype(np.int64)
    np.clip(ix, 0, n - 1, out=ix)
    np.clip(iy, 0, n - 1, out=iy)
    return (np.int64(res) << _RES_SHIFT) | (ix << _IX_SHIFT) | iy


def cell_res(cell: np.ndarray) -> np.ndarray:
    return (np.asarray(cell, dtype=np.int64) >> _RES_SHIFT).astype(np.int64)


def cell_ix(cell: np.ndarray) -> np.ndarray:
    return (np.asarray(cell, dtype=np.int64) >> _IX_SHIFT) & ((np.int64(1) << _RES_SHIFT - _IX_SHIFT) - 1)


def cell_iy(cell: np.ndarray) -> np.ndarray:
    return np.asarray(cell, dtype=np.int64) & ((np.int64(1) << _IX_SHIFT) - 1)


def pack(res: int | np.ndarray, ix: np.ndarray, iy: np.ndarray) -> np.ndarray:
    return (
        (np.asarray(res, dtype=np.int64) << _RES_SHIFT)
        | (np.asarray(ix, dtype=np.int64) << _IX_SHIFT)
        | np.asarray(iy, dtype=np.int64)
    )


def cell_bounds(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """cell → (lon_min, lat_min, lon_max, lat_max) arrays."""
    cell = np.asarray(cell, dtype=np.int64)
    r = cell_res(cell)
    n = (np.int64(1) << r).astype(np.float64)
    ix = cell_ix(cell).astype(np.float64)
    iy = cell_iy(cell).astype(np.float64)
    w = 360.0 / n
    h = 180.0 / n
    lon_min = -180.0 + ix * w
    lat_min = -90.0 + iy * h
    return lon_min, lat_min, lon_min + w, lat_min + h


def parent(cell: np.ndarray, parent_res: int) -> np.ndarray:
    """Coarsen cells to ``parent_res`` (must be <= each cell's res)."""
    cell = np.asarray(cell, dtype=np.int64)
    r = cell_res(cell)
    shift = r - parent_res
    if np.any(shift < 0):
        raise ValueError("parent_res must be <= cell res")
    return pack(parent_res, cell_ix(cell) >> shift, cell_iy(cell) >> shift)


def children(cells, depth: int = 1) -> np.ndarray:
    """The 4^depth descendants ``depth`` levels finer of each cell (one
    resolution), flattened in input order."""
    cells = np.atleast_1d(np.asarray(cells, dtype=np.int64))
    r = int(cell_res(cells[0])) if cells.size else 0
    if r + depth > MAX_RES:
        raise ValueError(f"children would exceed MAX_RES={MAX_RES}")
    offs = np.arange(1 << depth, dtype=np.int64)
    ix = (cell_ix(cells) << depth)[:, None, None] + offs[None, :, None]
    iy = (cell_iy(cells) << depth)[:, None, None] + offs[None, None, :]
    return pack(r + depth, ix, iy).ravel()


def k_ring(cells: np.ndarray, k: int = 1) -> np.ndarray:
    """All cells within Chebyshev distance k of each input cell (incl. self).

    Longitude wraps around the antimeridian; latitude clamps at the poles.
    Returns shape (len(cells), (2k+1)^2); duplicates possible at lat clamp.
    Mirrors H3's k_ring used for kNN candidate expansion
    (SURVEY.md J10; reference has name-equality joins only).
    """
    cells = np.asarray(cells, dtype=np.int64)
    r = cell_res(cells)
    if cells.size and not np.all(r == r.flat[0]):
        raise ValueError("k_ring requires uniform resolution")
    n = np.int64(1) << (int(r.flat[0]) if cells.size else 0)
    ix = cell_ix(cells)[:, None]
    iy = cell_iy(cells)[:, None]
    offs = np.arange(-k, k + 1, dtype=np.int64)
    dx, dy = np.meshgrid(offs, offs)
    nx = np.mod(ix + dx.ravel()[None, :], n)  # lon wrap
    ny = np.clip(iy + dy.ravel()[None, :], 0, n - 1)  # lat clamp
    rr = (r[:, None] if cells.size else np.int64(0))
    return pack(rr, nx, ny)


def cover_bbox(
    lon_min: float, lat_min: float, lon_max: float, lat_max: float, res: int
) -> np.ndarray:
    """All cells at ``res`` intersecting the bbox (superset cover).

    Antimeridian-crossing boxes are not supported (the reference operates on
    European admin areas; extend by splitting the box if ever needed).
    """
    n = 1 << res
    c0 = encode_cells(np.array([lon_min]), np.array([lat_min]), res)[0]
    # hi index = the cell (lon_max, lat_max) ITSELF encodes to: when the max
    # edge lies exactly on a cell boundary, boundary points encode into the
    # NEXT cell, and excluding it (an earlier nextafter-shrink did) broke
    # the superset guarantee every cover consumer relies on
    c1 = encode_cells(np.array([lon_max]), np.array([lat_max]), res)[0]
    x0, x1 = int(cell_ix(np.int64(c0))), int(cell_ix(np.int64(c1)))
    y0, y1 = int(cell_iy(np.int64(c0))), int(cell_iy(np.int64(c1)))
    xs = np.arange(x0, min(x1, n - 1) + 1, dtype=np.int64)
    ys = np.arange(y0, min(y1, n - 1) + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys)
    return pack(res, gx.ravel(), gy.ravel())


def pick_cover_res(
    lon_min: float, lat_min: float, lon_max: float, lat_max: float,
    max_cells: int = 256, finest: int = 13,
) -> int:
    """Finest resolution whose bbox cover stays under ``max_cells``.

    Per-polygon adaptive resolution: big countries get coarse covers, small
    suburbs get fine ones, keeping the exploded cover dimension bounded.
    """
    for res in range(finest, -1, -1):
        n = 1 << res
        nx = int((lon_max + 180.0) / 360.0 * n) - int((lon_min + 180.0) / 360.0 * n) + 1
        ny = int((lat_max + 90.0) / 180.0 * n) - int((lat_min + 90.0) / 180.0 * n) + 1
        if nx * ny <= max_cells:
            return res
    return 0


def morton_key(cell: np.ndarray) -> np.ndarray:
    """Z-order interleave of (ix, iy) — storage/sort key for spatial locality."""
    cell = np.asarray(cell, dtype=np.int64)
    x = cell_ix(cell).astype(np.uint64)
    y = cell_iy(cell).astype(np.uint64)

    def _spread(v: np.ndarray) -> np.ndarray:
        v = v & np.uint64(0x3FFFFFF)  # 26 bits
        v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
        v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
        v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
        v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
        v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
        return v

    return (_spread(x) << np.uint64(1) | _spread(y)).astype(np.int64)


# ---------------------------------------------------------------------------
# Spark column / SQL builders — the SAME arithmetic, JVM-side
# ---------------------------------------------------------------------------

def ix_col(lon: Column | str, res: int) -> Column:
    """Clamped x grid index of a longitude column — THE index expression
    (cell_col and the segment bbox cover both build on it; the grid keeps
    exactly one definition, like pack_col for the id packing)."""
    lon = F.col(lon) if isinstance(lon, str) else lon
    n = 1 << res
    return F.least(
        F.greatest(
            F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n))),
            F.lit(0),
        ),
        F.lit(n - 1),
    ).cast("long")


def iy_col(lat: Column | str, res: int) -> Column:
    """Clamped y grid index of a latitude column (see :func:`ix_col`)."""
    lat = F.col(lat) if isinstance(lat, str) else lat
    n = 1 << res
    return F.least(
        F.greatest(
            F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(n))),
            F.lit(0),
        ),
        F.lit(n - 1),
    ).cast("long")


def cell_col(lon: Column | str, lat: Column | str, res: int) -> Column:
    """Cell id as a pure Catalyst column expression (whole-stage codegen).

    No UDF: the billion-row point-encode path never touches Python.
    """
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}], got {res}")
    return pack_col(res, ix_col(lon, res), iy_col(lat, res))


def pack_col(res: int, ix: Column, iy: Column) -> Column:
    """Column-side cell-id packing — the Catalyst twin of :func:`pack`.
    Operators that rebuild cell ids from index arithmetic (k-ring
    expansion, segment bbox covers) MUST use this so the grid keeps
    exactly one id definition across numpy, Spark and SQL."""
    return (
        F.lit(int(res)).cast("long") * F.lit(1 << _RES_SHIFT).cast("long")
        + ix.cast("long") * F.lit(1 << _IX_SHIFT).cast("long")
        + iy.cast("long")
    )


def cell_ix_col(cell: Column | str) -> Column:
    """Column-side :func:`cell_ix` (x index from a packed id)."""
    cell = F.col(cell) if isinstance(cell, str) else cell
    return F.shiftright(cell, _IX_SHIFT) % F.lit(1 << (_RES_SHIFT - _IX_SHIFT))


def cell_iy_col(cell: Column | str) -> Column:
    """Column-side :func:`cell_iy` (y index from a packed id)."""
    cell = F.col(cell) if isinstance(cell, str) else cell
    return cell % F.lit(1 << _IX_SHIFT)


def ix_sql(lon_expr: str, res: int) -> str:
    """ANSI-SQL twin of :func:`ix_col` (DuckDB and Spark SQL alike)."""
    n = 1 << res
    return f"LEAST(GREATEST(CAST(FLOOR(({lon_expr} + 180.0) / 360.0 * {n}.0) AS BIGINT), 0), {n - 1})"


def iy_sql(lat_expr: str, res: int) -> str:
    """ANSI-SQL twin of :func:`iy_col`."""
    n = 1 << res
    return f"LEAST(GREATEST(CAST(FLOOR(({lat_expr} + 90.0) / 180.0 * {n}.0) AS BIGINT), 0), {n - 1})"


def pack_sql(res: int, ix_expr: str, iy_expr: str) -> str:
    """ANSI-SQL twin of :func:`pack_col`."""
    return f"(CAST({res} AS BIGINT) * {1 << _RES_SHIFT} + ({ix_expr}) * {1 << _IX_SHIFT} + ({iy_expr}))"


def cell_sql(lon_expr: str, lat_expr: str, res: int) -> str:
    """ANSI-SQL string computing the identical cell id (DuckDB oracle). Spark
    evaluates it bit-identically to :func:`cell_col`, so Spark code that
    builds many cell expressions may parse this one string (``F.expr``)
    instead of composing ~25 Column calls through the Python gateway."""
    return pack_sql(res, ix_sql(lon_expr, res), iy_sql(lat_expr, res))

"""Independent expected outputs, built from the staged inputs only.

Nothing here calls the engine: point-in-polygon is even-odd parity over the
generated ring vertices, cell ids are recomputed from the grid formula,
match counters come from DuckDB SQL over the staged parquet files, the
nearest street is a brute-force scan, and street merges are counted with a
union-find over shared segment endpoints.
"""

from __future__ import annotations

import os

import numpy as np

from . import inputs as I

SUM_MOD = 1_000_003  # keeps checksum sums far from long overflow


def parity_inside(ring: np.ndarray, px: np.ndarray, py: np.ndarray) -> np.ndarray:
    """Even-odd ray casting of points against one closed ring."""
    x0, y0 = ring[:-1, 0][:, None], ring[:-1, 1][:, None]
    x1, y1 = ring[1:, 0][:, None], ring[1:, 1][:, None]
    straddle = (y0 > py) != (y1 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xi = x0 + (py - y0) * (x1 - x0) / (y1 - y0)
    return (np.count_nonzero(straddle & (px < xi), axis=0) % 2) == 1


def covering_areas(areas: list, lon: np.ndarray, lat: np.ndarray,
                   level: int) -> np.ndarray:
    """Area id of the ``level`` ring covering each point (-1 if none).
    Raises if two rings of one level cover a point: the generated rings
    must tile the world."""
    out = np.full(lon.size, -1, dtype=np.int64)
    for a in areas:
        if a.admin_level != level:
            continue
        bx0, by0 = a.ring.min(axis=0)
        bx1, by1 = a.ring.max(axis=0)
        cand = np.nonzero((lon >= bx0) & (lon <= bx1) & (lat >= by0) & (lat <= by1))[0]
        for chunk in np.array_split(cand, max(1, cand.size // 4096)):
            hit = chunk[parity_inside(a.ring, lon[chunk], lat[chunk])]
            if (out[hit] != -1).any():
                raise ValueError(f"level {level} rings overlap near area {a.area_id}")
            out[hit] = a.area_id
    return out


def cell_ids(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """Grid cell id: (res << 58) | (ix << 29) | iy over [-180,180)x[-90,90)."""
    n = 1 << res
    ix = np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    iy = np.clip(np.floor((lat + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    return (np.int64(res) << 58) | (ix << 29) | iy


def two_levels(areas, lon, lat) -> np.ndarray:
    """(n, 2) area ids [municipality, district] of every point.

    A point farther than the zig-zag amplitude from every grid line lies in
    the grid cell's rings (no jagged edge reaches it); only the points in
    that band go through the parity test."""
    x0, y0, x1, y1 = I.WORLD
    w, h = (x1 - x0) / I.MUNI_GX, (y1 - y0) / I.MUNI_GY
    amp = I.JAG * min(w, h)
    fx, fy = (lon - x0) / w, (lat - y0) / h
    i = np.clip(np.floor(fx), 0, I.MUNI_GX - 1).astype(np.int64)
    j = np.clip(np.floor(fy), 0, I.MUNI_GY - 1).astype(np.int64)
    near = (np.minimum(fx - np.floor(fx), np.ceil(fx) - fx) * w <= 1.01 * amp) | (
        np.minimum(fy - np.floor(fy), np.ceil(fy) - fy) * h <= 1.01 * amp)
    out = np.column_stack([100 + j * I.MUNI_GX + i,
                           10 + (j // 2) * (I.MUNI_GX // 2) + i // 2])
    k = np.nonzero(near)[0]
    out[k, 0] = covering_areas(areas, lon[k], lat[k], 8)
    out[k, 1] = covering_areas(areas, lon[k], lat[k], 6)
    if (out < 0).any():
        raise ValueError("a generated point lies outside the tiled world")
    return out


# ---------------------------------------------------------------------------
# assign
# ---------------------------------------------------------------------------

def expect_assign(st: I.Staged) -> dict:
    d = st.data
    lon, lat = d["lon"], d["lat"]
    n = lon.size
    ids = np.arange(n, dtype=np.int64)
    both = two_levels(d["areas"], lon, lat)
    sample = np.nonzero(ids % I.SAMPLE_MOD == d["sample_r"])[0]
    tiles = cell_ids(lon, lat, I.TILE_RES)
    return {
        "rows": 2 * n,
        "id_sum": int(2 * ids.sum()),
        "area_sum": int(both.sum()),
        "tile_sum": int(2 * (tiles % SUM_MOD).sum()),
        "sample": sorted((int(p), int(a)) for p in sample for a in both[p]),
    }


# ---------------------------------------------------------------------------
# evaluate
# ---------------------------------------------------------------------------

_COUNTERS_SQL = """
WITH f AS (SELECT job_id, exact FROM read_parquet('{job_flags}/*.parquet')),
off AS (
  SELECT o.source_id, o.job_id, o.street,
         CASE WHEN f.exact THEN o.housenumber ELSE lower(o.housenumber) END AS k
  FROM read_parquet('{official}/*.parquet') o JOIN f USING (job_id)),
offd AS (SELECT job_id, street, k, min(source_id) AS source_id
         FROM off GROUP BY job_id, street, k),
osm AS (
  SELECT s.osm_id, s.job_id, s.street,
         CASE WHEN f.exact THEN s.housenumber ELSE lower(s.housenumber) END AS k,
         least(
           CASE WHEN lower(coalesce(s.entrance, '')) IN ('yes', 'main', 'home')
                THEN 1 ELSE 99 END,
           CASE WHEN lower(coalesce(s.building, '')) = 'entrance' THEN 1
                WHEN lower(coalesce(s.building, '')) IN ('yes', 'office', 'apartments') THEN 2
                WHEN coalesce(s.building, '') <> '' THEN 9 ELSE 99 END,
           CASE WHEN s.amenity IS NOT NULL THEN 20 ELSE 99 END) AS prio
  FROM read_parquet('{osm}/*.parquet') s JOIN f USING (job_id)),
osmd AS (SELECT job_id, street, k,
                arg_min(osm_id, prio * 1000000000 + osm_id) AS osm_id
         FROM osm GROUP BY job_id, street, k),
m AS (SELECT coalesce(a.job_id, b.job_id) AS job_id, a.source_id, b.osm_id
      FROM offd a FULL OUTER JOIN osmd b
      ON a.job_id = b.job_id AND a.street = b.street AND a.k = b.k)
SELECT job_id,
       count(source_id) AS number_target,
       count(*) FILTER (WHERE source_id IS NOT NULL AND osm_id IS NOT NULL)
         AS number_identical,
       count(*) FILTER (WHERE source_id IS NULL) AS number_osmonly,
       coalesce(sum(source_id), 0) AS source_sum,
       coalesce(sum(osm_id), 0) AS osm_sum
FROM m GROUP BY job_id ORDER BY job_id
"""


def match_counters(paths: dict) -> dict:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        rows = con.execute(_COUNTERS_SQL.format(**paths)).fetchall()
    finally:
        con.close()
    return {
        "counters": {int(r[0]): (int(r[1]), int(r[2]), int(r[3])) for r in rows},
        "source_sum": int(sum(r[4] for r in rows)),
        "osm_sum": int(sum(r[5] for r in rows)),
    }


def nearest_targets(px, py, targets: dict) -> np.ndarray:
    """Brute-force nearest target by the equirectangular distance
    (R = 6371000 m), ties broken by the lower street_key (argmin takes the
    first minimum over key-sorted targets)."""
    order = np.argsort(targets["street_key"], kind="stable")
    keys = targets["street_key"][order]
    r = np.radians
    tlon, tlat = r(targets["slon"][order])[None, :], r(targets["slat"][order])[None, :]
    plon, plat = r(px)[:, None], r(py)[:, None]
    x = (tlon - plon) * np.cos((plat + tlat) / 2)
    y = tlat - plat
    return keys[np.argmin(np.sqrt(x * x + y * y), axis=1)]


def _seg_cross(ax, ay, bx, by, e: np.ndarray) -> np.ndarray:
    """(segments x edges) proper-crossing matrix of segments a-b against
    ring edges ``e`` = (E, 4) [x0, y0, x1, y1]."""
    ex0, ey0, ex1, ey1 = (e[:, k][None, :] for k in range(4))
    ax, ay, bx, by = (v[:, None] for v in (ax, ay, bx, by))

    def orient(px, py, qx, qy, rx, ry):
        return (qx - px) * (ry - py) - (qy - py) * (rx - px)

    d1 = orient(ex0, ey0, ex1, ey1, ax, ay)
    d2 = orient(ex0, ey0, ex1, ey1, bx, by)
    d3 = orient(ax, ay, bx, by, ex0, ey0)
    d4 = orient(ax, ay, bx, by, ex1, ey1)
    return ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))


def street_groups(areas: list, s: dict) -> dict:
    """(area_id, name) -> (n_segments, n_merged) for every segment that
    shares a point with a municipality ring: its first endpoint is inside,
    or it crosses a ring edge."""
    ax, ay, bx, by = s["x0"], s["y0"], s["x1"], s["y1"]
    groups: dict[tuple, list[int]] = {}
    for a in areas:
        bx0, by0 = a.ring.min(axis=0)
        bx1, by1 = a.ring.max(axis=0)
        cand = np.nonzero((np.maximum(ax, bx) >= bx0) & (np.minimum(ax, bx) <= bx1)
                          & (np.maximum(ay, by) >= by0) & (np.minimum(ay, by) <= by1))[0]
        if cand.size == 0:
            continue
        edges = np.column_stack([a.ring[:-1], a.ring[1:]])
        hit = parity_inside(a.ring, ax[cand], ay[cand]) | _seg_cross(
            ax[cand], ay[cand], bx[cand], by[cand], edges).any(axis=1)
        for i in cand[hit]:
            groups.setdefault((a.area_id, s["name"][i]), []).append(int(i))
    out = {}
    for key, segs in groups.items():
        parent = {i: i for i in segs}

        def find(i):
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        at: dict[tuple, int] = {}
        for i in segs:
            for pt in ((ax[i], ay[i]), (bx[i], by[i])):
                if pt in at:
                    parent[find(i)] = find(at[pt])
                else:
                    at[pt] = i
        out[key] = (len(segs), len({find(i) for i in segs}))
    return out


def expect_evaluate(st: I.Staged) -> dict:
    d = st.data
    ids = np.arange(d["klon"].size, dtype=np.int64)
    near = np.concatenate([
        nearest_targets(d["klon"][c], d["klat"][c], d["targets"])
        for c in np.array_split(ids, max(1, ids.size // 2000))])
    sample = ids % I.SAMPLE_MOD == d["sample_r"]
    return {
        **match_counters(st.paths),
        "knn_rows": int(ids.size),
        "knn_key_sum": int(near.sum()),
        "knn_sample": sorted(zip(ids[sample].tolist(), near[sample].tolist())),
        "streets": street_groups(d["areas"], d["streets"]),
    }


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

def expect_ingest(st: I.Staged) -> dict:
    d = st.data
    n = d["lon"].size
    tamper_idx = np.array([int(t[3:]) for t in d["tamper"]], dtype=np.int64)
    ok = np.ones(n, dtype=bool)
    ok[tamper_idx] = False
    both = two_levels(d["areas"], d["lon"][ok], d["lat"][ok])
    idx = np.nonzero(ok)[0]
    parts = both % I.INGEST_PARTS
    upd = np.intersect1d(d["updates"], idx)
    return {
        "quarantine": d["tamper"],
        "decoded": d["n_lossy"],
        "rows": int(2 * ok.sum()),
        "area_sum": int(both.sum()),
        "idx_sum": int(2 * idx.sum()),
        "rev_sum": int(2 * upd.size),
        "parts": sorted(str(p) for p in np.unique(parts)),
        "payload_bytes": d["payload_bytes"],
    }


EXPECTERS = {"assign": expect_assign, "evaluate": expect_evaluate,
             "ingest": expect_ingest}


def stage_and_expect(workload: str, seed: int, root: str):
    os.makedirs(root, exist_ok=True)
    st = I.STAGERS[workload](seed, root)
    return st, EXPECTERS[workload](st)

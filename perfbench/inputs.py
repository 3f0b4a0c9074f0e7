"""Seeded input generation and staging for the three benchmark workloads.

Everything here is numpy + pyarrow: the inputs are generated in the Spark
driver process from ``--seed`` and staged as parquet files in the run's own
directory, so the engine receives only staged tables and no run depends on
what an earlier run left behind.

The world is a lon/lat box split into two overlapping admin levels whose
rings share jagged edges:

- municipalities (admin_level 8): a ``MUNI_GX x MUNI_GY`` grid;
- districts (admin_level 6): 2x2 blocks of municipalities.

Every interior grid edge is one seeded zig-zag polyline used (forward or
reversed) by both neighbouring rings, so the rings tile the box exactly and
every point strictly inside it lies in one municipality and one district.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from housenumbercore_spark.geo import geometry as G
from housenumbercore_spark.images import codec

# world box (lon0, lat0, lon1, lat1)
WORLD = (6.0, 50.0, 7.6, 51.0)
MUNI_GX, MUNI_GY = 6, 4
EDGE_VERTS = 64          # vertices per grid edge: 256 per municipality ring
JAG = 0.04               # zig-zag amplitude as a share of the smaller cell side
HOT_SHARE = 0.3          # share of points in the hot urban cluster
HOT_SPAN = 0.02          # side of the hot cluster box, degrees
FILES_PER_TABLE = 6      # parquet files per staged fact table (scan parallelism)

# assign
ASSIGN_POINTS = 400_000
TILE_RES = 12
SAMPLE_MOD = 997         # assign/evaluate check samples: id % SAMPLE_MOD == r

# evaluate
EVAL_JOBS = 400
EVAL_STREET_NAMES = 30
EVAL_HNR = 120
EVAL_OFFICIAL = 30_000
EVAL_OSM = 45_000
KNN_POINTS = 15_000
# res 11 resolves every point against the dense segment targets, so the
# engine's round collapse skips res 8 (whose ring covers the whole world)
KNN_RES_LIST = [13, 11, 8]
STREETS = 500
STREET_NAMES = 6
SEG_LEN = 0.004

# ingest
INGEST_SOURCES = 40
INGEST_ROWS = 8_000
INGEST_TAMPER_SHARE = 0.02     # half lossy re-encodes, half edited captions
INGEST_UPDATE_SHARE = 0.05
INGEST_PARTS = 4               # checkpoint partitions: area_id % INGEST_PARTS
IMG_SIDE = 16


@dataclass
class Area:
    area_id: int
    name: str
    admin_level: int
    ring: np.ndarray  # closed (k, 2) ring


@dataclass
class Staged:
    """Paths of the staged parquet tables plus the in-memory arrays the
    expectations are computed from."""

    paths: dict[str, str] = field(default_factory=dict)
    data: dict = field(default_factory=dict)
    digests: dict[str, str] = field(default_factory=dict)
    rows: dict[str, int] = field(default_factory=dict)


def _edge(rng, a, b, amp, jag: bool) -> np.ndarray:
    """Polyline from corner ``a`` to corner ``b`` with EDGE_VERTS + 1
    vertices, offset perpendicular to the edge by a zig-zag tapered to zero
    at both corners (so edges meeting at a corner never cross)."""
    t = np.linspace(0.0, 1.0, EDGE_VERTS + 1)
    off = rng.uniform(-1.0, 1.0, t.size) * amp * np.sin(np.pi * t) if jag else 0 * t
    x = a[0] + t * (b[0] - a[0])
    y = a[1] + t * (b[1] - a[1])
    if a[1] == b[1]:  # horizontal edge: offset in y
        y = y + off
    else:             # vertical edge: offset in x
        x = x + off
    return np.column_stack([x, y])


def make_areas(rng) -> list[Area]:
    x0, y0, x1, y1 = WORLD
    xs = np.linspace(x0, x1, MUNI_GX + 1)
    ys = np.linspace(y0, y1, MUNI_GY + 1)
    amp = JAG * min((x1 - x0) / MUNI_GX, (y1 - y0) / MUNI_GY)
    h = {(i, j): _edge(rng, (xs[i], ys[j]), (xs[i + 1], ys[j]), amp,
                       0 < j < MUNI_GY)
         for i in range(MUNI_GX) for j in range(MUNI_GY + 1)}
    v = {(i, j): _edge(rng, (xs[i], ys[j]), (xs[i], ys[j + 1]), amp,
                       0 < i < MUNI_GX)
         for i in range(MUNI_GX + 1) for j in range(MUNI_GY)}

    def ring(parts: list[np.ndarray]) -> np.ndarray:
        pts = [parts[0]] + [p[1:] for p in parts[1:]]
        return np.concatenate(pts)  # last part ends on the first vertex

    areas = []
    for j in range(MUNI_GY):
        for i in range(MUNI_GX):
            r = ring([h[i, j], v[i + 1, j], h[i, j + 1][::-1], v[i, j][::-1]])
            areas.append(Area(100 + j * MUNI_GX + i, f"muni {i},{j}", 8, r))
    for bj in range(MUNI_GY // 2):
        for bi in range(MUNI_GX // 2):
            i, j = 2 * bi, 2 * bj
            r = ring([h[i, j], h[i + 1, j], v[i + 2, j], v[i + 2, j + 1],
                      h[i + 1, j + 2][::-1], h[i, j + 2][::-1],
                      v[i, j + 1][::-1], v[i, j][::-1]])
            areas.append(Area(10 + bj * (MUNI_GX // 2) + bi,
                              f"district {bi},{bj}", 6, r))
    return areas


def hot_center() -> tuple[float, float]:
    """Centre of municipality (2, 1): fixed across seeds, far from any edge."""
    x0, y0, x1, y1 = WORLD
    return (x0 + 2.5 * (x1 - x0) / MUNI_GX, y0 + 1.5 * (y1 - y0) / MUNI_GY)


def make_points(rng, n: int) -> tuple[np.ndarray, np.ndarray]:
    """``n`` points: HOT_SHARE in the hot cluster, the rest uniform over the
    world (kept 1e-6 inside its border)."""
    x0, y0, x1, y1 = WORLD
    n_hot = int(n * HOT_SHARE)
    eps = 1e-6
    lon = rng.uniform(x0 + eps, x1 - eps, n)
    lat = rng.uniform(y0 + eps, y1 - eps, n)
    hx, hy = hot_center()
    idx = rng.choice(n, n_hot, replace=False)
    lon[idx] = rng.uniform(hx - HOT_SPAN / 2, hx + HOT_SPAN / 2, n_hot)
    lat[idx] = rng.uniform(hy - HOT_SPAN / 2, hy + HOT_SPAN / 2, n_hot)
    return lon, lat


def _write(table: pa.Table, path: str, files: int = 1) -> str:
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, files + 1).astype(int)
    for k in range(files):
        pq.write_table(table.slice(bounds[k], bounds[k + 1] - bounds[k]),
                       os.path.join(path, f"part-{k:03d}.parquet"))
    return path


def table_digest(table: pa.Table) -> str:
    """sha256 over column names and values — independent of parquet
    encoding details."""
    h = hashlib.sha256()
    for name in table.column_names:
        h.update(name.encode())
        col = table.column(name).combine_chunks()
        h.update(str(col.type).encode())
        for buf in col.buffers():
            if buf is not None:
                h.update(memoryview(buf))
    return h.hexdigest()


def _stage(st: Staged, name: str, table: pa.Table, root: str, files: int = 1):
    st.paths[name] = _write(table, os.path.join(root, name), files)
    st.digests[name] = table_digest(table)
    st.rows[name] = table.num_rows


def areas_table(areas: list[Area]) -> pa.Table:
    return pa.table({
        "area_id": pa.array([a.area_id for a in areas], pa.int64()),
        "name": [a.name for a in areas],
        "admin_level": pa.array([a.admin_level for a in areas], pa.int32()),
        "polygon": pa.array([G.polygon_wkb([a.ring]) for a in areas], pa.binary()),
        **{c: pa.array([float(f(a.ring[:, k])) for a in areas], pa.float64())
           for c, f, k in (("xmin", np.min, 0), ("ymin", np.min, 1),
                           ("xmax", np.max, 0), ("ymax", np.max, 1))},
    })


# ---------------------------------------------------------------------------
# per-workload staging
# ---------------------------------------------------------------------------

def stage_assign(seed: int, root: str) -> Staged:
    rng = np.random.default_rng([seed, 1])
    st = Staged()
    areas = make_areas(rng)
    lon, lat = make_points(rng, ASSIGN_POINTS)
    ids = np.arange(ASSIGN_POINTS, dtype=np.int64)
    _stage(st, "areas", areas_table(areas), root)
    _stage(st, "points", pa.table({"point_id": ids, "lon": lon, "lat": lat}),
           root, FILES_PER_TABLE)
    st.data.update(areas=areas, lon=lon, lat=lat,
                   sample_r=int(rng.integers(SAMPLE_MOD)))
    return st


def _housenumbers(rng, n: int, suffixes: list[str]) -> np.ndarray:
    base = rng.integers(1, EVAL_HNR + 1, n)
    suf = np.array(suffixes, dtype=object)[rng.integers(len(suffixes), size=n)]
    return np.array([f"{b}{s}" for b, s in zip(base, suf)], dtype=object)


def make_streets(rng) -> dict:
    """STREETS polyline streets of 1-6 segments turning by at most 0.4 rad
    each; names repeat (STREET_NAMES) so name groups hold several streets."""
    x0, y0, x1, y1 = WORLD
    margin = SEG_LEN * 7  # a street never leaves the world
    rows = {k: [] for k in ("osm_id", "street_key", "name",
                            "x0", "y0", "x1", "y1")}
    for s in range(STREETS):
        n_seg = int(rng.integers(1, 7))
        ang = rng.uniform(0, 2 * np.pi)
        turns = ang + np.cumsum(rng.uniform(-0.4, 0.4, n_seg))
        px = [rng.uniform(x0 + margin, x1 - margin)]
        py = [rng.uniform(y0 + margin, y1 - margin)]
        for t in turns:
            px.append(px[-1] + SEG_LEN * np.cos(t))
            py.append(py[-1] + SEG_LEN * np.sin(t))
        name = f"Street {int(rng.integers(STREET_NAMES))}"
        for k in range(n_seg):
            rows["osm_id"].append(s * 10 + k)
            rows["street_key"].append(s)
            rows["name"].append(name)
            rows["x0"].append(px[k])
            rows["y0"].append(py[k])
            rows["x1"].append(px[k + 1])
            rows["y1"].append(py[k + 1])
    return {k: np.array(v, dtype=object if k == "name" else None)
            for k, v in rows.items()}


def stage_evaluate(seed: int, root: str) -> Staged:
    rng = np.random.default_rng([seed, 2])
    st = Staged()
    areas = make_areas(rng)
    munis = [a for a in areas if a.admin_level == 8]
    _stage(st, "areas", areas_table(munis), root)

    # official list: duplicates (sampling with replacement), case-varying
    # suffixes; first-wins = lowest source_id, ids shuffled against order
    n = EVAL_OFFICIAL
    off = {
        "source_id": rng.permutation(n).astype(np.int64),
        "job_id": rng.integers(EVAL_JOBS, size=n).astype(np.int64),
        "street": np.array([f"Street {k}" for k in
                            rng.integers(EVAL_STREET_NAMES, size=n)], dtype=object),
        "housenumber": _housenumbers(rng, n, ["", "", "", "a", "A", "b"]),
    }
    n = EVAL_OSM
    osm = {
        "osm_id": (rng.permutation(n) * 10 + 1).astype(np.int64),
        "job_id": rng.integers(EVAL_JOBS, size=n).astype(np.int64),
        "street": np.array([f"Street {k}" for k in
                            rng.integers(EVAL_STREET_NAMES, size=n)], dtype=object),
        "housenumber": _housenumbers(rng, n, ["", "", "", "a", "B", "b"]),
        "building": np.array([None, "yes", "Apartments", "shed", "entrance",
                              "office", None], dtype=object)[
            rng.integers(7, size=n)],
        "entrance": np.array([None, None, None, "main", "Yes", "service"],
                             dtype=object)[rng.integers(6, size=n)],
        "amenity": np.array([None] * 9 + ["school"], dtype=object)[
            rng.integers(10, size=n)],
    }
    flags = {"job_id": np.arange(EVAL_JOBS, dtype=np.int64),
             "exact": np.arange(EVAL_JOBS) % 2 == 0}
    klon, klat = make_points(rng, KNN_POINTS)
    streets = make_streets(rng)
    # kNN targets: one per street segment (its midpoint), keyed by osm_id
    targets = {
        "street_key": streets["osm_id"].astype(np.int64),
        "name": streets["name"],
        "slon": (streets["x0"] + streets["x1"]) / 2,
        "slat": (streets["y0"] + streets["y1"]) / 2,
    }
    seg_tbl = pa.table({
        "osm_id": pa.array(streets["osm_id"], pa.int64()),
        "street_key": pa.array(streets["street_key"], pa.int64()),
        "name": pa.array(streets["name"], pa.string()),
        **{c: pa.array(streets[c], pa.float64()) for c in ("x0", "y0", "x1", "y1")},
    })
    _stage(st, "official", pa.table(off), root, FILES_PER_TABLE)
    _stage(st, "osm", pa.table(osm), root, FILES_PER_TABLE)
    _stage(st, "job_flags", pa.table(flags), root)
    _stage(st, "knn_points", pa.table({
        "point_id": np.arange(KNN_POINTS, dtype=np.int64),
        "lon": klon, "lat": klat}), root, FILES_PER_TABLE)
    _stage(st, "street_points", pa.table(targets), root)
    _stage(st, "streets", seg_tbl, root)
    st.data.update(areas=munis, klon=klon, klat=klat, targets=targets,
                   streets=streets, sample_r=int(rng.integers(SAMPLE_MOD)))
    return st


def _pixels(rng) -> np.ndarray:
    """Smooth seeded 16x16 RGB pattern (gratings + gradient), so a lossy
    re-encode keeps a finite, meaningful PSNR."""
    y, x = np.mgrid[0:IMG_SIDE, 0:IMG_SIDE].astype(np.float64)
    f = rng.uniform(0.1, 0.6, 3)
    ph = rng.uniform(0, 2 * np.pi, 3)
    r = 127.5 + 127.5 * np.sin(f[0] * x + ph[0])
    g = 127.5 + 127.5 * np.cos(f[1] * y + ph[1])
    b = 127.5 + 127.5 * np.sin(f[2] * (x + y) + ph[2])
    return np.clip(np.stack([r, g, b], axis=-1), 0, 255).astype(np.uint8)


def stage_ingest(seed: int, root: str) -> Staged:
    rng = np.random.default_rng([seed, 3])
    st = Staged()
    areas = make_areas(rng)
    _stage(st, "areas", areas_table(areas), root)

    src_px = [_pixels(rng) for _ in range(INGEST_SOURCES)]
    src_bytes = [codec.encode_image(p, "png") for p in src_px]
    lossy = [codec.encode_image(p, "jpgq") for p in src_px]
    src_caps = [f"photo {k}: house in muni with housenumber {1 + k % 120}"
                for k in range(INGEST_SOURCES)]
    src_ids = [f"src{k:04d}" for k in range(INGEST_SOURCES)]

    n = INGEST_ROWS
    base = rng.integers(INGEST_SOURCES, size=n)
    n_tamper = int(n * INGEST_TAMPER_SHARE)
    tamper = rng.choice(n, n_tamper, replace=False)
    lossy_rows = set(tamper[: n_tamper // 2].tolist())
    caption_rows = set(tamper[n_tamper // 2:].tolist())
    lon, lat = make_points(rng, n)
    payload = [lossy[b] if i in lossy_rows else src_bytes[b]
               for i, b in enumerate(base)]
    captions = [src_caps[b] + (" (edited)" if i in caption_rows else "")
                for i, b in enumerate(base)]
    image_ids = [f"img{i:08d}" for i in range(n)]
    facts = pa.table({
        "image_id": image_ids,
        "src_id": [src_ids[b] for b in base],
        "bytes": pa.array(payload, pa.binary()),
        "caption": captions,
        "lon": lon, "lat": lat,
    })
    src = pa.table({"image_id": src_ids,
                    "bytes": pa.array(src_bytes, pa.binary()),
                    "caption": src_caps})
    updates = rng.choice(n, int(n * INGEST_UPDATE_SHARE), replace=False)
    _stage(st, "images", facts, root, FILES_PER_TABLE)
    _stage(st, "sources", src, root)
    _stage(st, "update_ids", pa.table({
        "image_id": [image_ids[i] for i in np.sort(updates)]}), root)
    st.data.update(
        areas=areas, lon=lon, lat=lat,
        tamper=sorted(image_ids[i] for i in tamper),
        n_lossy=len(lossy_rows),
        updates=np.sort(updates),
        payload_bytes=int(sum(len(b) for b in payload)),
    )
    return st


STAGERS = {"assign": stage_assign, "evaluate": stage_evaluate,
           "ingest": stage_ingest}

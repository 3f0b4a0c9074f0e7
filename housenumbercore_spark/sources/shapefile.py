"""ESRI Shapefile on-ramp: distributed .shp/.dbf → DataFrame.

The reference ingests official street/housenumber lists from shapefiles
with a hand-rolled reader (util/ShapeReader.java:155-372, driven by
imports/ShapeListImport.java — e.g. the Italian national list, 13.9 M
records). This module is the Spark-native on-ramp for the same format:

- each ``.shp``/``.dbf`` pair is ONE unit of parallelism: files load via
  Spark's ``binaryFile`` source and parse inside ``mapInPandas`` on the
  executors — a directory of per-region shapefiles (the national-list
  layout) fans out across the cluster with no driver-side I/O;
- the parser is from-scratch pure python/numpy (no GDAL in this
  environment): shape types Point (1), PolyLine (3), Polygon (5) and the
  dBase III attribute table (C/N/F/L/D fields);
- geometries come out as the engine's WKB (geo.geometry), attributes as a
  ``map<string,string>`` — downstream, :func:`addresses_from_shapefile`
  projects the configured attribute names onto the engine's official-list
  schema, after which the normal pipelines (hnr explode, match evaluation,
  street catalog) apply unchanged.

A minimal writer (:func:`write_shapefile_pair`) exists so round-trip tests
need no binary fixtures; it emits the same subset the reader supports.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geo import geometry as G

SHAPE_NULL = 0
SHAPE_POINT = 1
SHAPE_POLYLINE = 3
SHAPE_POLYGON = 5


# ---------------------------------------------------------------------------
# parsers (bytes → python records); run on executors
# ---------------------------------------------------------------------------

def _signed_area(ring: np.ndarray) -> float:
    """Shoelace signed area: negative = clockwise (shapefile exterior)."""
    x, y = ring[:, 0], ring[:, 1]
    return float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]) +
                 (x[-1] * y[0] - x[0] * y[-1])) / 2.0


def parse_shp(buf: bytes) -> list[tuple[int, str, float, float, bytes]]:
    """.shp bytes → [(rec_no, shape_type, x, y, wkb)].

    (x, y) is the point itself for Point shapes and the first vertex for
    lines/polygons (a cheap anchor for cell encoding before the exact WKB
    path). WKB uses the engine's writer (geo.geometry).
    """
    (code,) = struct.unpack_from(">I", buf, 0)
    if code != 9994:
        raise ValueError("not a shapefile (.shp magic 9994 missing)")
    (file_len_words,) = struct.unpack_from(">I", buf, 24)
    end = file_len_words * 2
    out = []
    off = 100
    while off < min(end, len(buf)):
        rec_no, content_words = struct.unpack_from(">II", buf, off)
        off += 8
        (stype,) = struct.unpack_from("<I", buf, off)
        if stype == SHAPE_NULL:
            out.append((rec_no, "null", float("nan"), float("nan"), b""))
        elif stype == SHAPE_POINT:
            x, y = struct.unpack_from("<dd", buf, off + 4)
            out.append((rec_no, "point", x, y, G.point_wkb(x, y)))
        elif stype in (SHAPE_POLYLINE, SHAPE_POLYGON):
            n_parts, n_points = struct.unpack_from("<ii", buf, off + 36)
            parts = np.frombuffer(buf, "<i4", n_parts, off + 44)
            pts = np.frombuffer(
                buf, "<f8", 2 * n_points, off + 44 + 4 * n_parts
            ).reshape(n_points, 2)
            bounds = np.append(parts, n_points)
            rings = [pts[bounds[i]:bounds[i + 1]] for i in range(n_parts)]
            x, y = float(pts[0, 0]), float(pts[0, 1])
            if stype == SHAPE_POLYGON:
                # shapefile ring semantics: CLOCKWISE rings are exteriors,
                # counter-clockwise rings are holes of the preceding
                # exterior. Treating every ring after the first as a hole
                # (the naive reading) turns an island municipality's second
                # exterior into a hole of the first — every point inside it
                # would test NOT covered.
                polys: list[list[np.ndarray]] = []
                for r in rings:
                    rc = r.copy()
                    if _signed_area(rc) <= 0 or not polys:  # CW → exterior
                        polys.append([rc])
                    else:  # CCW → hole of the most recent exterior
                        polys[-1].append(rc)
                wkb = (
                    G.polygon_wkb(polys[0])
                    if len(polys) == 1
                    else G.multipolygon_wkb(polys)
                )
                out.append((rec_no, "polygon", x, y, wkb))
            else:
                # multi-part lines: ONE ROW PER PART (same rec_no) — the
                # street pipelines are segment-level anyway, and keeping
                # only part 0 silently dropped the rest of the geometry
                for r in rings:
                    fx, fy = float(r[0, 0]), float(r[0, 1])
                    out.append(
                        (rec_no, "polyline", fx, fy, G.linestring_wkb(r.copy()))
                    )
        else:
            raise ValueError(f"unsupported shape type {stype}")
        off += content_words * 2
    return out


def parse_dbf(buf: bytes) -> list[tuple[int, dict[str, str]]]:
    """.dbf bytes → [(rec_no, {field: value-as-string})]; rec_no is 1-based
    to align with .shp record numbers."""
    n_records, header_size, record_size = struct.unpack_from("<IHH", buf, 4)
    fields = []
    off = 32
    while off < header_size - 1 and buf[off] != 0x0D:
        raw_name = buf[off:off + 11].split(b"\x00")[0]
        ftype = chr(buf[off + 11])
        flen = buf[off + 16]
        fields.append((raw_name.decode("ascii", "replace"), ftype, flen))
        off += 32
    out = []
    pos = header_size
    for i in range(n_records):
        if pos + record_size > len(buf):
            break
        rec = buf[pos:pos + record_size]
        pos += record_size
        if rec[0:1] == b"*":  # deleted
            continue
        vals = {}
        p = 1
        for name, ftype, flen in fields:
            raw = rec[p:p + flen]
            p += flen
            vals[name] = raw.decode("latin-1").strip()
        out.append((i + 1, vals))
    return out


# ---------------------------------------------------------------------------
# Spark on-ramp
# ---------------------------------------------------------------------------

_SCHEMA = T.StructType(
    [
        T.StructField("source_file", T.StringType(), False),
        T.StructField("rec_no", T.IntegerType(), False),
        T.StructField("shape_type", T.StringType(), False),
        T.StructField("x", T.DoubleType(), True),
        T.StructField("y", T.DoubleType(), True),
        T.StructField("wkb", T.BinaryType(), True),
        T.StructField("attrs", T.MapType(T.StringType(), T.StringType()), True),
    ]
)


def read_shapefiles(
    spark: SparkSession, path_glob: str, on_error: str = "fail"
) -> DataFrame:
    """All ``.shp`` (+ sibling ``.dbf``) under ``path_glob`` → one row per
    record: (source_file, rec_no, shape_type, x, y, wkb, attrs).

    Parallelism unit = file pair; the per-pair parse is executor-side.
    BOTH the ``.shp`` and its sibling ``.dbf`` arrive through the
    binaryFile source and are paired by a join on the extension-stripped
    path — the bytes travel Spark's own I/O layer, so hdfs://, s3a:// and
    every other Hadoop filesystem work identically to local paths (a
    driver-style ``open()`` of the sibling would silently yield attrs=None
    everywhere on a non-local store).

    ``on_error='quarantine'``: a malformed file yields ONE marker row
    (shape_type ``__error__``, the message in attrs) instead of failing the
    whole job — at fleet scale one corrupt file must not kill a 10⁴-file
    ingest; filter/route the markers downstream. Default ``'fail'`` keeps
    strict semantics.
    """
    if on_error not in ("fail", "quarantine"):
        raise ValueError(f"on_error must be fail|quarantine, got {on_error}")
    from pyspark.errors import AnalysisException

    globs = [path_glob]
    if path_glob.endswith(".shp"):  # a *.shp glob never matches the .dbf
        globs.append(path_glob[:-4] + ".dbf")
    loaded = None
    for i, g in enumerate(globs):
        try:
            part = spark.read.format("binaryFile").load(g).select(
                "path", "content"
            )
            part.schema  # force path resolution now
        except AnalysisException:
            if i == 0:
                raise  # the .shp glob itself must match
            continue  # shapefiles without attribute tables are legal
        loaded = part if loaded is None else loaded.unionByName(part)
    files = loaded.dropDuplicates(["path"]).select(
        F.regexp_replace("path", r"\.[A-Za-z0-9]+$", "").alias("__stem"),
        F.lower(F.regexp_extract("path", r"\.([A-Za-z0-9]+)$", 1)).alias("__ext"),
        "path",
        "content",
    )
    shp = files.filter(F.col("__ext") == "shp").select(
        "__stem", F.col("content").alias("__shp")
    )
    dbf = files.filter(F.col("__ext") == "dbf").select(
        "__stem", F.col("content").alias("__dbf")
    )
    paired = shp.join(dbf, "__stem", "left")

    def gen(batches):
        for pdf in batches:
            rows = []
            for stem_path, shp_buf, dbf_buf in zip(
                pdf["__stem"], pdf["__shp"], pdf["__dbf"]
            ):
                stem = os.path.basename(stem_path)
                try:
                    shapes = parse_shp(bytes(shp_buf))
                    attrs: dict[int, dict[str, str]] = {}
                    if dbf_buf is not None:
                        attrs = dict(parse_dbf(bytes(dbf_buf)))
                except Exception as exc:
                    if on_error == "fail":
                        raise
                    rows.append(
                        (stem, 0, "__error__", None, None, None,
                         {"error": f"{type(exc).__name__}: {exc}"})
                    )
                    continue
                for rec_no, stype, x, y, wkb in shapes:
                    rows.append(
                        (stem, rec_no, stype, x, y, wkb, attrs.get(rec_no))
                    )
            if rows:
                yield pd.DataFrame(
                    rows, columns=[f.name for f in _SCHEMA.fields]
                )

    return paired.mapInPandas(gen, _SCHEMA)


def addresses_from_shapefile(
    shapes: DataFrame,
    street_attr: str = "STREET",
    housenumber_attr: str = "HOUSENUM",
    city_attr: str | None = "CITY",
) -> DataFrame:
    """Project shapefile records onto the engine's official-list shape
    (ShapeListImport.java's attribute mapping, configurable per source):
    (source_file, rec_no, street, housenumber, city, lon, lat)."""
    sel = [
        "source_file",
        "rec_no",
        F.col("attrs").getItem(street_attr).alias("street"),
        F.col("attrs").getItem(housenumber_attr).alias("housenumber"),
        F.col("x").alias("lon"),
        F.col("y").alias("lat"),
    ]
    if city_attr:
        sel.insert(4, F.col("attrs").getItem(city_attr).alias("city"))
    return shapes.filter(F.col("shape_type") == "point").select(*sel)


# ---------------------------------------------------------------------------
# minimal writer (round-trip tests; same subset the reader supports)
# ---------------------------------------------------------------------------

def write_shapefile_pair(
    base_path: str,
    points: list[tuple[float, float]],
    attrs: list[dict[str, str]],
    field_len: int = 40,
) -> None:
    """Write ``base_path``.shp/.dbf with Point records + C-type attributes."""
    recs = []
    for i, (x, y) in enumerate(points):
        content = struct.pack("<Idd", SHAPE_POINT, x, y)
        recs.append(struct.pack(">II", i + 1, len(content) // 2) + content)
    body = b"".join(recs)
    xs = [p[0] for p in points] or [0.0]
    ys = [p[1] for p in points] or [0.0]
    header = struct.pack(
        ">7I", 9994, 0, 0, 0, 0, 0, (100 + len(body)) // 2
    ) + struct.pack("<II", 1000, SHAPE_POINT) + struct.pack(
        "<8d", min(xs), min(ys), max(xs), max(ys), 0, 0, 0, 0
    )
    with open(base_path + ".shp", "wb") as f:
        f.write(header + body)

    names = sorted({k for a in attrs for k in a})
    fdescs = b""
    for name in names:
        fdescs += (
            name.encode("ascii")[:10].ljust(11, b"\x00")
            + b"C"
            + b"\x00" * 4
            + bytes([field_len])
            + b"\x00" * 15
        )
    header_size = 32 + len(fdescs) + 1
    record_size = 1 + field_len * len(names)
    dbf_header = (
        bytes([0x03, 124, 1, 1])
        + struct.pack("<IHH", len(attrs), header_size, record_size)
        + b"\x00" * 20
        + fdescs
        + b"\x0d"
    )
    with open(base_path + ".dbf", "wb") as f:
        f.write(dbf_header)
        for a in attrs:
            rec = b" "
            for name in names:
                rec += a.get(name, "").encode("latin-1")[:field_len].ljust(
                    field_len, b" "
                )
            f.write(rec)
        f.write(b"\x1a")

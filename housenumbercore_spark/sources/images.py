"""Deterministic synthetic image+caption table (BASELINE.json input_hint shape).

Schema: (image_id string, bytes binary, w int, h int, fmt string,
caption string, phash int64 [, lon double, lat double]).

Generation is fully distributed (``spark.range`` → ``mapInPandas``) and
deterministic per image_id — no driver-side loops, no external data. Pixel
content is two oblique sinusoidal gratings per channel, with direction,
frequency and phase drawn from ``default_rng(id)``; the grey image is not a
sum f(x) + g(y), so every phash bit carries signal and collisions are rare.
lon/lat derive from the integer id with the same hot-cluster skew as the
synthetic points (sources/synthetic.py), so the image table exercises the
identical spatial-join path at the 10¹²-row target shape.
"""

from __future__ import annotations

import functools
import threading

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..images import codec
from . import synthetic as S

IMG_W = 16
IMG_H = 16

_IMAGES_TABLE_LOCK = threading.Lock()

# BUMP whenever make_pixels/make_caption/_row_for or the codecs change:
# the /tmp table cache is keyed on this, and serving a stale generation
# would silently poison every image correctness check.
IMAGES_TABLE_VERSION = 3

SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("caption", T.StringType(), False),
        T.StructField("phash", T.LongType(), False),
        T.StructField("lon", T.DoubleType(), False),
        T.StructField("lat", T.DoubleType(), False),
    ]
)


def make_pixels(i: int) -> np.ndarray:
    """Deterministic (h, w, 3) uint8 pattern for integer id ``i``.

    Each channel is the sum of two oblique sinusoidal gratings
    sin(f·(x·cos θ + y·sin θ) + φ) whose direction θ, frequency f and phase
    φ are drawn from ``default_rng(i)``. An oblique grating is not a sum
    f(x) + g(y), so the grey image's DCT carries signal in every
    coefficient of the phash block, not only in row 0 and column 0.
    Frequencies span half a cycle to two cycles across the image, inside
    the band the 8×8 phash block sees, so the pattern stays smooth."""
    rng = np.random.default_rng(i)
    theta = rng.uniform(0.0, np.pi, (3, 2, 1, 1))
    freq = rng.uniform(np.pi / IMG_W, 4 * np.pi / IMG_W, (3, 2, 1, 1))
    phase = rng.uniform(0.0, 2 * np.pi, (3, 2, 1, 1))
    y, x = np.mgrid[0:IMG_H, 0:IMG_W].astype(np.float64)
    waves = np.sin(freq * (x * np.cos(theta) + y * np.sin(theta)) + phase)
    rgb = 127.5 + 63.75 * waves.sum(axis=1)  # (3, h, w), each in [0, 255]
    return np.clip(np.moveaxis(rgb, 0, -1), 0, 255).astype(np.uint8)


CAPTION_SUBJECTS = ["house", "street", "square", "bridge", "tower", "garden"]
CAPTION_TOWNS = ["Aachen", "Eschweiler", "Stolberg", "Alsdorf", "Herzogenrath"]
# caption text below the "photo NNNNNNNN: " prefix repeats with this period
# (lcm of the three mixing moduli: 6 | 180, 5 | 180, 180)
CAPTION_PERIOD = 180


def make_caption(i: int) -> str:
    subjects = CAPTION_SUBJECTS
    towns = CAPTION_TOWNS
    return (
        f"photo {i:08d}: a {subjects[i % len(subjects)]} in "
        f"{towns[i % len(towns)]} with housenumber {1 + i % 180}"
    )


def _encode_decode(i: int) -> tuple[str, bytes, np.ndarray]:
    """(fmt, stored bytes, decoded pixels) for id ``i`` — the single
    definition of the stored payload, shared by the distributed generator
    and the driver-side oracle helpers so they can never diverge."""
    px = make_pixels(i)
    fmt = "png" if i % 2 == 0 else "jpgq"
    buf = codec.encode_image(px, fmt)
    return fmt, buf, codec.decode_image(buf)


def phash_for(i: int) -> int:
    """The stored ``phash`` column value for id ``i``, recomputed without
    Spark (pure numpy) — lets DuckDB oracles inline the real phashes."""
    _, _, decoded = _encode_decode(i)
    return codec.phash64(decoded)


@functools.lru_cache(maxsize=4)
def images_phash_sql(n: int) -> str:
    """DuckDB subquery of the image table's (image_id, phash) columns as an
    inlined VALUES list, recomputed generator-side (deterministic — the
    pixels, the codec round-trip and the DCT hash are all pure functions of
    the id). phash is not SQL-expressible, so this is the honest way to
    oracle distributed phash operators: the VALUES come from an independent
    single-threaded rerun of the same pure kernel, and the SQL replays the
    banding/join/refine logic on them.

    Cached (oracle_sql() is rebuilt per driver/parity-test call and the
    2000-hash recompute costs ~1 s each time); safe because the stored
    payloads are pure functions of the id — ``register_codec`` adds new
    fmts, it never swaps the default png/jpgq pair the generator uses."""
    rows = ", ".join(
        f"('img{i:010d}', CAST({phash_for(i)} AS BIGINT))" for i in range(n)
    )
    return f"(SELECT * FROM (VALUES {rows}) AS t(image_id, phash))"


def _row_for(i: int) -> tuple:
    fmt, buf, decoded = _encode_decode(i)
    ph = codec.phash64(decoded)
    # lon/lat: same deterministic mixing + hot cluster as synthetic points
    u = ((i * S._MIX_A) % S._MOD + 0.5) / S._MOD
    v = ((i * S._MIX_B) % S._MOD + 0.5) / S._MOD
    if i % 10 < 3:
        lon = u * S.HOT_SPAN + S.HOT_LON0
        lat = v * S.HOT_SPAN + S.HOT_LAT0
    else:
        lon = u * S.LON_SPAN + S.LON0
        lat = v * S.LAT_SPAN + S.LAT0
    return (f"img{i:010d}", buf, IMG_W, IMG_H, fmt, make_caption(i), ph, lon, lat)


def images_df(spark: SparkSession, n: int, partitions: int = 8) -> DataFrame:
    """Distributed deterministic image table of ``n`` rows."""

    def gen(batches):
        for pdf in batches:
            rows = [_row_for(int(i)) for i in pdf["id"].values]
            yield pd.DataFrame(rows, columns=[f.name for f in SCHEMA.fields])

    return spark.range(0, n, 1, partitions).mapInPandas(gen, SCHEMA)


def images_lonlat_sql(n: int) -> str:
    """DuckDB subquery reproducing each image's (idx, lon, lat) — the same
    mixing arithmetic as :func:`_row_for`, so tile/cell lineage over the
    image table is SQL-checkable even though pixels are not."""
    u = f"(((i * {S._MIX_A}) % {S._MOD}) + 0.5) / {S._MOD}.0"
    v = f"(((i * {S._MIX_B}) % {S._MOD}) + 0.5) / {S._MOD}.0"
    hot = "(i % 10) < 3"
    lon = (
        f"CASE WHEN {hot} THEN ({u}) * {S.HOT_SPAN!r} + {S.HOT_LON0!r} "
        f"ELSE ({u}) * {S.LON_SPAN!r} + {S.LON0!r} END"
    )
    lat = (
        f"CASE WHEN {hot} THEN ({v}) * {S.HOT_SPAN!r} + {S.HOT_LAT0!r} "
        f"ELSE ({v}) * {S.LAT_SPAN!r} + {S.LAT0!r} END"
    )
    return f"(SELECT i, {lon} AS lon, {lat} AS lat FROM range({n}) t(i))"


def images_table(spark: SparkSession, n: int, partitions: int = 8) -> DataFrame:
    """The image+caption table as a REAL columnar table: generate once
    (distributed, deterministic) to parquet, then scan.

    This is the faithful stand-in for the north rule's Iceberg image table —
    queries should scan stored bytes (column pruning, multiple consumers read
    the same files), not re-run the generator per action. Cached per (n)
    under the system temp dir; content is deterministic so reuse across
    processes is safe.
    """
    import os
    import shutil
    import tempfile
    import uuid

    d = os.path.join(
        tempfile.gettempdir(),
        f"hns_images_{n}_{partitions}_v{IMAGES_TABLE_VERSION}",
    )
    marker = os.path.join(d, "_SUCCESS")
    if not os.path.exists(marker):
        with _IMAGES_TABLE_LOCK:  # concurrent threads (checkpoint runner)
            if not os.path.exists(marker):
                # write to a private dir, publish via atomic rename — two
                # processes racing would otherwise interleave part files
                tmp = f"{d}.tmp-{uuid.uuid4().hex}"
                images_df(spark, n, partitions).write.mode("overwrite").parquet(tmp)
                try:
                    if os.path.exists(d) and not os.path.exists(marker):
                        shutil.rmtree(d, ignore_errors=True)  # stale partial
                    os.rename(tmp, d)
                except OSError:
                    # lost a cross-process race; the winner's table is valid
                    if not os.path.exists(marker):
                        raise
                    shutil.rmtree(tmp, ignore_errors=True)
    return spark.read.parquet(d)


VIDEO_SCHEMA = T.StructType(
    [
        T.StructField("video_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("n_frames", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("caption", T.StringType(), False),
    ]
)


def videos_df(
    spark: SparkSession, n: int, n_frames: int = 12, partitions: int = 4
) -> DataFrame:
    """Deterministic video table: video v's frame f is image pattern
    ``v * 1000 + f`` packed into one VID1 binary column."""

    def gen(batches):
        for pdf in batches:
            rows = []
            for v in pdf["id"].values:
                v = int(v)
                frames = [
                    codec.encode_image(make_pixels(v * 1000 + f), "png")
                    for f in range(n_frames)
                ]
                rows.append(
                    (
                        f"vid{v:08d}",
                        codec.pack_video(frames),
                        n_frames,
                        "vid1",
                        make_caption(v),
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in VIDEO_SCHEMA.fields])

    return spark.range(0, n, 1, partitions).mapInPandas(gen, VIDEO_SCHEMA)


AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("audio_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("caption", T.StringType(), False),
    ]
)

AUDIO_RATE = 16000


def audio_df(spark: SparkSession, n: int, partitions: int = 4) -> DataFrame:
    """Deterministic audio table: clip i is a sine at (220 + i*7) Hz with
    amplitude (0.2 + (i%8)/10), (0.5 + i%4/4) seconds, PCM-packed."""

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"].values:
                i = int(i)
                dur = 0.5 + (i % 4) / 4
                t = np.arange(int(AUDIO_RATE * dur)) / AUDIO_RATE
                x = (0.2 + (i % 8) / 10) * np.sin(2 * np.pi * (220 + i * 7) * t)
                rows.append(
                    (
                        f"aud{i:08d}",
                        codec.encode_pcm(x, AUDIO_RATE),
                        "pcm",
                        make_caption(i),
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in AUDIO_SCHEMA.fields])

    return spark.range(0, n, 1, partitions).mapInPandas(gen, AUDIO_SCHEMA)

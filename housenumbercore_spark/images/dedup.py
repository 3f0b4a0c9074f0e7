"""Image-payload deduplication for training-data pipelines.

The reference deduplicates *addresses* with SQL DISTINCT over normalized
keys (housenumbercore's evaluation inserts, e.g. /root/reference/src/de/
regioosm/housenumbercore/Evaluation.java); a 10^12-row image+caption corpus
(BASELINE.json input_hint) needs the same discipline on the image payload
itself: byte-identical re-crawls, boilerplate captions, and perceptually
near-identical re-encodes all inflate training data. Three set-based
operators, mirroring the text-side shapes in text/dedup.py:

- :func:`exact_dedup` — byte-identical groups. Groups on a 128-bit content
  fingerprint (two 60-bit halves of md5 + the byte length), so only ~20
  bytes per row enter the shuffle — the image bytes themselves NEVER move.
  A 64-bit key alone would see ~27 expected collisions at 10^12 rows
  (birthday bound); the md5 split keeps the space at 2^120.
- :func:`caption_dedup` — duplicate captions after an optional caller-
  supplied normalization (strip crawl ids / boilerplate prefixes). Narrow
  shuffle on the normalized string only.
- :func:`phash_neardup_pairs` — perceptual near-duplicates via banded LSH
  over the stored 64-bit DCT phash (codec.phash64): 4 bands x 16 bits
  generate candidates through the banded-pair join of operators/banded.py
  (the one every text and embedding LSH family uses), then an exact
  ``bit_count(a ^ b)`` refine.
  Recall is the standard LSH guarantee: a pair at Hamming distance d < 16
  always shares at least one band when its differing bits hit <= 3 bands;
  wider misses are the documented LSH trade (the oracle reproduces the
  banding, so correctness is exact *for the declared candidate scheme*).

All three stay entirely in whole-stage codegen (no Python on the hot
path); pair outputs feed text/dedup.dedup_clusters unchanged for
connected-component keep-one selection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.banded import banded_pairs, bit_bands, explode_bands
from ..pinning import pin

PHASH_BITS = 64
PHASH_BAND_BITS = 16
PHASH_BANDS = PHASH_BITS // PHASH_BAND_BITS


def _content_key_cols(bytes_col: str) -> list[Column]:
    """128-bit-class content fingerprint as narrow codegen columns:
    two 60-bit halves of md5(bytes) plus the byte length. ``conv`` parses
    15 hex digits (60 bits) — safely inside signed int64."""
    md5 = F.md5(F.col(bytes_col))
    return [
        F.conv(F.substring(md5, 1, 15), 16, 10).cast("long").alias("__ck_a"),
        F.conv(F.substring(md5, 16, 15), 16, 10).cast("long").alias("__ck_b"),
        F.length(F.col(bytes_col)).alias("__ck_len"),
    ]


def exact_dedup(
    df: DataFrame, id_col: str = "image_id", bytes_col: str = "bytes"
) -> DataFrame:
    """Byte-identical image groups → (canonical_image_id, n_copies).

    Canonical = MIN(id) per content group (deterministic keep-one). The
    aggregate is map-side partial (min + count), so each content group
    contributes one ~30-byte row per input partition to the shuffle.

    NULL payloads (quarantine rows from upstream transform seams) are NOT
    a content group: Spark's groupBy treats NULL keys as equal, so they
    would collapse into one "duplicate" group and a downstream keep-one
    would silently drop all but one distinct corrupt row. Each NULL-bytes
    row passes through as its own singleton.
    """
    keyed = df.select(F.col(id_col), F.col(bytes_col).isNull().alias("__nul"),
                      *_content_key_cols(bytes_col))
    grouped = (
        keyed.filter(~F.col("__nul"))
        .groupBy("__ck_a", "__ck_b", "__ck_len")
        .agg(
            F.min(id_col).alias("canonical_image_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("canonical_image_id", "n_copies")
    )
    singletons = keyed.filter(F.col("__nul")).select(
        F.col(id_col).alias("canonical_image_id"),
        F.lit(1).cast("long").alias("n_copies"),
    )
    return grouped.unionByName(singletons)


def caption_dedup(
    df: DataFrame,
    id_col: str = "image_id",
    caption_col: Column | str = "caption",
) -> DataFrame:
    """Duplicate-caption groups → (caption_norm, canonical_image_id,
    n_copies), only groups with >= 2 members (the dedup-relevant ones).

    ``caption_col`` may be an expression (pass a normalization such as
    ``F.regexp_replace("caption", r"^photo \\d+: ", "")`` to fold crawl-id
    boilerplate); the shuffle carries the normalized string + id only.

    NULL captions are NOT a duplicate group: Spark's groupBy treats NULL
    keys as equal, so uncaptioned images would otherwise collapse into one
    group and a downstream keep-one would silently drop all but one of
    them — the same hazard :func:`exact_dedup` routes NULL payloads
    around. They are excluded here (this function returns only groups of
    >= 2, so "each NULL is its own non-group" means absence).
    """
    c = F.col(caption_col) if isinstance(caption_col, str) else caption_col
    return (
        df.select(F.col(id_col), c.alias("caption_norm"))
        .filter(F.col("caption_norm").isNotNull())
        .groupBy("caption_norm")
        .agg(
            F.min(id_col).alias("canonical_image_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .filter(F.col("n_copies") >= 2)
    )


def prepare_image_corpus(
    df: DataFrame,
    id_col: str = "image_id",
    min_caption_chars: int = 0,
    min_w: int = 0,
    min_h: int = 0,
    max_hamming: int = 10,
) -> DataFrame:
    """Image-corpus preparation, mirroring text/corpus.prepare_corpus:
    quality gate (dims + caption length) → exact byte-dedup keep-one →
    perceptual near-dup cluster keep-one (phash LSH pairs → connected
    components → canonical survivor). Returns the kept input rows with
    their original columns.

    Every stage is the set-based operator already proven on its own:
    :func:`exact_dedup` (canonical = MIN id per content group, joined back
    left-semi so payload bytes never shuffle), :func:`phash_neardup_pairs`
    (banded LSH candidates + exact Hamming refine over the survivors
    only), and text/dedup.dedup_clusters (min-label propagation; pairs
    with dropped endpoints are ignored by construction there)."""
    from ..text.dedup import dedup_clusters

    conds = []
    if min_caption_chars > 0:
        conds.append(F.length("caption") >= min_caption_chars)
    if min_w > 0:
        conds.append(F.col("w") >= min_w)
    if min_h > 0:
        conds.append(F.col("h") >= min_h)
    gated = df
    for c in conds:  # zero thresholds gate nothing and need no column
        gated = gated.filter(c)
    # pin the canonical-id set (narrow: one id per kept image): three
    # consumers read s2 (phash pairs, clusters, the final semi-join) and
    # each would otherwise re-run exact_dedup's digest groupBy — the one
    # stage that reads payload bytes. The PAYLOAD frame itself is never
    # pinned; consumers that don't need bytes prune the column at scan.
    canon = pin(
        exact_dedup(gated, id_col=id_col).select(
            F.col("canonical_image_id").alias(id_col)
        )
    )
    s2 = gated.join(canon, id_col, "left_semi")
    pairs = phash_neardup_pairs(s2, id_col=id_col, max_hamming=max_hamming)
    clusters = dedup_clusters(
        s2.select(F.col(id_col).alias("doc_id")),
        pairs,
        a_col="img_a",
        b_col="img_b",
    )
    keep = clusters.filter("is_canonical").select(
        F.col("doc_id").alias(id_col)
    )
    return s2.join(keep, id_col, "left_semi")


def phash_neardup_pairs(
    df: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    max_hamming: int = 10,
) -> DataFrame:
    """Perceptual near-duplicate pairs → (img_a, img_b, hamming).

    Banded LSH on the stored 64-bit phash: 4 x 16-bit bands generate
    candidates and the exact ``bit_count(xor)`` Hamming bound is the keep
    refine of operators/banded.py. The join key is (int, int), payloads
    are two int64s, and AQE handles hot buckets (flat-image phashes are
    the image-world stop words).
    """
    bands = explode_bands(
        df,
        [F.col(id_col).alias("img"), F.col(phash_col).alias("ph")],
        bit_bands(phash_col, PHASH_BANDS, PHASH_BAND_BITS),
    )
    return banded_pairs(
        bands.withColumnsRenamed({"img": "img_a", "ph": "ha"}),
        bands.withColumnsRenamed({"img": "img_b", "ph": "hb"}),
        "img_a",
        "img_b",
        score=F.expr("bit_count(ha ^ hb)").alias("hamming"),
        keep=F.col("hamming") <= max_hamming,
    )

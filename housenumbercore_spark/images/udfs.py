"""Spark-side image invariant verification (Arrow-batched, no per-row Python).

North-rule invariant (BASELINE.json input_hint): every image row that flows
through the engine must preserve decoded-pixel fidelity (exact for lossless,
PSNR ≥ 40 dB for lossy) and byte-equal captions vs the source table.

``check_invariants`` joins pipeline output back to the source on image_id
and decodes BOTH payloads inside one ``mapInPandas`` — catching any
corruption introduced by shuffles, codec round-trips, or column handling.
``check_invariants_split`` is the checksum (digest) plan of the same gate,
split into (passed, suspects) for the gate-early pipeline.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import codec

PSNR_MIN_DB = 40.0

_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("psnr_db", T.DoubleType(), False),
        T.StructField("pixels_ok", T.BooleanType(), False),
        T.StructField("caption_ok", T.BooleanType(), False),
    ]
)


# columns the gate introduces internally or returns; keep_cols may not
# shadow any of them (single source of truth for BOTH entry points)
_GATE_RESERVED = frozenset({
    "image_id", "psnr_db", "pixels_ok", "caption_ok",
    "__ob", "__oc", "__sb", "__sc", "__sid", "__sp",
    "__sh1", "__sh2", "__scrc", "__slen",
})


def _gate_projection(
    out_df: DataFrame,
    id_col: str,
    bytes_col: str,
    caption_col: str,
    keep_cols: tuple[str, ...],
    src_id_col: str | None,
) -> DataFrame:
    """Fact-side projection shared by :func:`check_invariants` and
    :func:`check_invariants_split`: validates keep_cols against the
    reserved gate columns and renames the payload/caption/id columns to
    the internal ``__``-prefixed names."""
    bad = _GATE_RESERVED.intersection(keep_cols)
    if bad:
        raise ValueError(f"keep_cols collide with gate columns: {sorted(bad)}")
    sid = src_id_col or id_col
    return out_df.select(
        F.col(id_col).alias("image_id"),
        F.col(sid).alias("__sid"),
        F.col(bytes_col).alias("__ob"),
        F.col(caption_col).alias("__oc"),
        *[F.col(c) for c in keep_cols],
    )


def check_invariants(
    out_df: DataFrame,
    src_df: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    caption_col: str = "caption",
    keep_cols: tuple[str, ...] = (),
    src_id_col: str | None = None,
    broadcast_src: bool = False,
) -> DataFrame:
    """→ (image_id, psnr_db, pixels_ok, caption_ok [, *keep_cols]), one row
    per output row.

    psnr_db is +inf (encoded as 999.0) when decoded pixels are identical.
    The join to the source is a LEFT join from the output: an output row
    whose id matches no source row (corrupted/renamed id — exactly the
    corruption class this gate exists to catch) surfaces as a pixel AND
    caption violation instead of silently vanishing from the check.
    Source rows legitimately dropped by the pipeline are a row-COUNT
    concern, verified by comparing n_rows against the expected count.

    ``keep_cols``: narrow ``out_df`` columns (e.g. lon/lat) carried through
    BOTH branches unchanged — the gate-early pattern: verify the payload
    here, then run downstream operators on (image_id, verdicts, keep_cols)
    so the binary column never flows through joins/aggregations.
    ``src_id_col``: out_df column holding the SOURCE id when output ids are
    derived (e.g. replica suffixes); defaults to ``id_col``.
    ``broadcast_src``: hint the source side for broadcast — REQUIRED when
    src is dimension-sized but over Catalyst's auto threshold (payload
    bytes inflate the size estimate past 10 MB long before the row count
    stops being broadcastable; an SMJ here would shuffle fact payloads).

    The fast-path equality is strict: the source PAYLOAD joins in and the
    JVM compares full byte strings. On a whole-table check like the
    ``image_invariants`` query this plan measured faster than the digest
    plan of :func:`check_invariants_split`, with identical verdicts; the
    digest plan wins where building the payload-carrying broadcast is
    serial driver work that dominates wall time (the gate-early pipeline,
    images/assign.py).
    """
    o = _gate_projection(out_df, id_col, bytes_col, caption_col,
                         keep_cols, src_id_col)
    s = src_df.select(
        F.col(id_col).alias("__sid"),
        F.col(bytes_col).alias("__sb"),
        F.col(caption_col).alias("__sc"),
        F.lit(True).alias("__sp"),  # source-present flag: a join-miss row
        # has NO source caption, so NULL output caption must still be a
        # violation (Python None == None would read as a match)
    )
    if broadcast_src:
        s = F.broadcast(s)
    joined = o.join(s, "__sid", "left").drop("__sid")

    # Byte-equal payloads short-circuit ENTIRELY inside the JVM: identical
    # bytes decode identically, so psnr = ∞ without touching Python. Only
    # genuinely transformed rows (resize/re-encode) pay the Arrow hop +
    # decode — at the 10¹²-row shape the pass-through verification path is
    # pure whole-stage codegen.
    cap_ok_col = F.col("__oc").eqNullSafe(F.col("__sc"))
    # NULL-safe split: byte_equal is TRUE only for non-null identical
    # payloads (the isNotNull conjuncts force FALSE — never NULL — under
    # three-valued logic); every other row, including NULL payloads where
    # plain `==` would drop the row from BOTH branches, falls through to
    # the decode path and surfaces as pixels_ok=False there.
    byte_equal = (
        F.col("__ob").isNotNull()
        & F.col("__sb").isNotNull()
        & (F.col("__ob") == F.col("__sb"))
    )
    # NOTE on the two-branch union: each branch re-executes the join
    # (exchange reuse dedups the shuffle, not the probe). Persisting the
    # payload-carrying join output would cost more than it saves at the
    # 10^12-row shape, so the byte comparison intentionally runs once per
    # branch while Python is paid only for the diff rows.
    same = joined.filter(byte_equal).select(
        "image_id",
        F.lit(999.0).alias("psnr_db"),
        F.lit(True).alias("pixels_ok"),
        cap_ok_col.alias("caption_ok"),
        *[F.col(c) for c in keep_cols],
    )
    diff = joined.filter(~byte_equal)
    return same.unionByName(_decode_diff(diff, keep_cols))


def _decode_diff(diff: DataFrame, keep_cols: tuple[str, ...]) -> DataFrame:
    """Decode-and-PSNR path for rows that failed the fast equality gate:
    expects (image_id, __ob, __sb, __oc, __sc [, *keep_cols]); Arrow-batched."""
    out_schema = T.StructType(
        list(_SCHEMA.fields) + [diff.schema[c] for c in keep_cols]
    )
    snap = codec.registry_snapshot()  # ship registered codecs to workers

    def gen(batches):
        codec.install_registry(snap)
        for pdf in batches:
            n = len(pdf)
            psnr_v = np.zeros(n)
            pix_ok = np.zeros(n, dtype=bool)
            cap_ok = np.zeros(n, dtype=bool)
            for i in range(n):
                try:
                    a = codec.decode_image(bytes(pdf["__ob"].iat[i]))
                    b = codec.decode_image(bytes(pdf["__sb"].iat[i]))
                    p = codec.psnr(a, b)
                except Exception:
                    p = 0.0
                psnr_v[i] = min(p, 999.0)
                pix_ok[i] = p >= PSNR_MIN_DB
                # a join-miss row (no source) is ALWAYS a caption
                # violation, even when both captions are NULL. The flag
                # arrives as numpy bool_ (or None/NaN for misses), so
                # compare by value — `is True` fails for np.True_.
                sp = pdf["__sp"].iat[i]
                cap_ok[i] = bool(pd.notna(sp) and sp) and (
                    pdf["__oc"].iat[i] == pdf["__sc"].iat[i]
                )
            cols = {
                "image_id": pdf["image_id"],
                "psnr_db": psnr_v,
                "pixels_ok": pix_ok,
                "caption_ok": cap_ok,
            }
            for c in keep_cols:
                cols[c] = pdf[c]
            yield pd.DataFrame(cols)

    return diff.mapInPandas(gen, out_schema)


def _digest_cols(b):
    """Content checksums for the digest gate: two independent xxhash64
    streams, crc32, and length — joint collision odds ~2⁻¹⁶⁰.

    Spark folds multi-arg hashes left-to-right with the running hash as
    the SEED, so the literal must come FIRST: ``xxhash64(lit(1), b)``
    hashes the payload under a different fixed seed (a genuinely
    independent stream), whereas ``xxhash64(b, lit(1))`` would hash the
    constant seeded by the first stream's value — a pure function of it,
    adding zero collision resistance."""
    return (
        F.xxhash64(b),
        F.xxhash64(F.lit(1), b),
        F.crc32(b),
        F.length(b).cast("long"),
    )


def check_invariants_split(
    out_df: DataFrame,
    src_df: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    caption_col: str = "caption",
    keep_cols: tuple[str, ...] = (),
    src_id_col: str | None = None,
    broadcast_src: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Digest gate split for pipeline composition: → (passed, suspects).

    The broadcast side carries only content checksums (two independent
    xxhash64 streams + crc32 + length, joint collision odds ~2⁻¹⁶⁰ — the
    parquet/Iceberg integrity model), recomputed on the fact payload in
    codegen, so the broadcast is ~40 B/row and the gate is a pure map over
    the fact scan: the 10¹²-row shape. ``passed ∪ suspects`` holds one row
    per output row, with the verdicts of :func:`check_invariants` up to
    checksum collision.

    ``passed``: rows whose payload checksums AND caption match the source —
    one narrow-broadcast-join pass with no Python, no payload movement and
    no union; downstream operators build on it.
    ``suspects``: rows failing the fast gate, LEFT-joined back to the
    source payload and decode-refined to a real PSNR — a lossy re-encode
    (bytes differ, pixels close) shows up here with ``pixels_ok=True``,
    true corruption with its measured PSNR. Its payload refetch re-scans
    the source table, which pays only when corruption or transformation
    happened and the caller materializes the frame.
    """
    o = _gate_projection(out_df, id_col, bytes_col, caption_col,
                         keep_cols, src_id_col)
    h1, h2, crc, ln = _digest_cols(F.col(bytes_col))
    s = src_df.select(
        F.col(id_col).alias("__sid"),
        h1.alias("__sh1"),
        h2.alias("__sh2"),
        crc.alias("__scrc"),
        ln.alias("__slen"),
        F.col(caption_col).alias("__sc"),
        F.lit(True).alias("__sp"),
    )
    if broadcast_src:
        s = F.broadcast(s)
    joined = o.join(s, "__sid", "left")
    cap_ok_col = F.col("__oc").eqNullSafe(F.col("__sc"))
    oh1, oh2, ocrc, oln = _digest_cols(F.col("__ob"))
    digest_equal = (
        F.col("__ob").isNotNull()
        & F.col("__slen").isNotNull()
        & (oh1 == F.col("__sh1"))
        & (oh2 == F.col("__sh2"))
        & (ocrc == F.col("__scrc"))
        & (oln == F.col("__slen"))
    )
    passed = joined.filter(digest_equal & cap_ok_col).select(
        "image_id",
        F.lit(999.0).alias("psnr_db"),
        F.lit(True).alias("pixels_ok"),
        F.lit(True).alias("caption_ok"),
        *[F.col(c) for c in keep_cols],
    )
    payload = src_df.select(
        F.col(id_col).alias("__sid"), F.col(bytes_col).alias("__sb")
    )
    if broadcast_src:
        # the refetch join inherits the caller's size assertion: without
        # the hint Catalyst plans an SMJ that shuffles the FULL source
        # payload (its byte-inflated size estimate is over the auto
        # threshold by construction) even when one row is suspect. The
        # broadcast only builds if the suspects frame is materialized.
        payload = F.broadcast(payload)
    suspect = (
        joined.filter(~(digest_equal & cap_ok_col))
        .drop("__sh1", "__sh2", "__scrc", "__slen")
        .join(payload, "__sid", "left")
        .drop("__sid")
    )
    # digest-equal rows landing here failed only the caption check; their
    # decode would be a pointless identical-payload round-trip, so the
    # refine keeps the byte-equal fast verdict for them inside the JVM
    byte_equal = (
        F.col("__ob").isNotNull()
        & F.col("__sb").isNotNull()
        & (F.col("__ob") == F.col("__sb"))
    )
    refined = _decode_diff(
        suspect.filter(~byte_equal),
        keep_cols,
    ).unionByName(
        suspect.filter(byte_equal).select(
            "image_id",
            F.lit(999.0).alias("psnr_db"),
            F.lit(True).alias("pixels_ok"),
            F.col("__oc").eqNullSafe(F.col("__sc")).alias("caption_ok"),
            *[F.col(c) for c in keep_cols],
        )
    )
    return passed, refined


def _violation_aggs() -> list:
    """The shared (n_rows, n_pixel_violations, n_caption_violations)
    aggregate columns of both summary views — one definition so the
    diagnostic and driver-gate summaries can never silently disagree.
    coalesce: over ZERO rows sum is NULL — an empty check must read as
    "no violations", not NULL comparisons."""
    return [
        F.count(F.lit(1)).alias("n_rows"),
        F.coalesce(
            F.sum(F.when(~F.col("pixels_ok"), 1).otherwise(0)), F.lit(0)
        ).alias("n_pixel_violations"),
        F.coalesce(
            F.sum(F.when(~F.col("caption_ok"), 1).otherwise(0)), F.lit(0)
        ).alias("n_caption_violations"),
    ]


def invariant_summary(check_df: DataFrame) -> DataFrame:
    """Aggregate gate: (n_rows, n_pixel_violations, n_caption_violations,
    min_psnr_db)."""
    return check_df.agg(
        *_violation_aggs(),
        F.min("psnr_db").alias("min_psnr_db"),
    )


def invariant_gate_summary(check_df: DataFrame) -> DataFrame:
    """Driver-checkable aggregate gate: (n_rows, n_pixel_violations,
    n_caption_violations, psnr_gate_ok).

    Unlike :func:`invariant_summary` (which reports the raw ``min_psnr_db``
    for diagnostics), every output column here has a SQL-derivable expected
    value: row counts follow from the deterministic generator + spatial
    join, violations must be zero, and the PSNR floor collapses to a
    boolean (≥ :data:`PSNR_MIN_DB`). The engine still computes all of them
    from real decoded pixels — the oracle predicts, Spark verifies."""
    return check_df.agg(
        *_violation_aggs(),
        # coalesce: min over ZERO rows is NULL — vacuously ok, not NULL
        F.coalesce(
            F.min("psnr_db") >= F.lit(PSNR_MIN_DB), F.lit(True)
        ).alias("psnr_gate_ok"),
    )


def decode_check(df: DataFrame, bytes_col: str = "bytes") -> DataFrame:
    """Per-row decode verification with SQL-predictable outputs:
    (image_id, w_decoded, h_decoded, fmt_decoded, phash_match).

    Every column is DERIVED from the payload, never echoed from stored
    metadata: ``w_decoded``/``h_decoded`` come from the decoded pixel
    array's shape, ``fmt_decoded`` from sniffing the container magic bytes
    (so a PNG payload mislabeled 'jpgq' in the fmt column WOULD fail the
    oracle), and ``phash_match`` recomputes the 64-bit DCT hash from the
    decoded pixels against the stored column — a full decode + hash
    round-trip per row, Arrow-batched. A corrupted payload yields
    (-1, -1, '?', false)."""
    schema = T.StructType(
        [
            T.StructField("image_id", T.StringType(), False),
            T.StructField("w_decoded", T.LongType(), False),
            T.StructField("h_decoded", T.LongType(), False),
            T.StructField("fmt_decoded", T.StringType(), False),
            T.StructField("phash_match", T.BooleanType(), False),
        ]
    )
    src = df.select("image_id", F.col(bytes_col).alias("__b"), "phash")
    snap = codec.registry_snapshot()

    def gen(batches):
        codec.install_registry(snap)
        for pdf in batches:
            rows = []
            for iid, buf, ph in zip(pdf["image_id"], pdf["__b"], pdf["phash"]):
                try:
                    b = bytes(buf)
                    px = codec.decode_image(b)
                    rows.append(
                        (iid, px.shape[1], px.shape[0],
                         codec.sniff_fmt(b) or "?",
                         codec.phash64(px) == int(ph))
                    )
                except Exception:
                    rows.append((iid, -1, -1, "?", False))
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    return src.mapInPandas(gen, schema)


def decode_stats(df: DataFrame, bytes_col: str = "bytes") -> DataFrame:
    """Decode payloads and emit per-row pixel stats — the 'feature extract'
    stage of a multimodal training pipeline (mean/std per channel + recomputed
    phash). Arrow-batched; the pattern to extend with real feature models.

    Per-row failure seam (same policy as decode_check and the multimodal
    transforms): a corrupt, NULL, or non-RGB payload among billions yields
    a flagged row (decode_ok=False, NaN stats, phash -1) instead of
    killing the task."""
    schema = T.StructType(
        [
            T.StructField("image_id", T.StringType(), False),
            T.StructField("decode_ok", T.BooleanType(), False),
            T.StructField("mean_r", T.DoubleType(), True),
            T.StructField("mean_g", T.DoubleType(), True),
            T.StructField("mean_b", T.DoubleType(), True),
            T.StructField("std_gray", T.DoubleType(), True),
            T.StructField("phash_recomputed", T.LongType(), True),
        ]
    )
    src = df.select("image_id", F.col(bytes_col).alias("__b"))
    snap = codec.registry_snapshot()
    nan = float("nan")

    def gen(batches):
        codec.install_registry(snap)
        for pdf in batches:
            rows = []
            for iid, buf in zip(pdf["image_id"], pdf["__b"]):
                try:
                    px = codec.decode_image(bytes(buf)).astype(np.float64)
                    if px.ndim != 3 or px.shape[2] != 3:
                        raise ValueError(f"non-RGB shape {px.shape}")
                    gray = px @ np.array([0.299, 0.587, 0.114])
                    rows.append(
                        (
                            iid,
                            True,
                            float(px[..., 0].mean()),
                            float(px[..., 1].mean()),
                            float(px[..., 2].mean()),
                            float(gray.std()),
                            codec.phash64(px.astype(np.uint8)),
                        )
                    )
                except Exception:
                    rows.append((iid, False, nan, nan, nan, nan, -1))
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    return src.mapInPandas(gen, schema)

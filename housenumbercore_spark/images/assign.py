"""Gate-early image → admin-area assignment (the 10¹²-row production shape).

The reference evaluates every address row against its municipality polygon
with the payload columns along for the ride (TheoreticalHousenumbers.java:874-1414
carries the full record through evaluation). At the north rule's
10¹²-image scale that shape is memory-bandwidth-bound: a ~1 KB binary
payload riding through the spatial join is duplicated once per covering
admin level and re-scanned by every downstream operator.

``assign_gated_images_to_areas`` restructures the pipeline:

1. **Gate first** — every fact row's payload is verified ONCE against the
   source table inside the JVM (checksum fast path; decode + PSNR only
   for mismatching rows — images/udfs.check_invariants_split).
2. **Project narrow** — the binary column dies at the gate; the spatial
   join + tile assignment run on (image_id, lon, lat) with the gate
   verdicts, so the cell join, exact refine and tile map never touch
   payload bytes.
3. **Quarantine, don't drop** — rows failing the pixel/caption invariant
   come back as a side output (the reference's error-list pattern,
   MunicipalityJobs.java logging of failed evaluations) instead of
   silently vanishing from the assignment.

Measured rationale (BENCH/image_flagship.py): carrying the payload through
the join caps 2→8 thread scaling at ~0.78 on one memory bus; the narrow
plan matches the points flagship (≥0.8 north rule). On a real N-vs-4N
executor cluster the same projection keeps per-executor payload traffic to
one scan pass regardless of how many admin levels cover each point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import pip_join as PJ
from . import udfs as IU


def assign_gated_images_to_areas(
    spark: SparkSession,
    images: DataFrame,
    areas: DataFrame,
    src_df: DataFrame | None = None,
    lon: str = "lon",
    lat: str = "lat",
    tile_res: int | None = None,
    src_id_col: str | None = None,
    broadcast_src: bool = True,
    **pip_kwargs,
) -> tuple[DataFrame, DataFrame]:
    """→ (assignments, quarantine).

    assignments: one NARROW row per (verified image, covering area) —
    (image_id, lon, lat, psnr_db, area_id [, tile_id]); payload bytes are
    referenced by image_id into the source table, never duplicated per
    covering admin level. A verified image covered by NO area yields no
    assignment row (the spatial join is inner, matching the reference's
    evaluation: a point outside every polygon has no evaluation row) —
    reconcile totals as |verified ids| = |input| − |quarantine ids|, not
    against the assignment row count.
    quarantine: gate verdicts (image_id, psnr_db, pixels_ok, caption_ok,
    lon, lat) for every row withheld from the assignment input: every row
    failing the CHECKSUM gate — including a lossy re-encode whose decoded
    pixels pass the PSNR floor, which appears here with ``pixels_ok=True``
    (see row routing below).

    ``src_df`` defaults to ``images`` itself (self-check: catches payload
    corruption introduced upstream of this operator only when ids are
    derived — pass the true source for end-to-end verification).
    ``src_id_col`` maps derived fact ids (replica suffixes) back to source
    ids. ``broadcast_src`` defaults True: the broadcast side is ~40 B/row
    checksums, buildable at any dimension size; set False when the source
    is genuinely fact-sized (the digest join then shuffles narrow
    checksums, never payloads).

    The gate is the digest plan (images/udfs.check_invariants_split:
    checksums compared in codegen, payload fetched + decoded only for
    mismatch rows): a payload-carrying byte-gate broadcast is serial
    driver work that dominates wall time once the join side runs narrow
    (measured in BENCH/image_flagship.py: the byte-gate stage alone scaled
    0.556 on 2→8 threads).

    Row routing: assignments build on the digest-PASSED frame only, so
    their lineage is one narrow pass with no decode machinery — the
    deliberate trade is that an invariant-PASSING lossy re-encode is
    withheld from assignments (quarantined with ``pixels_ok=True``, never
    silently dropped); a downstream pass may re-admit it from the
    quarantine verdicts. Every input row lands in exactly one of
    (verified, quarantine); only verified rows proceed to the spatial
    join.
    """
    verified, quarantine = IU.check_invariants_split(
        images,
        src_df if src_df is not None else images,
        keep_cols=(lon, lat),
        src_id_col=src_id_col,
        broadcast_src=broadcast_src,
    )
    assigned = PJ.assign_points_to_areas(
        spark,
        verified.select("image_id", "psnr_db", lon, lat),
        areas, lon=lon, lat=lat, **pip_kwargs,
    )
    if tile_res is not None:
        assigned = PJ.tile_assign(assigned, tile_res, lon=lon, lat=lat)
    return assigned, quarantine

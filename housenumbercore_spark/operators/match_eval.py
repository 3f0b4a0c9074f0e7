"""Match evaluation: official list vs OSM addresses → treffertyp i/l/o.

Replaces the reference's Workcache — a fixed 500k-entry in-heap array with an
O(n²) linear-scan find (/root/reference/src/de/regioosm/
theoreticalhousenumbercore/util/Workcache.java:41, 135-162) — with one
full-outer hash join:

- match key: (land_id, stadt_id, strasse_id, job_id) + housenumber equality,
  case-sensitive iff the municipality's ``housenumberaddition_exactly`` flag
  is 'y' (Workcache.java:148-158; flag dbstructure.sql:46).
- treffertyp: 'i' (identical, both sides), 'l' (list-only), 'o' (OSM-only) —
  Workcache_Entry.java:38-40.
- best OSM object per housenumber: lowest tag priority wins; the priority
  ladder is Workcache_Entry.set_osm_tag (Workcache_Entry.java:387-450):
  entrance=yes|main|home → 1, building=entrance → 1,
  building=yes|office|apartments → 2, other building → 9, amenity → 20,
  otherwise 99. The reference keeps the first-seen object on ties
  (order-dependent, Workcache_Entry.java:269-338); this engine makes the
  tie-break deterministic: lowest osm_id (SURVEY.md §7.3).
- per-job counters: number_target / number_identical / number_osmonly
  (dbstructure.sql:217-219; Workcache.countTreffertyp:104-111).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_KEYS = ("job_id", "street")


def osm_tag_priority(tags: Column | str) -> Column:
    """Tag priority from a MapType tags column (lower = better)."""
    t = F.col(tags) if isinstance(tags, str) else tags
    building = F.lower(F.coalesce(t.getItem("building"), F.lit("")))
    entrance = F.lower(F.coalesce(t.getItem("entrance"), F.lit("")))
    has_amenity = t.getItem("amenity").isNotNull()
    p_entrance = F.when(entrance.isin("yes", "main", "home"), 1).otherwise(99)
    p_building = (
        F.when(building == "entrance", 1)
        .when(building.isin("yes", "office", "apartments"), 2)
        .when(building != "", 9)
        .otherwise(99)
    )
    p_amenity = F.when(has_amenity, 20).otherwise(99)
    return F.least(p_entrance, p_building, p_amenity)


def tag_priority_from_columns(building: Column, entrance: Column, amenity: Column) -> Column:
    """Same ladder from flat columns (for SQL-oracle-matched synthetic data)."""
    b = F.lower(F.coalesce(building, F.lit("")))
    e = F.lower(F.coalesce(entrance, F.lit("")))
    p_entrance = F.when(e.isin("yes", "main", "home"), 1).otherwise(99)
    p_building = (
        F.when(b == "entrance", 1)
        .when(b.isin("yes", "office", "apartments"), 2)
        .when(b != "", 9)
        .otherwise(99)
    )
    p_amenity = F.when(amenity.isNotNull(), 20).otherwise(99)
    return F.least(p_entrance, p_building, p_amenity)


def tag_priority_sql(building: str, entrance: str, amenity: str) -> str:
    """ANSI-SQL twin of the priority ladder (DuckDB oracle)."""
    b = f"lower(coalesce({building}, ''))"
    e = f"lower(coalesce({entrance}, ''))"
    return (
        f"LEAST("
        f"CASE WHEN {e} IN ('yes','main','home') THEN 1 ELSE 99 END, "
        f"CASE WHEN {b} = 'entrance' THEN 1 "
        f"WHEN {b} IN ('yes','office','apartments') THEN 2 "
        f"WHEN {b} <> '' THEN 9 ELSE 99 END, "
        f"CASE WHEN {amenity} IS NOT NULL THEN 20 ELSE 99 END)"
    )


def match_key(hnr: Column | str, exact: Column | str) -> Column:
    """Housenumber join key honoring per-municipality case-exactness (J6)."""
    h = F.col(hnr) if isinstance(hnr, str) else hnr
    e = F.col(exact) if isinstance(exact, str) else exact
    return F.when(e, h).otherwise(F.lower(h))


def best_osm_object(
    osm: DataFrame,
    keys: Sequence[str] = DEFAULT_KEYS,
    hnr_key: str = "hnr_key",
    prio_col: str = "prio",
    osm_id: str = "osm_id",
) -> DataFrame:
    """W1: keep per (keys, hnr_key) the object with min (prio, osm_id).

    Uses the window strategy of :func:`..argmin.keep_min_row`: the OSM
    side's group key (job, street, hnr_key) is near-unique per map
    partition (600k rows → 250k groups at sf0.1, scattered), so the
    argmin-aggregate's map-side combine has nothing to combine and its
    extra sort pass measurably loses (window 3.01 s vs agg 3.43 s median,
    10 interleaved rounds on the sf0.1 match build — see the argmin
    module docstring). ``osm_id`` is unique per row, so both strategies
    are bit-identical (verified both directions by exceptAll in
    tests/test_match_eval.py)."""
    from .argmin import keep_min_row

    return keep_min_row(osm, [*keys, hnr_key], [prio_col, osm_id], strategy="window")


def match_evaluation(
    official: DataFrame,
    osm: DataFrame,
    keys: Sequence[str] = DEFAULT_KEYS,
    hnr_key: str = "hnr_key",
) -> DataFrame:
    """Full-outer match join → one row per distinct housenumber identity with
    treffertyp ∈ {'i','l','o'} plus both sides' payloads (U2: intersect/
    except expressed as one join, SURVEY.md).

    Both inputs must already be unique per (keys, hnr_key) — official via
    first-wins dedup (HousenumberList.addHousenumber:161-173), OSM via
    :func:`best_osm_object`.

    NULL key components (a NULL street, a NULL housenumber key) never
    match across sides — a deliberate choice, not an oversight: the
    reference evaluates these joins in PostgreSQL, whose ``=`` has the
    same NULL semantics, so an official row and an OSM row that agree
    only up to a NULL key count as 'l' + 'o' there too. (The Workcache
    merge differs: its keys are row identities, where NULL must match
    NULL for the diff to converge — see operators/merge.py.)
    """
    join_cols = [*keys, hnr_key]
    off = official.withColumn("__off", F.lit(1))
    om = osm.withColumn("__osm", F.lit(1))
    joined = off.join(om, join_cols, "full_outer")
    return joined.withColumn(
        "treffertyp",
        F.when(F.col("__off").isNotNull() & F.col("__osm").isNotNull(), "i")
        .when(F.col("__off").isNotNull(), "l")
        .otherwise("o"),
    ).drop("__off", "__osm")


def evaluation_counters(matched: DataFrame, job_col: str = "job_id") -> DataFrame:
    """A4: per-job counters matching `evaluations` (dbstructure.sql:217-219).

    number_target counts the official list (i + l); single map-side pass.
    """
    return matched.groupBy(job_col).agg(
        F.sum(F.when(F.col("treffertyp").isin("i", "l"), 1).otherwise(0)).alias(
            "number_target"
        ),
        F.sum(F.when(F.col("treffertyp") == "i", 1).otherwise(0)).alias(
            "number_identical"
        ),
        F.sum(F.when(F.col("treffertyp") == "o", 1).otherwise(0)).alias(
            "number_osmonly"
        ),
    )

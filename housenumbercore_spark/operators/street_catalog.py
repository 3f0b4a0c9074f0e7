"""Street catalog pipeline: street-in-polygon join + name grouping + merge.

Reference parity (§3.2 of SURVEY.md — MunicipalityJobs.main):

- J1  street-in-polygon: `ST_Contains(poly, way) OR ST_Crosses(poly, way)`
      per municipality (/root/reference/src/de/regioosm/housenumbercore/
      MunicipalityJobs.java:282-304) → cell cover equi-join + exact
      line-vs-polygon refine.
- P4  highway whitelist (util/OSMStreet.java:89-101).
- P5  blacklist anti-join (MunicipalityJobs.java:209-251, 328-333).
- A1  group segments by (municipality, street name)
      (MunicipalityJobs.java:324-368).
- A2  merge segment geometries per street — from-scratch linemerge replaces
      the per-segment ST_LineMerge round-trips (util/OSMStreet.java:139-190).
- J7/U1 official-street augmentation: official streets absent from OSM get
      null-geometry rows (MunicipalityJobs.java:821-931).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geo import geometry as G
from ..sources.streets import HIGHWAY_WHITELIST
from .pip_join import (
    COVER_EXTRA_DEPTH,
    REFINE_COLS,
    area_cover,
    jvm_refine_expr,
    probe_cells_col,
    seg_cover_cells_cols,
    seg_crossing_expr,
)


def streets_in_areas(
    spark: SparkSession,
    streets: DataFrame,
    areas: DataFrame,
    res: int | None = None,
) -> DataFrame:
    """J1: (street columns..., area_id) for every segment intersecting the
    area polygon (Contains ∪ Crosses ≡ shares any point with the closed
    area, MunicipalityJobs.java:282-304).

    Pure-JVM decomposition (no driver collect, no Python on the street
    path — the segment analogue of the point refine's parity transport):

    segment ∩ polygon ≠ ∅  ⟺  endpoint₀ covered  ∨  segment touches a
    boundary edge. (If any segment point is inside but endpoint₀ is not,
    the segment must cross the boundary; endpoint₁ needs no separate test.)

    - endpoint₀ branch: equi-join of endpoint₀'s cell at both cover
      levels (pip_join.probe_cells_col) + the exact point refine
      (pip_join.jvm_refine_expr).
    - crossing branch: segment-bbox cover cells (codegen sequence explode)
      at the cover's finer level, where every boundary row sits,
      equi-join against the area's cells, then the inclusive
      segment-vs-stored-edges test (pip_join.seg_crossing_expr). Complete
      because any boundary intersection point lies in a cell covered by
      both sides, and that cell's payload stores every edge overlapping it.

    Both branches' probe rows are unioned and meet the cover (from
    pip_join.area_cover) in ONE broadcast join; a ``__pj_seg`` flag picks
    each row's refine. Both refines are JVM expressions with no Python,
    but their higher-order functions run interpreted outside the
    whole-stage codegen stage; their cost is bounded by the edges per
    cover row. The only shuffle is the final per-(osm_id, area_id) dedup
    over narrow street rows.
    """
    # both branches probe ONE broadcast of the cover, so its Python job runs
    # at most once per query even when the areas frame (and with it the
    # area_cover memo) is gone before the query runs
    res, dim = area_cover(areas, res)
    dim = dim.withColumnRenamed("cell", "__dim_cell")

    ep = (streets.withColumn("__cell", probe_cells_col("x0", "y0", res))
          .withColumn("__pj_seg", F.lit(False)))
    seg = (seg_cover_cells_cols(streets, res + COVER_EXTRA_DEPTH, out="__cell")
           .withColumn("__pj_seg", F.lit(True)))
    # a segment cell meets full rows too; their empty edge list fails the
    # crossing test
    hit = (F.when(F.col("__pj_seg"), seg_crossing_expr("x0", "y0", "x1", "y1"))
           .otherwise(jvm_refine_expr("x0", "y0")))
    return (
        ep.unionByName(seg)
        .join(F.broadcast(dim), F.col("__cell") == dim["__dim_cell"], "inner")
        .filter(hit)
        .drop("__dim_cell", "__cell", "__pj_seg", *REFINE_COLS)
        .dropDuplicates(["osm_id", "area_id"])
    )


def apply_whitelist(streets: DataFrame, highway_col: str = "highway") -> DataFrame:
    """P4 (OSMStreet.java:89-101)."""
    return streets.filter(F.col(highway_col).isin(HIGHWAY_WHITELIST))


def apply_blacklist(streets: DataFrame, blacklist: DataFrame, on: str = "osm_id") -> DataFrame:
    """P5: broadcast left-anti join (MunicipalityJobs.java:328-333)."""
    return streets.join(F.broadcast(blacklist.select(on)), on, "left_anti")


def group_street_names(assigned: DataFrame) -> DataFrame:
    """A1: per (area_id, name): segment count + deterministic osm_id CSV
    (reference accumulates a TreeMap then a CSV string,
    MunicipalityJobs.java:324-368 / OSMStreet.java:192-201)."""
    return assigned.groupBy("area_id", "name").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("osm_id")),  # numeric sort, then stringify
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("osm_ids"),
    )


def merge_street_geometries(assigned: DataFrame) -> DataFrame:
    """A2: linemerge segments per (area_id, name) → merged WKT array.

    applyInPandas per street group; geometry work is the from-scratch
    endpoint-stitching linemerge (geo.geometry.linemerge).
    """
    schema = T.StructType(
        [
            T.StructField("area_id", T.LongType(), False),
            T.StructField("name", T.StringType(), False),
            T.StructField("n_segments", T.IntegerType(), False),
            T.StructField("n_merged", T.IntegerType(), False),
            T.StructField("merged_wkt", T.StringType(), False),
        ]
    )

    def merge(key, pdf):
        # canonical input order: group rows arrive in shuffle order, and
        # linemerge seeds chains in input order — sort so the output WKT is
        # deterministic (and therefore oracle-checkable by value)
        pdf = pdf.sort_values(["x0", "y0", "x1", "y1"], kind="mergesort")
        lines = [
            np.array([[r.x0, r.y0], [r.x1, r.y1]])
            for r in pdf.itertuples(index=False)
        ]
        merged = G.linemerge(lines)
        parts = sorted(
            "(" + ", ".join(f"{x:.7f} {y:.7f}" for x, y in m) + ")" for m in merged
        )
        wkt = (
            "MULTILINESTRING(" + ", ".join(parts) + ")"
            if len(merged) != 1
            else "LINESTRING" + parts[0]
        )
        return pd.DataFrame(
            [
                {
                    "area_id": key[0],
                    "name": key[1],
                    "n_segments": len(lines),
                    "n_merged": len(merged),
                    "merged_wkt": wkt,
                }
            ]
        )

    return assigned.groupBy("area_id", "name").applyInPandas(merge, schema)


def augment_official_streets(
    osm_catalog: DataFrame,
    official_streets: DataFrame,
) -> DataFrame:
    """J7/U1: official street names missing from the OSM catalog get
    null-geometry rows; output column ``source`` ∈ {'osm', 'official_only'}."""
    missing = official_streets.join(
        osm_catalog.select("area_id", "name"), ["area_id", "name"], "left_anti"
    ).select(
        "area_id",
        "name",
        F.lit(0).cast("long").alias("n_segments"),
        F.lit("").alias("osm_ids"),
        F.lit("official_only").alias("source"),
    )
    return osm_catalog.withColumn("source", F.lit("osm")).unionByName(missing)

"""Spatial storage layout: partition pruning + pushdown on windowed reads."""

from __future__ import annotations

from pyspark.sql import functions as F

from housenumbercore_spark.sources import layout as L
from housenumbercore_spark.sources import synthetic as S
from plan_audit import audit_plan

SF = "/root/testdata/sf0.001"


def test_window_read_prunes_partitions_and_pushes_filters(spark, tmp_path):
    import os

    # part_res=8 so the small synthetic world spans several coarse cells
    pts = S.points_df(spark, SF)
    path = str(tmp_path / "spatial")
    L.write_spatial(pts, path, part_res=8)

    # window = the hot micro-box; its res-8 cover is a single coarse cell
    w = L.read_window(
        spark, path,
        S.HOT_LON0, S.HOT_LAT0, S.HOT_LON0 + S.HOT_SPAN, S.HOT_LAT0 + S.HOT_SPAN,
        part_res=8,
    )
    got = w.count()
    want = pts.filter(
        (F.col("lon") >= S.HOT_LON0) & (F.col("lon") <= S.HOT_LON0 + S.HOT_SPAN)
        & (F.col("lat") >= S.HOT_LAT0) & (F.col("lat") <= S.HOT_LAT0 + S.HOT_SPAN)
    ).count()
    assert got == want and got > 0

    plan = w._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    # the partition predicate must actually constrain part_cell
    assert "part_cell" in plan.split("PartitionFilters")[1][:200]
    a = audit_plan(w)
    assert any("lon" in p or "lat" in p for p in a["pushed_filters"]), a[
        "pushed_filters"
    ]

    # the predicate is selective: the window's IN-list covers one coarse
    # cell while the table holds several partition directories
    dirs = [d for d in os.listdir(path) if d.startswith("part_cell=")]
    from housenumbercore_spark.geo import cells as C

    cover = C.cover_bbox(
        S.HOT_LON0, S.HOT_LAT0, S.HOT_LON0 + S.HOT_SPAN, S.HOT_LAT0 + S.HOT_SPAN, 8
    )
    assert len(cover) < len(dirs)


def test_window_read_matches_plain_filter(spark, tmp_path):
    pts = S.points_df(spark, SF)
    path = str(tmp_path / "spatial2")
    L.write_spatial(pts, path)
    box = (S.LON0 + 0.3, S.LAT0 + 0.2, S.LON0 + 0.9, S.LAT0 + 0.7)
    got = (
        L.read_window(spark, path, *box)
        .select("point_id")
        .toPandas()
        .sort_values("point_id")
        .reset_index(drop=True)
    )
    want = (
        pts.filter(
            (F.col("lon") >= box[0]) & (F.col("lon") <= box[2])
            & (F.col("lat") >= box[1]) & (F.col("lat") <= box[3])
        )
        .select("point_id")
        .toPandas()
        .sort_values("point_id")
        .reset_index(drop=True)
    )
    assert got.equals(want)

"""Street catalog + kNN operator tests (oracle comparisons at sf0.001)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from housenumbercore_spark import oracles as O
from housenumbercore_spark import pipelines as P

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in ("supplier", "nation", "region", "customer", "orders"):
        c.execute(f"create view {t} as select * from read_parquet('{SF}/{t}.parquet')")
    return c


def _cmp(got, want, cols):
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    assert len(g) == len(w), (len(g), len(w))
    for c in cols:
        eq = (g[c].isna() & w[c].isna()) | (g[c] == w[c])
        assert eq.all(), (c, g[~eq].head(), w[~eq].head())


def test_street_catalog_vs_oracle(spark, con):
    got = P.street_catalog(spark, SF).toPandas()
    want = con.execute(O.street_catalog_sql()).df()
    _cmp(got, want, sorted(got.columns))
    # both sources present
    assert set(got["source"]) == {"osm", "official_only"}


def test_knn_vs_oracle(spark, con):
    got = P.knn_nearest_street(spark, SF, k=1).toPandas()
    want = con.execute(O.knn_nearest_street_sql(1)).df()
    _cmp(got, want, sorted(got.columns))
    assert got.point_id.is_unique


def test_linemerge_in_catalog(spark):
    m = P.street_merged_geometries(spark, SF).toPandas()
    multi = m[(m.n_segments > 1)]
    # every street_key%3==0 street contributes 2 contiguous segments → 1 line
    assert (multi.n_merged <= multi.n_segments).all()
    assert m.merged_wkt.str.startswith(("LINESTRING", "MULTILINESTRING")).all()


def test_whitelist_and_blacklist_applied(spark):
    from housenumbercore_spark.operators import street_catalog as SC
    from housenumbercore_spark.sources import streets as ST

    segs = ST.street_segments_df(spark, SF)
    wl = SC.apply_whitelist(segs)
    assert wl.filter(F.col("highway").isin("footway", "motorway")).count() == 0
    bl = segs.filter(F.col("osm_id") % 97 == 0)
    if bl.count() > 0:
        after = SC.apply_blacklist(wl, bl)
        assert after.join(bl, "osm_id", "inner").count() == 0


def test_knn_ring_expansion_covers_targets(spark):
    """A point in an empty cell still finds its neighbour via the ring."""
    from housenumbercore_spark.operators import knn as KN

    pts = spark.createDataFrame([(1, 6.01, 50.01)], "point_id long, lon double, lat double")
    targets = spark.createDataFrame(
        [(7, "T", 7.5, 50.9)], "street_key long, name string, slon double, slat double"
    )
    out = KN.knn_nearest(pts, targets, res=8, k_ring=1).collect()
    assert len(out) == 1 and out[0].street_key == 7


def test_knn_shuffle_path_vs_oracle(spark, con):
    """dim_strategy='shuffle' (salted cell join, no broadcast of the ring
    dim) must match the oracle with broadcasts globally disabled — the path
    for national-scale target sets beyond any broadcast threshold."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = P.knn_nearest_street(spark, SF, k=1, dim_strategy="shuffle")
        plan = df._jdf.queryExecution().executedPlan().toString()
        # candidate join must be a shuffled equi-join — never a cartesian
        # product
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        got = df.toPandas()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    want = con.execute(O.knn_nearest_street_sql(1)).df()
    _cmp(got, want, sorted(got.columns))


def test_knn_map_payload_takes_window_path(spark):
    """A MapType target payload (hstore-style tags) must not break k=1: the
    argmin struct aggregate cannot order maps, so the operator detects the
    unorderable column and takes the window rank path (round-2 ADVICE)."""
    from housenumbercore_spark.operators import knn as KN

    pts = spark.createDataFrame(
        [(1, 6.01, 50.01), (2, 7.4, 50.8)],
        "point_id long, lon double, lat double",
    )
    targets = spark.createDataFrame(
        [(7, {"highway": "residential"}, 7.5, 50.9),
         (8, {"highway": "primary"}, 6.0, 50.0)],
        "street_key long, tags map<string,string>, slon double, slat double",
    )
    out = {
        r.point_id: (r.street_key, r.tags)
        for r in KN.knn_nearest(pts, targets, res=4, k_ring=1).collect()
    }
    assert out[1] == (8, {"highway": "primary"})
    assert out[2] == (7, {"highway": "residential"})


def test_knn_auto_strategy_picks_a_valid_path(spark):
    """'auto' must resolve to one of the two concrete paths and return the
    same rows either way (small parquet-backed dim → typically broadcast)."""
    from housenumbercore_spark.operators import knn as KN
    from housenumbercore_spark.sources import streets as ST
    from housenumbercore_spark.sources import synthetic as S

    pts = S.points_df(spark, SF).select("point_id", "lon", "lat").limit(200)
    targets = ST.street_points_df(spark, SF)
    a = KN.knn_nearest(pts, targets, res=8, k_ring=1, dim_strategy="auto")
    b = KN.knn_nearest(pts, targets, res=8, k_ring=1, dim_strategy="broadcast")
    cols = ["point_id", "street_key"]
    assert sorted(map(tuple, a.select(*cols).collect())) == sorted(
        map(tuple, b.select(*cols).collect())
    )


def test_streets_in_areas_touch_and_collinear_degeneracies(spark):
    """Inclusive intersect semantics on exact touch cases, validated per
    segment against the python oracle (line_intersects_polygon)."""
    import numpy as np
    from geo_oracle import line_intersects_polygon

    from housenumbercore_spark.geo import geometry as G
    from housenumbercore_spark.operators import street_catalog as SC

    rect = G.polygon_wkb(
        [np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]])]
    )
    areas = spark.createDataFrame(
        [(1, bytearray(rect), 0.0, 0.0, 4.0, 4.0)],
        "area_id long, polygon binary, xmin double, ymin double, "
        "xmax double, ymax double",
    )
    segs = [
        (1, 1.0, 1.0, 3.0, 1.0),    # fully inside
        (2, -1.0, 2.0, 2.0, 2.0),   # crosses the west edge
        (3, 1.0, 4.0, 3.0, 4.0),    # collinear ALONG the top edge (touch)
        (4, 5.0, 5.0, 6.0, 6.0),    # fully outside
        (5, 4.0, 4.0, 5.0, 5.0),    # endpoint0 exactly ON the corner
        (6, -2.0, -2.0, -1.0, -1.0),  # outside, pointing at the corner
        (7, 0.0, 5.0, 5.0, 0.0),    # diagonal clipping the corner region
        (8, 4.0, -1.0, 4.0, 5.0),   # collinear along the east edge, longer
    ]
    streets = spark.createDataFrame(
        segs, "osm_id long, x0 double, y0 double, x1 double, y1 double"
    )
    got = {
        r.osm_id
        for r in SC.streets_in_areas(spark, streets, areas, res=6)
        .select("osm_id")
        .collect()
    }
    poly = G.parse_wkb(rect)
    want = {
        oid
        for oid, x0, y0, x1, y1 in segs
        if line_intersects_polygon(poly, np.array([[x0, y0], [x1, y1]]))
    }
    assert got == want
    assert {1, 2, 3, 5, 7, 8} <= got and 4 not in got and 6 not in got


def test_multires_round_collapse_keeps_empty_ring_points(spark):
    """Round collapse must not drop points whose k-ring holds NO candidate:
    such points emit zero rows from knn_nearest, so "zero unsure rows" at
    the finest res does not mean every point was answered — the isolated
    point still needs the coarse fallback round (round-5 review finding).
    """
    from housenumbercore_spark.operators import knn as KN

    # dense point 13 m from the street → provably sure at res 13;
    # isolated point 1.2° away → empty ring-1 at res 13 AND res 10
    # (cell 0.35°, ring reach ≤ 0.70°), answered only at res 8 (cell
    # 1.41°, ring-1 always reaches 1.41°).
    pts = spark.createDataFrame(
        [(1, 7.5001, 50.9001), (2, 8.7, 50.9)],
        "point_id long, lon double, lat double",
    )
    targets = spark.createDataFrame(
        [(7, "T", 7.5, 50.9)],
        "street_key long, name string, slon double, slat double",
    )
    out = {
        r.point_id: r.street_key
        for r in KN.knn_nearest_multires(
            pts, targets, res_list=[13, 10, 8], k_ring=1
        ).collect()
    }
    assert out == {1: 7, 2: 7}

    # degenerate collapse: EVERY point has an empty finest ring → the
    # first round emits no rows at all; the fallback must still answer
    only_isolated = spark.createDataFrame(
        [(2, 8.7, 50.9)], "point_id long, lon double, lat double"
    )
    out2 = KN.knn_nearest_multires(
        only_isolated, targets, res_list=[13, 10, 8], k_ring=1
    ).collect()
    assert len(out2) == 1 and out2[0].street_key == 7


def test_multires_matches_brute_force_on_random_worlds(spark):
    """Randomized exactness: the multires ladder (ring pruning + guarantee
    bound + escalation + round collapse) must reproduce the brute-force
    cross-join answer EXACTLY on arbitrary point/target scatters. The
    brute force uses the engine's own distance expression, so only the
    ladder logic is under test — any pruning bug (a guarantee bound that
    is not a true lower bound, a dropped escalation) shows as a changed
    nearest neighbor."""
    import numpy as np
    from pyspark.sql import Window as W

    from housenumbercore_spark.geo.distance import distance_m_col
    from housenumbercore_spark.operators import knn as KN

    rng = np.random.RandomState(20260820)
    for round_i in range(4):
        n_pts, n_tgt = 60, 12
        # wide scatter incl. high latitudes; last res 2 (90-degree cells,
        # ring-1 spans 270 degrees) ring-covers this box from any point
        lon = rng.uniform(-60, 60, n_pts + n_tgt)
        lat = rng.uniform(-55, 65, n_pts + n_tgt)
        # one coincident point/target pair to exercise dist_m == 0
        lon[0], lat[0] = lon[n_pts], lat[n_pts]
        pts = spark.createDataFrame(
            [(i, float(lon[i]), float(lat[i])) for i in range(n_pts)],
            "point_id long, lon double, lat double",
        )
        targets = spark.createDataFrame(
            [
                (j, f"t{j}", float(lon[n_pts + j]), float(lat[n_pts + j]))
                for j in range(n_tgt)
            ],
            "street_key long, name string, slon double, slat double",
        )
        n = 1 if round_i % 2 == 0 else 2
        got = {
            (r.point_id, r.knn_rank): (r.street_key, round(r.dist_m, 6))
            for r in KN.knn_nearest_multires(
                pts, targets, res_list=[12, 7, 2], k_ring=1, n_neighbors=n
            ).collect()
        }
        brute = (
            pts.crossJoin(targets)
            .withColumn(
                "dist_m",
                distance_m_col(
                    F.col("lon"), F.col("lat"), F.col("slon"), F.col("slat")
                ),
            )
            .withColumn(
                "knn_rank",
                F.row_number().over(
                    W.partitionBy("point_id").orderBy(
                        F.col("dist_m").asc(), F.col("street_key").asc()
                    )
                ),
            )
            .filter(F.col("knn_rank") <= n)
        )
        want = {
            (r.point_id, r.knn_rank): (r.street_key, round(r.dist_m, 6))
            for r in brute.collect()
        }
        assert got == want, f"round {round_i}: multires != brute force"


def test_multires_ladder_is_one_lazy_chain(spark):
    """Building the 3-res ladder runs no Spark job (no driver count, no pin);
    under the broadcast strategy the plan has exactly one non-broadcast
    exchange (the point shuffle every round reuses); collecting it runs at
    most 8 jobs."""
    from plan_audit import audit_plan

    from housenumbercore_spark.operators import knn as KN
    from housenumbercore_spark.sources import streets as ST
    from housenumbercore_spark.sources import synthetic as S

    pts = S.points_df(spark, SF).select("point_id", "lon", "lat")
    targets = ST.street_points_df(spark, SF)
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = sched.nextJobId()
    out = KN.knn_nearest_multires(pts, targets, res_list=P.KNN_RES_LIST)
    assert sched.nextJobId() == j0
    audit = audit_plan(out)
    assert audit["n_shuffles"] == 1, audit["plan"]
    assert "SortAggregate" not in audit["plan"]
    j1 = sched.nextJobId()
    rows = out.collect()
    assert sched.nextJobId() - j1 <= 8
    assert len(rows) == pts.count()


_FAULT_SCRIPT = r"""
import json, os, sys
from pyspark import TaskContext
from pyspark.sql import SparkSession, Window as W, functions as F
from housenumbercore_spark.geo.distance import distance_m_col
from housenumbercore_spark.operators import knn as KN

marks = sys.argv[1]
spark = (SparkSession.builder.master("local[2,2]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false").getOrCreate())


def fail_once(where, fail_partitions):
    # fails the FIRST attempt of the chosen partitions part-way through
    # their rows; nondeterministic, so the optimizer keeps it where it is
    def f(i):
        tc = TaskContext.get()
        if (tc.attemptNumber() == 0 and tc.partitionId() in fail_partitions
                and i % 7 == 3):
            open(os.path.join(marks, f"{where}-{tc.stageId()}-"
                              f"{tc.partitionId()}"), "w").close()
            raise RuntimeError(f"injected {where} failure")
        return True
    return F.udf(f, "boolean").asNondeterministic()


# deterministic scatters: last res 2 (90-degree cells) ring-covers them
pts = spark.range(0, 400, numPartitions=4).select(
    F.col("id").alias("point_id"),
    ((F.col("id") * 7919) % 12000 / 100.0 - 60.0).alias("lon"),
    ((F.col("id") * 104729) % 12000 / 100.0 - 55.0).alias("lat"))
targets = spark.range(0, 30, numPartitions=2).select(
    F.col("id").alias("street_key"), F.concat(F.lit("t"), "id").alias("name"),
    ((F.col("id") * 6007) % 12000 / 100.0 - 60.0).alias("slon"),
    ((F.col("id") * 3001) % 12000 / 100.0 - 55.0).alias("slat"))
out = {}
for n, strategy in ((1, "broadcast"), (2, "broadcast"), (1, "shuffle")):
    # 'before' runs in the point scan, ahead of the ladder's one point
    # shuffle; 'after' runs on the ladder's output, in the stage that
    # executes the round chain
    got = KN.knn_nearest_multires(
        pts.filter(fail_once("before", {1, 2})("point_id")), targets,
        res_list=[12, 7, 2], n_neighbors=n, dim_strategy=strategy,
    ).filter(fail_once("after", {0})("point_id"))
    got = sorted((r.point_id, r.knn_rank, r.street_key, round(r.dist_m, 6))
                 for r in got.collect())
    w = W.partitionBy("point_id").orderBy("dist_m", "street_key")
    want = (pts.crossJoin(targets)
            .withColumn("dist_m", distance_m_col(F.col("lon"), F.col("lat"),
                                                 F.col("slon"), F.col("slat")))
            .withColumn("knn_rank", F.row_number().over(w))
            .filter(F.col("knn_rank") <= n))
    want = sorted((r.point_id, r.knn_rank, r.street_key, round(r.dist_m, 6))
                  for r in want.collect())
    out[f"{n}-{strategy}"] = {"same": got == want, "n": len(got)}
print(json.dumps(out))
spark.stop()
"""


def test_ladder_task_retries_keep_exact_answers(tmp_path):
    """Fault injection on a ``local[2,2]`` master (one retry per task): the
    first attempt of chosen partitions fails once before the ladder's point
    shuffle and once in the stage that runs the round chain. The retried
    tasks must reproduce the brute-force cross-join answer exactly, for
    n_neighbors 1 and 2 and for the salted shuffle strategy."""
    import os

    from spark_subprocess import run_script

    res = run_script(_FAULT_SCRIPT, str(tmp_path))
    assert res == {k: {"same": True, "n": 400 * int(k[0])}
                   for k in ("1-broadcast", "2-broadcast", "1-shuffle")}, res
    stages = {}
    for m in os.listdir(tmp_path):
        where, stage, _ = m.split("-")
        stages.setdefault(where, set()).add(stage)
    # both injections really fired, and in different stages
    assert set(stages) == {"before", "after"}
    assert not stages["before"] & stages["after"]

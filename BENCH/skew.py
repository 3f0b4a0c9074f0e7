"""Hot-cell skew evidence: shuffle cell-join on the skewed synthetic points
(30% of rows in one ~2 km urban box) under three physical strategies.

The flagship path broadcasts the polygon-cover dim, so the fact side never
shuffles and skew is irrelevant. This benchmark forces the OTHER regime —
dim too large to broadcast → shuffle equi-join on the cell id — which is
where one hot urban cell lands on one reducer (the reference's 60 s
slow-municipality warning, MunicipalityJobs.java:314-318, is this exact
pathology). Strategies:

  plain      shuffle join, AQE skew handling OFF
  aqe        shuffle join, spark.sql.adaptive.skewJoin ON
  salted     explicit cell-salt repartitioning (operators.pip_join.
             salted_cell_join): fact rows pick a salt, dim rows replicate
             per salt, hot cell spreads over n_salt reducers

All three must return the identical row count (asserted). Run:
  python BENCH/skew.py            # prints one JSON line, appends to
                                  # BENCH/BASELINE.md
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REP = int(os.environ.get("SPARK_GRAFT_SKEW_REP", "128"))
RES = 11  # hot 0.02° box fits one ~0.18°×0.09° cell → ~30% of rows share it
N_SALT = 8


def build_inputs(spark):
    from pyspark.sql import functions as F

    from housenumbercore_spark.geo import cells as C
    from housenumbercore_spark.sources import synthetic as S

    pts = S.points_df(spark, SF_DIR)
    rep = spark.range(REP).select(F.col("id").alias("r"))
    big = (
        pts.crossJoin(F.broadcast(rep))
        .select(
            (F.col("point_id") * REP + F.col("r")).alias("point_id"),
            "lon",
            "lat",
        )
        .withColumn("__cell", C.cell_col("lon", "lat", RES))
    )
    # dim: every area replicated to each cell it covers at RES (rectangle
    # arithmetic — the join-shape stand-in for a huge polygon-cover dim)
    areas = S.areas_df(spark, SF_DIR, with_wkb=False)
    cell = C.cell_col("lon", "lat", RES)
    n = 1 << RES
    cw, ch = 360.0 / n, 180.0 / n
    xs = F.sequence(
        F.floor((F.col("xmin") + 180.0) / cw).cast("long"),
        F.floor((F.col("xmax") + 180.0) / cw).cast("long"),
    )
    ys = F.sequence(
        F.floor((F.col("ymin") + 90.0) / ch).cast("long"),
        F.floor((F.col("ymax") + 90.0) / ch).cast("long"),
    )
    dim = (
        areas.select("area_id", F.explode(xs).alias("ix"), ys.alias("__ys"))
        .select("area_id", "ix", F.explode("__ys").alias("iy"))
        .select(
            "area_id",
            (
                F.lit(RES).cast("long") * F.lit(1 << 58)
                + F.col("ix") * F.lit(1 << 29)
                + F.col("iy")
            ).alias("cell"),
        )
    )
    return big, dim


def run_strategy(name: str) -> dict:
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    from pyspark.sql import functions as F

    from housenumbercore_spark.operators.pip_join import salted_cell_join
    from housenumbercore_spark.session import get_spark

    conf = {
        # force the shuffle-join regime
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": str(name == "aqe").lower(),
        # keep AQE itself on (production shape); only skewJoin toggles.
        # Thresholds scaled to this dataset so AQE actually detects the hot
        # partition (defaults target multi-GB partitions).
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8m",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4m",
    }
    spark = get_spark(app_name=f"skew-{name}", extra_conf=conf)
    for k, v in conf.items():
        spark.conf.set(k, v)
    big, dim = build_inputs(spark)
    if name == "salted":
        joined = salted_cell_join(big, dim, n_salt=N_SALT)
    else:
        joined = big.join(dim, big["__cell"] == dim["cell"]).drop("cell")
    joined.count()  # warm-up (footers, codegen)
    t0 = time.perf_counter()
    n = joined.count()
    dt = time.perf_counter() - t0
    spark.stop()
    return {"strategy": name, "rows": n, "seconds": round(dt, 3)}


def main() -> None:
    import subprocess

    results = []
    for name in ("plain", "aqe", "salted"):
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--one", name],
            capture_output=True, text=True, cwd=REPO_ROOT, check=True,
        )
        results.append(json.loads(out.stdout.strip().splitlines()[-1]))
    counts = {r["rows"] for r in results}
    assert len(counts) == 1, f"strategies disagree on rows: {results}"
    summary = {
        "metric": "hot-cell-skew-join",
        "sf_dir": SF_DIR,
        "rows": results[0]["rows"],
        "res": RES,
        "n_salt": N_SALT,
        "seconds": {r["strategy"]: r["seconds"] for r in results},
    }
    print(json.dumps(summary))

    md = (
        "\n## Hot-cell skew join (shuffle regime, sf0.1×%d = %s rows)\n\n"
        "30%% of fact rows share one res-%d cell. Broadcast joins make skew "
        "irrelevant on the flagship path; this forces the shuffle-join "
        "regime a too-big dim requires (autoBroadcastJoinThreshold=-1) and "
        "compares mitigation strategies (identical output row counts):\n\n"
        "| strategy | wall s |\n|---|---|\n" % (REP, f"{summary['rows']:,}", RES)
    )
    for r in results:
        label = {
            "plain": "plain shuffle join (skewJoin off)",
            "aqe": "AQE skew-join splitting",
            "salted": f"explicit cell salting (n_salt={N_SALT})",
        }[r["strategy"]]
        md += f"| {label} | {r['seconds']} |\n"
    baseline = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "BASELINE.md")
    with open(baseline, "a") as f:
        f.write(md)


if __name__ == "__main__":
    if len(sys.argv) > 2 and sys.argv[1] == "--one":
        print(json.dumps(run_strategy(sys.argv[2])))
    else:
        main()

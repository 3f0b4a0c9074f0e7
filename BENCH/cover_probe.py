"""Where the point-in-polygon join spends its time: the cover's shape and
the exact refine's share of the join.

``--inputs`` picks the points and areas: the perfbench ``assign`` inputs
of ``--seed`` (400k points, 30 jagged admin rings; the default), the
perfbench ``ingest`` image rows of ``--seed`` (8k, same rings), or the
``flagship`` inputs of bench.py at ``--sf`` (synthetic points against 30
rectangles, without bench.py's 64× replication). Stages them under a
temporary directory, builds the two-level cover once and pins it, then
prints one JSON line with

- ``cover_rows``: cover rows per cell resolution, split into full
  (interior, no edges) and boundary rows;
- ``edges_per_candidate``: histogram {edges carried: candidates} of the
  (point, cover row) candidates the cell join produces, with
  ``boundary_share`` (the share of candidates that carry edges) and
  ``edges_per_boundary_candidate``;
- ``join_s`` / ``join_norefine_s``: median wall time of ``--calls`` warm
  ``assign_points_to_areas`` calls with ``exact=True`` and
  ``exact=False`` on the pinned cover, interleaved (noop sink, cached
  points), so their difference is the refine's cost.

Run from the repository root (same session shape as perfbench/run.py,
``local[min(3, nproc-1)]`` with a 1 GB heap):

    python BENCH/cover_probe.py --seed 1
    python BENCH/cover_probe.py --inputs flagship --sf <data dir>/sf0.1
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time
from unittest import mock

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from housenumbercore_spark.geo import cells as C  # noqa: E402
from housenumbercore_spark.operators import pip_join as PJ  # noqa: E402
from housenumbercore_spark.sources import synthetic as S  # noqa: E402
from perfbench import inputs as I  # noqa: E402
from perfbench.run import start_session, stop_session  # noqa: E402


def timed_sink(df) -> float:
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def load_inputs(spark, which: str, seed: int, sf: str, run_dir: str):
    """(points, areas) frames of one probe input set."""
    if which == "flagship":
        return S.points_df(spark, sf), S.areas_df(spark, sf)
    root = os.path.join(run_dir, "inputs")
    if which == "assign":
        st = I.stage_assign(seed, root)
        pts = spark.read.parquet(st.paths["points"])
    else:
        st = I.stage_ingest(seed, root)
        pts = spark.read.parquet(st.paths["images"]).select("image_id", "lon", "lat")
    return pts, spark.read.parquet(st.paths["areas"])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--inputs", choices=("assign", "ingest", "flagship"),
                    default="assign")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    help="data directory of the flagship inputs "
                         "(default: $SPARK_GRAFT_SF_DIR)")
    ap.add_argument("--calls", type=int, default=6)
    args = ap.parse_args(argv)
    if args.inputs == "flagship" and not args.sf:
        ap.error("--inputs flagship needs --sf or $SPARK_GRAFT_SF_DIR")

    with tempfile.TemporaryDirectory(prefix="cover_probe-") as run_dir:
        spark, _ = start_session(run_dir)
        try:
            pts, areas = load_inputs(spark, args.inputs, args.seed, args.sf, run_dir)
            pts = pts.cache()
            pts.count()
            res = PJ.pick_join_res(areas)
            cover = PJ.cover_cells(areas, res).cache()

            rows = cover.select("cell", "__pj_full").toPandas()
            kind = rows["__pj_full"].map({True: "full", False: "boundary"})
            level = pd.Series(C.cell_res(rows.cell.values), dtype=str)
            counts = (level + "/" + kind).value_counts()
            cover_rows = {k: int(v) for k, v in sorted(counts.items())}
            probe = pts.withColumn("__cell", PJ.probe_cells_col("lon", "lat", res))
            dim = F.broadcast(cover.withColumnRenamed("cell", "__cell"))
            hist = (
                probe.join(dim, "__cell")
                .groupBy(F.size("__pj_edges").alias("edges")).count().collect()
            )
            hist = {r.edges: r["count"] for r in sorted(hist)}
            n_cand = sum(hist.values())
            n_bnd = n_cand - hist.get(0, 0)

            # every call below joins against the pinned cover
            with mock.patch.object(PJ, "cover_cells", return_value=cover):
                def call(exact: bool) -> float:
                    return timed_sink(PJ.assign_points_to_areas(
                        spark, pts, areas, res=res, exact=exact))

                call(True), call(False)  # warm-up
                t_on, t_off = [], []
                for _ in range(args.calls):
                    t_on.append(call(True))
                    t_off.append(call(False))
        finally:
            stop_session(spark)

    print(json.dumps({
        "inputs": args.inputs,
        "seed": None if args.inputs == "flagship" else args.seed,
        "res": res,
        "fine_res": res + PJ.COVER_EXTRA_DEPTH,
        "cover_rows": cover_rows,
        "candidates": n_cand,
        "edges_per_candidate": hist,
        "mean_edges_per_candidate": round(
            sum(k * v for k, v in hist.items()) / max(n_cand, 1), 3),
        "boundary_share": round(n_bnd / max(n_cand, 1), 4),
        "edges_per_boundary_candidate": round(
            sum(k * v for k, v in hist.items()) / max(n_bnd, 1), 3),
        "join_s": round(statistics.median(t_on), 3),
        "join_norefine_s": round(statistics.median(t_off), 3),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Image-table flagship: the north-rule metric measured literally.

BASELINE.json's metric is spatial-join + tile-assignment throughput *over
the image+caption table*, with every image row preserving the decoded-pixel
/ caption invariant. BENCH/scaling.py measures the join kernel on the
narrow point table; THIS bench runs the full north-star pipeline shape on
rows that carry the real binary payload:

  images (bytes, caption, phash, lon, lat)
    → replicate ×REP (fresh image_id, jittered lon — byte payloads reused)
    → GATE-EARLY (images/assign.assign_gated_images_to_areas): every
      replicated payload row digest-verified against the source INSIDE
      the JVM (codegen checksums vs the ~40 B/row broadcast of
      images/udfs.check_invariants_split; decode fallback only for
      mismatches); the binary column dies at the gate
    → cell-cover broadcast join + pure-JVM exact refine on the NARROW
      (image_id, lon, lat) projection
    → tile assignment (codegen)
    → noop sink

Design history: rounds 3-4 ran the payload THROUGH the join and gated the
joined output (each byte payload compared once per covering admin level).
That shape is memory-bandwidth-bound on one bus and plateaued at 0.78-0.785
on the 2→8 pair; gate-early/project-narrow is the shape that survives
scale-up and is now the production operator (images/assign.py).

Run at two parallelism levels in fresh subprocesses (north-rule N vs 4N
proxy), best-of-≤5 within a 30 s budget each:
  python BENCH/image_flagship.py          # appends BENCH/BASELINE.md
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
N_IMAGES = int(os.environ.get("SPARK_GRAFT_IMGFLAG_N", "20000"))
REP = int(os.environ.get("SPARK_GRAFT_IMGFLAG_REP", "256"))
LEVELS = tuple(
    int(x) for x in os.environ.get("SPARK_GRAFT_IMGFLAG_LEVELS", "2,8,32").split(",")
)
TILE_RES = 13
PARTITIONS = 64  # FIXED across levels (same protocol as BENCH/scaling.py):
# both runs consume the identical partitioned plan, only the number of
# executor slots differs — the comparison a real N-vs-4N cluster makes.


def run_level(cpus: int) -> dict:
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    from pyspark.sql import functions as F

    from housenumbercore_spark.images.assign import assign_gated_images_to_areas
    from housenumbercore_spark.operators import pip_join as PJ
    from housenumbercore_spark.session import get_spark
    from housenumbercore_spark.sources import images as IMG
    from housenumbercore_spark.sources import synthetic as S

    spark = get_spark(
        app_name=f"imgflag-{cpus}", cores=cpus, shuffle_partitions=PARTITIONS
    )
    # stage the source as a PARTITIONS-file parquet once (keyed cache,
    # shared across levels/rounds): a production Iceberg table is already
    # partitioned on disk — repartition() inside the timed lineage would
    # re-shuffle the payload on every batch, which no steady-state
    # deployment does, and 8 source files would cap local[32] at 8 busy
    # threads
    # cache key includes the generator version so an edit to the image
    # generator invalidates the staged copy instead of silently
    # benchmarking stale data; the uuid tmp dir keeps concurrent
    # invocations from interleaving part files (atomic-rename publish,
    # same pattern as images_table itself)
    staged = (
        f"/tmp/imgflag_src_{N_IMAGES}_{PARTITIONS}"
        f"_v{IMG.IMAGES_TABLE_VERSION}.parquet"
    )
    if not os.path.isdir(staged):
        import shutil
        import uuid

        tmp = f"{staged}.tmp-{uuid.uuid4().hex}"
        IMG.images_table(spark, N_IMAGES).repartition(PARTITIONS).write.mode(
            "overwrite"
        ).parquet(tmp)
        try:
            os.rename(tmp, staged)
        except OSError:
            if not os.path.isdir(staged):  # lost a race; winner's is valid
                raise
            shutil.rmtree(tmp, ignore_errors=True)
    imgs = spark.read.parquet(staged)
    rep = spark.range(REP).select(F.col("id").alias("r"))
    fact_id = F.concat("image_id", F.lit("#"), F.col("r").cast("string"))
    big = imgs.crossJoin(F.broadcast(rep)).select(
        fact_id.alias("image_id"),
        F.col("image_id").alias("src_image_id"),
        "bytes", "caption",
        (F.col("lon") + (F.col("r") - REP / 2) * 1e-7).alias("lon"),
        "lat",
    )
    areas = S.areas_df(spark, SF_DIR)
    # gate-early: every replicated payload verified against the broadcast
    # 20k-image source (byte-equal inside the JVM, zero shuffle of fact
    # bytes), then the spatial join + tile map run on the narrow projection.
    # (Design history, both measured here: a fact-to-fact payload self-join
    # was disk-bound with NEGATIVE thread scaling; gating AFTER the join
    # compared each payload once per covering admin level and capped 2→8
    # scaling at ~0.78 on the shared memory bus.)
    assigned, quarantine = assign_gated_images_to_areas(
        spark, big, areas, src_df=imgs, src_id_col="src_image_id",
        tile_res=TILE_RES,
    )
    n_quar = quarantine.count()
    assert n_quar == 0, f"{n_quar} rows failed the invariant gate"
    n_rows = assigned.count()  # warm-up + output row count
    # the gate must not drop/duplicate assignments: same count as the
    # ungated narrow join (checked once per child, outside the timed loop)
    n_direct = PJ.assign_points_to_areas(
        spark, big.select("image_id", "lon", "lat"), areas
    ).count()
    assert n_rows == n_direct, (n_rows, n_direct)
    best = float("inf")
    spent, iters = 0.0, 0
    while iters < 5 and (iters < 2 or spent < 30.0):
        t0 = time.perf_counter()
        assigned.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        best = min(best, dt)
        spent += dt
        iters += 1
    spark.stop()
    return {
        "cpus": cpus,
        "rows": n_rows,
        "images": N_IMAGES * REP,
        "seconds": round(best, 3),
        "rows_per_sec": round(n_rows / best, 1),
    }


def main() -> None:
    import subprocess

    # three interleaved rounds per level, keep each level's best — the host's
    # noisy neighbors stall single draws by 10-20x (same methodology as
    # BENCH/scaling.py)
    best: dict[int, dict] = {}
    for _round in range(3):
        for cpus in LEVELS:
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--child", str(cpus)],
                capture_output=True, text=True, cwd=REPO_ROOT, check=True,
            )
            r = json.loads(out.stdout.strip().splitlines()[-1])
            if cpus not in best or r["seconds"] < best[cpus]["seconds"]:
                best[cpus] = r
    results = [best[c] for c in LEVELS]
    pairs = {}
    for lo, hi in zip(results, results[1:]):
        factor = hi["cpus"] / lo["cpus"]
        pairs[f"{lo['cpus']}->{hi['cpus']}"] = round(
            hi["rows_per_sec"] / (factor * lo["rows_per_sec"]), 3
        )
    summary = {
        "metric": "image-table-flagship",
        "levels": results,
        "efficiency_pairs": pairs,
    }
    print(json.dumps(summary))
    md = (
        "\n## Image-table flagship (north-rule metric shape: %s image rows "
        "with real byte payloads)\n\n"
        "Gate-early pipeline (images/assign.assign_gated_images_to_areas): "
        "every replicated payload row digest-verified against the ~40 B/row "
        "broadcast source inside the JVM (codegen checksum compare; decode "
        "fallback only for mismatches), then the spatial join + tile "
        "assignment run "
        "on the narrow (image_id, lon, lat) projection (quarantine asserted "
        "empty in-run; assignment count asserted equal to the ungated "
        "join). Best-of-≤5 within a 30 s budget, fresh JVM per level, "
        "fixed 64-partition staged source:\n\n"
        "| parallelism | wall s | rows/sec |\n|---|---|---|\n"
        % f"{results[0]['images']:,}"
    )
    for r in results:
        md += f"| local[{r['cpus']}] | {r['seconds']} | {r['rows_per_sec']:,} |\n"
    md += (
        f"\nEfficiency pairs: **{pairs}**. The payload is scanned and "
        "checksum-compared exactly once per fact row at the gate; it no longer "
        "rides through the join (the rounds-3/4 payload-through-join shape "
        "plateaued at 0.78-0.785 on 2→8 against the shared memory bus — "
        "see the design-history note in BENCH/image_flagship.py). Same "
        "hardware-ceiling caveat as the scaling section: this VM's raw-CPU "
        "efficiency caps near 0.92 on 2→8 and 0.71 on 8→32.\n"
    )
    baseline = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "BASELINE.md")
    with open(baseline, "a") as f:
        f.write(md)


if __name__ == "__main__":
    if len(sys.argv) > 2 and sys.argv[1] == "--child":
        print(json.dumps(run_level(int(sys.argv[2]))))
    else:
        main()

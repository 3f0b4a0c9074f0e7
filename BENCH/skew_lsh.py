"""Hot-LSH-bucket skew evidence: the dedup analogue of BENCH/skew.py.

A 100 TB corpus contains near-dup MEGA-CLUSTERS (boilerplate pages, mirror
dumps): every member of a cluster shares every LSH band bucket, so the
candidate self-join concentrates that cluster's f² pair expansion on one
(band, bucket) reducer key. This bench builds a synthetic band table with
exactly that shape — N mostly-unique docs plus one clone cluster — and
times the candidate join (operators/banded.py, via
text.dedup.lsh_candidate_pairs) under:

  plain    shuffle self-join, AQE skewJoin OFF
  aqe      AQE skew-join splitting ON

Both strategies must agree on the output pair count (asserted).

MEASURED FINDING (best-of-3, 2M docs, one 4000-doc clone cluster, see
BASELINE.md): AQE wins here — plain 21.7 s, AQE 11.6 s, and a third
arm, hot-only block salting (n_salt=8: a bucket-size count job found the
hot keys, whose rows then took a block-salted self-join), 35.1 s;
whole-table salting measured 2.6x worse than plain. The sort-merge skew
split chunks the hot key's stream side and replays the build side per
chunk, so the single hot bucket parallelizes with no plan change, while
explicit salting pays replication for nothing. That arm was removed with
the salted operator once this result made AQE the only policy. The
opposite of the hot-cell broadcast-regime result in BENCH/skew.py — which
is why the engine keeps AQE on everywhere and reserves explicit salting
for the pip cell join. Run:
  python BENCH/skew_lsh.py        # one JSON line + appends BASELINE.md
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

N_DOCS = int(os.environ.get("SPARK_GRAFT_LSH_N", "2000000"))
HOT_EVERY = 500         # 1/500 of docs form one clone cluster (~4000 docs)
N_BANDS = 8


def build_bands(spark):
    """Synthetic (doc_id, band, bucket): clone-cluster docs share bucket 0
    in every band; the rest hash to a wide bucket space (sparse buckets)."""
    from pyspark.sql import functions as F

    docs = spark.range(N_DOCS).select(F.col("id").alias("doc_id"))
    bands = docs.withColumn(
        "band", F.explode(F.sequence(F.lit(0), F.lit(N_BANDS - 1)))
    )
    hot = F.col("doc_id") % HOT_EVERY == 0
    bucket = F.when(hot, F.lit(0)).otherwise(
        F.pmod(F.hash("doc_id", "band"), F.lit(1 << 40)) + 1
    )
    return bands.withColumn("bucket", bucket.cast("long"))


def run_strategy(name: str) -> dict:
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    from housenumbercore_spark.session import get_spark
    from housenumbercore_spark.text.dedup import lsh_candidate_pairs

    conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": str(name == "aqe").lower(),
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8m",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4m",
    }
    spark = get_spark(app_name=f"skew-lsh-{name}", extra_conf=conf)
    for k, v in conf.items():
        spark.conf.set(k, v)
    pairs = lsh_candidate_pairs(build_bands(spark))
    pairs.count()  # warm-up (codegen, shuffle files)
    # best-of-3: host noisy neighbors stall identical runs; contention only
    # ever slows a run down (same methodology as BENCH/scaling.py)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        n = pairs.count()
        best = min(best, time.perf_counter() - t0)
    spark.stop()
    return {"strategy": name, "rows": n, "seconds": round(best, 3)}


def main() -> None:
    import subprocess

    results = []
    for name in ("plain", "aqe"):
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--one", name],
            capture_output=True, text=True, cwd=REPO_ROOT, check=True,
        )
        results.append(json.loads(out.stdout.strip().splitlines()[-1]))
    counts = {r["rows"] for r in results}
    assert len(counts) == 1, f"strategies disagree on pairs: {results}"
    summary = {
        "metric": "hot-lsh-bucket-skew",
        "n_docs": N_DOCS,
        "clone_cluster": N_DOCS // HOT_EVERY,
        "pairs": results[0]["rows"],
        "seconds": {r["strategy"]: r["seconds"] for r in results},
    }
    print(json.dumps(summary))

    md = (
        "\n## Hot-LSH-bucket skew (dedup candidate self-join, %s docs, "
        "one %s-doc clone cluster)\n\n"
        "Every clone shares every band bucket, so one (band, bucket) key "
        "carries the cluster's f² pair expansion. Identical output "
        "pair counts across strategies (asserted):\n\n"
        "| strategy | wall s |\n|---|---|\n"
        % (f"{N_DOCS:,}", f"{N_DOCS // HOT_EVERY:,}")
    )
    for r in results:
        label = {
            "plain": "plain shuffle self-join (skewJoin off)",
            "aqe": "AQE skew-join splitting",
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

"""Snapshot-manifest growth: commit latency and ``_meta/`` bytes as
single-row appends accumulate on one snapshot table.

Every version re-serializes all of its parent's entries, so n commits
write O(n²) manifest bytes; this measures how fast that bites. Run from
the repository root:

    python BENCH/manifest_growth.py --commits 1000 --marks 100,1000

Prints one JSON line per mark: commits so far, the median wall time of
the last 20 ``snapshot_write`` calls, total ``_meta/`` bytes and the
newest manifest's bytes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from housenumbercore_spark.session import get_spark  # noqa: E402
from housenumbercore_spark.sources import snapshots as SN  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--commits", type=int, default=1000)
    ap.add_argument("--marks", default="100,1000")
    ap.add_argument("--cores", type=int, default=2)
    args = ap.parse_args()
    marks = {int(m) for m in args.marks.split(",")}
    spark = get_spark(cores=args.cores, shuffle_partitions=2)
    root = tempfile.mkdtemp(prefix="hns_manifest_growth_")
    table, lat = f"{root}/t", []
    try:
        for i in range(1, args.commits + 1):
            df = spark.createDataFrame([(i, f"row-{i}")], "id long, v string")
            t0 = time.perf_counter()
            SN.snapshot_write(df, table, mode="append")
            lat.append(time.perf_counter() - t0)
            if i in marks:
                meta = f"{table}/{SN.META}"
                print(json.dumps({
                    "commits": i,
                    "commit_s_median_last20": statistics.median(lat[-20:]),
                    "meta_bytes": sum(
                        os.path.getsize(f"{meta}/{f}") for f in os.listdir(meta)
                    ),
                    "newest_manifest_bytes": os.path.getsize(f"{meta}/v{i}.json"),
                }), flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()

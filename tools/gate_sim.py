"""Driver correctness-gate simulator.

Replicates what the round driver does with ``__spark_entry__``: take the
FIRST ``--window`` entries of ``queries()`` (the driver executes only the
first 50 — observed in CORRECTNESS_r02/r03), run each against the given
``--sf`` directory, run the matching ``oracle_sql()`` through DuckDB over
the same parquet tables, and compare rows / schema / values with columns
sorted by name (the driver's hash compare is column-order-insensitive but
column-NAME sensitive).

Usage:
    python tools/gate_sim.py --sf /root/testdata/sf0.01 [--window 50]
                             [--only name1,name2] [--from-entry 50]
Prints one status line per query and a final summary; exit 1 on any
mismatch.
"""

from __future__ import annotations

import argparse
import atexit
import json
import os
import shutil
import sys
import tempfile
import time

import duckdb
import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(list(df.columns))
    return df.reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    if list(got.columns) != list(want.columns):
        return f"schema {list(got.columns)} vs {list(want.columns)}"
    for c in got.columns:
        a, b = got[c], want[c]
        try:
            if a.dtype.kind == "f" or b.dtype.kind == "f":
                ok = (a.isna() & b.isna()) | (
                    a.astype(float) == b.astype(float)
                )
            else:
                ok = (a.isna() & b.isna()) | (
                    a.astype(object) == b.astype(object)
                )
        except (TypeError, ValueError) as exc:  # unorderable mixes
            return f"col {c}: compare error {exc}"
        if not ok.all():
            i = (~ok).idxmax()
            return f"col {c} row {i}: {a[i]!r} vs {b[i]!r}"
    return None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--window", type=int, default=50)
    ap.add_argument("--from-entry", type=int, default=0)
    ap.add_argument("--only", default="")
    args = ap.parse_args()

    # the checkout this script lives in, so the driver imports the same
    # package as the Spark workers started from it
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as E
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "48g")
        .config("spark.sql.adaptive.enabled", "true")
        .appName("gate_sim")
        .getOrCreate()
    )
    # the 'reliable' pin strategy (pinning.py) refuses to run without a
    # durable checkpoint dir; give the simulator session a throwaway one so
    # cross-strategy sweeps (HNC_PIN_STRATEGY=reliable python tools/
    # gate_sim.py ...) exercise the real durable-checkpoint path
    if os.environ.get("HNC_PIN_STRATEGY") == "reliable":
        ckpt = tempfile.mkdtemp(prefix="gate_sim_ckpt_")
        atexit.register(shutil.rmtree, ckpt, ignore_errors=True)
        spark.sparkContext.setCheckpointDir(ckpt)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{args.sf}/{t}.parquet')"
        )

    qs = E.queries()
    oracles = E.oracle_sql()
    names = list(qs)[args.from_entry : args.from_entry + args.window]
    if args.only:
        names = [n for n in args.only.split(",") if n in qs]

    failures: dict[str, str] = {}
    for name in names:
        t0 = time.time()
        try:
            got = _normalize(qs[name](spark, args.sf).toPandas())
            if name not in oracles:
                print(f"  {name}: NO ORACLE ({len(got)} rows) "
                      f"[{time.time() - t0:.1f}s]")
                continue
            want = _normalize(con.execute(oracles[name]).df())
            err = compare(got, want)
        except Exception as exc:  # noqa: BLE001 — report and continue
            err = f"EXCEPTION {type(exc).__name__}: {exc}"
        dt = time.time() - t0
        if err:
            failures[name] = err
            print(f"  {name}: FAIL {err} [{dt:.1f}s]")
        else:
            print(f"  {name}: ok ({len(got)} rows) [{dt:.1f}s]")

    print(json.dumps({"checked": len(names), "failed": len(failures),
                      "failures": failures}))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Self-tests of the benchmark harness (not of the engine).

    python3 -m pytest perfbench -q -p no:cacheprovider

The corruption tests start one local Spark session and run one clean and
one corrupted pass per workload (about a minute on a 4-core host).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest

from perfbench import expect as E
from perfbench import inputs as I
from perfbench import layers as L

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def work_dir():
    """Scratch space inside the checkout (ignored by git), like a run's."""
    d = os.path.join(ROOT, ".perfbench_run", f"selftest-{os.getpid()}")
    os.makedirs(os.path.join(d, "tmp"), exist_ok=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.mark.parametrize("workload", sorted(I.STAGERS))
def test_seed_determines_staged_inputs(workload, work_dir):
    root = os.path.join(work_dir, "digests", workload)
    a = I.STAGERS[workload](7, os.path.join(root, "a")).digests
    b = I.STAGERS[workload](7, os.path.join(root, "b")).digests
    c = I.STAGERS[workload](8, os.path.join(root, "c")).digests
    assert a == b
    seeded = [k for k in a if k != "job_flags"]  # job flags: job_id parity only
    assert seeded and all(a[k] != c[k] for k in seeded)


def test_benchmark_json_lists_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == L.names()
    assert [m["name"] for m in bench["end_to_end"]] == [
        "rows_per_s", "setup_s", "first_pass_s", "write_amp"]
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(I.STAGERS)


def test_two_levels_fast_path_matches_parity():
    import numpy as np

    rng = np.random.default_rng(5)
    areas = I.make_areas(rng)
    lon, lat = I.make_points(rng, 5000)
    fast = E.two_levels(areas, lon, lat)
    slow = np.column_stack([E.covering_areas(areas, lon, lat, 8),
                            E.covering_areas(areas, lon, lat, 6)])
    assert (fast == slow).all()


@pytest.fixture(scope="module")
def spark(work_dir):
    from perfbench import run as R

    tmp = os.path.join(work_dir, "tmp")
    env = {"TMPDIR": tmp, "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
           "PYTHONPATH": os.pathsep.join(
               p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)}
    saved = {k: os.environ.get(k) for k in env} | {"tempdir": tempfile.tempdir}
    os.environ.update(env)
    tempfile.tempdir = tmp
    s, _ = R.start_session(work_dir)
    try:
        yield s, work_dir
    finally:
        R.stop_session(s)
        tempfile.tempdir = saved.pop("tempdir")
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


def _bump(col: str, when):
    from pyspark.sql import functions as F

    return lambda df: df.withColumn(
        col, F.when(when, F.col(col) + 1).otherwise(F.col(col)))


def _corruption(workload: str, st):
    """One corrupted output row, outside the check samples."""
    from pyspark.sql import functions as F

    r = st.data.get("sample_r", 0)
    pid = next(i for i in range(I.SAMPLE_MOD) if i != r)
    if workload == "assign":
        return _bump("area_id", (F.col("point_id") == pid) & (F.col("area_id") >= 100))
    if workload == "evaluate":
        return _bump("street_key", F.col("point_id") == pid)
    tampered = set(st.data["tamper"])
    iid = next(f"img{i:08d}" for i in range(I.INGEST_ROWS)
               if f"img{i:08d}" not in tampered)
    return _bump("area_id", (F.col("image_id") == iid) & (F.col("area_id") >= 100))


@pytest.mark.parametrize("workload", sorted(I.STAGERS))
def test_check_flags_a_corrupted_output_row(workload, spark):
    from perfbench import trace as TR
    from perfbench import workloads as W

    session, run_dir = spark
    st, exp = E.stage_and_expect(workload, 3, os.path.join(run_dir, workload))
    wl = W.WORKLOADS[workload](session, st, exp, os.path.join(run_dir, workload))
    off = TR.Tracer(session, False)
    assert wl.check(wl.run_pass(off)) == []
    wl.corrupt = _corruption(workload, st)
    assert wl.check(wl.run_pass(off)) != []

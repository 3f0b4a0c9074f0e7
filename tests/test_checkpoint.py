"""Checkpoint/lineage + resume protocol (SURVEY.md §7 step 8, north rule)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from housenumbercore_spark import checkpoint as CP
from housenumbercore_spark.sources import snapshots as SN
from spark_subprocess import run_script

SF = "/root/testdata/sf0.001"
FP = "snap-001"


def _builder(spark, key):
    from housenumbercore_spark.operators import pip_join as PJ
    from housenumbercore_spark.sources import synthetic as S

    pts = S.points_df(spark, SF).filter(F.col("point_id") % 4 == int(key))
    areas = S.areas_df(spark, SF)
    return PJ.assign_points_to_areas(spark, pts, areas).select(
        "point_id", "area_id"
    )


KEYS = [0, 1, 2, 3]


def _entries(spark, out):
    return SN.load_snapshot(spark, out, SN.current_version(spark, out))["entries"]


def test_crash_resume_no_recompute_and_identical_output(
    spark, tmp_path, monkeypatch
):
    """The crash lands where it really happens: key 2's data write
    completes, then its manifest create dies. Keys 0 and 1 stay committed
    byte for byte, the orphaned data dir stays invisible, resume computes
    only 2 and 3, and vacuum reclaims the orphan."""
    out = str(tmp_path / "ckpt")
    real = SN._write_text_new

    def crash_on_key_2(spark_, path, text):
        if json.loads(text)["entries"][-1]["partitions"] == [[2]]:
            raise RuntimeError("driver died before committing partition 2")
        real(spark_, path, text)

    # first attempt crashes on partition 2 (sequential → 0,1 committed)
    monkeypatch.setattr(SN, "_write_text_new", crash_on_key_2)
    with pytest.raises(RuntimeError, match="partition 2"):
        CP.checkpointed_run(spark, _builder, KEYS, out, FP, max_concurrency=1)
    monkeypatch.setattr(SN, "_write_text_new", real)
    before = {e["partitions"][0][0]: json.dumps(e) for e in _entries(spark, out)}
    assert sorted(before) == [0, 1]
    (orphan,) = {f"data/{d}" for d in os.listdir(f"{out}/data")} - {
        e["dir"] for e in _entries(spark, out)
    }
    assert {
        r.part for r in CP.read_checkpointed(spark, out).select("part").collect()
    } == {0, 1}  # the orphan's rows are invisible

    # resume: completed partitions skipped, the rest computed
    summary = CP.checkpointed_run(spark, _builder, KEYS, out, FP, max_concurrency=1)
    assert summary["skipped"] == ["0", "1"]
    assert summary["computed"] == ["2", "3"]
    after = {e["partitions"][0][0]: json.dumps(e) for e in _entries(spark, out)}
    for k in (0, 1):
        assert after[k] == before[k], "completed partition was recomputed"
    assert orphan not in {e["dir"] for e in _entries(spark, out)}

    # resumed output == single-shot full run
    full = (
        spark.createDataFrame(
            sum((_builder(spark, k).collect() for k in KEYS), []),
            "point_id long, area_id int",
        )
        .toPandas()
        .sort_values(["point_id", "area_id"])
        .reset_index(drop=True)
    )
    got_df = CP.read_checkpointed(spark, out)
    assert dict(got_df.dtypes)["part"] == "int"  # the key keeps its type
    got_pdf = got_df.toPandas()
    assert (got_pdf["part"] == got_pdf["point_id"] % 4).all()
    got = (
        got_pdf[["point_id", "area_id"]]
        .sort_values(["point_id", "area_id"])
        .reset_index(drop=True)
    )
    assert got.equals(full)

    # lineage audit: every manifest digest matches the data on disk
    audit = CP.verify_checkpoints(spark, out).toPandas()
    assert len(audit) == 4 and audit.ok.all()
    # no writer is active: the orphaned data dir is reclaimable, and only it
    assert SN.vacuum(spark, out, orphan_grace_s=0) == [orphan]


def test_read_checkpointed_empty_raises(spark, tmp_path):
    out = str(tmp_path / "ckpt_empty")
    os.makedirs(out)
    with pytest.raises(FileNotFoundError, match="no committed partitions"):
        CP.read_checkpointed(spark, out)


def test_fingerprint_change_forces_recompute(spark, tmp_path):
    out = str(tmp_path / "ckpt2")
    s1 = CP.checkpointed_run(spark, _builder, [0, 1], out, "snapA", max_concurrency=2)
    assert s1["computed"] == ["0", "1"]
    s2 = CP.checkpointed_run(spark, _builder, [0, 1], out, "snapA", max_concurrency=2)
    assert s2["skipped"] == ["0", "1"] and s2["computed"] == []
    s3 = CP.checkpointed_run(spark, _builder, [0, 1], out, "snapB", max_concurrency=2)
    assert s3["computed"] == ["0", "1"] and s3["skipped"] == []
    # a recompute that leaves a key EMPTY must still drop its old rows
    CP.checkpointed_run(
        spark, lambda s, k: _builder(s, k).filter(F.lit(k) == 0), [0, 1],
        out, "snapC",
    )
    parts = CP.read_checkpointed(spark, out).select("part").distinct()
    assert [r.part for r in parts.collect()] == [0]


def _stats(df):
    d, aggs = SN.row_stats(df, [])
    return d.agg(*aggs).collect()[0].asDict()


def test_digest_is_order_independent(spark):
    df1 = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id long, v string")
    df2 = spark.createDataFrame([(3, "c"), (1, "a"), (2, "b")], "id long, v string")
    s1, s2 = _stats(df1.repartition(3)), _stats(df2.repartition(2))
    assert s1 == s2 and s1["rows"] == 3
    assert _stats(df1.filter("id < 3"))["value_digest"] != s1["value_digest"]


def test_image_lineage_manifest_fields(spark):
    """North-rule lineage: cell range + pixel digest recorded per partition
    and verifiable against an independent local recomputation."""
    import tempfile
    from functools import reduce

    from pyspark.sql import functions as F

    from housenumbercore_spark import checkpoint as CP
    from housenumbercore_spark.operators import pip_join as PJ
    from housenumbercore_spark.sources import images as IMG

    def build(s, key):
        imgs = IMG.images_df(s, 200).filter(F.pmod(F.shiftright("phash", 1), F.lit(2)) == int(key))
        return PJ.tile_assign(imgs, 13).select("image_id", "phash", "tile_id")

    out = tempfile.mkdtemp(prefix="hns_imglin_")
    CP.checkpointed_run(spark, build, [0, 1], out, "snapA", max_concurrency=1)
    mf = {r.partition: r for r in CP.manifest_summary_full(spark, out).collect()}
    assert set(mf) == {"0", "1"}

    for key in (0, 1):
        rows = build(spark, key).collect()
        m = mf[str(key)]
        assert m.row_count == len(rows)
        assert m.cell_min == min(r.tile_id for r in rows)
        assert m.cell_max == max(r.tile_id for r in rows)
        assert m.pixel_digest == reduce(lambda a, r: a ^ r.phash, rows, 0)
        assert m.input_fingerprint == "snapA"


def test_missing_out_dir_raises_explicitly(spark):
    """A never-written out_dir surfaces the module's explicit error, not a
    raw Py4J FileNotFoundException from fs.listStatus."""
    with pytest.raises(FileNotFoundError, match="no committed partitions"):
        CP.read_checkpointed(spark, "/tmp/hns_ckpt_never_written_anywhere")
    # summaries over the same path are empty, not exceptions
    assert CP.manifest_summary(
        spark, "/tmp/hns_ckpt_never_written_anywhere"
    ).count() == 0


def test_even_multiplicity_swap_detected(spark, tmp_path):
    """XOR alone cancels on even row multiplicities ({X,X} and {Y,Y} both
    xor to 0); the masked-sum second stream must catch the swap."""
    out = str(tmp_path / "ckpt_dup")

    def build_dups(s, key):
        return s.createDataFrame([("Y", 1), ("Y", 1)], "v string, k int")

    CP.checkpointed_run(spark, build_dups, [0], out, "snapA", max_concurrency=1)
    ok0 = CP.verify_checkpoints(spark, out).collect()[0]
    assert ok0.ok and ok0.manifest_sum is not None
    # corrupt the entry's data dir in place with a DIFFERENT duplicated row
    # (count + xor both unchanged: h(X)^h(X) == h(Y)^h(Y) == 0)
    (entry,) = _entries(spark, out)
    spark.createDataFrame([("X", 2), ("X", 2)], "v string, k int").write.mode(
        "overwrite"
    ).parquet(f"{out}/{entry['dir']}/part=0")
    row = CP.verify_checkpoints(spark, out).collect()[0]
    assert row.manifest_rows == row.actual_rows == 2
    assert row.manifest_digest == row.actual_digest  # xor is blind to this
    assert not row.ok  # the sum stream catches it


def test_string_keys_keep_their_type(spark, tmp_path):
    """Zero-padded AGS municipality codes (the reference's own key) stay
    strings: the manifest schema types ``part``, not partition inference
    (which read '03152012' back as the int 3152012)."""
    def build(s, key):
        return s.createDataFrame([(key, 1)], "ags string, v long")

    out = str(tmp_path / "ckpt_ags")
    CP.checkpointed_run(spark, build, ["03152012", "05334002"], out, "snapA")
    got = CP.read_checkpointed(spark, out)
    assert dict(got.dtypes)["part"] == "string"
    assert sorted((r.part, r.ags) for r in got.collect()) == [
        ("03152012", "03152012"), ("05334002", "05334002")
    ]
    out = str(tmp_path / "ckpt_int")
    CP.checkpointed_run(spark, build, [0, 1], out, "snapA")
    got = CP.read_checkpointed(spark, out)
    assert dict(got.dtypes)["part"] == "int"
    assert sorted(r.part for r in got.collect()) == [0, 1]


def test_single_key_commit_keeps_write_parallelism(spark, tmp_path):
    """A checkpoint commit is one partition value; the REBALANCE
    distribution lets AQE split it over several tasks (files) once it
    outgrows the advisory partition size, where a hash repartition by the
    key would funnel it through one task."""
    big = spark.range(0, 200_000, numPartitions=8).select(
        "id", (F.col("id") * 3).alias("v")
    )
    out = str(tmp_path / "ckpt_one")
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "256k")
    try:
        CP.checkpointed_run(spark, lambda s, k: big, [7], out, "snapA")
    finally:
        spark.conf.set(key, prev)
    files = [
        f for _, _, fs in os.walk(out) for f in fs if f.endswith(".parquet")
    ]
    assert len(files) > 1
    (entry,) = _entries(spark, out)
    assert entry["rows"] == 200_000


def test_commit_jobs_and_resume_is_job_free(spark, tmp_path):
    """Each checkpoint commit is its data write alone (rebalance map stage
    + write stage): count, partitions and digests come from the write, and
    resume reads only the manifest."""
    base = spark.range(0, 8000, numPartitions=4).select(
        "id", (F.col("id") % 997).alias("tile_id")
    )

    def build(s, key):
        return base.filter(F.col("id") % 4 == key)

    out = str(tmp_path / "ckpt_jobs")
    sc = spark.sparkContext._jsc.sc()
    j0 = sc.dagScheduler().nextJobId()
    CP.checkpointed_run(spark, build, KEYS, out, "snapA")
    j1 = sc.dagScheduler().nextJobId()
    again = CP.checkpointed_run(spark, build, KEYS, out, "snapA")
    assert j1 - j0 <= 2 * len(KEYS)
    assert sc.dagScheduler().nextJobId() == j1 and again["computed"] == []
    assert CP.verify_checkpoints(spark, out).toPandas().ok.all()


_FAULT_SCRIPT = r"""
import json, os, sys
from pyspark import TaskContext
from pyspark.sql import SparkSession, functions as F
from housenumbercore_spark import checkpoint as CP
from housenumbercore_spark.sources import snapshots as SN

marks = sys.argv[1]
spark = (SparkSession.builder.master("local[2,2]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false").getOrCreate())


def fail_once(where, fail_partitions):
    # fails the FIRST attempt of the chosen partitions part-way through
    # their rows (after earlier rows already streamed through the write)
    def f(i):
        tc = TaskContext.get()
        if (tc.attemptNumber() == 0 and tc.partitionId() in fail_partitions
                and i % 500 == 499):
            open(os.path.join(marks, f"{where}-{tc.stageId()}-"
                              f"{tc.partitionId()}"), "w").close()
            raise RuntimeError(f"injected {where} failure")
        return True
    # nondeterministic: the optimizer must not push the filter through
    # the rebalance exchange
    return F.udf(f, "boolean").asNondeterministic()


real_stats = SN.row_stats


def stats_after_failure(df, partition_cols):
    # the frame handed in is the rebalanced one: a filter here runs in the
    # write's result stage, after the shuffle
    return real_stats(df.filter(fail_once("after", {0})("id")), partition_cols)


SN.row_stats = stats_after_failure
base = spark.range(0, 6000, numPartitions=4).select(
    "id", (F.col("id") % 991).alias("tile_id"))


def build(s, key):
    return (base.filter(F.col("id") % 2 == key)
            .filter(fail_once("before", {1, 2})("id")))


out = os.path.join(marks, "ckpt")
CP.checkpointed_run(spark, build, [0, 1], out, "fp", max_concurrency=2)
SN.row_stats = real_stats
audit = [r.asDict() for r in CP.verify_checkpoints(spark, out).collect()]
got = sorted(tuple(r) for r in CP.read_checkpointed(spark, out).collect())
want = sorted((r.id, r.tile_id, r.id % 2) for r in base.collect())
print(json.dumps({"audit": audit, "same_rows": got == [tuple(w) for w in want],
                  "n": len(got)}))
spark.stop()
"""


def test_task_retries_keep_observed_stats_exact(tmp_path):
    """Fault injection on a ``local[2,2]`` master (one retry per task):
    the first attempt of chosen partitions fails once before the rebalance
    (map stage) and once after it (the write's result stage, where the
    Observation accumulates). The failed attempts' partial aggregates must
    not leak: every entry's rows/xor/sum equal verify_checkpoints'
    recomputation, and the read-back equals a single-shot build."""
    res = run_script(_FAULT_SCRIPT, str(tmp_path))
    stages = {}
    for m in os.listdir(tmp_path):
        if "-" in m:
            where, stage, _ = m.split("-")
            stages.setdefault(where, set()).add(stage)
    # both injections really fired, and in different stages (map vs write)
    assert set(stages) == {"before", "after"}
    assert not stages["before"] & stages["after"]
    assert len(res["audit"]) == 2
    for a in res["audit"]:
        assert a["ok"], a
        assert (a["manifest_rows"], a["manifest_digest"], a["manifest_sum"]) == (
            a["actual_rows"], a["actual_digest"], a["actual_sum"]
        )
    assert res["same_rows"] and res["n"] == 6000

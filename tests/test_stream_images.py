"""Streaming image-ingest gate: invariant filtering + exactly-once files."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from housenumbercore_spark.images import codec
from housenumbercore_spark.sources import images as IMG
from housenumbercore_spark.sources import snapshots as SN
from housenumbercore_spark.streaming import images as SI


def _write_batch(spark, src_dir, start, n, corrupt_every=None):
    import pandas as pd

    rows = []
    for i in range(start, start + n):
        iid, buf, w, h, fmt, cap, ph, lon, lat = IMG._row_for(i)
        if corrupt_every and i % corrupt_every == 0:
            ph = ph ^ 0xFF0  # stored phash no longer matches the pixels
        rows.append((iid, buf, w, h, fmt, cap, ph, lon, lat))
    pdf = pd.DataFrame(rows, columns=[f.name for f in IMG.SCHEMA.fields])
    spark.createDataFrame(pdf, IMG.SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src_dir)


def _write_orphan(spark, tbl, n, gate_ok=True):
    """Simulate a crashed first attempt: batch 0's data dir written with
    ``n`` (wrong) rows, but the commit's manifest was never created."""
    orphan = f"{tbl}/data/{uuid.uuid4().hex}"
    IMG.images_df(spark, n).withColumn("gate_ok", F.lit(gate_ok)).withColumn(
        "batch_id", F.lit(0)
    ).write.parquet(orphan)
    assert SN.current_version(spark, tbl) is None  # invisible to readers
    return orphan


def _gated(spark, tbl, ok):
    return SN.read_snapshot(spark, tbl).filter(F.col("gate_ok") == ok)


def test_gate_accepts_valid_and_quarantines_corrupt(spark, tmp_path):
    src = str(tmp_path / "src")
    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(spark, src, 0, 40, corrupt_every=10)  # ids 0,10,20,30 bad

    res = SI.run_image_gate(spark, src, tbl, ckpt)
    assert res == {"accepted_total": 36, "rejected_total": 4}
    acc = _gated(spark, tbl, True)
    # accepted rows still satisfy the invariant end to end
    one = acc.orderBy("image_id").limit(1).collect()[0]
    px = codec.decode_image(bytes(one.bytes))
    assert codec.phash64(px) == one.phash
    rej_ids = {r.image_id for r in _gated(spark, tbl, False).collect()}
    assert rej_ids == {f"img{i:010d}" for i in (0, 10, 20, 30)}


def test_midbatch_crash_replay_is_idempotent(spark, tmp_path):
    """A crash AFTER the sink wrote a batch's rows but BEFORE its commit
    leaves an orphan data dir; the replayed batch commits once and the
    table counts only the replayed rows (round-2 ADVICE: plain append was
    only at-least-once)."""
    src = str(tmp_path / "src")
    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(spark, src, 0, 10)
    _write_orphan(spark, tbl, 3)  # a partial, wrong subset

    res = SI.run_image_gate(spark, src, tbl, ckpt)
    assert res == {"accepted_total": 10, "rejected_total": 0}
    acc = _gated(spark, tbl, True)
    assert acc.count() == 10
    assert acc.select("image_id").distinct().count() == 10


def test_replay_with_all_rows_rejected_after_partial_accept(spark, tmp_path):
    """Crash left an orphan of accepted rows, and the replayed batch
    rejects EVERY row: the table holds only the replayed rejections."""
    src = str(tmp_path / "src")
    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(spark, src, 0, 8, corrupt_every=1)  # every row corrupt
    _write_orphan(spark, tbl, 3)

    res = SI.run_image_gate(spark, src, tbl, ckpt)
    assert res == {"accepted_total": 0, "rejected_total": 8}
    assert _gated(spark, tbl, True).count() == 0


def test_restart_processes_only_new_files(spark, tmp_path):
    src = str(tmp_path / "src")
    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(spark, src, 0, 20)
    r1 = SI.run_image_gate(spark, src, tbl, ckpt)
    assert r1["accepted_total"] == 20

    # second run with NO new input: nothing reprocessed (no duplicates)
    r2 = SI.run_image_gate(spark, src, tbl, ckpt)
    assert r2["accepted_total"] == 20

    # new file arrives → only its rows are appended
    _write_batch(spark, src, 100, 15)
    r3 = SI.run_image_gate(spark, src, tbl, ckpt)
    assert r3["accepted_total"] == 35
    acc = _gated(spark, tbl, True)
    assert acc.select("image_id").distinct().count() == 35
    assert acc.count() == 35  # exactly-once: no file replayed


def test_snapshot_sink_gate_basic_and_audit_trail(spark, tmp_path):
    """Gated rows land in ONE versioned table (gate_ok flag), each batch
    is an atomic commit whose operation records the batch id and the
    checkpoint, and every intermediate version stays time-travelable."""
    src = str(tmp_path / "src")
    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(spark, src, 0, 30, corrupt_every=10)  # ids 0,10,20 bad

    res = SI.run_image_gate(spark, src, tbl, ckpt)
    assert res == {"accepted_total": 27, "rejected_total": 3}
    ops = [SN.load_snapshot(spark, tbl, v)["operation"]
           for v in range(1, SN.current_version(spark, tbl) + 1)]
    assert ops and all(op.startswith("stream_batch_") for op in ops)
    assert all(op.endswith(ckpt) for op in ops)
    cur = SN.read_snapshot(spark, tbl)
    assert cur.count() == 30
    assert "batch_id" in cur.columns and "gate_ok" in cur.columns


def test_snapshot_sink_crash_replay_commit_level_exactly_once(
    spark, tmp_path
):
    """Crash BETWEEN data write and manifest create leaves an orphaned,
    INVISIBLE data dir (readers never saw a torn batch); the replay
    re-commits the batch once, and an already-committed batch id is
    skipped on replay even if the streaming checkpoint lost the commit."""
    src = str(tmp_path / "src")
    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(spark, src, 0, 12)
    orphan = _write_orphan(spark, tbl, 5)

    res = SI.run_image_gate(spark, src, tbl, ckpt)
    assert res["accepted_total"] == 12
    assert SN.read_snapshot(spark, tbl).count() == 12  # no torn/dup rows
    # the orphan is reclaimable, the committed dirs survive
    removed = SN.vacuum(spark, tbl, keep_last=10, orphan_grace_s=0)
    assert any(orphan.endswith(r.split("/")[-1]) for r in removed)
    assert SN.read_snapshot(spark, tbl).count() == 12
    assert SN.current_version(spark, tbl) == 1

    # lost streaming commit: the table committed batch 0 but the
    # checkpoint never recorded it, so Spark replays batch 0 — the
    # recorded stream_batch_0 operation skips it
    for name in ("0", ".0.crc"):
        p = os.path.join(ckpt, "commits", name)
        if os.path.exists(p):
            os.remove(p)
    res2 = SI.run_image_gate(spark, src, tbl, ckpt)
    assert res2 == {"accepted_total": 12, "rejected_total": 0}
    assert SN.current_version(spark, tbl) == 1
    assert os.path.exists(os.path.join(ckpt, "commits", "0"))


def test_snapshot_sink_empty_source(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    res = SI.run_image_gate(
        spark, src, str(tmp_path / "tbl"), str(tmp_path / "ckpt")
    )
    assert res == {"accepted_total": 0, "rejected_total": 0}


def test_new_checkpoint_refuses_stamped_out_dir(spark, tmp_path):
    """A reset/different checkpoint restarts batch ids at 0: its batch 0
    would be skipped as already committed while the new checkpoint marks
    its files processed, so files that arrived since the last run would be
    lost silently. Refused up front, naming both checkpoints, without
    touching the table; the SAME checkpoint (crash replay / incremental
    rerun) passes and picks the new files up."""
    src = str(tmp_path / "src")
    tbl = str(tmp_path / "tbl")
    ckpt1 = str(tmp_path / "c1")
    ckpt2 = str(tmp_path / "c2")
    for i in range(10):
        _write_batch(spark, src, i, 1)
    assert SI.run_image_gate(spark, src, tbl, ckpt1)["accepted_total"] == 10
    v1 = SN.current_version(spark, tbl)

    for i in range(100, 107):  # 7 new files, then a fresh checkpoint
        _write_batch(spark, src, i, 1)
    sc = spark.sparkContext
    sc.setJobGroup("hns-gate-guard", "hns-gate-guard")
    try:
        with pytest.raises(ValueError, match="lineage") as exc:
            SI.run_image_gate(spark, src, tbl, ckpt2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert ckpt1 in str(exc.value) and ckpt2 in str(exc.value)
    # the guard reads manifests only: the refused run ran no Spark job
    assert sc.statusTracker().getJobIdsForGroup("hns-gate-guard") == []
    assert SN.current_version(spark, tbl) == v1
    assert not os.path.exists(ckpt2)  # the stream never started

    # same checkpoint again: legitimate — processes exactly the new files
    res = SI.run_image_gate(spark, src, tbl, ckpt1)
    assert res == {"accepted_total": 17, "rejected_total": 0}

"""Streaming image ingestion with the north-rule invariant gate.

Continuous version of the batch image pipeline: new parquet files of
image+caption rows land in a directory; a file-source stream picks each
file up EXACTLY ONCE (Structured Streaming's file-source log via the
checkpoint location), runs the per-row invariant gate (the stored-image
self-check of images/udfs: a real decode through images/codec whose
recomputed phash and dims must match the stored ones, Arrow-batched) and
commits every micro-batch — accepted and quarantined rows, flagged by
``gate_ok`` — as one atomic append to a snapshot table
(sources/snapshots.py). Restart-safe INCLUDING mid-batch crashes: a crash
before the commit leaves only an invisible orphan data dir, a replayed
batch whose commit already landed is skipped by its recorded batch id,
re-running with new input files processes only the unseen files, and a
run with a different checkpoint is refused (all tested). This is the
streaming counterpart of checkpoint.py's per-partition batch resume.

Scale shape: the gate is a map-only transform on the stream (no state, no
shuffle); throughput scales with input-file parallelism exactly like the
batch decode path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..images import codec
from ..images.udfs import _self_check
from ..sources.images import SCHEMA as IMAGE_SCHEMA


def _gated_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    ok = np.zeros(len(pdf), dtype=bool)
    rows = zip(pdf["bytes"], pdf["phash"], pdf["w"], pdf["h"])
    for i, (buf, ph, w, h) in enumerate(rows):
        dw, dh, _, phash_ok = _self_check(buf, ph)
        ok[i] = phash_ok and dw == w and dh == h
    out = pdf.copy()
    out["gate_ok"] = ok
    return out


_GATED_SCHEMA = T.StructType(
    IMAGE_SCHEMA.fields + [T.StructField("gate_ok", T.BooleanType(), False)]
)


def make_gate_source(
    spark: SparkSession,
    src_dir: str,
    start: int,
    n: int,
    corrupt_every: int | None = None,
) -> None:
    """Append one parquet file of deterministic images to ``src_dir``;
    every ``corrupt_every``-th id gets a flipped stored phash (an ingest
    corruption the gate must quarantine). Driver-side build of a small
    demo batch — production sources are whatever lands the files."""
    from ..sources.images import SCHEMA, _row_for

    rows = []
    for i in range(start, start + n):
        iid, buf, w, h, fmt, cap, ph, lon, lat = _row_for(i)
        if corrupt_every and i % corrupt_every == 0:
            ph = ph ^ 0xFF0
        rows.append((iid, buf, w, h, fmt, cap, ph, lon, lat))
    pdf = pd.DataFrame(rows, columns=[f.name for f in SCHEMA.fields])
    spark.createDataFrame(pdf, SCHEMA).coalesce(1).write.mode("append").parquet(
        src_dir
    )


def image_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """Unstarted streaming plan: file-source stream over ``src_dir`` with
    the decode/phash/dims gate column attached."""
    stream = spark.readStream.schema(IMAGE_SCHEMA).parquet(src_dir)
    snap = codec.registry_snapshot()  # ship registered codecs to workers

    def gen(batches):
        codec.install_registry(snap)
        for pdf in batches:
            yield _gated_batch(pdf)

    return stream.mapInPandas(gen, _GATED_SCHEMA)


_OP = "stream_batch_"  # commit operation: stream_batch_<id> checkpoint=<dir>
_CKPT = " checkpoint="


def run_image_gate(
    spark: SparkSession,
    src_dir: str,
    out_table: str,
    checkpoint_dir: str,
) -> dict:
    """Drain everything currently in ``src_dir`` (availableNow trigger)
    into the snapshot table ``out_table`` (sources/snapshots.py). Exactly-
    once END TO END: the checkpoint's file log picks each input file up
    once, and each micro-batch commits atomically as one append whose
    manifest operation records its batch id and checkpoint — so readers
    never observe a torn batch (nothing is visible until the exclusive
    manifest create), a batch id already in the table's history is
    skipped on replay, and a crash between data write and manifest create
    leaves only an orphaned (invisible) data dir that
    :func:`snapshots.vacuum` reclaims. Returns the table's
    accepted/rejected totals, counted by one aggregate.

    Accepted and rejected rows land in ONE table with the ``gate_ok``
    flag and ``batch_id`` column (filter on read); every version is
    time-travelable, giving the stream a complete audit trail.

    ``out_table`` and ``checkpoint_dir`` are ONE unit: a fresh checkpoint
    restarts batch ids at 0, so its batch 0 — possibly holding files the
    old lineage never saw — would be skipped as already committed while
    the new checkpoint marks those files processed, losing them for good.
    A run whose checkpoint differs from the one the table's last stream
    commit recorded is therefore refused before the stream starts (manifest
    reads only, no Spark job); crash replays reuse the same checkpoint and
    pass."""
    from ..sources import snapshots as SN

    # each manifest is immutable, so it needs reading ONCE per sink
    # lifetime: cache the committed-batch ids and only read manifests
    # newer than the last version seen (without this, batch N re-reads
    # all N-1 manifests and stream metadata I/O grows O(V^2))
    _seen = {"upto": 0, "ids": set(), "ckpt": None}

    def committed_batches() -> set[int]:
        cur = SN.current_version(spark, out_table) or 0
        for v in range(_seen["upto"] + 1, cur + 1):
            op = SN.load_snapshot(spark, out_table, v)["operation"]
            if op.startswith(_OP):
                bid, _, ckpt = op[len(_OP):].partition(_CKPT)
                _seen["ids"].add(int(bid))
                _seen["ckpt"] = ckpt
        _seen["upto"] = max(_seen["upto"], cur)
        return _seen["ids"]

    committed_batches()
    if _seen["ckpt"] not in (None, checkpoint_dir):
        raise ValueError(
            f"run_image_gate: {out_table} was written by the gate run "
            f"checkpointed at {_seen['ckpt']!r}, but this run checkpoints at "
            f"{checkpoint_dir!r} — batch ids would restart and corrupt the "
            "old lineage; clear the table together with the checkpoint"
        )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if int(batch_id) in committed_batches():
            return  # replay of an already-committed batch: exactly-once
        SN.snapshot_write(
            batch_df.withColumn("batch_id", F.lit(int(batch_id))),
            out_table,
            operation=f"{_OP}{int(batch_id)}{_CKPT}{checkpoint_dir}",
        )

    q = (
        image_stream(spark, src_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    try:
        totals = SN.read_snapshot(spark, out_table).agg(
            F.count(F.when(F.col("gate_ok"), 1)).alias("accepted_total"),
            F.count(F.when(~F.col("gate_ok"), 1)).alias("rejected_total"),
        )
        return totals.first().asDict()
    except FileNotFoundError:  # zero input files → no batch committed
        return {"accepted_total": 0, "rejected_total": 0}

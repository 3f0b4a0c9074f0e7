"""Per-partition checkpointing with lineage manifests + idempotent resume.

The reference resumes batch work by skipping municipalities whose
``theoevaluations`` row is fresher than ``-startdate``
(/root/reference/src/de/regioosm/theoreticalhousenumbercore/
TheoreticalHousenumbers.java:801-812) and by flagging processed relations
(OSMRelationAssociatedStreetWorkaround.java:399-410). The north rule
upgrades that to per-partition lineage: every completed partition
records its input fingerprint (snapshot id), partition key, row count,
cell range and order-independent value digests, so an executor- or
driver-level failure resumes without recomputing completed partitions and
the output is byte-verifiable.

The checkpoint is a snapshot table (sources/snapshots.py) partitioned by
``part``. Each computed key commits as one ``overwrite_partitions``
snapshot whose manifest entry IS the partition's lineage: the fingerprint
travels in the entry's operation, the count and digests in its stats,
observed while the write runs (:func:`snapshots.row_stats`). Hence:

- resume reads the current manifest once and runs no Spark job;
- a crash between a partition's data write and its commit leaves an
  orphaned data dir that no manifest ever references: readers never see
  it, the key reruns on resume, and :func:`snapshots.vacuum` reclaims it;
- a committed partition's entry carries over unchanged through later
  commits — completed work is never touched;
- the key keeps its type from the manifest schema (``'03152012'`` stays a
  string, ``0`` an int);
- a key whose build yields no rows gets no entry, so it reruns on resume.

Scale design: partitions are COARSE (H3 prefix / area bucket / date) — the
driver loop is O(#partitions), each iteration one data write. With
``max_concurrency`` > 1 Spark's scheduler interleaves the writes, so small
partitions don't serialize behind big ones; their commits touch disjoint
partitions and rebase onto each other instead of conflicting.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .sources import snapshots as SN

_OP = "checkpoint fingerprint="  # entry operation: _OP + input fingerprint


def _current(spark: SparkSession, out_dir: str) -> tuple[int | None, dict]:
    """The checkpoint table's current version and manifest (no Spark job);
    a never-written ``out_dir`` is version None with no entries."""
    v = SN.current_version(spark, out_dir)
    snap = SN.load_snapshot(spark, out_dir, v) if v is not None else {}
    snap["entries"] = sorted(
        snap.get("entries", []), key=lambda e: e["partitions_str"][0][0]
    )
    return v, snap


def checkpointed_run(
    spark: SparkSession,
    build_partition,
    partition_keys: list,
    out_dir: str,
    input_fingerprint: str,
    max_concurrency: int = 4,
) -> dict:
    """Run ``build_partition(spark, key) -> DataFrame`` for every partition
    key not yet committed under ``input_fingerprint``, committing each as
    partition ``part = key`` of the snapshot table ``out_dir``. Returns a
    summary dict."""
    op = _OP + input_fingerprint
    done = {
        e["partitions"][0][0]
        for e in _current(spark, out_dir)[1]["entries"]
        if e["operation"] == op
    }
    todo = [k for k in partition_keys if k not in done]

    def run_one(key) -> None:
        # replaced_partitions drops the key's previous entry even when the
        # rebuilt partition is empty (no row would carry its value)
        SN.snapshot_write(
            build_partition(spark, key).withColumn("part", F.lit(key)),
            out_dir,
            ["part"],
            mode="overwrite_partitions",
            replaced_partitions=[(key,)],
            operation=op,
        )

    if max_concurrency > 1:
        with ThreadPoolExecutor(max_workers=max_concurrency) as ex:
            list(ex.map(run_one, todo))
    else:
        for k in todo:
            run_one(k)

    return {
        "computed": sorted(map(str, todo)),
        "skipped": sorted(str(k) for k in partition_keys if k in done),
        "out_dir": out_dir,
    }


def read_checkpointed(spark: SparkSession, out_dir: str) -> DataFrame:
    """Pinned read of the committed partitions, with the ``part`` key
    column typed as the manifest records it. Zero committed partitions
    raise an explicit error instead of an empty frame."""
    v, snap = _current(spark, out_dir)
    if not snap["entries"]:
        raise FileNotFoundError(
            f"read_checkpointed: no committed partitions under {out_dir}"
        )
    return SN.read_snapshot(spark, out_dir, version=v)


def manifest_summary(spark: SparkSession, out_dir: str) -> DataFrame:
    """Lineage manifest as a DataFrame (partition, fingerprint, rows, digest)."""
    return manifest_summary_full(spark, out_dir).select(
        "partition", "input_fingerprint", "row_count", "value_digest"
    )


def manifest_summary_full(spark: SparkSession, out_dir: str) -> DataFrame:
    """Full north-rule lineage view: + cell range and digest streams."""
    rows = [
        (
            e["partitions_str"][0][0],
            e["operation"].removeprefix(_OP),
            e["rows"],
            *(e["stats"][k] for k in SN._STATS),
        )
        for e in _current(spark, out_dir)[1]["entries"]
    ]
    return spark.createDataFrame(
        rows,
        "partition string, input_fingerprint string, row_count long, "
        "value_digest long, value_sum long, cell_min long, cell_max long, "
        "pixel_digest long, pixel_sum long",
    )


def verify_checkpoints(spark: SparkSession, out_dir: str) -> DataFrame:
    """Recompute each committed partition's stats from its data on disk
    (the same :func:`snapshots.row_stats` the write observed) and compare
    with its manifest entry — the audit the lineage exists for. ``ok``
    requires every recorded stat to match, not only the columns shown."""
    _, snap = _current(spark, out_dir)
    rows = []
    for e in snap["entries"]:
        data = spark.read.schema(T.StructType.fromJson(snap["schema"])).parquet(
            f"{out_dir}/{e['dir']}"
        )
        d, aggs = SN.row_stats(data, snap["partition_cols"])
        got = d.agg(*aggs).collect()[0].asDict()
        want = e["stats"]
        rows.append(
            (e["partitions_str"][0][0], e["rows"], got["rows"],
             want["value_digest"], got["value_digest"], want["value_sum"],
             got["value_sum"],
             e["rows"] == got["rows"] and want == SN.entry_stats(got))
        )
    return spark.createDataFrame(
        rows,
        "partition string, manifest_rows long, actual_rows long, "
        "manifest_digest long, actual_digest long, manifest_sum long, "
        "actual_sum long, ok boolean",
    )

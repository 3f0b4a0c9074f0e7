"""Per-partition checkpointing with lineage manifests + idempotent resume.

The reference resumes batch work by skipping municipalities whose
``theoevaluations`` row is fresher than ``-startdate``
(/root/reference/src/de/regioosm/theoreticalhousenumbercore/
TheoreticalHousenumbers.java:801-812) and by flagging processed relations
(OSMRelationAssociatedStreetWorkaround.java:399-410). The north rule
upgrades that to per-partition lineage manifests: every completed partition
records its input fingerprint (snapshot id), cell/partition key, row count
and an order-independent value digest, so an executor- or driver-level
failure resumes without recomputing completed cells and the output is
byte-verifiable.

Scale design:
- Partitions are COARSE (H3 prefix / area bucket / date) — the driver loop
  is O(#partitions), each iteration one Spark job writing
  ``out_dir/part=<key>/``. On a 1000-executor cluster the same loop runs
  with ``max_concurrency`` > 1: Spark's scheduler interleaves the jobs, so
  small partitions don't serialize behind big ones.
- The manifest commit is atomic (tmp file + rename AFTER the data write),
  so a crash mid-partition leaves no manifest → that partition reruns; a
  rerun overwrites the partial data dir before committing. Completed
  partitions are never touched (verified by tests via directory mtimes).
- The digest is two order-independent streams over a 60-bit row hash of
  the canonical row JSON: ``bit_xor`` plus a 30-bit-masked ``sum`` (XOR
  alone cancels on even row multiplicities; the sum breaks that
  symmetry). Stable under any shuffle/partitioning and cheap — one md5
  per row, one map-side-combinable aggregate per partition.
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .text.hashing import h60_spark

MANIFEST_NAME = "_MANIFEST.json"


@dataclass
class PartitionManifest:
    partition: str
    input_fingerprint: str
    row_count: int
    value_digest: int
    completed_at: float
    # north-rule lineage extras (None when the partition has no such column)
    cell_min: int | None = None
    cell_max: int | None = None
    pixel_digest: int | None = None  # xor over the per-image phash column
    # second order-independent stream: SUM of the 30-bit-masked row hash.
    # XOR alone cancels on even multiplicities ({X,X} and {Y,Y} both
    # digest to 0), so count+xor passes an even-count row substitution;
    # the sum breaks that symmetry (2·(x&mask) == 2·(y&mask) AND equal
    # xor is a ~2^-90 coincidence). 30-bit mask keeps the long sum exact
    # for < 2^33 rows per partition (partitions are coarse but bounded).
    # None in manifests written before this field existed — verify then
    # checks count+xor only.
    value_sum: int | None = None
    pixel_sum: int | None = None  # same construction over phash


# THE row-hash definition: 60 bits of md5 over the canonical JSON of all
# columns. Single source of truth — the manifest writer (compute_stats) and
# the verifier (compute_digest) must agree bit for bit or every
# resume/verify comparison breaks.
_ROW_DIGEST_SQL = h60_spark("to_json(struct(*))")


def row_digest_col():
    """60-bit row hash over the canonical JSON of all columns of whatever
    frame the expression is attached to."""
    return F.expr(_ROW_DIGEST_SQL)


CELL_COL_CANDIDATES = ("cell", "tile_id", "__cell")


_SUM_MASK = (1 << 30) - 1  # see PartitionManifest.value_sum


def compute_digest(df: DataFrame) -> tuple[int, int]:
    """(row_count, order-independent xor digest) — the verify-side view of
    :func:`compute_stats` (same single pass, same digest definition)."""
    s = compute_stats(df)
    return s["row_count"], s["value_digest"]


def compute_stats(df: DataFrame) -> dict:
    """Single aggregate over a partition's data: row count, order-independent
    value digest + masked-sum second stream, cell range (when a cell/tile
    column exists) and pixel digest pair (when a ``phash`` column exists).
    One pass, one md5 per row, map-side combinable."""
    # attach the row hash ONCE; struct(*) expands to df's own columns at
    # analysis time of this projection, so __rd never hashes itself
    d = df.withColumn("__rd", row_digest_col())
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(__rd)").alias("d"),
        F.expr(f"sum(__rd & {_SUM_MASK})").alias("s"),
    ]
    cell = next((c for c in CELL_COL_CANDIDATES if c in df.columns), None)
    if cell:
        aggs += [F.min(cell).alias("cmin"), F.max(cell).alias("cmax")]
    has_phash = "phash" in df.columns
    if has_phash:
        aggs.append(F.expr("bit_xor(phash)").alias("pd"))
        aggs.append(F.expr(f"sum(phash & {_SUM_MASK})").alias("ps"))
    row = d.select(*aggs).collect()[0]
    return {
        "row_count": int(row.n),
        "value_digest": int(row.d if row.d is not None else 0),
        "value_sum": int(row.s if row.s is not None else 0),
        "cell_min": int(row.cmin) if cell and row.cmin is not None else None,
        "cell_max": int(row.cmax) if cell and row.cmax is not None else None,
        "pixel_digest": (
            int(row.pd) if has_phash and row.pd is not None else None
        ),
        "pixel_sum": (
            int(row.ps) if has_phash and row.ps is not None else None
        ),
    }


def _part_dir(out_dir: str, key) -> str:
    return os.path.join(out_dir, f"part={key}")


def _manifest_path(out_dir: str, key) -> str:
    return os.path.join(_part_dir(out_dir, key), MANIFEST_NAME)


# All manifest I/O goes through the Hadoop FileSystem API (same rule as
# sources/snapshots.py and streaming/images.py; helpers in
# sources/sinks.py): the data writes go through
# Spark, so on a non-local out_dir (hdfs://, s3a://) driver-local POSIX
# calls would split manifests and data across two filesystems — a stale
# LOCAL manifest could then silently skip recomputation of LOST remote
# data, defeating the protocol.


def load_manifest(
    spark: SparkSession, out_dir: str, key
) -> PartitionManifest | None:
    from .sources.sinks import _hadoop_fs
    from .sources.snapshots import _read_text

    jvm, fs, _ = _hadoop_fs(spark, out_dir)
    text = _read_text(
        fs, jvm, jvm.org.apache.hadoop.fs.Path(_manifest_path(out_dir, key))
    )
    return None if text is None else PartitionManifest(**json.loads(text))


def _commit_manifest(
    spark: SparkSession, out_dir: str, m: PartitionManifest
) -> None:
    """Atomic: write sibling tmp, then rename over the final name (a rerun
    after a fingerprint change legitimately replaces the old manifest)."""
    from .sources.snapshots import _write_text_atomic

    _write_text_atomic(
        spark, _manifest_path(out_dir, m.partition), json.dumps(asdict(m))
    )


def _committed_part_names(spark: SparkSession, out_dir: str) -> list[str]:
    """Sorted ``part=<key>`` directory names under ``out_dir`` that carry a
    manifest (i.e. committed partitions), via the Hadoop FileSystem API."""
    from .sources.sinks import _hadoop_fs

    jvm, fs, base = _hadoop_fs(spark, out_dir)
    if not fs.exists(base):
        # let read_checkpointed raise ITS explicit error (and summaries
        # return empty) instead of a raw Py4J FileNotFoundException here
        return []
    out = []
    for st in fs.listStatus(base):
        name = st.getPath().getName()
        if (
            st.isDirectory()
            and name.startswith("part=")
            and fs.exists(
                jvm.org.apache.hadoop.fs.Path(
                    os.path.join(out_dir, name, MANIFEST_NAME)
                )
            )
        ):
            out.append(name)
    return sorted(out)


class PartitionFailure(RuntimeError):
    """Injected by tests to simulate an executor/driver crash."""


def checkpointed_run(
    spark: SparkSession,
    build_partition,
    partition_keys: list,
    out_dir: str,
    input_fingerprint: str,
    max_concurrency: int = 4,
    fail_on: set | None = None,
) -> dict:
    """Run ``build_partition(spark, key) -> DataFrame`` for every partition
    key, writing ``out_dir/part=<key>/`` + manifest; skip partitions whose
    manifest matches ``input_fingerprint``. Returns a summary dict.

    ``fail_on`` raises PartitionFailure before committing those partitions
    (data may be partially written — exactly the crash the manifest protocol
    must survive).
    """
    from .sources.sinks import _hadoop_fs

    _, fs, base = _hadoop_fs(spark, out_dir)
    fs.mkdirs(base)
    skipped, computed = [], []

    def run_one(key) -> None:
        m = load_manifest(spark, out_dir, key)
        if m is not None and m.input_fingerprint == input_fingerprint:
            skipped.append(key)
            return
        df = build_partition(spark, key)
        pdir = _part_dir(out_dir, key)
        df.write.mode("overwrite").parquet(pdir)
        if fail_on and key in fail_on:
            raise PartitionFailure(f"injected failure on partition {key}")
        stats = compute_stats(spark.read.parquet(pdir))
        _commit_manifest(
            spark,
            out_dir,
            PartitionManifest(
                partition=str(key),
                input_fingerprint=input_fingerprint,
                completed_at=time.time(),
                **stats,
            ),
        )
        computed.append(key)

    if max_concurrency > 1:
        with ThreadPoolExecutor(max_workers=max_concurrency) as ex:
            futures = [ex.submit(run_one, k) for k in partition_keys]
            errs = [f.exception() for f in futures]
        for e in errs:
            if e is not None:
                raise e
    else:
        for k in partition_keys:
            run_one(k)

    return {
        "computed": sorted(map(str, computed)),
        "skipped": sorted(map(str, skipped)),
        "out_dir": out_dir,
    }


def read_checkpointed(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read back only COMMITTED partitions (those with a manifest).

    ``basePath`` keeps the Hive-style ``part`` key as a reconstructed column
    even though only leaf directories are passed. Zero committed partitions
    raise an explicit error instead of Spark's opaque empty-path failure.
    """
    dirs = [
        os.path.join(out_dir, d)
        for d in _committed_part_names(spark, out_dir)
    ]
    if not dirs:
        raise FileNotFoundError(
            f"read_checkpointed: no committed partitions under {out_dir} "
            "(no part=*/ directory has a manifest)"
        )
    return spark.read.option("basePath", out_dir).parquet(*dirs)


def _load_committed(
    spark: SparkSession, out_dir: str
) -> list[PartitionManifest]:
    """All committed partitions' manifests, sorted by directory name — the
    single row loader behind both summary views and the verifier."""
    out = []
    for d in _committed_part_names(spark, out_dir):
        m = load_manifest(spark, out_dir, d.split("=", 1)[1])
        if m is not None:
            out.append(m)
    return out


def manifest_summary(spark: SparkSession, out_dir: str) -> DataFrame:
    """Lineage manifest as a DataFrame (partition, fingerprint, rows, digest)."""
    return manifest_summary_full(spark, out_dir).select(
        "partition", "input_fingerprint", "row_count", "value_digest"
    )


def manifest_summary_full(spark: SparkSession, out_dir: str) -> DataFrame:
    """Full north-rule lineage view: + cell range and digest streams."""
    rows = [
        (m.partition, m.input_fingerprint, m.row_count,
         m.value_digest, m.value_sum, m.cell_min, m.cell_max,
         m.pixel_digest, m.pixel_sum)
        for m in _load_committed(spark, out_dir)
    ]
    return spark.createDataFrame(
        rows,
        "partition string, input_fingerprint string, row_count long, "
        "value_digest long, value_sum long, cell_min long, cell_max long, "
        "pixel_digest long, pixel_sum long",
    )


def verify_checkpoints(spark: SparkSession, out_dir: str) -> DataFrame:
    """Recompute (count, xor digest, masked sum) of each committed
    partition's data and compare with its manifest — the audit the lineage
    exists for. The sum stream is checked only when the manifest recorded
    one (pre-``value_sum`` manifests verify on count+xor)."""
    rows = []
    for m in _load_committed(spark, out_dir):
        s = compute_stats(spark.read.parquet(_part_dir(out_dir, m.partition)))
        ok = (
            m.row_count == s["row_count"]
            and m.value_digest == s["value_digest"]
            and (m.value_sum is None or m.value_sum == s["value_sum"])
        )
        rows.append(
            (m.partition, m.row_count, s["row_count"], m.value_digest,
             s["value_digest"], m.value_sum, s["value_sum"], ok)
        )
    return spark.createDataFrame(
        rows,
        "partition string, manifest_rows long, actual_rows long, "
        "manifest_digest long, actual_digest long, manifest_sum long, "
        "actual_sum long, ok boolean",
    )

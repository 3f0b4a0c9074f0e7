"""Snapshot-versioned parquet tables: Iceberg's metadata design from
scratch — snapshot isolation, time travel, rollback, vacuum.

The reference keeps an evaluation visible while its municipality is being
recomputed (Workcache.java:2-20 — readers see the old rows until the
per-municipality transaction commits). This module gives readers that
pinned view, and the Workcache write-back its one commit
(:func:`merge_upsert_snapshot_table`), with the (public) Iceberg metadata
pattern over plain parquet — no Iceberg runtime is required:

- every write lands in a fresh immutable directory under ``data/``, in
  ONE pass: an Observation in the write's result stage gathers the new
  entry's row count, partition tuples and per-entry stats (row-hash
  xor/sum digests, cell range, pixel digests — as Iceberg keeps per-file
  stats), so nothing is read back. Partitioned writes use the REBALANCE
  distribution: rows cluster by partition value, but AQE may split a
  skewed partition over several tasks and files;
- a snapshot is a JSON manifest (``_meta/v<N>.json``) listing the data
  directories (with their partition values, row counts, stats and the
  operation that wrote them) that make up the table at version N; its
  EXCLUSIVE create is the commit's linearization point;
- ``_meta/VERSION`` is a one-line pointer cache flipped after it.

Readers resolve the version once at plan time and scan only the listed
directories, so a concurrent commit NEVER changes a running query
(snapshot isolation); old versions stay readable (`time travel`) until
:func:`vacuum` reclaims them; :func:`rollback` is a metadata-only commit
that re-points to a previous file set.

Scale notes (100 TB): the manifest is driver-side JSON listing O(write)
directory entries, not per-file entries, and every version re-serializes
all of its parent's entries — n commits write O(n²) manifest bytes (the
curve is measured in BENCH/BASELINE.md). Real Iceberg moves exactly this
structure into avro manifest *files* plus a manifest *list* per
snapshot, which is the drop-in upgrade (same calls,
``writeTo(...).createOrReplace()``) on a cluster with the Iceberg runtime.
Partition values are tracked per data directory, so
``overwrite_partitions`` and partition-pruned reads are metadata
operations — no data listing. Commits are optimistic: a writer whose
frame was planned against a pinned version surfaces a concurrent commit
as CommitConflict; a blind writer rebases and retries. Never corruption.

Reference parity: Workcache.java:243-424 (diff protocol transaction),
MunicipalityJobs.java "evaluation stays visible during recompute";
SURVEY §1.3/S8-S10.
"""

from __future__ import annotations

import json
import random
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..text.hashing import h60_spark
from .sinks import _fs_find_partition_dir, _hadoop_fs

META = "_meta"
DATA = "data"


class CommitConflict(RuntimeError):
    """The VERSION pointer moved between manifest read and commit."""


def _read_text(fs, jvm, jpath) -> str | None:
    if not fs.exists(jpath):
        return None
    stream = fs.open(jpath)
    try:
        # copy JVM-side (one py4j call total — ByteBuffer reads are
        # unsupported on ChecksumFileSystem, per-byte RPC is unusable)
        baos = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 65536, False)
        return bytes(baos.toByteArray()).decode("utf-8")
    finally:
        stream.close()


def _write_tmp(spark: SparkSession, path: str, text: str):
    jvm, fs, jpath = _hadoop_fs(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(f"{path}.tmp.{uuid.uuid4().hex}")
    stream = fs.create(tmp, True)
    try:
        stream.write(bytearray(text.encode("utf-8")))
    finally:
        stream.close()
    return jvm, fs, jpath, tmp


def _claim_exclusive(jvm, fs, path: str) -> bool:
    """Atomically create the claim file ``path``; True iff we created it.

    The claim is the commit's linearization point, so it must be a REAL
    atomic create-exclusive, not exists()+create (TOCTOU): on a local
    filesystem Hadoop's rename overwrites and its createNewFile is
    exists-then-create, so use ``java.io.File.createNewFile`` —
    open(O_CREAT|O_EXCL) under the hood; elsewhere ``fs.create(path,
    overwrite=false)`` is atomic at the metadata service (HDFS NameNode,
    ABFS/GCS preconditions). S3A's create is NOT atomic — like Iceberg,
    concurrent committers on raw S3 need an external lock/catalog; the
    manifest content read-back in :func:`_write_text_new` still detects
    (not prevents) a lost race there."""
    jclaim = jvm.org.apache.hadoop.fs.Path(path)
    if fs.getUri().getScheme() in (None, "file"):
        local = jclaim.toUri().getPath()
        return jvm.java.io.File(local).createNewFile()
    try:
        fs.create(jclaim, False).close()
        return True
    except Exception as e:
        # ONLY an already-exists outcome means "another writer owns the
        # claim" — a transient RPC/auth failure must surface as itself,
        # not as a phantom CommitConflict whose repair advice points at a
        # claim file that does not exist
        jexc = getattr(e, "java_exception", None)
        name = jexc.getClass().getName() if jexc is not None else ""
        if "AlreadyExists" in name or "AlreadyBeingCreated" in name:
            return False
        raise


def _write_text_new(spark: SparkSession, path: str, text: str) -> None:
    """Create ``path`` EXCLUSIVELY: used for manifests, which are immutable
    once written — a second writer racing for the same version number must
    fail WITHOUT touching the winner's committed manifest (clobbering it
    would silently replace a committed snapshot's contents).

    Protocol: (1) atomically claim ``path + '.claim'`` — of two racers,
    exactly one wins (plain exists()+rename was racy here: local rename
    overwrites, so both racers could pass the exists check and the loser's
    rename silently replaced the winner's committed manifest); (2) only
    the claim owner renames its tmp into place, so no committed manifest
    is ever overwritten; (3) read the manifest back and verify it is the
    bytes just written — a belt-and-braces guard that turns any remaining
    filesystem-specific non-atomicity (e.g. raw S3) into a detected
    CommitConflict instead of silent corruption. The claim file is removed
    on success; a crash between claim and rename leaves it behind, and the
    next committer of that version reports it for manual repair."""
    jvm, fs, jpath, tmp = _write_tmp(spark, path, text)
    claim = f"{path}.claim"
    if not _claim_exclusive(jvm, fs, claim):
        fs.delete(tmp, False)
        raise CommitConflict(
            f"{path} is being committed by another writer (claim file "
            f"{claim} exists — if no writer is active, a crashed commit "
            "left it behind; delete it to repair)"
        )
    jclaim = jvm.org.apache.hadoop.fs.Path(claim)
    try:
        if fs.exists(jpath) or not fs.rename(tmp, jpath):
            fs.delete(tmp, False)
            raise CommitConflict(
                f"{path} already exists — another writer committed this "
                "version first (if no writer is active, an aborted commit "
                "left this manifest behind; delete it to repair)"
            )
        readback = _read_text(fs, jvm, jpath)
        if readback != text:
            raise CommitConflict(
                f"{path} changed under a racing writer after commit — "
                "this filesystem's create/rename is not atomic; use a "
                "locking catalog for concurrent committers"
            )
    finally:
        fs.delete(jclaim, False)


def _write_text_atomic(spark: SparkSession, path: str, text: str) -> None:
    """Overwrite ``path`` via tmp-file + rename: used only for the VERSION
    pointer. On filesystems whose rename won't overwrite, there is a
    delete→rename window with no pointer file; :func:`current_version`
    falls back to the newest manifest for exactly that case."""
    jvm, fs, jpath, tmp = _write_tmp(spark, path, text)
    if not fs.rename(tmp, jpath):
        fs.delete(jpath, False)
        if not fs.rename(tmp, jpath):
            raise IOError(f"cannot commit {path}")


def _max_manifest_version(jvm, fs, table: str) -> int | None:
    meta = jvm.org.apache.hadoop.fs.Path(f"{table}/{META}")
    if not fs.exists(meta):
        return None
    best = None
    for st in fs.listStatus(meta):
        name = st.getPath().getName()
        if name.startswith("v") and name.endswith(".json"):
            try:
                n = int(name[1:-5])
            except ValueError:
                continue
            best = n if best is None else max(best, n)
    return best


def current_version(spark: SparkSession, table: str) -> int | None:
    """Version the table is at: max(VERSION pointer, newest manifest).

    The commit's linearization point is the EXCLUSIVE manifest create
    (data is fully written before it) — the pointer is a convenience
    cache flipped afterwards. So a manifest newer than the pointer is a
    completed commit whose writer died (or has not yet flipped) between
    manifest create and pointer flip; exposing it is the linearizable
    completion of that commit. Taking the max (rather than preferring
    the pointer when present) also covers the delete→rename pointer-swap
    window on filesystems without overwriting rename, AND prevents the
    wedge where a stale pointer makes every subsequent writer resolve
    the dead commit's parent, collide on its manifest name, and be told
    to delete a COMMITTED manifest as 'aborted' — destroying the commit."""
    jvm, fs, _ = _hadoop_fs(spark, table)
    txt = _read_text(
        fs, jvm, jvm.org.apache.hadoop.fs.Path(f"{table}/{META}/VERSION")
    )
    ptr = int(txt.strip()) if txt else None
    mx = _max_manifest_version(jvm, fs, table)
    if ptr is None:
        return mx
    if mx is not None and mx > ptr:
        return mx
    return ptr


def load_snapshot(spark: SparkSession, table: str, version: int) -> dict:
    jvm, fs, _ = _hadoop_fs(spark, table)
    txt = _read_text(
        fs, jvm, jvm.org.apache.hadoop.fs.Path(f"{table}/{META}/v{version}.json")
    )
    if txt is None:
        raise FileNotFoundError(f"no snapshot v{version} under {table}")
    return json.loads(txt)


# Per-entry stats: ONE definition shared by the observed write
# (snapshot_write) and every recomputation from data on disk
# (checkpoint.verify_checkpoints) — they must agree bit for bit. The row
# hash is 60 bits of md5 over the canonical JSON of the row's
# non-partition columns in frame order; it feeds two order-independent
# streams, bit_xor and the sum of its 30-bit-masked value. XOR alone
# cancels on even multiplicities ({X,X} and {Y,Y} both digest to 0); the
# sum breaks that symmetry, and the mask keeps it exact below 2^33 rows.
_SUM_MASK = (1 << 30) - 1
_CELL_COLS = ("cell", "tile_id", "__cell")
_STATS = (
    "value_digest", "value_sum", "cell_min", "cell_max",
    "pixel_digest", "pixel_sum",
)
_RD = "__rd"


def row_stats(
    df: DataFrame, partition_cols: list[str]
) -> tuple[DataFrame, list]:
    """``df`` plus the row-hash column ``__rd``, and the aggregates over it:
    ``rows``, the two value-digest streams, ``cell_min``/``cell_max`` (first
    integral column of :data:`_CELL_COLS`) and the pixel-digest pair (an
    integral ``phash``). One md5 per row, map-side combinable."""
    data = [f for f in df.schema.fields if f.name not in partition_cols]
    cols = ", ".join("`" + f.name.replace("`", "``") + "`" for f in data)
    out = df.withColumn(_RD, F.expr(h60_spark(f"to_json(struct({cols}))")))
    aggs = [
        F.count(F.lit(1)).alias("rows"),
        F.expr(f"bit_xor({_RD})").alias("value_digest"),
        F.expr(f"sum({_RD} & {_SUM_MASK})").alias("value_sum"),
    ]
    ints = {f.name for f in data if isinstance(f.dataType, T.IntegralType)}
    cell = next((c for c in _CELL_COLS if c in ints), None)
    if cell:
        aggs += [F.min(cell).alias("cell_min"), F.max(cell).alias("cell_max")]
    if "phash" in ints:
        aggs += [
            F.expr("bit_xor(phash)").alias("pixel_digest"),
            F.expr(f"sum(phash & {_SUM_MASK})").alias("pixel_sum"),
        ]
    return out, aggs


def entry_stats(metrics: dict) -> dict:
    """An entry's ``stats`` from the aggregates of :func:`row_stats`."""
    return {
        k: None if metrics.get(k) is None else int(metrics[k]) for k in _STATS
    }


def _partition_values(rows, n: int) -> tuple[list[list], list[list]]:
    """Rows of (``n`` raw partition values, their ``n`` CAST AS STRING
    renderings) → distinct (raw JSON-primitive values, rendered strings).
    The strings match Spark's own partition-directory naming (Python
    ``str()`` renders doubles differently — 1e-07 vs 1.0E-7); the raw
    values feed typed DataFrame filters."""
    dedup: dict[tuple, list] = {}
    for r in rows:
        vals = list(r[:n])
        for v in vals:
            if v is not None and not isinstance(v, (str, int, float, bool)):
                raise ValueError(
                    f"partition value {v!r} is not JSON-primitive — use "
                    "string/int partition columns (cast dates to strings)"
                )
        # Hive stores '' and NULL in the same __HIVE_DEFAULT_PARTITION__
        # leaf and reads both back as NULL — canonicalize '' to NULL so
        # manifest identity matches storage identity (else a write into
        # the '' value would not replace the NULL partition's entry)
        key = tuple(None if s == "" else s for s in r[n:])
        dedup[key] = [None if v == "" else v for v in vals]
    return list(dedup.values()), [list(k) for k in dedup]


def _render_partitions(spark: SparkSession, tuples, fields) -> list:
    """(raw, CAST AS STRING) rows for raw partition ``tuples`` typed as
    ``fields``, cast by the JVM over an inline VALUES table — a local
    relation, so no Spark job runs."""
    cols = [f"col{i + 1}" for i in range(len(fields))]
    row = "(" + ", ".join(
        f"CAST(? AS {f.dataType.simpleString()})" for f in fields
    ) + ")"
    return spark.sql(
        f"SELECT {', '.join(cols)}, "
        + ", ".join(f"CAST({c} AS STRING)" for c in cols)
        + f" FROM VALUES {', '.join([row] * len(tuples))}",
        args=[v for t in tuples for v in t],
    ).collect()


def _parent_entries(
    spark: SparkSession, table: str, parent: int | None, partition_cols
) -> list[dict]:
    if parent is None:
        return []
    snap = load_snapshot(spark, table, parent)
    if snap["partition_cols"] != partition_cols:
        raise ValueError(
            f"partition_cols {partition_cols} != table's "
            f"{snap['partition_cols']}"
        )
    return snap["entries"]


def _next_entries(
    mode: str, parent_entries: list[dict], entry: dict | None, touched: set
) -> list[dict]:
    new = [entry] if entry else []
    if mode == "append":
        return parent_entries + new
    if mode == "overwrite":
        return new
    entries = []
    for e in parent_entries:
        keep = [
            i for i, p in enumerate(e["partitions_str"]) if tuple(p) not in touched
        ]
        if len(keep) == len(e["partitions"]):
            entries.append(e)
        elif keep:
            # entry straddles touched + untouched partitions: narrow it to
            # the kept partitions — reads then scan only the kept leaf dirs
            # (rows=None marks the narrowed state; its stats no longer hold)
            entries.append(
                {
                    **e,
                    "partitions": [e["partitions"][i] for i in keep],
                    "partitions_str": [e["partitions_str"][i] for i in keep],
                    "rows": None,
                    "stats": None,
                }
            )
    return entries + new


def _commit(spark: SparkSession, table: str, manifest: dict) -> int:
    # linearization point: creating v{N}.json is EXCLUSIVE, so of two
    # writers that both read parent N-1, exactly one owns version N; the
    # loser raises CommitConflict without touching the winner's manifest
    v = manifest["version"]
    _write_text_new(spark, f"{table}/{META}/v{v}.json", json.dumps(manifest))
    _write_text_atomic(spark, f"{table}/{META}/VERSION", str(v))
    return v


_UNSET = object()
_COMMIT_ATTEMPTS = 8


def snapshot_write(
    df: DataFrame,
    table: str,
    partition_cols: list[str] | None = None,
    mode: str = "append",
    replaced_partitions: list[tuple] | None = None,
    operation: str | None = None,
    expected_parent: int | None | object = _UNSET,
) -> int:
    """Commit ``df`` as a new snapshot of ``table``; returns the version.

    mode:
      - ``append`` — new files join the parent's file set;
      - ``overwrite`` — new files REPLACE the whole table;
      - ``overwrite_partitions`` — new files replace parent entries whose
        partition values intersect ``df``'s (Iceberg dynamic-partition
        overwrite; metadata-only diff, old files untouched on disk).
        ``replaced_partitions`` widens the replaced set beyond ``df``'s
        own values — required when a partition ends up EMPTY (a merge
        that deletes every row of a partition has no row carrying its
        value, yet the old rows must disappear).

    The data write is the only Spark work: one evaluation of ``df`` into a
    fresh immutable directory, whose row count, partition tuples and
    :func:`row_stats` land in the new manifest entry (with ``operation``)
    — nothing is read back. The commit is one exclusive manifest create.
    Readers pinned to any earlier version are unaffected.

    ``expected_parent`` is the optimistic-concurrency handle (Iceberg's
    expected-snapshot-id): a caller that PLANNED ``df`` against a pinned
    version must pass that version here, so the whole plan→commit span is
    linearized by the exclusive create of ``v{expected_parent+1}.json`` —
    a commit landing anywhere in between owns that manifest name first and
    this write raises :class:`CommitConflict` instead of silently
    rebuilding the intervening commit's partitions from stale rows. Left
    unset, ``df`` must not read the table: the parent is resolved after
    the data write, and a commit that lands first is rebased onto and
    retried (Iceberg's retry rule — appends and overwrites of a blind
    frame commute), up to a bounded number of attempts."""
    spark = df.sparkSession
    partition_cols = list(partition_cols or [])
    n = len(partition_cols)
    if mode not in ("append", "overwrite", "overwrite_partitions"):
        raise ValueError(f"unknown mode {mode}")
    if mode == "overwrite_partitions" and not partition_cols:
        raise ValueError("overwrite_partitions needs partition_cols")
    parent = (
        current_version(spark, table)
        if expected_parent is _UNSET
        else expected_parent
    )
    parent_entries = _parent_entries(spark, table, parent, partition_cols)

    write_id = uuid.uuid4().hex
    data_dir = f"{table}/{DATA}/{write_id}"
    # ONE evaluation of the input plan: an Observation in the write's
    # result stage gathers the entry's count, partition tuples and stats
    # as the rows stream into the files (a failed task attempt's partial
    # aggregates are discarded). REBALANCE (Iceberg's hash distribution)
    # clusters rows by partition value yet lets AQE split a skewed
    # partition across tasks and coalesce small ones. The manifest schema
    # pins partition-column types on read (inference would turn a string
    # partition value '00123' into int 123).
    observed, aggs = row_stats(
        df.hint("rebalance", *partition_cols) if partition_cols else df,
        partition_cols,
    )
    if partition_cols:
        rendered = [
            F.col(c).cast("string").alias(f"__s{i}")
            for i, c in enumerate(partition_cols)
        ]
        aggs.append(
            F.collect_set(F.struct(*partition_cols, *rendered)).alias("parts")
        )
    obs = Observation()
    writer = observed.observe(obs, *aggs).drop(_RD).write.mode("error")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(data_dir)
    metrics = obs.get
    entry = None
    new_parts_str: list[list] = []
    if metrics["rows"]:
        new_parts, new_parts_str = _partition_values(
            metrics.get("parts", []), n
        )
        entry = {
            "dir": f"{DATA}/{write_id}",
            "rows": int(metrics["rows"]),
            "partitions": new_parts,
            "partitions_str": new_parts_str,
            "operation": operation or mode,
            "stats": entry_stats(metrics),
        }
    else:
        # a zero-row commit carries no data dir (an empty partitioned
        # parquet dir has no readable schema) — the manifest alone carries
        # the change (e.g. a merge that only deletes); drop the empty dir
        _, fs, jdir = _hadoop_fs(spark, data_dir)
        fs.delete(jdir, True)
    touched = {tuple(p) for p in new_parts_str}
    if mode == "overwrite_partitions" and replaced_partitions:
        fields = df.select(*partition_cols).schema.fields
        rows = _render_partitions(spark, replaced_partitions, fields)
        touched |= {tuple(p) for p in _partition_values(rows, n)[1]}

    for attempt in range(1, _COMMIT_ATTEMPTS + 1):
        if expected_parent is _UNSET:
            latest = current_version(spark, table)
            if latest != parent:
                parent = latest
                parent_entries = _parent_entries(
                    spark, table, parent, partition_cols
                )
        manifest = {
            "version": (parent or 0) + 1,
            "parent": parent,
            "operation": operation or mode,
            "partition_cols": partition_cols,
            "entries": _next_entries(mode, parent_entries, entry, touched),
            "schema": df.schema.jsonValue(),
        }
        try:
            return _commit(spark, table, manifest)
        except CommitConflict:
            if expected_parent is not _UNSET or attempt == _COMMIT_ATTEMPTS:
                raise
            time.sleep(random.uniform(0, 0.01 * 2**attempt))


def read_snapshot(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    partition_filter: dict | None = None,
) -> DataFrame:
    """Pinned read of ``table`` at ``version`` (default: current).

    The file set is resolved HERE, once — concurrent commits cannot change
    the returned DataFrame's inputs (snapshot isolation). With
    ``partition_filter`` ({col: value}), directories whose manifest
    partition values all miss the filter are pruned before Spark ever
    lists them — metadata-only partition pruning; the residual in-file
    filter is applied on top so straddling entries stay correct.
    Non-partition columns in the filter skip the pruning step and apply
    as residual ``eqNullSafe`` row filters only (an unknown column name
    fails loudly at Spark analysis)."""
    from functools import reduce

    v = version if version is not None else current_version(spark, table)
    if v is None:
        raise FileNotFoundError(f"{table} has no committed snapshot")
    snap = load_snapshot(spark, table, v)
    pcols = snap["partition_cols"]
    entries = snap["entries"]
    if partition_filter:
        idx = {c: i for i, c in enumerate(pcols)}
        # '' ≡ NULL under hive partition storage (see _partition_values) —
        # but ONLY for partition columns; a data column stores '' and NULL
        # distinctly in parquet and must not be conflated
        partition_filter = {
            c: (None if w == "" and c in idx else w)
            for c, w in partition_filter.items()
        }
        # entry pruning applies only to actual partition columns; other
        # filter columns fall through to the residual row filter below
        # (a raw KeyError here named neither the table nor the valid
        # partition columns)
        part_filter = {c: w for c, w in partition_filter.items() if c in idx}
        if part_filter:
            entries = [
                e
                for e in entries
                if any(
                    all(p[idx[c]] == want for c, want in part_filter.items())
                    for p in e["partitions"]
                )
            ]
    # the manifest schema pins every column's type on read: partition-type
    # INFERENCE runs per data dir and would re-type a numeric-looking
    # string partition ('07' → int 7) in a dir holding only such values,
    # forking the column's type across entries
    schema = T.StructType.fromJson(snap["schema"])
    if not entries:
        return spark.createDataFrame([], schema)

    # entries narrowed by overwrite_partitions (rows=None) carry only a
    # SUBSET of their directory's partitions — read exactly those leaf
    # dirs (decoded-name matching, basePath restores partition columns);
    # intact entries read in one multi-path scan. Metadata-only pruning:
    # replaced partitions are never listed, let alone scanned.
    # one read per data dir (each dir is its own partition-discovery root —
    # a multi-path read across dirs trips CONFLICTING_DIRECTORY_STRUCTURES);
    # commit count bounds the union width, vacuum/compaction keeps it small
    parts = [
        spark.read.schema(schema).parquet(f"{table}/{e['dir']}")
        for e in entries
        if e.get("rows") is not None
    ]
    narrowed = [e for e in entries if e.get("rows") is None]
    if narrowed:
        jvm, fs, _ = _hadoop_fs(spark, table)
        for e in narrowed:
            base = f"{table}/{e['dir']}"
            jbase = jvm.org.apache.hadoop.fs.Path(base)
            leaves = []
            for p in e["partitions_str"]:
                rel = _fs_find_partition_dir(fs, jbase, tuple(p))
                if rel is None:
                    # manifest partitions are observed on the written rows
                    # (narrowing only subsets them),
                    # so every listed tuple HAS a leaf dir — an absent one
                    # means external deletion/corruption; skipping it
                    # would silently return incomplete data
                    raise FileNotFoundError(
                        f"snapshot v{v} of {table}: partition "
                        f"{dict(zip(pcols, p))} of entry {e['dir']} has no "
                        "leaf directory on disk — data dir vacuumed or "
                        "externally deleted"
                    )
                leaves.append("/".join([base] + rel))
            if leaves:
                parts.append(
                    spark.read.schema(schema)
                    .option("basePath", base)
                    .parquet(*leaves)
                )
    df = reduce(lambda a, b: a.unionByName(b), parts)
    if partition_filter:
        for c, want in partition_filter.items():
            df = df.filter(F.col(c).eqNullSafe(F.lit(want)))
    return df


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every nested array element, map value and struct field
    nullable — the form Spark reads back from a file footer, whatever the
    nullability of the frame that wrote it."""
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    return dt


def _refuse_schema_drift(
    table: str, updates: T.StructType, table_schema: dict
) -> None:
    """Raise unless ``updates`` has the table's columns and types
    (``table_schema``: the manifest's JSON schema; nullability ignored at
    every depth). Driver-side metadata only: no Spark job, no file read."""
    have = {
        f.name: _nullable(f.dataType)
        for f in T.StructType.fromJson(table_schema).fields
    }
    got = {f.name: _nullable(f.dataType) for f in updates.fields}
    if have == got:
        return
    retyped = sorted(c for c in set(have) & set(got) if have[c] != got[c])
    raise ValueError(
        f"merge_upsert_snapshot_table: updates schema drifts from the "
        f"table at {table} — missing from updates: "
        f"{sorted(set(have) - set(got))}, absent from the table: "
        f"{sorted(set(got) - set(have))}, re-typed: "
        f"{[(c, str(have[c]), str(got[c])) for c in retyped]}. Merging "
        "would silently drop, widen or fail on these columns; align the "
        "updates frame with the table schema (or migrate the table) first."
    )


def merge_upsert_snapshot_table(
    spark: SparkSession,
    table: str,
    updates: DataFrame,
    keys: list[str],
    deletes: DataFrame | None = None,
) -> int:
    """The Workcache diff protocol (Workcache.java:243-424: new → INSERT,
    changed → UPDATE, gone → DELETE) as ONE snapshot commit — the engine's
    only merge write-back. Keys match null-safely; readers keep the
    pre-merge snapshot until the atomic pointer flip, and the pre-merge
    version stays time-travelable.

    ``updates`` must carry exactly the table's columns and types (nested
    nullability aside): drift raises ``ValueError`` naming the missing,
    extra and re-typed columns, checked against the manifest before any
    Spark job runs. ``deletes`` is an optional key frame (the DELETE set).

    Per touched partition (updates' partitions ∪ current partitions of
    updated/deleted keys — an update that moves a key between partitions
    rewrites both): new rows = current rows minus upd/del keys, plus
    updates. Untouched partitions are metadata-carried, zero I/O. A
    partition whose rows are all deleted is passed explicitly as replaced
    so its old entry is still dropped."""
    import functools

    # resolve the version ONCE and plan everything against it — resolving
    # separately for load_snapshot and read_snapshot let a commit landing
    # between the two mix one version's partition_cols/entries with
    # another version's rows
    v = current_version(spark, table)
    if v is None:
        raise FileNotFoundError(
            f"{table} has no committed snapshot — snapshot_write an "
            "initial version before merging into it"
        )
    snap = load_snapshot(spark, table, v)
    partition_cols = snap["partition_cols"]
    if not partition_cols:
        raise ValueError("merge needs a partitioned snapshot table")
    _refuse_schema_drift(table, updates.schema, snap["schema"])
    current = read_snapshot(spark, table, version=v)
    # canonicalize '' partition values to NULL before any comparison —
    # hive storage conflates them, and current (read back from disk)
    # always carries NULL (see _partition_values). Same for the delete
    # frame's partition-valued KEY columns: a delete keyed on city=''
    # must hit the stored city=NULL row, not silently no-op
    for c, t in updates.select(*partition_cols).dtypes:
        if t == "string":
            updates = updates.withColumn(
                c, F.when(F.col(c) == "", F.lit(None)).otherwise(F.col(c))
            )
    if deletes is not None:
        for c, t in deletes.dtypes:
            if c in partition_cols and t == "string":
                deletes = deletes.withColumn(
                    c,
                    F.when(F.col(c) == "", F.lit(None)).otherwise(F.col(c)),
                )

    def ns(left: str, right: str, cols: list[str]):
        return functools.reduce(
            lambda a, b: a & b,
            [F.col(f"{left}.{c}").eqNullSafe(F.col(f"{right}.{c}")) for c in cols],
        )

    upd_keys = updates.select(*keys).dropDuplicates()
    del_keys = deletes.select(*keys).dropDuplicates() if deletes is not None else None
    hit_keys = (
        upd_keys if del_keys is None else upd_keys.unionByName(del_keys)
    ).dropDuplicates()
    touched = (
        updates.select(*partition_cols)
        .unionByName(
            current.alias("__c")
            .join(hit_keys.alias("__h"), ns("__c", "__h", keys), "left_semi")
            .select(*partition_cols)
        )
        .dropDuplicates()
    )
    touched_vals = [tuple(r[c] for c in partition_cols) for r in touched.collect()]
    kept = current.alias("__cur").join(
        touched.alias("__t"), ns("__cur", "__t", partition_cols), "left_semi"
    )
    kept = kept.alias("__k").join(
        hit_keys.alias("__h2"), ns("__k", "__h2", keys), "left_anti"
    )
    merged = kept.unionByName(updates.select(*kept.columns))
    # expected_parent=v: the merge was PLANNED against v — if any commit
    # lands between the pin above and the manifest create, the exclusive
    # create of v{v+1}.json fails and this raises CommitConflict instead
    # of rebuilding the touched partitions from pre-commit rows
    return snapshot_write(
        merged,
        table,
        partition_cols,
        mode="overwrite_partitions",
        replaced_partitions=touched_vals,
        expected_parent=v,
    )


def compact(spark: SparkSession, table: str) -> int:
    """Rewrite the CURRENT snapshot's file set into one fresh data dir and
    commit it as an ``overwrite`` (Iceberg's ``rewrite_data_files``): the
    per-entry union in :func:`read_snapshot` collapses back to a single
    scan. Pure data reorganization — row contents identical (the commit
    is made from a pinned read of the current version, so even a
    concurrent reader is unaffected), history preserved, old dirs
    reclaimed by the next :func:`vacuum`.

    Scale note: each append/merge widens the read plan by one scan; run
    this whenever the entry count crosses the tens — the rewrite cost is
    one full-table pass, the same job a first write costs."""
    v = current_version(spark, table)  # pin once: entries + rows from ONE version
    if v is None:
        raise FileNotFoundError(
            f"{table} has no committed snapshot — nothing to compact"
        )
    snap = load_snapshot(spark, table, v)
    pinned = read_snapshot(spark, table, version=v)
    # expected_parent=v: a concurrent append between the pin and the
    # manifest create must surface as CommitConflict — an unpinned parent
    # would let the compacted (pre-append) file set overwrite it silently
    return snapshot_write(
        pinned, table, snap["partition_cols"], mode="overwrite",
        operation="compact", expected_parent=v,
    )


def rollback(spark: SparkSession, table: str, version: int) -> int:
    """Metadata-only commit re-pointing the table at ``version``'s file
    set (Iceberg ``rollback_to_snapshot``); history is preserved.

    Refuses to roll back to a version whose data directories
    :func:`vacuum` has already reclaimed — committing such a manifest
    would leave the CURRENT snapshot unreadable."""
    cur = current_version(spark, table)
    snap = load_snapshot(spark, table, version)
    jvm, fs, _ = _hadoop_fs(spark, table)
    missing = [
        e["dir"]
        for e in snap["entries"]
        if not fs.exists(jvm.org.apache.hadoop.fs.Path(f"{table}/{e['dir']}"))
    ]
    if missing:
        raise ValueError(
            f"cannot rollback {table} to v{version}: data dirs vacuumed "
            f"({', '.join(missing)})"
        )
    return _commit(
        spark,
        table,
        {
            "version": (cur or 0) + 1,
            "parent": cur,
            "operation": f"rollback_to_v{version}",
            "partition_cols": snap["partition_cols"],
            "entries": snap["entries"],
            "schema": snap["schema"],
        },
    )


def vacuum(
    spark: SparkSession,
    table: str,
    keep_last: int = 2,
    orphan_grace_s: float = 3600.0,
) -> list[str]:
    """Delete data directories referenced ONLY by snapshots older than the
    last ``keep_last`` versions; returns the removed dirs. Time travel
    stays valid for every kept version (their file sets are untouched).

    Directories referenced by NO manifest at all are either aborted
    commits (safe to reclaim) or a commit IN FLIGHT — data written,
    manifest not yet committed. The two are indistinguishable from the
    filesystem, so unreferenced dirs are only removed once older than
    ``orphan_grace_s`` (Iceberg's remove_orphan_files applies the same
    age-based rule, default 3 days). Pass 0 to force-reclaim when no
    writer can be active."""
    cur = current_version(spark, table)
    if cur is None:
        return []
    keep_versions = set(range(max(1, cur - keep_last + 1), cur + 1))
    keep_dirs = set()
    referenced = set()
    for v in range(1, cur + 1):
        for e in load_snapshot(spark, table, v)["entries"]:
            referenced.add(e["dir"])
            if v in keep_versions:
                keep_dirs.add(e["dir"])
    jvm, fs, _ = _hadoop_fs(spark, table)
    data_path = jvm.org.apache.hadoop.fs.Path(f"{table}/{DATA}")
    removed = []
    cutoff_ms = (time.time() - orphan_grace_s) * 1000.0
    if fs.exists(data_path):
        for st in fs.listStatus(data_path):
            rel = f"{DATA}/{st.getPath().getName()}"
            if not st.isDirectory() or rel in keep_dirs:
                continue
            if rel not in referenced and st.getModificationTime() > cutoff_ms:
                continue  # possibly an in-flight commit — age it out
            fs.delete(st.getPath(), True)
            removed.append(rel)
    return removed

"""Partitioned table sinks: Iceberg-`overwritePartitions` semantics on plain
parquet.

The reference maintains its result tables with per-row INSERT/UPDATE/DELETE
driven by the Workcache diff (/root/reference/src/de/regioosm/
theoreticalhousenumbercore/util/Workcache.java:243-424) inside a
per-municipality transaction. The Spark-native equivalent is partition-level
replacement: results are partitioned by the evaluation unit (job/municipality
or cell prefix), and a re-evaluation overwrites ONLY the partitions it
recomputed — readers of other partitions are unaffected, and the old
snapshot stays readable until the swap (parquet dynamic partition overwrite;
with an Iceberg catalog the same calls map to ``writeTo(...).
overwritePartitions()`` and gain snapshot isolation).

Scale notes: partition count should track the evaluation-unit cardinality
(10⁴-10⁵ municipalities / cell prefixes), not row count; each partition's
rewrite is a narrow map-only job when upstream already partitioned the
DataFrame (`repartition(partition_cols)` avoids tiny-file explosions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    dynamic: bool = True,
) -> None:
    """Write/overwrite a partitioned parquet table. With ``dynamic=True``
    only partitions present in ``df`` are replaced (Iceberg
    overwritePartitions parity); with False the whole table is replaced.

    The overwrite mode travels as a PER-WRITE DataFrameWriter option
    (honored over the session conf since Spark 2.4) — mutating the
    session-global ``partitionOverwriteMode`` conf here raced concurrent
    driver threads (checkpoint.py's executor pattern): another writer
    flipping the shared conf between set and execute could turn a
    two-partition dynamic overwrite into a whole-table static wipe."""
    (
        df.repartition(*partition_cols)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic" if dynamic else "static")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _decode_part_dir(name: str) -> tuple[str, str | None]:
    """On-disk ``col=escaped-value`` directory name → (col, decoded value).
    Spark percent-escapes special characters (space, ':', '/', …) and writes
    NULL as __HIVE_DEFAULT_PARTITION__ — matching must happen on DECODED
    values, never by string-composing the expected path."""
    from urllib.parse import unquote

    col, _, raw = name.partition("=")
    return col, (None if raw == _HIVE_NULL else unquote(raw))


def _hadoop_fs(spark: SparkSession, path: str):
    """(jvm, FileSystem, Path) for ``path`` through Hadoop's FileSystem API —
    the commit below works on any Hadoop filesystem (file:, hdfs:, …), not
    just driver-local POSIX paths. On rename-as-copy object stores (s3a)
    it still commits correctly but each swap costs a server-side copy;
    use an Iceberg catalog there instead."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return jvm, fs, jpath


def _fs_leaf_partition_dirs(fs, base, depth: int) -> list[list[str]]:
    """Name-components of every ``col=value`` partition leaf dir exactly
    ``depth`` levels under ``base``."""
    out: list[list[str]] = []

    def rec(p, rel: list[str], d: int) -> None:
        if d == 0:
            out.append(rel)
            return
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if st.isDirectory() and "=" in name and not name.startswith(("_", ".")):
                rec(st.getPath(), rel + [name], d - 1)

    rec(base, [], depth)
    return out


def _fs_first_data_file(fs, base) -> str | None:
    """Full path string of the first parquet data file under ``base``
    (depth-first through real partition dirs, skipping ``_``/``.``
    metadata paths), or None for an empty table. One footer is enough to
    validate the writer contract because this sink is the table's only
    writer and always writes a uniform schema."""
    stack = [base]
    while stack:
        p = stack.pop()
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if name.startswith(("_", ".")):
                continue
            if st.isDirectory():
                stack.append(st.getPath())
            elif name.endswith(".parquet"):
                return st.getPath().toString()
    return None


def _fs_find_partition_dir(fs, base, values: tuple) -> list[str] | None:
    """Name-components of the partition dir under ``base`` whose DECODED
    values equal ``values`` (robust to Hive percent-escaping and the NULL
    marker), or None if absent.

    Only real ``col=value`` dirs are candidates — ``_stage_``/``_old_``
    and other metadata dirs must never match (a ``_stage_<uuid>`` name
    decodes to value '' via ``partition('=')``, and matching it would
    move the in-flight staging dir to trash mid-commit). Hive stores both
    NULL and the empty string as __HIVE_DEFAULT_PARTITION__, so a wanted
    '' maps to the NULL marker before comparing."""
    cur = base
    rel: list[str] = []
    for want in values:
        if want == "":
            want = None
        nxt = None
        if fs.exists(cur):
            for st in fs.listStatus(cur):
                if not st.isDirectory():
                    continue
                name = st.getPath().getName()
                if "=" not in name or name.startswith(("_", ".")):
                    continue
                if _decode_part_dir(name)[1] == want:
                    nxt = st.getPath()
                    rel.append(name)
                    break
        if nxt is None:
            return None
        cur = nxt
    return rel


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


def _fs_rename(fs, src, dst) -> None:
    if not fs.rename(src, dst):
        raise IOError(f"rename failed: {src} -> {dst}")


def merge_upsert_partitioned(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    partition_cols: list[str],
    deletes: DataFrame | None = None,
) -> None:
    """MERGE INTO parity without a table format (Workcache write-back,
    Workcache.java:243-424: new→INSERT, changed→UPDATE, deleted→DELETE):
    affected partitions are recomputed as (current rows neither updated nor
    deleted) ∪ (update rows) and committed with a SINGLE data write.
    Untouched partitions keep their files byte-identical.

    ``updates`` must carry the partition columns. ``deletes`` is an optional
    key DataFrame listing rows to drop (the diff protocol's DELETE set).
    Touched partitions are derived from the update rows AND from the
    current rows matching update/delete keys, so an update that moves a
    key to a different partition also rewrites the key's old partition
    (no stale duplicate left behind).

    Commit protocol (parquet cannot overwrite a path it is reading, and the
    old staging-table double-write cost 2× I/O on every touched partition):

    1. merged partitions are written ONCE into ``_stage_<uuid>`` INSIDE the
       destination table (underscore paths are invisible to readers);
    2. each staged partition directory is swapped in via the Hadoop
       FileSystem API — the partition's PREVIOUS directory moves to
       ``_old_<uuid>`` first, so at no point is any partition's only copy
       deleted; then the staged dir renames into place (metadata ops at
       partition count, never row count);
    3. touched partitions whose merged row count dropped to ZERO have no
       staged dir; their on-disk dirs (located by DECODED value matching —
       Hive percent-escaping / NULL marker safe; expected values rendered
       by the JVM ``CAST(value AS STRING)``, which is exactly the directory
       naming, where Python ``str()`` diverges for doubles/timestamps)
       also move to ``_old_<uuid>``;
    4. on success both ``_stage_``/``_old_`` dirs are deleted; on failure
       they are LEFT IN PLACE (still invisible to readers) so every
       partition's data survives for recovery — per-partition atomic, the
       same guarantee as Hive/Spark's own dynamic-overwrite commit. An
       Iceberg catalog upgrades this to one atomic multi-partition
       snapshot swap with the SAME single data write.
    """
    import uuid

    import functools

    from pyspark.sql import functions as F

    # every semi/anti join below matches NULL-SAFELY: plain equi-joins never
    # match NULL values, which would (a) drop every not-updated row of a
    # NULL partition from the merged output — the staged overwrite would
    # then erase them — and (b) make deletes of NULL-keyed rows silent
    # no-ops. EqualNullSafe is still a hash-joinable equi-condition.
    def ns(left: str, right: str, cols: list[str]):
        return functools.reduce(
            lambda a, b: a & b,
            [F.col(f"{left}.{c}").eqNullSafe(F.col(f"{right}.{c}")) for c in cols],
        )

    # partition-column comparisons additionally fold '' to NULL on string
    # columns: Hive stores both in __HIVE_DEFAULT_PARTITION__, so at the
    # STORAGE layer they are one partition — an update into the '' value
    # must pull the NULL partition's current rows into the merge, or the
    # staged hive-null dir would replace them (data loss)
    str_cols = {c for c, t in dict(updates.dtypes).items() if t == "string"}

    def pn(side: str, c: str):
        col = F.col(f"{side}.{c}")
        if c in str_cols:
            return F.when(col == "", F.lit(None)).otherwise(col)
        return col

    def ns_part(left: str, right: str):
        return functools.reduce(
            lambda a, b: a & b,
            [pn(left, c).eqNullSafe(pn(right, c)) for c in partition_cols],
        )

    # refuse to merge over an interrupted commit: a crash between the
    # trash-move and stage-rename loops below leaves a partition's only
    # copy under _old_<uuid> (invisible to readers) — building 'current'
    # from the truncated table would commit the loss permanently. The
    # leftover dirs are the recovery record; surface them.
    jvm0, fs0, root0 = _hadoop_fs(spark, path)
    if fs0.exists(root0):
        leftovers = [
            st.getPath().getName()
            for st in fs0.listStatus(root0)
            if st.getPath().getName().startswith(("_stage_", "_old_"))
        ]
        if leftovers:
            raise RuntimeError(
                f"merge_upsert_partitioned: {path} carries interrupted-"
                f"commit remnants {leftovers} — a previous merge crashed "
                "mid-swap. Restore the partition dirs from the _old_ dir "
                "(its contents are the pre-merge copies of the touched "
                "partitions), or delete the remnants if the table has "
                "been verified complete, then re-run."
            )
    # read with the updates frame's schema: parquet partition-column
    # INFERENCE would re-type numeric-looking string partition values
    # ('07' → int 7 → re-rendered '7'), forking one logical partition
    # into sibling dirs (part=07 alive next to part=7) that later
    # deletes/moves only half-clean. The merge contract already requires
    # ``updates`` to match the table's schema, so it is the authority —
    # but a forced schema resolves by NAME and silently NULLs/drops
    # drifted columns, so the contract is VERIFIED first against one
    # data-file footer (driver-side metadata read; partition columns
    # live in dir names, not footers, so only data columns compare).
    if fs0.exists(root0):
        probe = _fs_first_data_file(fs0, root0)
        if probe is not None:
            # types compare with nullability ignored: the footer reads
            # back nullable all the way down, so a non-nullable array
            # element or struct field in ``updates`` is not drift
            on_disk = {
                f.name: _nullable(f.dataType)
                for f in spark.read.parquet(probe).schema.fields
            }
            expected = {
                f.name: _nullable(f.dataType)
                for f in updates.schema.fields
                if f.name not in partition_cols
            }
            if on_disk != expected:
                missing = sorted(set(on_disk) - set(expected))
                extra = sorted(set(expected) - set(on_disk))
                retyped = sorted(
                    c
                    for c in set(on_disk) & set(expected)
                    if on_disk[c] != expected[c]
                )
                raise ValueError(
                    f"merge_upsert_partitioned: updates schema drifts from "
                    f"the table at {path} — missing from updates: {missing}, "
                    f"absent on disk: {extra}, re-typed: "
                    f"{[(c, str(on_disk[c]), str(expected[c])) for c in retyped]}. "
                    "A forced-schema read would silently NULL or drop these "
                    "columns in every rewritten partition; align the updates "
                    "frame with the table schema (or migrate the table) "
                    "before merging."
                )
    current = spark.read.schema(updates.schema).parquet(path)
    upd_keys = updates.select(*keys).dropDuplicates()
    del_keys = deletes.select(*keys).dropDuplicates() if deletes is not None else None
    touched = updates.select(*partition_cols).dropDuplicates()
    # partitions holding the CURRENT row of any updated/deleted key are
    # touched too: an update whose partition value differs from the
    # current row's must rewrite the old partition (drop the stale copy),
    # and deletes must rewrite the partitions their rows live in
    hit_keys = (
        upd_keys if del_keys is None else upd_keys.unionByName(del_keys)
    ).dropDuplicates()
    touched = touched.unionByName(
        current.alias("__c")
        .join(hit_keys.alias("__d"), ns("__c", "__d", keys), "left_semi")
        .select(*partition_cols)
        .dropDuplicates()
    ).dropDuplicates()
    # Collect the touched partition tuples FIRST (partition-count scale,
    # never row scale): raw values feed a pushed-down partition filter,
    # JVM-rendered strings compare equal to the directory names later.
    touched_rows = touched.select(
        *partition_cols,
        *[F.col(c).cast("string").alias(f"__s_{c}") for c in partition_cols],
    ).collect()
    # Build 'kept' from a partition-pruned scan when the touched set is
    # small: the semi-join variant re-reads the WHOLE table to keep rows
    # of a handful of partitions, while an OR-of-tuple-equalities filter
    # on partition columns prunes the parquet scan to exactly the touched
    # directories (on a 10^5-partition table this halves the merge's
    # dominant I/O). Beyond the cap the filter expression would bloat the
    # plan — fall back to the semi-join.
    if len(touched_rows) <= 128:

        def tuple_cond(row):
            conds = []
            for c in partition_cols:
                v = row[c]
                col = F.col(c)
                if v is None or v == "":
                    # hive conflates NULL and '' in one partition
                    cond = (
                        col.isNull() | (col == "")
                        if c in str_cols
                        else col.isNull()
                    )
                else:
                    cond = col == F.lit(v)
                conds.append(cond)
            return functools.reduce(lambda a, b: a & b, conds)

        kept = current.filter(
            functools.reduce(
                lambda a, b: a | b,
                [tuple_cond(r) for r in touched_rows],
                F.lit(False),
            )
        )
    else:
        kept = current.alias("__cur").join(
            touched.alias("__tch"), ns_part("__cur", "__tch"), "left_semi"
        )
    kept = kept.alias("__k1").join(
        upd_keys.alias("__u"), ns("__k1", "__u", keys), "left_anti"
    )
    if del_keys is not None:
        kept = kept.alias("__k2").join(
            del_keys.alias("__d2"), ns("__k2", "__d2", keys), "left_anti"
        )
    merged = kept.unionByName(updates.select(*current.columns))

    run_id = uuid.uuid4().hex
    stage_name, trash_name = f"_stage_{run_id}", f"_old_{run_id}"
    write_partitioned(
        merged, path.rstrip("/") + "/" + stage_name, partition_cols, dynamic=False
    )
    jvm, fs, root = _hadoop_fs(spark, path)
    Path = jvm.org.apache.hadoop.fs.Path
    stage, trash = Path(root, stage_name), Path(root, trash_name)
    staged_rels = _fs_leaf_partition_dirs(fs, stage, len(partition_cols))
    staged_vals = {
        tuple(_decode_part_dir(n)[1] for n in rel) for rel in staged_rels
    }
    emptied_rels = []
    for row in touched_rows:
        # Hive stores NULL and '' identically (__HIVE_DEFAULT_PARTITION__,
        # decoded as None), so an empty-string value normalizes to None
        # before any directory matching
        want = tuple(
            None if row[f"__s_{c}"] == "" else row[f"__s_{c}"]
            for c in partition_cols
        )
        if want not in staged_vals:
            rel = _fs_find_partition_dir(fs, root, want)
            if rel is not None:
                emptied_rels.append(rel)
    # all enumeration done — now the swap; any failure leaves _stage_/_old_
    # behind with every partition recoverable
    for rel in staged_rels + emptied_rels:
        dest = Path(root, "/".join(rel))
        if fs.exists(dest):
            tdest = Path(trash, "/".join(rel))
            fs.mkdirs(tdest.getParent())
            _fs_rename(fs, dest, tdest)
    for rel in staged_rels:
        dest = Path(root, "/".join(rel))
        if len(rel) > 1:
            fs.mkdirs(dest.getParent())
        _fs_rename(fs, Path(stage, "/".join(rel)), dest)
    fs.delete(stage, True)
    fs.delete(trash, True)

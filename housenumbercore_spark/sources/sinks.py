"""Shared Hadoop-FileSystem helpers for the engine's on-disk tables.

``_hadoop_fs`` resolves a path to its Hadoop FileSystem (checkpoints,
CSV import, streaming sinks and snapshot tables all commit through it);
``_decode_partition_dir`` and ``_fs_find_partition_dir`` locate a Hive-style
``col=value`` partition directory by its DECODED values. The Workcache
write-back itself (Workcache.java:243-424) is one snapshot commit:
sources/snapshots.merge_upsert_snapshot_table.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _decode_partition_dir(name: str) -> tuple[str, str | None]:
    """On-disk ``col=escaped-value`` directory name → (col, decoded value).
    Spark percent-escapes special characters (space, ':', '/', …) and writes
    NULL as __HIVE_DEFAULT_PARTITION__ — matching must happen on DECODED
    values, never by string-composing the expected path."""
    from urllib.parse import unquote

    col, _, raw = name.partition("=")
    return col, (None if raw == _HIVE_NULL else unquote(raw))


def _hadoop_fs(spark: SparkSession, path: str):
    """(jvm, FileSystem, Path) for ``path`` through Hadoop's FileSystem API —
    commits built on it work on any Hadoop filesystem (file:, hdfs:, …),
    not just driver-local POSIX paths. On rename-as-copy object stores
    (s3a) each rename costs a server-side copy; use an Iceberg catalog
    there instead."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return jvm, fs, jpath


def _fs_find_partition_dir(fs, base, values: tuple) -> list[str] | None:
    """Name-components of the partition dir under ``base`` whose DECODED
    values equal ``values`` (robust to Hive percent-escaping and the NULL
    marker), or None if absent.

    Only real ``col=value`` dirs are candidates — underscore/dot-prefixed
    metadata dirs must never match (a name without '=' decodes to value ''
    via ``partition('=')`` and would collide with a wanted ''). Hive
    stores both NULL and the empty string as __HIVE_DEFAULT_PARTITION__,
    so a wanted '' maps to the NULL marker before comparing."""
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
                if _decode_partition_dir(name)[1] == want:
                    nxt = st.getPath()
                    rel.append(name)
                    break
        if nxt is None:
            return None
        cur = nxt
    return rel

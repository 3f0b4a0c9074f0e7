"""The Workcache upsert sink — snapshots.merge_upsert_snapshot_table — on
the partition-value and schema edge cases of the write-back, plus the
Hadoop-FS partition-dir helper that sources/sinks.py shares."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from housenumbercore_spark.sources import sinks as SK
from housenumbercore_spark.sources import snapshots as SN


def _jobs_df(spark, jobs, tag):
    rows = [(j, i, f"{tag}-{j}-{i}") for j in jobs for i in range(5)]
    return spark.createDataFrame(rows, "job_id int, rec_id int, payload string")


def _table(df, partition_cols, prefix):
    path = tempfile.mkdtemp(prefix=prefix) + "/tbl"
    SN.snapshot_write(df, path, partition_cols)
    return path


def _merge(spark, path, updates, keys, deletes=None):
    return SN.merge_upsert_snapshot_table(
        spark, path, updates, keys, deletes=deletes
    )


def _current_partitions(spark, path):
    snap = SN.load_snapshot(spark, path, SN.current_version(spark, path))
    return {tuple(p) for e in snap["entries"] for p in e["partitions_str"]}


def test_merge_upsert_diff_protocol(spark):
    path = _table(_jobs_df(spark, [0, 1], "v1"), ["job_id"], "hns_merge_")

    # re-evaluate job 1: rec 0 updated, rec 9 inserted, rec 4 deleted,
    # recs 1-3 untouched (absent from updates → kept)
    updates = spark.createDataFrame(
        [(1, 0, "v2-upd"), (1, 9, "v2-new")],
        "job_id int, rec_id int, payload string",
    )
    deletes = spark.createDataFrame([(1, 4)], "job_id int, rec_id int")
    _merge(spark, path, updates, ["job_id", "rec_id"], deletes=deletes)

    got = {
        (r.job_id, r.rec_id): r.payload
        for r in SN.read_snapshot(spark, path).collect()
    }
    assert len([k for k in got if k[0] == 0]) == 5, "untouched job 0 intact"
    assert got[(1, 0)] == "v2-upd", "matched row updated"
    assert got[(1, 1)] == "v1-1-1", "unmatched row kept"
    assert (1, 4) not in got, "delete-set row removed"
    assert got[(1, 9)] == "v2-new", "new row inserted"
    assert len([k for k in got if k[0] == 1]) == 5


def test_merge_upsert_clears_emptied_partition(spark):
    """Deleting every row of a partition must drop the partition from the
    current snapshot — no merged row carries its value, yet its old rows
    must not be resurrected."""
    path = _table(_jobs_df(spark, [0, 1], "v1"), ["job_id"], "hns_merge_empty_")

    updates = spark.createDataFrame([], "job_id int, rec_id int, payload string")
    deletes = spark.createDataFrame(
        [(1, i) for i in range(5)], "job_id int, rec_id int"
    )
    _merge(spark, path, updates, ["job_id", "rec_id"], deletes=deletes)

    assert _current_partitions(spark, path) == {("0",)}
    got = SN.read_snapshot(spark, path)
    assert got.count() == 5
    assert [r.job_id for r in got.select("job_id").distinct().collect()] == [0]


def test_merge_upsert_escaped_partition_values(spark):
    """Partition values Spark percent-escapes in directory names (space,
    ':', '/') must be located by their DECODED values: the kept partitions
    of a narrowed entry are read from their escaped leaf dirs, and an
    emptied escaped partition disappears."""
    rows = (
        [("a b:c", i, f"e-{i}") for i in range(3)]
        + [("x/y", i, f"s-{i}") for i in range(3)]
        + [("plain", i, f"p-{i}") for i in range(3)]
    )
    df = spark.createDataFrame(rows, "city string, rec_id int, payload string")
    path = _table(df, ["city"], "hns_merge_esc_")
    data_dir = os.path.join(path, SN.load_snapshot(spark, path, 1)["entries"][0]["dir"])
    on_disk = set(os.listdir(data_dir))
    assert "city=a b:c" not in on_disk and "city=x/y" not in on_disk, (
        "precondition: Spark escapes the directory names"
    )

    # touch 'plain' only: the v1 entry narrows to the two escaped values
    _merge(
        spark, path,
        spark.createDataFrame(
            [("plain", 0, "p-0-v2")], "city string, rec_id int, payload string"
        ),
        ["city", "rec_id"],
    )
    got = {(r.city, r.rec_id): r.payload
           for r in SN.read_snapshot(spark, path).collect()}
    assert len(got) == 9
    assert got[("a b:c", 2)] == "e-2" and got[("x/y", 1)] == "s-1"
    assert got[("plain", 0)] == "p-0-v2"

    # then empty the 'a b:c' partition
    _merge(
        spark, path,
        spark.createDataFrame([], "city string, rec_id int, payload string"),
        ["city", "rec_id"],
        deletes=spark.createDataFrame(
            [("a b:c", i) for i in range(3)], "city string, rec_id int"
        ),
    )
    got = SN.read_snapshot(spark, path)
    assert got.count() == 6
    assert {r.city for r in got.select("city").distinct().collect()} == {
        "x/y", "plain"
    }


def test_merge_upsert_clears_emptied_double_partition(spark):
    """Partition values whose JVM rendering differs from Python str() —
    doubles like 1e-7 render as '1.0E-7' on disk — must still be matched
    for emptied-partition cleanup (replaced values are rendered by CAST AS
    STRING in the JVM, not Python formatting)."""
    df = spark.createDataFrame(
        [(1e-7, i, f"a-{i}") for i in range(3)]
        + [(2.5, i, f"b-{i}") for i in range(3)],
        "bucket double, rec_id int, payload string",
    )
    path = _table(df, ["bucket"], "hns_merge_dbl_")
    assert ("1.0E-7",) in _current_partitions(spark, path)

    updates = spark.createDataFrame([], "bucket double, rec_id int, payload string")
    deletes = spark.createDataFrame(
        [(1e-7, i) for i in range(3)], "bucket double, rec_id int"
    )
    _merge(spark, path, updates, ["bucket", "rec_id"], deletes=deletes)
    assert _current_partitions(spark, path) == {("2.5",)}
    got = SN.read_snapshot(spark, path)
    assert got.count() == 3
    assert [r.bucket for r in got.select("bucket").distinct().collect()] == [2.5]


def test_merge_upsert_null_partition_value(spark):
    """A NULL partition value lands in __HIVE_DEFAULT_PARTITION__; both an
    update inside it and deleting all its rows must resolve it by the NULL
    marker, never by string composition."""
    rows = [(None, 0, "n-0"), (None, 1, "n-1"), ("x", 0, "x-0")]
    df = spark.createDataFrame(rows, "city string, rec_id int, payload string")
    path = _table(df, ["city"], "hns_merge_null_")
    data_dir = os.path.join(path, SN.load_snapshot(spark, path, 1)["entries"][0]["dir"])
    assert os.path.exists(os.path.join(data_dir, "city=__HIVE_DEFAULT_PARTITION__"))

    # update one row inside the NULL partition
    updates = spark.createDataFrame(
        [(None, 0, "n-0-v2")], "city string, rec_id int, payload string"
    )
    _merge(spark, path, updates, ["city", "rec_id"])
    got = {(r.city, r.rec_id): r.payload
           for r in SN.read_snapshot(spark, path).collect()}
    assert got[(None, 0)] == "n-0-v2" and got[(None, 1)] == "n-1"
    assert got[("x", 0)] == "x-0" and len(got) == 3

    # now delete every NULL-partition row
    empt = spark.createDataFrame([], "city string, rec_id int, payload string")
    deletes = spark.createDataFrame(
        [(None, 0), (None, 1)], "city string, rec_id int"
    )
    _merge(spark, path, empt, ["city", "rec_id"], deletes=deletes)
    assert _current_partitions(spark, path) == {("x",)}
    left = SN.read_snapshot(spark, path)
    assert left.count() == 1 and left.collect()[0].payload == "x-0"


def test_merge_upsert_randomized_vs_duckdb(spark):
    """Property-style check of the whole merge: random base/updates/deletes
    (including partition-moving updates), expected table computed
    independently in DuckDB from the same rows."""
    import duckdb
    import numpy as np

    rng = np.random.default_rng(1234)
    n = 400
    base = [(int(k), int(k % 7), f"v{int(rng.integers(0, 1000))}") for k in range(n)]
    upd_keys = sorted(rng.choice(n, size=120, replace=False).tolist())
    new_keys = list(range(n, n + 30))
    # every fifth updated key moves to another partition
    updates = [
        (int(k), int((k + (k % 5 == 0)) % 7), f"u{int(rng.integers(0, 1000))}")
        for k in upd_keys + new_keys
    ]
    del_keys = sorted(
        rng.choice([k for k in range(n) if k not in set(upd_keys)],
                   size=60, replace=False).tolist()
    )

    schema = "k int, part int, payload string"
    path = _table(spark.createDataFrame(base, schema), ["part"], "hns_merge_rand_")
    _merge(
        spark, path, spark.createDataFrame(updates, schema), ["k"],
        deletes=spark.createDataFrame([(k,) for k in del_keys], "k int"),
    )
    got = sorted(
        (r.k, r.part, r.payload)
        for r in SN.read_snapshot(spark, path).collect()
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE base (k int, part int, payload varchar)")
    con.executemany("INSERT INTO base VALUES (?,?,?)", base)
    con.execute("CREATE TABLE upd (k int, part int, payload varchar)")
    con.executemany("INSERT INTO upd VALUES (?,?,?)", updates)
    con.execute("CREATE TABLE del (k int)")
    con.executemany("INSERT INTO del VALUES (?)", [(k,) for k in del_keys])
    want = sorted(
        tuple(r) for r in con.execute(
            "SELECT k, part, payload FROM upd UNION ALL "
            "SELECT k, part, payload FROM base WHERE k NOT IN (SELECT k FROM upd) "
            "AND k NOT IN (SELECT k FROM del)"
        ).fetchall()
    )
    assert got == want


def test_merge_upsert_clears_emptied_nested_partition(spark):
    """Multi-column partitioning: emptying one (job_id, day) partition
    drops exactly that tuple; its sibling under the same job_id stays."""
    rows = [(j, d, i, f"v1-{j}-{d}-{i}") for j in (0, 1) for d in (10, 20)
            for i in range(3)]
    df = spark.createDataFrame(
        rows, "job_id int, day int, rec_id int, payload string"
    )
    path = _table(df, ["job_id", "day"], "hns_merge_nested_")

    updates = spark.createDataFrame(
        [], "job_id int, day int, rec_id int, payload string"
    )
    deletes = spark.createDataFrame(
        [(1, 20, i) for i in range(3)], "job_id int, day int, rec_id int"
    )
    _merge(spark, path, updates, ["job_id", "day", "rec_id"], deletes=deletes)
    assert _current_partitions(spark, path) == {
        ("0", "10"), ("0", "20"), ("1", "10")
    }
    got = SN.read_snapshot(spark, path)
    assert got.count() == 9
    assert got.filter("job_id = 1 and day = 20").count() == 0
    assert got.filter("job_id = 1 and day = 10").count() == 3


def test_merge_upsert_partition_move_drops_stale_copy(spark):
    """An update whose partition value differs from the current row's must
    rewrite the key's OLD partition too — touched partitions are derived
    from current rows matching update keys, not just from the update rows
    (otherwise the stale copy survives and the key reads back twice)."""
    base = [(0, 100, "stay"), (0, 101, "mover-v1"), (1, 200, "other")]
    path = _table(
        spark.createDataFrame(base, "job_id int, rec_id int, payload string"),
        ["job_id"],
        "hns_merge_move_",
    )
    # rec 101 moves from job 0 to the new job 2
    updates = spark.createDataFrame(
        [(2, 101, "mover-v2")], "job_id int, rec_id int, payload string"
    )
    _merge(spark, path, updates, ["rec_id"])
    got = {(r.job_id, r.rec_id): r.payload
           for r in SN.read_snapshot(spark, path).collect()}
    assert got == {
        (0, 100): "stay",
        (2, 101): "mover-v2",
        (1, 200): "other",
    }, got


def test_merge_upsert_empty_string_partition_value(spark):
    """Hive stores '' like NULL (__HIVE_DEFAULT_PARTITION__): updates into
    the '' value merge with the stored NULL partition's rows instead of
    replacing them."""
    base = [("", 0, "e-0"), ("x", 0, "x-0")]
    path = _table(
        spark.createDataFrame(base, "city string, rec_id int, payload string"),
        ["city"],
        "hns_merge_empty_val_",
    )
    updates = spark.createDataFrame(
        [("", 1, "e-1-new"), ("x", 1, "x-1-new")],
        "city string, rec_id int, payload string",
    )
    _merge(spark, path, updates, ["city", "rec_id"])
    got = {(r.city, r.rec_id): r.payload
           for r in SN.read_snapshot(spark, path).collect()}
    # '' reads back as NULL under hive partition semantics
    assert got == {
        (None, 0): "e-0",
        (None, 1): "e-1-new",
        ("x", 0): "x-0",
        ("x", 1): "x-1-new",
    }, got


def test_find_partition_dir_skips_metadata_dirs(spark):
    """Unit guard: _fs_find_partition_dir must ignore dirs without '=' and
    underscore/dot-prefixed dirs, and resolve a wanted '' to the hive NULL
    marker dir."""
    base = tempfile.mkdtemp(prefix="hns_findpart_")
    for d in ("_stage_deadbeef", "_old_deadbeef", ".hidden",
              "city=__HIVE_DEFAULT_PARTITION__", "city=plain"):
        os.makedirs(os.path.join(base, d))
    _, fs, root = SK._hadoop_fs(spark, base)
    assert SK._fs_find_partition_dir(fs, root, ("",)) == [
        "city=__HIVE_DEFAULT_PARTITION__"
    ]
    assert SK._fs_find_partition_dir(fs, root, (None,)) == [
        "city=__HIVE_DEFAULT_PARTITION__"
    ]
    assert SK._fs_find_partition_dir(fs, root, ("plain",)) == ["city=plain"]
    assert SK._fs_find_partition_dir(fs, root, ("nope",)) is None


def test_merge_numeric_looking_string_partition_not_retyped(spark):
    """Partition-column INFERENCE would re-type string '07' to int 7 in a
    data dir holding only numeric-looking values, forking the column's
    type across snapshot entries. The manifest-schema read keeps '07' a
    string in every entry."""
    df = spark.createDataFrame(
        [("07", 1, "a"), ("07", 2, "b"), ("x", 3, "c")],
        "part string, rec_id int, payload string",
    )
    path = _table(df, ["part"], "hns_sink_retype_")
    upd = spark.createDataFrame(
        [("07", 2, "b2")], "part string, rec_id int, payload string"
    )
    _merge(spark, path, upd, ["rec_id"])
    merge_dir = SN.load_snapshot(spark, path, 2)["entries"][-1]["dir"]
    assert os.listdir(os.path.join(path, merge_dir)).count("part=07") == 1
    cur = SN.read_snapshot(spark, path)
    assert dict(cur.dtypes)["part"] == "string"
    got = {(r.part, r.rec_id): r.payload for r in cur.collect()}
    assert got == {("07", 1): "a", ("07", 2): "b2", ("x", 3): "c"}
    # and deleting the whole partition clears the ONE logical partition
    _merge(
        spark, path,
        spark.createDataFrame([], df.schema),
        ["rec_id"],
        deletes=spark.createDataFrame([("07", 1), ("07", 2)],
                                      "part string, rec_id int"),
    )
    assert _current_partitions(spark, path) == {("x",)}
    assert [r.part for r in SN.read_snapshot(spark, path).collect()] == ["x"]


def test_merge_refuses_drifted_updates_schema(spark):
    """The merge must fail loudly on schema drift, checked against the
    table's manifest schema: an extra column would be silently dropped, a
    re-typed one silently widened by union coercion, a missing one fail
    deep inside analysis."""
    path = _table(_jobs_df(spark, [0, 1], "v1"), ["job_id"], "hns_drift_")

    # (a) extra column absent from the table
    extra = spark.createDataFrame(
        [(1, 0, "x", True)],
        "job_id int, rec_id int, payload string, flag boolean",
    )
    with pytest.raises(ValueError, match=r"absent from the table: \['flag'\]"):
        _merge(spark, path, extra, ["job_id", "rec_id"])

    # (b) re-typed data column (payload string -> int)
    retyped = spark.createDataFrame(
        [(1, 0, 7)], "job_id int, rec_id int, payload int"
    )
    with pytest.raises(ValueError, match="re-typed: .*payload"):
        _merge(spark, path, retyped, ["job_id", "rec_id"])

    # (c) updates missing the payload column
    missing = spark.createDataFrame([(1, 0)], "job_id int, rec_id int")
    with pytest.raises(ValueError, match=r"missing from updates: \['payload'\]"):
        _merge(spark, path, missing, ["job_id", "rec_id"])

    # table untouched by the refused merges; a conforming merge still lands
    assert SN.current_version(spark, path) == 1
    assert SN.read_snapshot(spark, path).count() == 10
    ok = spark.createDataFrame(
        [(1, 0, "v2-upd")], "job_id int, rec_id int, payload string"
    )
    _merge(spark, path, ok, ["job_id", "rec_id"])
    got = {(r.job_id, r.rec_id): r.payload
           for r in SN.read_snapshot(spark, path).collect()}
    assert got[(1, 0)] == "v2-upd"


def test_merge_ignores_nested_nullability(spark):
    """Nullability is not schema drift: a table written with nullable
    array elements, struct fields and map values accepts updates whose
    nested types are non-nullable — the merge lands instead of refusing
    the columns as re-typed."""

    def nested(df):
        return (
            df.withColumn("tags", F.array(F.lit(1), F.lit(2)))
            .withColumn(
                "meta",
                F.struct(
                    F.lit("src").alias("k"),
                    F.array(F.struct(F.lit(3).alias("z"))).alias("zs"),
                ),
            )
            .withColumn("attrs", F.create_map(F.lit("a"), F.lit(4)))
        )

    ddl = (
        "job_id int, rec_id int, payload string, tags array<int>, "
        "meta struct<k:string,zs:array<struct<z:int>>>, attrs map<string,int>"
    )
    base = spark.createDataFrame(
        [(j, i, f"v1-{j}-{i}", [1, 2], ("src", [(3,)]), {"a": 4})
         for j in (0, 1) for i in range(5)],
        ddl,
    )
    assert base.schema["tags"].dataType.containsNull
    path = _table(base, ["job_id"], "hns_nested_")
    upd = nested(
        spark.createDataFrame(
            [(1, 0, "v2-upd")], "job_id int, rec_id int, payload string"
        )
    )
    assert not upd.schema["tags"].dataType.containsNull
    _merge(spark, path, upd, ["job_id", "rec_id"])
    got = {
        (r.job_id, r.rec_id): (r.payload, r.tags, r.meta.zs[0].z, r.attrs["a"])
        for r in SN.read_snapshot(spark, path).collect()
    }
    assert len(got) == 10
    assert got[(1, 0)] == ("v2-upd", [1, 2], 3, 4)

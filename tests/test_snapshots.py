"""Snapshot-versioned tables (sources/snapshots.py): isolation, time
travel, dynamic-partition overwrite, rollback, vacuum, conflict safety.

Reference parity: Workcache.java:243-424's transactional write-back keeps
the old evaluation visible until commit; here a reader pinned to any
version NEVER sees a concurrent commit (the Iceberg metadata pattern over
plain parquet)."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from housenumbercore_spark.sources import snapshots as SN


def _df(spark, rows, schema="id int, bucket int, payload string"):
    return spark.createDataFrame(rows, schema)


@pytest.fixture()
def table(spark):
    t = tempfile.mkdtemp(prefix="hns_snaptest_") + "/tbl"
    v1 = SN.snapshot_write(
        _df(spark, [(i, i % 4, f"v1-{i}") for i in range(20)]),
        t,
        ["bucket"],
    )
    assert v1 == 1
    return t


class TestCommitAndRead:
    def test_append_accumulates(self, spark, table):
        SN.snapshot_write(
            _df(spark, [(100, 0, "x")]), table, ["bucket"], mode="append"
        )
        assert SN.read_snapshot(spark, table).count() == 21
        assert SN.current_version(spark, table) == 2

    def test_snapshot_isolation_pinned_reader(self, spark, table):
        """The core Workcache property: a reader resolved BEFORE a commit
        keeps returning the old version's rows after it."""
        pinned = SN.read_snapshot(spark, table, version=1)
        SN.snapshot_write(
            _df(spark, [(999, 0, "new")]), table, ["bucket"], mode="overwrite"
        )
        assert pinned.count() == 20  # materialized after the commit
        assert SN.read_snapshot(spark, table).count() == 1

    def test_time_travel(self, spark, table):
        SN.snapshot_write(
            _df(spark, [(999, 0, "new")]), table, ["bucket"], mode="overwrite"
        )
        assert SN.read_snapshot(spark, table, version=1).count() == 20
        assert SN.read_snapshot(spark, table, version=2).count() == 1

    def test_overwrite_partitions_narrows_entries(self, spark, table):
        """Dynamic-partition overwrite is a METADATA diff: the v1 data dir
        is untouched, its manifest entry is narrowed to the kept
        partitions, and the current read scans only the kept leaf dirs."""
        SN.snapshot_write(
            _df(spark, [(100 + i, i % 2, f"v2-{i}") for i in range(6)]),
            table,
            ["bucket"],
            mode="overwrite_partitions",
        )
        cur = SN.read_snapshot(spark, table)
        got = {(r.id, r.bucket) for r in cur.collect()}
        want = {(i, i % 4) for i in range(20) if i % 4 in (2, 3)}
        want |= {(100 + i, i % 2) for i in range(6)}
        assert got == want
        # old version fully intact
        assert SN.read_snapshot(spark, table, version=1).count() == 20
        # the narrowed entry contributes ONLY kept-bucket files to the scan
        v1_dir = SN.load_snapshot(spark, table, 2)["entries"][0]["dir"]
        v1_files = [f for f in cur.inputFiles() if v1_dir in f]
        assert v1_files and all(
            "bucket=2" in f or "bucket=3" in f for f in v1_files
        )

    def test_partition_filter_prunes_directories(self, spark, table):
        got = SN.read_snapshot(spark, table, partition_filter={"bucket": 2})
        assert {r.id for r in got.collect()} == {2, 6, 10, 14, 18}
        # no-match filter: empty frame, schema preserved
        empty = SN.read_snapshot(spark, table, partition_filter={"bucket": 9})
        assert empty.count() == 0
        assert empty.columns == ["id", "payload", "bucket"] or set(
            empty.columns
        ) == {"id", "bucket", "payload"}

    def test_unpartitioned_table(self, spark):
        t = tempfile.mkdtemp(prefix="hns_snapflat_") + "/tbl"
        SN.snapshot_write(_df(spark, [(1, 0, "a")]), t)
        SN.snapshot_write(_df(spark, [(2, 0, "b")]), t, mode="append")
        assert SN.read_snapshot(spark, t).count() == 2
        with pytest.raises(ValueError, match="partition_cols"):
            SN.snapshot_write(
                _df(spark, [(3, 0, "c")]), t, mode="overwrite_partitions"
            )


class TestHistoryRollbackVacuum:
    def test_rollback_is_metadata_only(self, spark, table):
        SN.snapshot_write(
            _df(spark, [(999, 0, "new")]), table, ["bucket"], mode="overwrite"
        )
        v3 = SN.rollback(spark, table, 1)
        assert v3 == 3
        assert SN.read_snapshot(spark, table).count() == 20
        ops = {v: SN.load_snapshot(spark, table, v)["operation"]
               for v in range(1, SN.current_version(spark, table) + 1)}
        assert ops == {
            1: "append", 2: "overwrite", 3: "rollback_to_v1"
        }

    def test_vacuum_reclaims_unreferenced_only(self, spark, table):
        SN.snapshot_write(
            _df(spark, [(999, 0, "new")]), table, ["bucket"], mode="overwrite"
        )
        SN.rollback(spark, table, 1)  # v3 references v1's dir again
        removed = SN.vacuum(spark, table, keep_last=2)  # keeps v2+v3 dirs
        assert removed == []  # both dirs still referenced by kept versions
        SN.snapshot_write(
            _df(spark, [(7, 0, "z")]), table, ["bucket"], mode="overwrite"
        )
        removed = SN.vacuum(spark, table, keep_last=1)
        assert len(removed) == 2  # v1's and v2's dirs now unreferenced
        assert SN.read_snapshot(spark, table).count() == 1  # current intact

    def test_compact_collapses_entries(self, spark, table):
        """Many appends widen the read plan by one scan each; compact()
        rewrites the current file set into ONE entry with identical rows,
        and vacuum then reclaims the fragments."""
        for k in range(3):
            SN.snapshot_write(
                _df(spark, [(100 + k, k % 4, f"a{k}")]), table, ["bucket"]
            )
        before = SN.read_snapshot(spark, table)
        assert len(SN.load_snapshot(spark, table, 4)["entries"]) == 4
        v = SN.compact(spark, table)
        snap = SN.load_snapshot(spark, table, v)
        assert len(snap["entries"]) == 1 and snap["operation"] == "compact"
        after = SN.read_snapshot(spark, table)
        assert sorted(map(tuple, after.collect())) == sorted(
            map(tuple, before.collect())
        )
        assert len(SN.vacuum(spark, table, keep_last=1)) == 4

    def test_partition_cols_mismatch_rejected(self, spark, table):
        with pytest.raises(ValueError, match="partition_cols"):
            SN.snapshot_write(
                _df(spark, [(1, 0, "a")]), table, ["id"], mode="append"
            )

    def test_commit_conflict_detected_and_winner_unclobbered(
        self, spark, table, monkeypatch
    ):
        """Optimistic concurrency: two writers race for the same version
        slot; the loser fails at the EXCLUSIVE manifest create, the
        winner's committed manifest and the pointer are untouched (a
        clobbering loser would silently replace committed contents), and
        the loser's orphaned data dir is reclaimed by vacuum."""
        SN.snapshot_write(
            _df(spark, [(40, 0, "winner")]), table, ["bucket"], mode="append"
        )
        winner_manifest = SN.load_snapshot(spark, table, 2)
        # the loser read parent=1 BEFORE the winner committed v2
        real = SN.current_version
        monkeypatch.setattr(SN, "current_version", lambda s, t: 1)
        with pytest.raises(SN.CommitConflict):
            SN.snapshot_write(
                _df(spark, [(50, 0, "race")]), table, ["bucket"], mode="append"
            )
        monkeypatch.setattr(SN, "current_version", real)
        assert SN.current_version(spark, table) == 2
        assert SN.load_snapshot(spark, table, 2) == winner_manifest
        assert SN.read_snapshot(spark, table).count() == 21
        # grace 0: no writer is active, so the fresh orphan is reclaimable
        removed = SN.vacuum(spark, table, keep_last=2, orphan_grace_s=0)
        assert len(removed) == 1  # the loser's orphaned write
        assert SN.read_snapshot(spark, table).count() == 21

    def test_vacuum_grace_protects_inflight_write(self, spark, table):
        """An unreferenced data dir younger than the grace period is a
        possible IN-FLIGHT commit (data written, manifest pending) — the
        default vacuum must not reclaim it."""
        import uuid as _uuid

        orphan = f"{table}/data/{_uuid.uuid4().hex}"
        _df(spark, [(77, 0, "inflight")]).write.parquet(orphan)
        removed = SN.vacuum(spark, table, keep_last=1)  # default grace
        assert removed == []
        removed = SN.vacuum(spark, table, keep_last=1, orphan_grace_s=0)
        assert len(removed) == 1

    def test_rollback_to_vacuumed_version_refused(self, spark, table):
        """rollback must not re-point the table at data vacuum deleted —
        that would brick the current snapshot."""
        SN.snapshot_write(
            _df(spark, [(1000, 0, "v2")]), table, ["bucket"], mode="overwrite"
        )
        SN.vacuum(spark, table, keep_last=1, orphan_grace_s=0)  # drops v1 dirs
        with pytest.raises(ValueError, match="vacuumed"):
            SN.rollback(spark, table, 1)
        assert SN.current_version(spark, table) == 2
        assert SN.read_snapshot(spark, table).count() == 1

    def test_pointer_swap_window_fallback(self, spark, table):
        """current_version falls back to the newest manifest when the
        VERSION pointer file is momentarily absent (the delete->rename
        swap window on filesystems without overwriting rename, or a crash
        between manifest write and pointer flip)."""
        import os

        os.remove(f"{table}/_meta/VERSION")
        assert SN.current_version(spark, table) == 1
        assert SN.read_snapshot(spark, table).count() == 20
        # a subsequent commit heals the pointer
        SN.snapshot_write(
            _df(spark, [(2000, 0, "heal")]), table, ["bucket"], mode="append"
        )
        with open(f"{table}/_meta/VERSION") as f:
            assert f.read().strip() == "2"


class TestMergeOnSnapshot:
    def test_merge_diff_protocol_with_isolation(self, spark, table):
        """The Workcache diff as one snapshot commit: updates replace,
        inserts land, deletes vanish, untouched partitions are carried by
        metadata — and the pre-merge version stays readable."""
        updates = _df(
            spark,
            [(1, 1, "upd-1"), (100, 2, "new-100")],
        )
        deletes = spark.createDataFrame([(4,)], "id int")
        v = SN.merge_upsert_snapshot_table(
            spark, table, updates, ["id"], deletes=deletes
        )
        assert v == 2
        got = {r.id: (r.bucket, r.payload)
               for r in SN.read_snapshot(spark, table).collect()}
        assert got[1] == (1, "upd-1")
        assert got[100] == (2, "new-100")
        assert 4 not in got
        assert got[7] == (3, "v1-7")  # untouched partition intact
        assert len(got) == 20  # 20 - 1 deleted + 1 inserted
        assert SN.read_snapshot(spark, table, version=1).count() == 20
        # untouched buckets still scan the ORIGINAL v1 files (metadata
        # carry, zero rewrite)
        v1_dir = SN.load_snapshot(spark, table, 1)["entries"][0]["dir"]
        assert any(
            v1_dir in f for f in SN.read_snapshot(spark, table).inputFiles()
        )

    def test_merge_partition_move_drops_stale_copy(self, spark, table):
        """An update that moves a key to another partition rewrites the
        key's OLD partition too."""
        updates = _df(spark, [(5, 0, "moved-5")])  # 5 lived in bucket 1
        SN.merge_upsert_snapshot_table(spark, table, updates, ["id"])
        rows = [r for r in SN.read_snapshot(spark, table).collect() if r.id == 5]
        assert [(r.bucket, r.payload) for r in rows] == [(0, "moved-5")]

    def test_merge_emptying_a_partition(self, spark):
        """Deleting every row of a partition drops its entry even though
        no merged row carries that partition value."""
        t = tempfile.mkdtemp(prefix="hns_snapempty_") + "/tbl"
        SN.snapshot_write(
            _df(spark, [(1, 0, "a"), (2, 1, "b")]), t, ["bucket"]
        )
        deletes = spark.createDataFrame([(2,)], "id int")
        SN.merge_upsert_snapshot_table(
            spark, t, _df(spark, []), ["id"], deletes=deletes
        )
        got = [(r.id, r.bucket) for r in SN.read_snapshot(spark, t).collect()]
        assert got == [(1, 0)]

    def test_drift_guard_adds_no_spark_job(self, spark, monkeypatch):
        """The schema-drift guard compares schemas from the manifest the
        merge already loaded: a merge runs exactly as many Spark jobs with
        the guard as with the guard stubbed out."""
        sc = spark.sparkContext

        def merge_jobs(group):
            t = tempfile.mkdtemp(prefix="hns_snapjobs_") + "/tbl"
            SN.snapshot_write(
                _df(spark, [(i, i % 4, f"v1-{i}") for i in range(20)]),
                t,
                ["bucket"],
            )
            updates = _df(spark, [(1, 1, "upd-1"), (100, 2, "new-100")])
            sc.setJobGroup(group, group)
            try:
                SN.merge_upsert_snapshot_table(spark, t, updates, ["id"])
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            return len(sc.statusTracker().getJobIdsForGroup(group))

        guarded = merge_jobs("hns-drift-guard-on")
        monkeypatch.setattr(SN, "_refuse_schema_drift", lambda *a: None)
        assert merge_jobs("hns-drift-guard-off") == guarded > 0

    def test_merge_empty_string_partition_value(self, spark):
        """'' and NULL are ONE partition under hive storage: an update
        into the '' value must replace the NULL partition's entry (and
        keep its unrelated rows)."""
        t = tempfile.mkdtemp(prefix="hns_snapnull_") + "/tbl"
        SN.snapshot_write(
            spark.createDataFrame(
                [("", 1, "e-1"), ("x", 2, "x-2")],
                "city string, id int, payload string",
            ),
            t,
            ["city"],
        )
        updates = spark.createDataFrame(
            [("", 3, "e-3-new")], "city string, id int, payload string"
        )
        SN.merge_upsert_snapshot_table(spark, t, updates, ["id"])
        got = {(r.city, r.id): r.payload
               for r in SN.read_snapshot(spark, t).collect()}
        assert got == {
            (None, 1): "e-1", (None, 3): "e-3-new", ("x", 2): "x-2"
        }, got
        # and the filter treats '' as the NULL partition
        assert SN.read_snapshot(
            spark, t, partition_filter={"city": ""}
        ).count() == 2


class TestLineageIntegration:
    def test_snapshot_version_as_checkpoint_fingerprint(self, spark, table):
        """North-rule lineage: checkpoint manifests carry the INPUT
        snapshot id, so a recompute against a newer snapshot is
        distinguishable from a resume (checkpoint.py fingerprints)."""
        from housenumbercore_spark import checkpoint as CP

        v = SN.current_version(spark, table)
        src = SN.read_snapshot(spark, table, version=v)

        def build(spark_, key):
            return src.filter(F.col("bucket") == int(key)).select("id", "bucket")

        out = tempfile.mkdtemp(prefix="hns_snap_ckpt_")
        CP.checkpointed_run(spark, build, [0, 1], out, f"snapshot-v{v}")
        man = {r.partition: r.input_fingerprint
               for r in CP.manifest_summary_full(spark, out).collect()}
        assert man == {"0": "snapshot-v1", "1": "snapshot-v1"}


class TestCommitRace:
    """Racing committers hit the atomic claim, not exists()+rename.

    The pre-round-5 protocol was exists() then rename(); on overwriting-
    rename filesystems (RawLocal/ChecksumFileSystem — every local run)
    two racers could both pass the exists check and the loser's rename
    silently REPLACED the winner's committed manifest. The claim file
    (java.io.File.createNewFile = open(O_CREAT|O_EXCL), atomic across
    threads and processes at the kernel) linearizes the commit; these
    races synchronize on a barrier to land inside any TOCTOU window."""

    def test_manifest_create_race_single_winner(self, spark, tmp_path):
        import threading

        rounds, racers = 12, 8
        for r in range(rounds):
            path = f"{tmp_path}/m/v{r}.json"
            barrier = threading.Barrier(racers)
            results: list[tuple[int, bool]] = []
            lock = threading.Lock()

            def attempt(i, path=path, barrier=barrier, results=results):
                text = f'{{"writer": {i}}}'
                barrier.wait()
                try:
                    SN._write_text_new(spark, path, text)
                    ok = True
                except SN.CommitConflict:
                    ok = False
                with lock:
                    results.append((i, ok))

            threads = [
                threading.Thread(target=attempt, args=(i,))
                for i in range(racers)
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            winners = [i for i, ok in results if ok]
            assert len(winners) == 1, f"round {r}: winners {winners}"
            with open(path) as f:
                assert f.read() == f'{{"writer": {winners[0]}}}'
            # the claim file is removed on both the win and loss paths
            assert not os.path.exists(f"{path}.claim")

    def test_snapshot_write_race_single_winner(self, spark, table):
        """Two concurrent snapshot_write commits against the same parent:
        exactly one version-2 winner; the loser raises CommitConflict
        without touching the winner's manifest; the loser's orphaned data
        dir stays reclaimable by vacuum."""
        import threading

        barrier = threading.Barrier(2)
        outcomes: dict[int, object] = {}

        def commit(i):
            df = _df(spark, [(100 + i, 0, f"racer-{i}")])
            barrier.wait()
            try:
                outcomes[i] = SN.snapshot_write(
                    df, table, ["bucket"], mode="append"
                )
            except SN.CommitConflict as e:
                outcomes[i] = e

        threads = [
            threading.Thread(target=commit, args=(i,)) for i in range(2)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        versions = [v for v in outcomes.values() if isinstance(v, int)]
        conflicts = [v for v in outcomes.values()
                     if isinstance(v, SN.CommitConflict)]
        # both landing distinct versions is a legal serial outcome (the
        # slower racer read parent=2); a same-slot race must leave exactly
        # one winner and one CommitConflict
        assert len(versions) + len(conflicts) == 2 and versions
        if len(versions) == 2:
            assert sorted(versions) == [2, 3]
            assert SN.read_snapshot(spark, table).count() == 22
        else:
            assert versions == [2]
            assert SN.read_snapshot(spark, table).count() == 21
        winner_rows = {
            r.payload for r in SN.read_snapshot(spark, table).collect()
        }
        for v in versions:  # every committed version's row is present
            assert any(p.startswith("racer-") for p in winner_rows)


class TestObservedWrite:
    def test_write_reads_nothing_back(self, spark, tmp_path):
        """The entry's count, partition tuples and stats come from the
        write itself: a 4-partition frame commits in at most 2 jobs (the
        rebalance map stage + the write), and the recorded stats equal a
        recomputation from the files."""
        df = spark.range(0, 8000, numPartitions=4).select(
            F.col("id").cast("int").alias("id"),
            (F.col("id") % 4).cast("int").alias("bucket"),
            F.concat(F.lit("p-"), F.col("id").cast("string")).alias("payload"),
        )
        t = str(tmp_path / "tbl")
        sc = spark.sparkContext._jsc.sc()
        j0 = sc.dagScheduler().nextJobId()
        SN.snapshot_write(df, t, ["bucket"], operation="load")
        assert sc.dagScheduler().nextJobId() - j0 <= 2
        (e,) = SN.load_snapshot(spark, t, 1)["entries"]
        assert e["rows"] == 8000 and e["operation"] == "load"
        assert sorted(e["partitions"]) == [[0], [1], [2], [3]]
        assert sorted(e["partitions_str"]) == [["0"], ["1"], ["2"], ["3"]]
        d, aggs = SN.row_stats(SN.read_snapshot(spark, t), ["bucket"])
        assert e["stats"] == SN.entry_stats(d.agg(*aggs).collect()[0].asDict())

    def test_blind_commit_rebases_onto_a_racing_commit(
        self, spark, table, monkeypatch
    ):
        """A writer that leaves expected_parent unset does not read the
        table, so a commit that lands between its data write and its
        manifest create is rebased onto and retried, not refused: both
        overwrites of disjoint partitions survive, on versions 2 and 3."""
        real = SN._write_text_new
        raced = []

        def create_after_a_racer(spark_, path, text):
            if not raced:
                raced.append(path)  # the racer's own create goes through
                SN.snapshot_write(
                    _df(spark, [(200, 1, "racer")]), table, ["bucket"],
                    mode="overwrite_partitions",
                )
            real(spark_, path, text)

        monkeypatch.setattr(SN, "_write_text_new", create_after_a_racer)
        v = SN.snapshot_write(
            _df(spark, [(100, 0, "blind")]), table, ["bucket"],
            mode="overwrite_partitions",
        )
        assert raced and v == 3
        got = {(r.id, r.bucket) for r in SN.read_snapshot(spark, table).collect()}
        assert got == {(i, i % 4) for i in range(20) if i % 4 > 1} | {
            (100, 0), (200, 1)
        }


class TestExpectedParent:
    def test_stale_pin_conflicts_instead_of_reverting(self, spark, table):
        """r5 review: per-caller version pinning closed the load/read
        window but not the plan→commit span — a commit landing while a
        merge's data-write job runs must surface as CommitConflict, not
        silently rebuild the touched partitions from pre-commit rows.
        ``expected_parent`` makes the exclusive v{N}.json create linearize
        the WHOLE span: simulate the race by planning against v1, letting
        another writer commit v2, then committing with expected_parent=1."""
        planned = SN.read_snapshot(spark, table, version=1)
        SN.snapshot_write(
            _df(spark, [(100, 0, "a-100")]), table, ["bucket"]
        )  # intervening commit -> v2
        with pytest.raises(SN.CommitConflict):
            SN.snapshot_write(
                planned, table, ["bucket"], mode="overwrite",
                operation="compact", expected_parent=1,
            )
        # the intervening commit survives untouched
        assert SN.current_version(spark, table) == 2
        ids = {r.id for r in SN.read_snapshot(spark, table).collect()}
        assert 100 in ids

    def test_unset_expected_parent_keeps_default_resolution(self, spark, table):
        """Without expected_parent the parent is resolved at write start —
        an append that does not read the table commits fine on top of any
        current version."""
        SN.snapshot_write(_df(spark, [(100, 0, "a-100")]), table, ["bucket"])
        v = SN.snapshot_write(_df(spark, [(101, 1, "b-101")]), table, ["bucket"])
        assert v == 3
        assert SN.read_snapshot(spark, table).count() == 22


class TestConcurrentMerge:
    def test_concurrent_merges_one_winner_no_lost_update(self, spark):
        """End-to-end race through the expected_parent seam: two merges
        pin the SAME version behind a barrier, then race plan→write→
        commit. Exactly one must own v2; the loser must raise
        CommitConflict — NOT silently rebuild the winner's touched
        partitions from pre-merge rows (the lost-update shape the plain
        per-caller pin still allowed). The final table must equal the
        winner's merge applied alone."""
        import threading

        t = tempfile.mkdtemp(prefix="hns_mergerace_") + "/tbl"
        SN.snapshot_write(
            _df(spark, [(i, i % 4, f"v1-{i}") for i in range(20)]),
            t,
            ["bucket"],
        )
        barrier = threading.Barrier(2)
        results: dict[int, object] = {}
        lock = threading.Lock()

        def merge(i):
            upd = _df(spark, [(100 + i, i, f"w{i}")])
            barrier.wait()
            try:
                v = SN.merge_upsert_snapshot_table(spark, t, upd, ["id"])
                out = ("ok", v)
            except SN.CommitConflict:
                out = ("conflict", None)
            except Exception as e:  # noqa: BLE001 - record for the assert
                out = ("error", repr(e))
            with lock:
                results[i] = out

        th = [threading.Thread(target=merge, args=(i,)) for i in range(2)]
        for x in th:
            x.start()
        for x in th:
            x.join()

        outcomes = sorted(o for o, _ in results.values())
        got = {r.id for r in SN.read_snapshot(spark, t).collect()}
        if outcomes == ["conflict", "ok"]:
            # the common schedule: both pinned v1, one owns v2 — final
            # state is the winner's merge alone, the loser's rows absent
            winner = next(i for i, (o, _) in results.items() if o == "ok")
            assert SN.current_version(spark, t) == 2
            assert 100 + winner in got
            assert 100 + (1 - winner) not in got
            assert len(got) == 21
        else:
            # legal rare schedule: one merge fully committed before the
            # other pinned — true serial execution, both merges applied
            assert outcomes == ["ok", "ok"], results
            assert SN.current_version(spark, t) == 3
            assert {100, 101} <= got and len(got) == 22
        # in NO schedule may a lost update occur: every committed row of
        # the base survives (no merge touched ids 0..19's values here)
        assert set(range(20)) <= got


def _race_commit_worker(i, table, barrier, q):
    # module-level: the spawn start method must import this by name
    from pyspark.sql import SparkSession

    from housenumbercore_spark.sources import snapshots as SN2

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .appName(f"race{i}")
        .getOrCreate()
    )
    try:
        df = spark.createDataFrame(
            [(100 + i, i, f"w{i}")], "id int, bucket int, payload string"
        )
        barrier.wait()
        try:
            out = ("ok", SN2.snapshot_write(df, table, ["bucket"], expected_parent=1))
        except SN2.CommitConflict:
            out = ("conflict", None)
        except Exception as e:  # noqa: BLE001 - recorded for the assert
            out = ("error", repr(e)[:300])
        q.put((i, out))
    finally:
        spark.stop()


class TestTwoProcessCommitRace:
    def test_two_jvms_race_one_winner(self, spark, table):
        """The verdict's two-PROCESS race: two separate Spark driver JVMs
        pin the same expected_parent and race the exclusive v2.json
        create. The claim file (open(O_CREAT|O_EXCL) at the kernel) must
        yield exactly one winner across PROCESSES, not just threads; the
        loser raises CommitConflict and the winner's rows are intact."""
        import multiprocessing as mp

        ctx = mp.get_context("spawn")
        barrier = ctx.Barrier(2)
        q = ctx.Queue()
        ps = [
            ctx.Process(target=_race_commit_worker, args=(i, table, barrier, q))
            for i in range(2)
        ]
        for p in ps:
            p.start()
        res = dict(q.get(timeout=240) for _ in range(2))
        for p in ps:
            p.join(timeout=60)
        # expected_parent pins BOTH writers to v1, so the outcome is
        # deterministic regardless of scheduling: exactly one owns v2
        outcomes = sorted(o for o, _ in res.values())
        assert outcomes == ["conflict", "ok"], res
        winner = next(i for i, (o, _) in res.items() if o == "ok")
        assert SN.current_version(spark, table) == 2
        got = {r.id for r in SN.read_snapshot(spark, table).collect()}
        assert 100 + winner in got
        assert 100 + (1 - winner) not in got
        assert set(range(20)) <= got  # base rows never lost


class TestRecoveryAndEdgeFindings:
    """Round-5 review-pass regressions (crash recovery + merge edges)."""

    def test_stale_pointer_does_not_wedge_table(self, spark, table):
        """A writer that died AFTER the exclusive manifest create but
        BEFORE the pointer flip left a complete commit behind: the
        pointer says v1 while v2.json + its data exist. current_version
        must expose v2 (the manifest create is the linearization point);
        the previous pointer-wins resolution made every later writer
        resolve parent=1, collide on v2.json, and advise deleting the
        COMMITTED manifest as 'aborted'."""
        SN.snapshot_write(
            _df(spark, [(100, 0, "v2")]), table, ["bucket"], mode="append"
        )
        # simulate the crash window: regress the pointer behind the
        # manifest (through the Hadoop FS writer — a POSIX rewrite would
        # desync the ChecksumFileSystem's .crc sidecar)
        SN._write_text_atomic(spark, f"{table}/_meta/VERSION", "1")
        assert SN.current_version(spark, table) == 2
        assert SN.read_snapshot(spark, table).count() == 21
        # the next commit builds on v2 and heals the pointer
        v3 = SN.snapshot_write(
            _df(spark, [(101, 0, "v3")]), table, ["bucket"], mode="append"
        )
        assert v3 == 3
        with open(f"{table}/_meta/VERSION") as f:
            assert f.read().strip() == "3"
        assert SN.read_snapshot(spark, table).count() == 22

    def test_merge_delete_empty_string_partition_key(self, spark):
        """A delete keyed on a partition column value of '' must hit the
        stored NULL row ('' ≡ NULL under hive partition storage) instead
        of silently no-opping."""
        t = tempfile.mkdtemp(prefix="hns_snapdel_") + "/tbl"
        SN.snapshot_write(
            spark.createDataFrame(
                [("", 1, "e-1"), ("", 2, "e-2"), ("x", 3, "x-3")],
                "city string, id int, payload string",
            ),
            t,
            ["city"],
        )
        deletes = spark.createDataFrame(
            [("", 1)], "city string, id int"
        )
        SN.merge_upsert_snapshot_table(
            spark, t,
            spark.createDataFrame([], "city string, id int, payload string"),
            ["city", "id"],
            deletes=deletes,
        )
        got = {(r.city, r.id) for r in SN.read_snapshot(spark, t).collect()}
        assert got == {(None, 2), ("x", 3)}, got

    def test_partition_filter_data_column_is_residual(self, spark, table):
        """A non-partition column in partition_filter applies as a
        residual row filter (previously a bare KeyError from the pruning
        comprehension)."""
        got = SN.read_snapshot(
            spark, table, partition_filter={"bucket": 1, "payload": "v1-5"}
        ).collect()
        assert [(r.id, r.bucket) for r in got] == [(5, 1)]

    def test_merge_and_compact_on_fresh_table_raise_clearly(self, spark):
        t = tempfile.mkdtemp(prefix="hns_snapfresh_") + "/tbl"
        upd = spark.createDataFrame([(1, 0, "x")], "id int, bucket int, payload string")
        with pytest.raises(FileNotFoundError, match="no committed snapshot"):
            SN.merge_upsert_snapshot_table(spark, t, upd, ["id"])
        with pytest.raises(FileNotFoundError, match="no committed snapshot"):
            SN.compact(spark, t)

    def test_narrowed_entry_missing_leaf_raises(self, spark, table):
        """A narrowed (rows=None) entry's manifest-listed partition always
        has a leaf dir on disk; if the dir was externally deleted the
        read must raise, not silently return partial data."""
        import shutil

        # narrow the v1 entry by overwriting bucket 0 only
        SN.snapshot_write(
            _df(spark, [(200, 0, "new0")]),
            table,
            ["bucket"],
            mode="overwrite_partitions",
        )
        snap = SN.load_snapshot(spark, table, 2)
        narrowed = next(e for e in snap["entries"] if e.get("rows") is None)
        # externally delete one kept leaf of the narrowed entry
        victim = narrowed["partitions_str"][0]
        shutil.rmtree(f"{table}/{narrowed['dir']}/bucket={victim[0]}")
        with pytest.raises(FileNotFoundError, match="no leaf directory"):
            SN.read_snapshot(spark, table).count()

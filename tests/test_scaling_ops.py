"""BENCH/scaling_ops.py invariants — the per-family scaling harness's
workload-linearity claim, checked small so the benchmark numbers mean what
the doc says.

The harness replicates the document corpus with a replica-unique suffix on
EVERY word, claiming (a) no k-shingle is shared across replicas, hence no
cross-replica candidate pair survives, and (b) the verified near-dup pair
set is exactly REP linear copies of the base corpus's pair set. If either
claim drifted (e.g. a tokenizer change making the suffix fold away), the
scaling efficiency figures would silently measure a different workload.
The harness's state-file merge is checked here too, without Spark.
"""

from __future__ import annotations

import importlib.util
import os

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_SMALL = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")


def _load_scaling_ops():
    path = os.path.join(REPO_ROOT, "BENCH", "scaling_ops.py")
    spec = importlib.util.spec_from_file_location("scaling_ops", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def sops():
    mod = _load_scaling_ops()
    mod.SF_DIR = SF_SMALL
    mod.REP_DOCS = 2
    mod.PARTITIONS = 8
    return mod


def test_replicated_corpus_pairs_are_linear_in_rep(spark, sops):
    from housenumbercore_spark.text import dedup as TD

    base = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    base_pairs = TD.minhash_dedup_pairs(base).collect()
    rep_pairs = sops._minhash_job(spark).collect()

    # (b) linear in REP, exactly: the word mapping preserves true
    # Jaccard, and (a) below requires every replica to reproduce the base
    # pair set exactly, so the total is exactly REP copies of it; the
    # count also catches a pair emitted twice, which (a)'s set compare
    # cannot. (On larger corpora the renamed strings draw other hashes
    # and LSH may drop a borderline pair — see the scaling_ops.py
    # docstring — but on this fixture none drops.)
    assert len(base_pairs) > 0
    assert len(rep_pairs) == sops.REP_DOCS * len(base_pairs), (
        f"{len(rep_pairs)} pairs vs base {len(base_pairs)} x REP "
        f"{sops.REP_DOCS}: replication is no longer workload-linear"
    )

    # (a) every surviving pair is intra-replica, and each replica's pair
    # set projects back onto the base pair set exactly
    def split(doc_id):
        b, _, r = doc_id.rpartition("#")
        return b, r

    per_replica: dict[str, set] = {}
    for row in rep_pairs:
        (a, ra), (b, rb) = split(row.doc_a), split(row.doc_b)
        assert ra == rb, f"cross-replica pair leaked: {row.doc_a} ~ {row.doc_b}"
        per_replica.setdefault(ra, set()).add(
            (a, b, row.jaccard) if a <= b else (b, a, row.jaccard)
        )
    base_set = {
        (str(r.doc_a), str(r.doc_b), r.jaccard)
        if str(r.doc_a) <= str(r.doc_b)
        else (str(r.doc_b), str(r.doc_a), r.jaccard)
        for r in base_pairs
    }
    assert set(per_replica) == {str(i) for i in range(sops.REP_DOCS)}
    for r, pairs in per_replica.items():
        assert pairs == base_set, f"replica {r} pair set diverged from base"


def test_knn_job_answers_every_replicated_point(spark, sops):
    sops.REP_PTS = 2
    out = sops._knn_job(spark)
    rows = out.groupBy().count().collect()[0][0]
    from housenumbercore_spark.sources import synthetic as S

    base_pts = S.points_df(spark, SF_SMALL).count()
    # multires ladder ends in a whole-domain fallback: every point answered
    assert rows == sops.REP_PTS * base_pts


def test_state_merge_keeps_each_configs_minimum():
    """The state file keeps one minimum per (job, cpus, sf_dir, rep,
    partitions, pinned): a run in one configuration neither replaces nor
    erases the rows of another, and merging is idempotent."""
    sops = _load_scaling_ops()
    cfg = {"job": "minhash", "cpus": 2, "sf_dir": "/sf", "rep": 4, "partitions": 8}
    pinned = {**cfg, "pinned": True, "seconds": 100.0}
    unpinned = {**cfg, "pinned": False, "seconds": 50.0}
    state = [pinned, unpinned]

    # a slower unpinned rerun: both configurations keep their minima
    once = sops.merge_state(state, [{**unpinned, "seconds": 60.0}])
    assert once == state
    # a faster pinned rerun lowers only the pinned minimum
    faster = {**pinned, "seconds": 90.0}
    twice = sops.merge_state(once, [faster])
    assert twice == [faster, unpinned]
    assert sops.merge_state(twice, []) == twice
    # another corpus is another configuration, carried alongside
    other = {**faster, "sf_dir": "/other", "seconds": 1.0}
    assert sops.merge_state(twice, [other]) == [faster, unpinned, other]

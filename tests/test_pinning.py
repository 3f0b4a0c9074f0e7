"""Pin-strategy seam (housenumbercore_spark/pinning.py).

Every hot-path pin site routes through pin(); these tests prove the
three mechanisms are interchangeable for correctness and that the
truncation contract (source deleted after pinning) holds under every
strategy that claims it.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from housenumbercore_spark.pinning import CONF_KEY, pin, pin_strategy, unpin


@pytest.fixture
def strategy_conf(spark):
    """Set/unset the pin-strategy conf around a test."""

    def set_strategy(value: str | None):
        if value is None:
            spark.conf.unset(CONF_KEY)
        else:
            spark.conf.set(CONF_KEY, value)

    yield set_strategy
    spark.conf.unset(CONF_KEY)


def _src(spark, n=100):
    return spark.range(n).withColumn("v", F.col("id") * 3 + 1)


def test_default_strategy_is_local(spark, strategy_conf, monkeypatch):
    monkeypatch.delenv("HNC_PIN_STRATEGY", raising=False)
    assert pin_strategy(spark) == "local"
    df = _src(spark)
    out = pin(df)
    # localCheckpoint does not register a CacheManager entry
    assert out.storageLevel == StorageLevel.NONE
    assert out.count() == 100
    assert sorted(r.v for r in out.collect()) == sorted(
        r.v for r in df.collect()
    )
    unpin(out)  # no-op for local — must not raise


def test_invalid_strategy_raises(spark, strategy_conf):
    strategy_conf("cache-it-somehow")
    with pytest.raises(ValueError, match="unknown pin strategy"):
        pin(_src(spark))


def test_reliable_without_checkpoint_dir_raises(spark, strategy_conf):
    # MUST run before any test that sets the (sticky) checkpoint dir on
    # the session-scoped SparkContext
    if spark.sparkContext.getCheckpointDir() is not None:
        pytest.skip("checkpoint dir already set on the shared context")
    strategy_conf("reliable")
    with pytest.raises(RuntimeError, match="setCheckpointDir"):
        pin(_src(spark))


def test_persist_strategy_caches_and_unpins(spark, strategy_conf):
    strategy_conf("persist")
    df = _src(spark)
    out = pin(df)
    try:
        assert out.storageLevel.useMemory and out.storageLevel.useDisk
        assert out.count() == 100
        assert sorted(r.v for r in out.collect()) == [
            3 * i + 1 for i in range(100)
        ]
    finally:
        unpin(out)
    assert out.storageLevel == StorageLevel.NONE


def test_persist_retains_lineage_but_truncate_overrides(spark, strategy_conf):
    """A truncate=True site's source is deleted right after pinning: under
    the persist strategy that site must degrade to a truncating pin, or a
    cache eviction would replay a dead lineage."""
    strategy_conf("persist")
    path = tempfile.mkdtemp(prefix="hns_pin_trunc_")
    try:
        _src(spark, 50).write.mode("overwrite").parquet(path)
        df = spark.read.parquet(path)
        out = pin(df, truncate=True)
        assert out.storageLevel == StorageLevel.NONE  # not CacheManager-backed
        shutil.rmtree(path)
        assert out.count() == 50  # source gone; blocks must not need it
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_reliable_strategy_checkpoints_durably(spark, strategy_conf):
    ckpt = tempfile.mkdtemp(prefix="hns_pin_ckpt_")
    src = tempfile.mkdtemp(prefix="hns_pin_src_")
    spark.sparkContext.setCheckpointDir(ckpt)
    strategy_conf("reliable")
    try:
        _src(spark, 40).write.mode("overwrite").parquet(src)
        out = pin(spark.read.parquet(src), truncate=True)
        shutil.rmtree(src)
        assert out.count() == 40
        # the checkpoint lives under the configured durable dir
        assert any(os.scandir(ckpt))
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(src, ignore_errors=True)


def test_env_fallback_and_conf_precedence(spark, strategy_conf, monkeypatch):
    monkeypatch.setenv("HNC_PIN_STRATEGY", "persist")
    assert pin_strategy(spark) == "persist"
    strategy_conf("local")  # session conf wins over env
    assert pin_strategy(spark) == "local"


def test_invalid_env_strategy_error_names_env_var(spark, strategy_conf, monkeypatch):
    monkeypatch.setenv("HNC_PIN_STRATEGY", "presist")
    with pytest.raises(ValueError, match="HNC_PIN_STRATEGY"):
        pin_strategy(spark)


def test_matched_memo_self_heals_after_clearcache(spark, strategy_conf):
    """Session hygiene under the persist strategy is clearCache between
    queries — the memoized match frame must detect its cache entry is
    gone and rebuild instead of silently re-executing per consumer."""
    from housenumbercore_spark import pipelines as P

    sf = "/root/testdata/sf0.001"
    strategy_conf("persist")
    P.clear_matched_pin()
    try:
        first = P.evaluation_matched(spark, sf)
        assert first.storageLevel.useMemory  # pinned via persist
        n = first.count()
        spark.catalog.clearCache()
        assert not first.storageLevel.useMemory
        healed = P.evaluation_matched(spark, sf)
        assert healed is not first  # stale handle replaced
        assert healed.storageLevel.useMemory
        assert healed.count() == n
    finally:
        P.clear_matched_pin()
        spark.catalog.clearCache()


def test_operators_run_under_persist_strategy(spark, strategy_conf):
    """End-to-end sanity: a multi-consumer pinned operator (simhash pairs)
    and an iterative one (dedup_clusters) produce identical results under
    the local and persist strategies."""
    from housenumbercore_spark.text import dedup as TD

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different content entirely here now"),
            (4, "the quick brown fox jumps over the lazy dog"),
        ],
        "doc_id long, text string",
    )

    def run():
        pairs = TD.simhash_pairs(docs).select("doc_a", "doc_b")
        clusters = TD.dedup_clusters(docs.select("doc_id"), pairs)
        return sorted(map(tuple, clusters.collect()))

    base = run()
    strategy_conf("persist")
    try:
        assert run() == base
    finally:
        # release the escaping persist-strategy pins (simhash frame etc.)
        # so the shared session-scoped SparkSession carries no cache
        # entries into later test files
        spark.catalog.clearCache()

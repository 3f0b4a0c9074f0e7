"""Materialization-pinning seam: one place to choose HOW a multi-consumer
frame is pinned.

Sixteen hot paths in this engine materialize an intermediate frame once so
that N downstream consumers (different-keyed joins, both sides of a
self-join, iterative rounds) do not each re-execute its lineage — without a
pin the dominant corpus/payload scan runs once per consumer (measured 2-6×
per query, see BENCH/BASELINE.md). The MECHANISM used to pin is a deployment
decision, not a per-site one, so it lives behind :func:`pin`:

``local`` (default)
    ``DataFrame.localCheckpoint``: rows land in executor block storage,
    lineage is truncated, blocks are freed by the ContextCleaner when the
    result is dropped (no CacheManager entry to leak across a long-lived
    session — the property the bench/driver sweeps rely on). NOT resilient
    to executor loss: a lost block fails the job, which must re-run. The
    right trade on a single host (this sandbox) and for short jobs where a
    rare re-run beats paying durability on every run.
``persist``
    ``DataFrame.persist(MEMORY_AND_DISK)`` (+ a ``count()`` when eager).
    Lineage is RETAINED, so on a multi-executor cluster a lost executor's
    partitions recompute transparently — the production default for long
    jobs. Costs a CacheManager entry per pin; loops that drop pinned frames
    should :func:`unpin` them. Sites that REQUIRE truncation (the lineage's
    source is deleted right after pinning, or per-round lineage would grow
    without bound) declare ``truncate=True`` and fall back to
    ``localCheckpoint`` under this strategy — truncation is a correctness
    requirement, resilience is a preference.
``reliable``
    ``DataFrame.checkpoint``: durable to the configured checkpoint
    directory (HDFS/object store on a cluster), truncates lineage AND
    survives executor loss — satisfies every site, including
    ``truncate=True`` ones. Requires
    ``SparkContext.setCheckpointDir(...)``; :func:`pin` raises a clear
    error naming it otherwise.

Strategy resolution (first match wins): Spark conf
``spark.housenumbercore.pin.strategy`` → env ``HNC_PIN_STRATEGY`` →
``local``. The conf is read per call, so a session can switch strategies
between jobs (tests do).

Operational contracts under the non-default strategies:

- ``persist``: a pin whose frame ESCAPES into the returned plan (most
  multi-consumer pins) holds its CacheManager entry until released —
  Spark has no refcount GC for cached plans. A long-lived session running
  many pipeline invocations should ``spark.catalog.clearCache()`` between
  them (bench.py does); engine-internal memoizations self-heal after a
  clearCache (see pipelines.evaluation_matched), and loop-scoped pins are
  released in-function with :func:`unpin`.
- ``reliable``: checkpoint files are cleaned by the ContextCleaner only
  when ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (the
  engine's session factory sets it); otherwise each iterative round's
  checkpoint stays in the durable dir until manual cleanup.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

CONF_KEY = "spark.housenumbercore.pin.strategy"
ENV_KEY = "HNC_PIN_STRATEGY"
_STRATEGIES = ("local", "persist", "reliable")


def pin_strategy(df_or_spark) -> str:
    """Resolve the active pin strategy for a DataFrame or SparkSession."""
    spark = getattr(df_or_spark, "sparkSession", df_or_spark)
    raw = spark.conf.get(CONF_KEY, None)
    source = CONF_KEY
    if raw is None:
        raw = os.environ.get(ENV_KEY, "local")
        source = ENV_KEY
    s = (raw or "local").strip().lower()
    if s not in _STRATEGIES:
        raise ValueError(
            f"{source}={raw!r}: unknown pin strategy; "
            f"expected one of {_STRATEGIES}"
        )
    return s


def pin(df: DataFrame, *, eager: bool = True, truncate: bool = False) -> DataFrame:
    """Materialize ``df`` once for multiple downstream consumers.

    ``eager`` materializes now (the common case: the very next step counts
    or joins the frame from several sides). ``truncate=True`` declares that
    the caller REQUIRES lineage truncation — its source is deleted right
    after pinning, or it re-pins per iteration and retained lineage would
    grow per round — so the lineage-retaining ``persist`` strategy must
    not be used for this site (it degrades to ``local``; ``reliable``
    still applies, as ``checkpoint`` truncates too).
    """
    strategy = pin_strategy(df)
    if strategy == "reliable":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            raise RuntimeError(
                f"{CONF_KEY}=reliable requires "
                "SparkContext.setCheckpointDir(<durable path>) — set it on "
                "the session before running, or use the 'persist'/'local' "
                "strategy"
            )
        return df.checkpoint(eager=eager)
    if strategy == "persist" and not truncate:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        if eager:
            df.count()
        return df
    return df.localCheckpoint(eager=eager)


def unpin(df: DataFrame) -> None:
    """Release a pinned frame's CacheManager entry, if it has one.

    Only the ``persist`` strategy creates one; ``local``/``reliable``
    blocks are freed by the ContextCleaner when the frame is dropped, and
    unpersisting a non-persisted frame is a no-op — so callers in loops
    can call this unconditionally.
    """
    if df.storageLevel != StorageLevel.NONE:
        df.unpersist(blocking=False)

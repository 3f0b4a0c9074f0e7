"""End-to-end pipelines composing sources + operators.

These are the engine's equivalents of the reference's hard-coded Java main()
pipelines (SURVEY.md §3): each returns a DataFrame so callers (driver
contract, bench, tests) choose the action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from .operators import argmin as AM
from .operators import match_eval as ME
from .pinning import pin
from .sources import addresses as A


def _materialize_then_rm(df: DataFrame, path: str) -> DataFrame:
    """Pin a query result that was computed from a throwaway on-disk table,
    then delete the table: the eager pin moves the rows out of the
    lineage rooted at ``path``, so the tempdir does not leak a table copy
    per invocation (the same materialize-then-delete pattern as
    snapshot_time_travel). truncate=True — after the rmtree the lineage
    is unreplayable, so a lineage-retaining pin would be wrong
    (pinning.py)."""
    import shutil

    out = pin(df, truncate=True)
    shutil.rmtree(path, ignore_errors=True)
    return out


def official_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Official list keyed + first-wins deduped (HousenumberList.
    addHousenumber:161-173 keeps the FIRST occurrence; determinised here as
    min source_id)."""
    flags = F.broadcast(A.job_flags_df(spark))
    off = A.official_df(spark, sf_dir).join(flags, "job_id")
    off = off.withColumn("hnr_key", ME.match_key("housenumber", "exact"))
    # source_id is unique per row, so the argmin struct aggregate
    # (operators/argmin.py, strategy="agg") is exact first-wins — and this
    # side has the high per-partition group duplication the map-side
    # partial_min combine exists for (150k rows → 1.2k groups at sf0.1:
    # the shuffle collapses ~100x before it leaves the map side)
    return AM.keep_min_row(
        off, ["job_id", "street", "hnr_key"], ["source_id"], strategy="agg"
    ).drop("exact")


def osm_best_objects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OSM side: tags → priority (through the MapType/hstore path, P1/P2) →
    best object per housenumber identity (W1)."""
    flags = F.broadcast(A.job_flags_df(spark))
    osm = A.osm_df(spark, sf_dir).join(flags, "job_id")
    # assemble the flat columns into an hstore-like MapType and derive the
    # priority from the map — the engine path the reference exercises via
    # planet_*.tags (TheoreticalHousenumbers.java:876-883)
    tags = F.map_filter(
        F.map_from_arrays(
            F.array(F.lit("building"), F.lit("entrance"), F.lit("amenity")),
            F.array(F.col("building"), F.col("entrance"), F.col("amenity")),
        ),
        lambda k, v: v.isNotNull(),
    )
    osm = osm.withColumn("tags", tags).withColumn(
        "prio", ME.osm_tag_priority("tags")
    )
    osm = osm.withColumn("hnr_key", ME.match_key("housenumber", "exact")).drop("exact")
    # tags/building/entrance/amenity/housenumber only exist to derive
    # prio and hnr_key — both consumers (the match build and the
    # best_osm_object driver query) read exactly these five columns, so
    # keep the keep-best shuffle rows narrow
    return ME.best_osm_object(
        osm.select("job_id", "street", "hnr_key", "osm_id", "prio")
    )


# one pinned match frame per (Spark application, sf_dir): the counters
# query (A4) consumes the exact frame the match query (J5/J6) returns, and
# recomputing the full-outer match join per consumer doubled the pair's
# cost (round-4 verdict item 4). Keyed by applicationId (timestamp-unique
# per context, so entries from a stopped session can never be hit) over
# immutable driver testdata; the pin strategy is pinning.py's (default
# localCheckpoint, ContextCleaner-freed with the entry). Bounded: one
# small frame (~55k narrow rows at sf0.1) per sf_dir touched in a session.
_MATCHED_PIN: dict[tuple[str, str], tuple[DataFrame, str]] = {}
# guards the check-then-pin: concurrent driver threads (checkpoint.py's
# executor pattern) would otherwise both build the match join, and under
# the persist pin strategy the overwritten loser's CacheManager entry
# would leak with no handle left to unpin
import threading as _threading

_MATCHED_PIN_LOCK = _threading.Lock()


def evaluation_matched_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UNPINNED match-evaluation plan (J5/J6) — broadcast dim joins and
    the full-outer match join, before :func:`evaluation_matched` truncates
    lineage with its pin. Plan assertions audit THIS (the checkpoint scan
    the pinned variant returns has no joins left to inspect)."""
    off = official_normalized(spark, sf_dir).select(
        "job_id", "street", "hnr_key", "source_id"
    )
    osm = osm_best_objects(spark, sf_dir).select(
        "job_id", "street", "hnr_key", "osm_id", "prio"
    )
    return ME.match_evaluation(off, osm).select(
        "job_id", "street", "hnr_key", "treffertyp",
        "source_id", "osm_id", "prio",
    )


def clear_matched_pin() -> None:
    """Drop the memoized match frames, releasing any CacheManager entries
    the ``persist`` pin strategy created (pinning.unpin is a no-op for the
    other strategies). Entries keyed to a STOPPED application cannot be
    unpinned — their JVM context is gone — so unpin failures are
    swallowed and the memo entry is dropped regardless."""
    from .pinning import unpin

    with _MATCHED_PIN_LOCK:
        for k in list(_MATCHED_PIN):
            df, _ = _MATCHED_PIN.pop(k)
            try:
                unpin(df)
            except Exception:  # noqa: BLE001 — stopped context
                pass


def evaluation_matched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The match evaluation (J5/J6): one row per housenumber identity.

    The memo build holds _MATCHED_PIN_LOCK for the (eager) pin, so
    concurrent threads wait for one build instead of racing two — the pin
    is an executor-side job, and a double build both wastes the full
    match join and (under the persist strategy) leaks the loser's cache
    entry."""
    from .pinning import pin_strategy

    app = spark.sparkContext.applicationId
    key = (app, sf_dir)
    with _MATCHED_PIN_LOCK:
        entry = _MATCHED_PIN.get(key)
        if (
            entry is not None
            # staleness is a property of how the frame WAS pinned, not of
            # the session's CURRENT strategy: a frame pinned under
            # ``persist`` stays clearCache-evictable even after the conf
            # switches to another strategy (the per-call seam pinning.py
            # documents), so gating on the live strategy would return the
            # silently-unpinned handle
            and entry[1] == "persist"
            and entry[0].storageLevel.useMemory is False
            and entry[0].storageLevel.useDisk is False
        ):
            # a spark.catalog.clearCache() between queries (bench.py,
            # session hygiene under the persist strategy) unpersisted the
            # memoized frame out from under us — the handle would silently
            # re-execute the full match join per consumer; rebuild
            del _MATCHED_PIN[key]
            entry = None
        if entry is None:
            # drop entries from other applicationIds first: a process that
            # cycles sessions (scaling.py runs run_bench per parallelism
            # level) would otherwise accumulate DataFrame handles pinned
            # to stopped JVM contexts — never hit, but never freed either
            for k in [k for k in _MATCHED_PIN if k[0] != app]:
                del _MATCHED_PIN[k]
            entry = (
                pin(evaluation_matched_plan(spark, sf_dir)),
                pin_strategy(spark),
            )
            _MATCHED_PIN[key] = entry
        return entry[0]


def evaluation_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ME.evaluation_counters(evaluation_matched(spark, sf_dir))


def street_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2 parity: whitelist → blacklist → street-in-polygon → name
    grouping → official-street augmentation."""
    from .operators import street_catalog as SC
    from .sources import streets as ST
    from .sources import synthetic as S

    segs = ST.street_segments_df(spark, sf_dir)
    segs = SC.apply_whitelist(segs)
    blacklist = segs.filter(F.col("osm_id") % 97 == 0)
    segs = SC.apply_blacklist(segs, blacklist)
    munis = S.areas_df(spark, sf_dir).filter(F.col("admin_level") == 8)
    assigned = SC.streets_in_areas(spark, segs, munis)
    catalog = SC.group_street_names(assigned)
    official_streets = (
        A.official_df(spark, sf_dir)
        .select((F.col("job_id") + 100).alias("area_id"), F.col("street").alias("name"))
        .dropDuplicates(["area_id", "name"])
    )
    return SC.augment_official_streets(catalog, official_streets)


def street_merged_geometries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 linemerge per street — canonical WKT, value-checked against the
    SQL chain reconstruction (street_merged_wkt_sql)."""
    from .operators import street_catalog as SC
    from .sources import streets as ST
    from .sources import synthetic as S

    segs = SC.apply_whitelist(ST.street_segments_df(spark, sf_dir))
    munis = S.areas_df(spark, sf_dir).filter(F.col("admin_level") == 8)
    assigned = SC.streets_in_areas(spark, segs, munis)
    return SC.merge_street_geometries(assigned)


def documents_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def embeddings_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import analysis as TA

    return TA.token_stats(documents_df(spark, sf_dir))


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import analysis as TA

    return TA.quality_score(documents_df(spark, sf_dir))


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import analysis as TA

    return TA.lang_id(documents_df(spark, sf_dir))


def text_lang_id_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import analysis as TA

    return TA.lang_id_accuracy(documents_df(spark, sf_dir))


def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import analysis as TA

    return TA.fingerprints(documents_df(spark, sf_dir))


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import dedup as TD

    return TD.exact_dedup(documents_df(spark, sf_dir))


def dedup_minhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import dedup as TD

    return TD.minhash_bands(TD.minhash_signatures(documents_df(spark, sf_dir)))


def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import dedup as TD

    return TD.minhash_dedup_pairs(documents_df(spark, sf_dir))


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import dedup as TD

    return TD.simhash(documents_df(spark, sf_dir))


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import dedup as TD

    return TD.simhash_pairs(documents_df(spark, sf_dir))


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import dedup as TD

    return TD.ngram_jaccard_pairs(documents_df(spark, sf_dir))


def sim_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .vectors import similarity as VS

    return VS.brute_force_topk(embeddings_df(spark, sf_dir))


def sim_ann_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .vectors import similarity as VS

    return VS.ann_buckets(embeddings_df(spark, sf_dir)).select(
        "vec_id", "tbl", "bucket"
    )


def sim_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .vectors import similarity as VS

    return VS.ann_topk(embeddings_df(spark, sf_dir))


def sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .vectors import similarity as VS

    return VS.ann_recall(embeddings_df(spark, sf_dir))


def emb_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .vectors import similarity as VS

    return VS.neardup_pairs(embeddings_df(spark, sf_dir))


# driver-query parameters for the training-corpus operators — single
# source of truth shared with the DuckDB oracles (__spark_entry__.py
# passes these into text/oracles.py and vectors/oracles.py)
CORPUS_MIN_QUALITY = 0.55
CORPUS_LANGS = ("en", "de")
CORPUS_JACCARD = 0.5
SAMPLE_BUDGET_TOKENS = 30_000  # ≈ total/0.9 split 5 ways: small language
# groups keep everything (frac capped at 1), large ones subsample — both
# branches of the keep rule exercised on the driver corpus
CONTAM_BENCH_MOD = 97  # benchmark = documents with doc_id % 97 == 0
PACK_MAX_TOKENS = 80  # corpus docs span 10-99 tokens, so the driver row
# exercises both the FFD packing and the oversize pack_slot=-1 branch
PACK_BUCKETS = 8
ORDER_SEED = 1


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup components over the MinHash pair graph (keep-one step)."""
    from .text import dedup as TD

    docs = documents_df(spark, sf_dir)
    pairs = TD.minhash_dedup_pairs(docs)
    return TD.dedup_clusters(
        docs.select("doc_id"), pairs.select("doc_a", "doc_b")
    )


def corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage ledger of the full prepare_corpus composition (quality →
    language → exact dedup → near-dup keep-one)."""
    from .text import corpus as TC

    _kept, report = TC.prepare_corpus(
        documents_df(spark, sf_dir),
        min_quality=CORPUS_MIN_QUALITY,
        languages=list(CORPUS_LANGS),
        jaccard_threshold=CORPUS_JACCARD,
    )
    return report


def token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import corpus as TC

    return TC.sample_to_token_budget(
        documents_df(spark, sf_dir), SAMPLE_BUDGET_TOKENS, by="lang"
    )


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-gram decontamination scan against a benchmark slice of the corpus
    (deterministic: every doc_id ≡ 0 mod CONTAM_BENCH_MOD)."""
    from .text import corpus as TC

    docs = documents_df(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % CONTAM_BENCH_MOD == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return TC.contamination_check(docs, bench)


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import corpus as TC

    return TC.pack_sequences(
        documents_df(spark, sf_dir), PACK_MAX_TOKENS, n_buckets=PACK_BUCKETS
    )


def training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import corpus as TC

    return TC.training_order(documents_df(spark, sf_dir), seed=ORDER_SEED)


def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .vectors import similarity as VS

    return VS.ivf_topk(embeddings_df(spark, sf_dir))


def ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .vectors import similarity as VS

    return VS.ivf_recall(embeddings_df(spark, sf_dir))


def hnr_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3/F4/O2: multi-value split + range expansion + sortable key over
    raw official housenumber texts."""
    from .norm import housenumbers as HN

    raw = A.raw_housenumbers_df(spark, sf_dir)
    out = HN.explode_housenumbers(raw)
    return out.select(
        "rec_id",
        "housenumber",
        HN.housenumber_sortable("housenumber").alias("hnr_sortable"),
    )


def associated_street(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: associatedStreet relation membership resolution."""
    from .operators import relations as R
    from .sources import relations_src as RS

    objects = A.osm_df(spark, sf_dir).select("osm_id", "street")
    rels = RS.relations_df(spark, sf_dir)
    return R.resolve_associated_street(objects, rels).select(
        "osm_id", "street", "assoc_street", "effective_street", "rel_id"
    )


def _merge_inputs(spark: SparkSession, sf_dir: str):
    base = A.official_df(spark, sf_dir).select("source_id", "street", "housenumber")
    sid = F.col("source_id")
    upd_mod = base.filter(sid % 13 != 0).withColumn(
        "housenumber",
        F.when(sid % 10 == 0, F.concat("housenumber", F.lit("x"))).otherwise(
            F.col("housenumber")
        ),
    )
    # insert keys are NEGATIVE (-(sid+1)) so they can never collide with a
    # real customer-derived key at ANY scale — an additive offset (the old
    # sid + 10_000_000) aliases back into the key space once the customer
    # table exceeds the offset, making `updates` carry duplicate keys
    upd_new = base.filter(sid % 17 == 0).select(
        (-(sid + 1)).alias("source_id"),
        "street",
        F.concat("housenumber", F.lit("n")).alias("housenumber"),
    )
    return base, upd_mod.unionByName(upd_new)


def merge_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1/S9: Workcache diff protocol as one full-outer merge."""
    from .operators import merge as M

    base, updates = _merge_inputs(spark, sf_dir)
    return M.merge_actions(base, updates, ["source_id"], ["street", "housenumber"])


def merge_action_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import merge as M

    return M.merge_counters(merge_diff(spark, sf_dir))


def merge_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/M3 through the Workcache merge, end to end: write the base table
    as a snapshot, commit the diff (updates + deletes) as one snapshot
    merge (sources/snapshots.merge_upsert_snapshot_table), read the table
    back. Verifies the on-disk merge result itself, not just the diff
    DataFrame: updated keys replaced, inserts present, deleted keys
    (source_id % 26 == 0) gone, untouched rows intact. Reference:
    Workcache.java:243-424 write-back."""
    import tempfile

    from .sources import snapshots as SN

    base, updates = _merge_inputs(spark, sf_dir)
    part = (F.col("source_id") % 8).cast("int").alias("part")
    path = tempfile.mkdtemp(prefix="hns_upsert_")
    SN.snapshot_write(base.select("*", part), path, ["part"])
    # keys absent from updates are the diff's DELETE set; drop every other
    # one (% 26) so the snapshot keeps genuinely untouched rows too
    deletes = base.filter(F.col("source_id") % 26 == 0).select("source_id")
    SN.merge_upsert_snapshot_table(
        spark, path, updates.select("*", part), ["source_id"],
        deletes=deletes,
    )
    merged = SN.read_snapshot(spark, path).select(
        "source_id", "street", "housenumber"
    )
    return _materialize_then_rm(merged, path)


def boundary_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 + F5: AGS-normalized boundary candidate ranking."""
    from .norm import names as NM
    from .operators import boundaries as B

    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    q = n.select(
        F.col("n_nationkey").cast("long").alias("query_id"),
        F.concat(
            (F.col("n_nationkey") % 16).cast("string"),
            F.lit(" "),
            (F.col("n_nationkey") % 10).cast("string"),
            F.lit(" 52"),
        ).alias("ags_raw"),
    )
    i = F.col("id")
    cand = q.crossJoin(
        spark.range(6).select(
            i.alias("i"),
            (F.lit(8) - i % 4 * 2).alias("matched_key_len"),
            (i % 2 == 0).alias("name_match"),
            (F.lit(4) + i).cast("int").alias("admin_level"),
        )
    ).select(
        "query_id",
        NM.normalize_ags("ags_raw").alias("ags_norm"),
        (F.col("query_id") * 10 + F.col("i")).alias("rel_id"),
        F.col("matched_key_len").cast("int").alias("matched_key_len"),
        "name_match",
        "admin_level",
    )
    return B.best_boundary_candidate(cand)


def josm_export_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11/F14: JOSM .osm node strings with XML escaping."""
    from .sources import export as EX

    sid = F.col("source_id")
    addrs = A.official_df(spark, sf_dir).select(
        "source_id",
        F.concat("street", F.lit(" <&'\">")).alias("street"),
        "housenumber",
        F.concat(F.lit("52"), F.lpad((sid % 100).cast("string"), 3, "0")).alias(
            "postcode"
        ),
        (F.lit(6.0) + (sid % 1000) / F.lit(1000.0)).alias("lon"),
        (F.lit(50.0) + (sid % 777) / F.lit(1000.0)).alias("lat"),
    )
    return EX.josm_export(addrs)


def census_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: per-area census (points, hot points, distinct tiles)."""
    from .operators import pip_join as PJ
    from .sources import synthetic as S

    pts = S.points_df(spark, sf_dir)
    areas = S.areas_df(spark, sf_dir)
    assigned = PJ.tile_assign(
        PJ.assign_points_to_areas(spark, pts, areas), TILE_RES_CENSUS
    )
    return assigned.groupBy("area_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum(F.col("hot").cast("int")).cast("long").alias("n_hot"),
        F.countDistinct("tile_id").alias("n_tiles"),
    )


TILE_RES_CENSUS = 11


def stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming import windows as SW

    return SW.run_stream_to_completion(spark, sf_dir)


def stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming import windows as SW

    return SW.sessionize(spark, sf_dir)


CSV_FIXTURE_VERSION = "v1"


def _csv_fixture_path(spark: SparkSession, sf_dir: str) -> str:
    """Write (once) a deterministic German-headed ';'-separated CSV derived
    from orders — the Aachen-fixture shape (SURVEY.md §5) — and return its
    path. Synthesized on the driver; real deployments read existing files."""
    import hashlib
    import os
    import tempfile
    import uuid

    # cache key covers the SOURCE DATA (size + mtime of orders.parquet),
    # not just the directory path — regenerated testdata under the same
    # sf_dir invalidates the fixture instead of serving stale rows
    src = f"{sf_dir}/orders.parquet"
    if os.path.isdir(src):
        stat = ";".join(
            f"{n}:{os.path.getsize(os.path.join(src, n))}"
            f":{os.path.getmtime(os.path.join(src, n))}"
            for n in sorted(os.listdir(src))
            if not n.startswith((".", "_"))
        )
    else:
        st = os.stat(src)
        stat = f"{st.st_size}:{st.st_mtime_ns}"
    tag = hashlib.md5(
        f"{sf_dir}:{stat}:{CSV_FIXTURE_VERSION}".encode()
    ).hexdigest()[:10]
    path = os.path.join(tempfile.gettempdir(), f"hns_list_{tag}.csv")
    if os.path.exists(path):
        return path
    k = F.col("o_orderkey")
    df = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select(
            k.alias("fid"),
            F.concat(F.lit("Strasse "), (k % 50).cast("string")).alias("Straße"),
            (k % 200 + 1).cast("string").alias("Hausnummer"),
            (52000 + k % 100).cast("string").alias("PLZ"),
            F.concat(F.lit("Stadt "), (k % 5).cast("string")).alias("Gemeinde"),
            (F.lit(6.0) + (k % 1000) / F.lit(1000.0)).alias("lon"),
            (F.lit(50.0) + (k % 777) / F.lit(1000.0)).alias("lat"),
            F.concat(F.lit("bk-"), (k % 7).cast("string")).alias("Bemerkung"),
        )
        .orderBy("fid")
    )
    # uuid tmp: concurrent writers (two drivers, parallel tests) each write
    # privately and publish with an atomic rename — no interleaved bytes,
    # no FileNotFoundError when the loser's tmp was already moved.
    # STREAMED write (toLocalIterator): the driver holds one Arrow batch at
    # a time instead of the whole table (the former .toPandas() pinned
    # hundreds of MB of driver memory at large sf for what is a fixture).
    # Formatting matches the previous pandas to_csv bytes exactly (verified
    # by md5 at sf0.001/sf0.01): QUOTE_MINIMAL never fires on these fields,
    # floats render as Python shortest-repr, '\n' endings, utf-8-sig BOM.
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    cols = df.columns
    with open(tmp, "w", encoding="utf-8-sig", newline="") as out:
        out.write(";".join(cols) + "\n")
        for row in df.toLocalIterator(prefetchPartitions=True):
            out.write(
                ";".join(
                    v if isinstance(v, str) else repr(v) if isinstance(v, float) else str(v)
                    for v in (row[c] for c in cols)
                )
                + "\n"
            )
    os.replace(tmp, path)
    return path


def csv_import_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 end-to-end: sniff separator, strip BOM, infer multilingual
    headers, pack unmatched columns as extra tags — checked value-for-value
    against the oracle recomputing the same rows from orders."""
    from .sources import csv_import as CI

    df = CI.read_csv_addresses(spark, _csv_fixture_path(spark, sf_dir))
    return df.select(
        F.element_at("extraosmtags", "fid").cast("long").alias("source_id"),
        "street",
        "housenumber",
        "postcode",
        "municipality",
        "lon",
        "lat",
        F.element_at("extraosmtags", "Bemerkung").alias("remark"),
    )


def csv_import_roundtrip_sql() -> str:
    return """
SELECT o_orderkey AS source_id,
  'Strasse ' || CAST(o_orderkey % 50 AS VARCHAR) AS street,
  CAST(o_orderkey % 200 + 1 AS VARCHAR) AS housenumber,
  CAST(52000 + o_orderkey % 100 AS VARCHAR) AS postcode,
  'Stadt ' || CAST(o_orderkey % 5 AS VARCHAR) AS municipality,
  6.0 + (o_orderkey % 1000) / 1000.0 AS lon,
  50.0 + (o_orderkey % 777) / 1000.0 AS lat,
  'bk-' || CAST(o_orderkey % 7 AS VARCHAR) AS remark
FROM orders"""


SUBURB_BUFFER_DEG = 0.03  # MunicipalityArea.java:684: ST_Buffer(poly, 0.03)


def suburb_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: which district (admin_level 6) does each municipality polygon
    (admin_level 8) sit in, with the reference's 0.03° tolerance buffer."""
    from .operators import boundaries as B
    from .sources import synthetic as S

    areas = S.areas_df(spark, sf_dir)
    suburbs = areas.filter(F.col("admin_level") == 8)
    districts = areas.filter(F.col("admin_level") == 6)
    return B.suburbs_within_buffered(suburbs, districts, SUBURB_BUFFER_DEG)


def _boundary_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each municipality box split into its 4 quadrant boxes = the members
    of one admin boundary relation (deterministic, SQL-recomputable)."""
    from .sources import synthetic as S

    quads = spark.range(4).select(F.col("id").alias("q"))
    m = S.areas_df(spark, sf_dir, with_wkb=False).filter(F.col("admin_level") == 8)
    half_w = (F.col("xmax") - F.col("xmin")) / 2
    half_h = (F.col("ymax") - F.col("ymin")) / 2
    parts = m.crossJoin(F.broadcast(quads)).select(
        F.col("area_id").alias("rel_id"),
        (F.col("xmin") + (F.col("q") % 2) * half_w).alias("pxmin"),
        (F.col("ymin") + F.floor(F.col("q") / 2) * half_h).alias("pymin"),
        (F.col("xmin") + (F.col("q") % 2) * half_w + half_w).alias("pxmax"),
        (F.col("ymin") + F.floor(F.col("q") / 2) * half_h + half_h).alias("pymax"),
    )
    from .sources.synthetic import box_wkb_udf

    return parts.withColumn(
        "part_wkb", box_wkb_udf()("pxmin", "pymin", "pxmax", "pymax")
    ).select("rel_id", "part_wkb")


def boundary_union_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 + A8: per-relation part union → n_parts, area, centroid (rounded
    so Spark-geometry and oracle-arithmetic float paths agree exactly)."""
    from .operators import boundaries as B

    stats = B.polygon_union_stats(_boundary_parts(spark, sf_dir))
    return stats.select(
        "rel_id",
        "n_parts",
        F.round("area_deg2", 6).alias("area_deg2"),
        F.round("centroid_lon", 6).alias("centroid_lon"),
        F.round("centroid_lat", 6).alias("centroid_lat"),
    )


def crs_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: mixed-SRID import coordinates → WGS84 via the vectorized
    transform (web-mercator rows inverted, 4326 rows passed through)."""
    from .geo import crs as CRS

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    k = F.col("o_orderkey")
    is_wm = (k % 4) != 0
    raw = o.select(
        k.alias("rec_id"),
        F.when(is_wm, (k % 4001 - 2000) * F.lit(1000.0)).otherwise(
            (k % 360) - 180 + 0.25
        ).alias("x"),
        F.when(is_wm, (k % 2001) * F.lit(1000.0) + 5.5e6).otherwise(
            (k % 170) - 85 + 0.25
        ).alias("y"),
        F.when(is_wm, 3857).otherwise(4326).cast("int").alias("srid"),
    )
    out = CRS.with_wgs84(raw, "x", "y", "srid")
    return out.select(
        "rec_id",
        "srid",
        F.round("lon", 7).alias("lon"),
        F.round("lat", 7).alias("lat"),
    )


def import_rejects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9: completeness filter side-output — rows missing street or
    housenumber land in a rejects table with the reason (CsvReader.java:
    531-542 logs them; TheoreticalHousenumbers.java:911-924 skips them)."""
    damaged = A.official_df(spark, sf_dir).select(
        "source_id",
        F.when(F.col("source_id") % 23 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("street"))
        .alias("street"),
        F.when(F.col("source_id") % 29 == 0, F.lit(""))
        .otherwise(F.col("housenumber"))
        .alias("housenumber"),
    )
    reason = F.when(
        F.col("street").isNull() | (F.trim("street") == ""), "missing_street"
    ).when(
        F.col("housenumber").isNull() | (F.trim("housenumber") == ""),
        "missing_housenumber",
    )
    return (
        damaged.withColumn("reason", reason)
        .filter(F.col("reason").isNotNull())
        .select("source_id", "reason")
    )


RESUME_STARTDATE = 4  # jobs with result_day >= this are "fresh" (P11)


def resume_pending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11: already-evaluated skip — jobs whose stored evaluation is fresh
    are dropped via a left-anti join against the results table
    (TheoreticalHousenumbers.java:801-812 re-queries per municipality)."""
    jobs = A.job_flags_df(spark).select("job_id")
    results = (
        jobs.filter(F.col("job_id") % 3 != 1)
        .withColumn("result_day", F.col("job_id") % 7)
    )
    fresh = results.filter(F.col("result_day") >= RESUME_STARTDATE)
    return jobs.join(F.broadcast(fresh), "job_id", "left_anti")


def snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/S10 + §1.3 snapshot isolation, end to end through the versioned
    table layer (sources/snapshots.py — the Iceberg metadata pattern the
    sink docstrings point to): v1 = append the orders-derived base, v2 =
    dynamic-partition overwrite of buckets 0-1 with shifted ids, v3 =
    rollback to v1. One row per version with its pinned row count and id
    sum — verifying time travel (v1 still exact after v2), metadata-only
    partition replacement, and rollback re-pointing. Reference:
    Workcache.java:2-20 'evaluation stays visible during recompute'."""
    import tempfile
    from functools import reduce

    from .sources import snapshots as SN

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    base = o.select(
        F.col("o_orderkey").cast("long").alias("id"),
        (F.col("o_orderkey") % 8).cast("int").alias("bucket"),
    )
    root = tempfile.mkdtemp(prefix="hns_snaptbl_")
    table = root + "/t"
    try:
        SN.snapshot_write(base, table, ["bucket"], mode="append")
        repl = base.filter(F.col("bucket") < 2).select(
            (F.col("id") + 10_000_000).alias("id"), "bucket"
        )
        SN.snapshot_write(repl, table, ["bucket"], mode="overwrite_partitions")
        SN.rollback(spark, table, 1)
        outs = []
        for v in (1, 2, 3):
            df = SN.read_snapshot(spark, table, version=v)
            outs.append(
                df.agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.sum("id").alias("sum_id"),
                ).select(F.lit(v).alias("version"), "n_rows", "sum_id")
            )
        # materialize (3 rows) so the temp table can be deleted — repeated
        # driver/bench invocations otherwise leave two full data copies
        # under /tmp per call
        rows = [
            (r["version"], r["n_rows"], r["sum_id"])
            for r in reduce(lambda a, b: a.unionByName(b), outs).collect()
        ]
    finally:
        import shutil

        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        rows, "version int, n_rows bigint, sum_id bigint"
    )


def snapshot_time_travel_sql() -> str:
    """DuckDB oracle: recompute each version's expected contents from the
    same deterministic arithmetic (v3 = rollback ≡ v1)."""
    return """
WITH base AS (
  SELECT CAST(o_orderkey AS BIGINT) AS id,
         CAST(o_orderkey % 8 AS INT) AS bucket
  FROM orders),
v2 AS (
  SELECT id + 10000000 AS id, bucket FROM base WHERE bucket < 2
  UNION ALL
  SELECT id, bucket FROM base WHERE bucket >= 2)
SELECT 1 AS version, COUNT(*) AS n_rows, CAST(SUM(id) AS BIGINT) AS sum_id FROM base
UNION ALL
SELECT 2, COUNT(*), CAST(SUM(id) AS BIGINT) FROM v2
UNION ALL
SELECT 3, COUNT(*), CAST(SUM(id) AS BIGINT) FROM base"""


def sorted_street_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 + O3: distinct street names ordered by the locale-folding
    `correctorder` key (dbfunctions.sql:15-19) with a deterministic rank.
    Dimension-scale output (a municipality's street list), so the single
    global window is fine."""
    from .norm import names as NM

    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    k = F.col("p_partkey")
    base = (
        F.when(k % 8 == 0, "Ährenweg")
        .when(k % 8 == 1, "Übergasse")
        .when(k % 8 == 2, "Öhrstraße")
        .when(k % 8 == 3, "Bachgasse")
        .when(k % 8 == 4, "Zum Loch")
        .when(k % 8 == 5, "Ängerweg")
        .when(k % 8 == 6, "Straßburger Allee")
        .otherwise("Am Hang")
    )
    streets = p.select(
        F.concat(base, F.lit(" "), (k % 50).cast("string")).alias("street")
    ).distinct()
    keyed = streets.withColumn("sort_key", NM.correctorder("street"))
    w = W.orderBy("sort_key")
    return keyed.withColumn("street_rank", F.row_number().over(w).cast("int"))


def street_merge_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 as an oracle-checked query: per-street segment and merged-chain
    counts from the real linemerge (the chain structure of the synthetic
    network is SQL-derivable, the geometry work is not)."""
    return street_merged_geometries(spark, sf_dir).select(
        "area_id", "name", "n_segments", "n_merged"
    )


def street_merge_stats_sql() -> str:
    from .oracles import areas_sql
    from .sources.streets import HIGHWAY_WHITELIST, street_segments_sql

    wl = ", ".join(f"'{h}'" for h in HIGHWAY_WHITELIST)
    return f"""
WITH segs AS (
  SELECT *, osm_id // 10 AS street_key FROM {street_segments_sql()} t
  WHERE highway IN ({wl})),
areas AS (SELECT * FROM {areas_sql()} a WHERE admin_level = 8),
asg AS (
  SELECT s.street_key, s.name, a.area_id FROM segs s JOIN areas a
    ON s.y0 >= a.ymin AND s.y0 <= a.ymax AND s.x1 >= a.xmin AND s.x0 <= a.xmax)
SELECT CAST(area_id AS BIGINT) AS area_id, name,
       CAST(COUNT(*) AS INT) AS n_segments,
       CAST(COUNT(DISTINCT street_key) AS INT) AS n_merged
FROM asg GROUP BY area_id, name"""


N_GATE_IMAGES = 200
GATE_CORRUPT_EVERY = 10


def stream_image_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 on the image axis: streaming ingest of image files through the
    decode/phash invariant gate (exactly-once file processing), reporting
    per-format accept/reject counts. The corruption pattern (every 10th id,
    and ids alternate png/jpgq) makes the counts SQL-derivable while the
    engine genuinely decodes every payload in a streaming microbatch."""
    import tempfile

    from .streaming import images as SI

    base = tempfile.mkdtemp(prefix="hns_sgate_")
    src, out, ckpt = f"{base}/src", f"{base}/out", f"{base}/ckpt"
    SI.make_gate_source(
        spark, src, 0, N_GATE_IMAGES, corrupt_every=GATE_CORRUPT_EVERY
    )
    SI.run_image_gate(spark, src, out, ckpt)
    acc = (
        SI.read_gated(spark, out, "accepted")
        .groupBy("fmt")
        .agg(F.count(F.lit(1)).alias("n_accepted"))
    )
    rej = (
        SI.read_gated(spark, out, "rejected")
        .groupBy("fmt")
        .agg(F.count(F.lit(1)).alias("n_rejected"))
    )
    counts = acc.join(rej, "fmt", "full_outer").select(
        "fmt",
        F.coalesce("n_accepted", F.lit(0)).alias("n_accepted"),
        F.coalesce("n_rejected", F.lit(0)).alias("n_rejected"),
    )
    return _materialize_then_rm(counts, base)


def stream_image_gate_sql() -> str:
    n, ce = N_GATE_IMAGES, GATE_CORRUPT_EVERY
    return f"""
SELECT CASE WHEN i % 2 = 0 THEN 'png' ELSE 'jpgq' END AS fmt,
       CAST(SUM(CASE WHEN i % {ce} <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_accepted,
       CAST(SUM(CASE WHEN i % {ce} = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rejected
FROM range({n}) t(i) GROUP BY 1"""


WINDOW_BOX = (6.3, 50.2, 6.9, 50.7)  # lon_min, lat_min, lon_max, lat_max


def spatial_window_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-layout path end to end: write the point table cell-
    partitioned + Morton-sorted, then answer a bbox window query through
    partition pruning + parquet pushdown (sources/layout.py). The oracle
    is the plain rectangle predicate — pruning must not change results."""
    import tempfile

    from .sources import layout as L
    from .sources import synthetic as S

    pts = S.points_df(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="hns_layout_q_")
    L.write_spatial(pts, path, part_res=8)
    win = L.read_window(spark, path, *WINDOW_BOX, part_res=8).select(
        "point_id", "lon", "lat"
    )
    # (the pruning/pushdown plan itself is asserted in tests/test_layout.py
    # against read_window directly; this query verifies the VALUES)
    return _materialize_then_rm(win, path)


def spatial_window_read_sql() -> str:
    from .sources.synthetic import points_sql

    x0, y0, x1, y1 = WINDOW_BOX
    return (
        f"SELECT point_id, lon, lat FROM {points_sql()} p "
        f"WHERE lon >= {x0!r} AND lon <= {x1!r} "
        f"AND lat >= {y0!r} AND lat <= {y1!r}"
    )


def street_merged_wkt_sql() -> str:
    """Value oracle for the full linemerge output: the synthetic network's
    chains (seg1, optional seg2 sharing endpoint cx+h) are reconstructable
    in SQL, and the engine's canonical WKT (sorted chain parts, %.7f
    formatting) is reproduced with printf + ordered string_agg."""
    from .oracles import areas_sql
    from .sources.streets import HIGHWAY_WHITELIST, street_segments_sql

    wl = ", ".join(f"'{h}'" for h in HIGHWAY_WHITELIST)
    pt = "printf('%.7f %.7f', {x}, y)"
    return f"""
WITH segs AS (
  SELECT *, osm_id // 10 AS street_key, osm_id % 10 AS part
  FROM {street_segments_sql()} t WHERE highway IN ({wl})),
areas AS (SELECT * FROM {areas_sql()} a WHERE admin_level = 8),
asg AS (
  SELECT s.street_key, s.name, s.part, s.x0, s.x1, s.y0, a.area_id
  FROM segs s JOIN areas a
    ON s.y0 >= a.ymin AND s.y0 <= a.ymax AND s.x1 >= a.xmin AND s.x0 <= a.xmax),
chains AS (
  SELECT area_id, name, street_key, COUNT(*) AS n_seg, MIN(y0) AS y,
         MIN(CASE WHEN part = 0 THEN x0 END) AS s1x0,
         MIN(CASE WHEN part = 0 THEN x1 END) AS s1x1,
         MIN(CASE WHEN part = 1 THEN x0 END) AS s2x0,
         MIN(CASE WHEN part = 1 THEN x1 END) AS s2x1
  FROM asg GROUP BY area_id, name, street_key),
fmt AS (
  SELECT area_id, name, n_seg,
    CASE
      WHEN s1x0 IS NOT NULL AND s2x0 IS NOT NULL THEN
        '(' || {pt.format(x='s1x0')} || ', ' || {pt.format(x='s1x1')}
            || ', ' || {pt.format(x='s2x1')} || ')'
      WHEN s1x0 IS NOT NULL THEN
        '(' || {pt.format(x='s1x0')} || ', ' || {pt.format(x='s1x1')} || ')'
      ELSE
        '(' || {pt.format(x='s2x0')} || ', ' || {pt.format(x='s2x1')} || ')'
    END AS chain
  FROM chains)
SELECT CAST(area_id AS BIGINT) AS area_id, name,
       CAST(SUM(n_seg) AS INT) AS n_segments,
       CAST(COUNT(*) AS INT) AS n_merged,
       CASE WHEN COUNT(*) = 1 THEN 'LINESTRING' || MIN(chain)
            ELSE 'MULTILINESTRING(' || string_agg(chain, ', ' ORDER BY chain) || ')'
       END AS merged_wkt
FROM fmt GROUP BY area_id, name"""


def title_case_streets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: StreetToUpperLower title-casing over raw imported names."""
    from .norm import names as NM

    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    k = F.col("p_partkey")
    raw = (
        F.when(k % 7 == 0, "VIA ROMA")
        .when(k % 7 == 1, "strada del ponte")
        .when(k % 7 == 2, "PIAZZA II GIUGNO")
        .when(k % 7 == 3, "Am Markt")
        .when(k % 7 == 4, "VIA DELLA LIBERTÀ")
        .when(k % 7 == 5, "CORSO VITTORIO-EMANUELE")
        .otherwise("HAUPTSTRAßE")
    )
    d = p.select(k.alias("rec_id"), raw.alias("raw_name"))
    return d.withColumn("titled", NM.title_case_street("raw_name"))


def title_case_streets_sql() -> str:
    from .norm.names import _UPPER_RUN, LOWERCASE_PARTICLES, UPPERCASE_WORDS

    low = ", ".join(f"'{w}'" for w in LOWERCASE_PARTICLES)
    up = ", ".join(f"'{w}'" for w in UPPERCASE_WORDS)
    # run-in-place folding in lockstep with norm/names.title_case_street
    # (and the reference regex, which replaces uppercase runs ANYWHERE in
    # the string): wrap every maximal run with sentinels, split, fold only
    # run segments; the exception lists consult the run itself
    run = f"regexp_matches(u, '^{_UPPER_RUN}$')"
    fix = (
        f"CASE WHEN {run} AND lower(u) IN ({low}) THEN lower(u) "
        f"WHEN {run} AND upper(u) IN ({up}) THEN upper(u) "
        f"WHEN {run} "
        f"THEN substr(u, 1, 1) || lower(substr(u, 2)) ELSE u END"
    )
    titled = (
        "array_to_string(list_transform(string_split("
        f"regexp_replace(raw_name, '({_UPPER_RUN})', "
        "chr(1) || '\\1' || chr(1), 'g'), "
        f"chr(1)), u -> {fix}), '')"
    )
    raw = (
        "CASE p_partkey % 7 WHEN 0 THEN 'VIA ROMA' "
        "WHEN 1 THEN 'strada del ponte' WHEN 2 THEN 'PIAZZA II GIUGNO' "
        "WHEN 3 THEN 'Am Markt' WHEN 4 THEN 'VIA DELLA LIBERTÀ' "
        "WHEN 5 THEN 'CORSO VITTORIO-EMANUELE' "
        "ELSE 'HAUPTSTRAßE' END"
    )
    return f"""
WITH d AS (SELECT p_partkey AS rec_id, {raw} AS raw_name FROM part)
SELECT rec_id, raw_name, {titled} AS titled
FROM d"""


def address_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2: the reference writes ``___temp___addressincomplete`` /
    ``___temp___addressstreetfromassociatedrel`` / ``___temp___
    relationprocessed`` flags INTO the planet tables' hstore
    (TheoreticalHousenumbers.java:587-588, 969-997;
    OSMRelationAssociatedStreetWorkaround.java:164-182). Inputs stay
    immutable here: the same facts are derived columns computed from the
    address objects and the relation join — no mutation, rerunnable."""
    from .operators import relations as R
    from .sources import relations_src as RS

    osm = A.osm_df(spark, sf_dir).select(
        "osm_id",
        F.when(F.col("osm_id") % 31 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("street"))
        .alias("street"),
        "housenumber",
    )
    resolved = R.resolve_associated_street(osm, RS.relations_df(spark, sf_dir))
    return resolved.select(
        "osm_id",
        (F.col("assoc_street").isNotNull()).alias("street_from_associated_rel"),
        (F.col("rel_id").isNotNull()).alias("relation_processed"),
        (
            F.col("effective_street").isNull()
            & F.col("housenumber").isNotNull()
        ).alias("address_incomplete"),
    )


def address_flags_sql() -> str:
    from .sources.addresses import osm_sql
    from .sources.relations_src import relations_sql

    return f"""
WITH osm AS (
  SELECT osm_id,
         CASE WHEN osm_id % 31 = 0 THEN NULL ELSE street END AS street,
         housenumber
  FROM {osm_sql()} o),
mem AS (
  SELECT rel_id, name, unnest(members) AS member_id FROM {relations_sql()} r),
best AS (
  SELECT member_id, rel_id, name FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY member_id ORDER BY rel_id) AS rn
    FROM mem) t WHERE rn = 1)
SELECT o.osm_id,
       b.name IS NOT NULL AS street_from_associated_rel,
       b.rel_id IS NOT NULL AS relation_processed,
       (COALESCE(b.name, o.street) IS NULL AND o.housenumber IS NOT NULL)
         AS address_incomplete
FROM osm o LEFT JOIN best b ON b.member_id = o.osm_id"""


def lu_commune_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13: broadcast locality→commune substitution for LU rows."""
    from .sources import lu_communes as LU

    n = len(LU.LU_COMMUNES)
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey")
    subs = F.array(*[F.lit(s) for s, _ in LU.LU_COMMUNES])
    raw = c.select(
        k.alias("source_id"),
        F.when(k % 3 == 0, "DE").otherwise("LU").alias("country"),
        F.element_at(subs, (k % n + 1).cast("int")).alias("subarea"),
        F.concat(F.lit("Ort "), (k % 7).cast("string")).alias("municipality"),
    )
    out = LU.apply_lu_commune(raw, LU.lu_commune_df(spark))
    return out.select("source_id", "country", "subarea", "municipality")


def lu_commune_lookup_sql() -> str:
    from .sources import lu_communes as LU

    n = len(LU.LU_COMMUNES)
    subs = ", ".join(f"'{s}'" for s, _ in LU.LU_COMMUNES)
    return f"""
WITH raw AS (
  SELECT c_custkey AS source_id,
         CASE WHEN c_custkey % 3 = 0 THEN 'DE' ELSE 'LU' END AS country,
         [{subs}][CAST(c_custkey % {n} + 1 AS INT)] AS subarea,
         'Ort ' || CAST(c_custkey % 7 AS VARCHAR) AS municipality
  FROM customer)
SELECT r.source_id, r.country, r.subarea,
       CASE WHEN r.country = 'LU' AND l.commune IS NOT NULL THEN l.commune
            ELSE r.municipality END AS municipality
FROM raw r LEFT JOIN {LU.lu_commune_values_sql()} l
  ON r.country = 'LU' AND r.subarea = l.subarea"""


N_MM_IMAGES = 400
RESIZE_W, RESIZE_H = 8, 8
N_VIDEOS, N_FRAMES, FRAME_EVERY = 60, 12, 5
N_AUDIO = 80


def image_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize stage: decode → resample → re-encode, then gate
    (dims correct, captions byte-equal). Rows-only check (binary codecs);
    exact pixel semantics tested in tests/test_images.py."""
    from .images import transform as TR
    from .sources import images as IMG

    src = IMG.images_table(spark, N_MM_IMAGES)
    resized = TR.resize_images(src, RESIZE_W, RESIZE_H)
    dec = resized.join(
        src.select("image_id", F.col("caption").alias("src_caption")), "image_id"
    )
    return dec.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            ((F.col("w") == RESIZE_W) & (F.col("h") == RESIZE_H)).cast("int")
        ).alias("n_dim_ok"),
        F.sum((F.col("caption") == F.col("src_caption")).cast("int")).alias(
            "n_caption_ok"
        ),
    )


def video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over the VID1 container column; the kept (video_id,
    frame_idx, w, h) set is SQL-recomputable, so the oracle verifies the
    sampling logic while the engine really unpacks and decodes frames."""
    from .images import transform as TR
    from .sources import images as IMG

    vids = IMG.videos_df(spark, N_VIDEOS, N_FRAMES)
    return TR.frame_sample(vids, FRAME_EVERY).select(
        "video_id", "frame_idx", "w", "h"
    )


def video_frame_sample_sql() -> str:
    from .sources.images import IMG_H, IMG_W

    idxs = ", ".join(f"({i})" for i in range(0, N_FRAMES, FRAME_EVERY))
    return f"""
SELECT 'vid' || lpad(CAST(v AS VARCHAR), 8, '0') AS video_id,
       CAST(f.frame_idx AS INT) AS frame_idx,
       CAST({IMG_W} AS INT) AS w, CAST({IMG_H} AS INT) AS h
FROM range({N_VIDEOS}) t(v) CROSS JOIN (VALUES {idxs}) f(frame_idx)"""


def audio_feature_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decode plumbing, oracle-checked: the engine really unpacks the
    PCM payload (zlib + int16) and the sample counts/durations it extracts
    are integer-reproducible in SQL. Float DSP features (rms, zero-cross
    rate) stay engine-side, value-tested in tests/test_images.py."""
    from .images import transform as TR
    from .sources import images as IMG

    feats = TR.audio_features(IMG.audio_df(spark, N_AUDIO))
    return feats.select(
        "audio_id",
        "sample_rate",
        "n_samples",
        F.floor(F.col("n_samples") * 1000 / F.col("sample_rate"))
        .cast("long")
        .alias("duration_ms"),
    )


def audio_feature_stats_sql() -> str:
    from .sources.images import AUDIO_RATE

    n = f"CAST({AUDIO_RATE} * (0.5 + (i % 4) / 4.0) AS BIGINT)"
    return f"""
SELECT 'aud' || lpad(CAST(i AS VARCHAR), 8, '0') AS audio_id,
       CAST({AUDIO_RATE} AS INT) AS sample_rate,
       {n} AS n_samples,
       CAST(FLOOR({n} * 1000 / {AUDIO_RATE}) AS BIGINT) AS duration_ms
FROM range({N_AUDIO}) t(i)"""


# Image-dedup driver queries run on the same 2000-row table as the
# invariant gate (__spark_entry__.N_IMAGES) so the /tmp parquet cache is
# shared across all image queries.
N_IMG_DEDUP = 2000
PHASH_NEARDUP_MAX_HAMMING = 10


def image_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-identical image dedup over a simulated double-crawl: the image
    table unioned with a re-ingested copy (identical bytes, new crawl ids).
    Every content group must collapse to the original id with 2 copies —
    the engine earns this by grouping on the md5-split content fingerprint
    (images/dedup.py exact_dedup; bytes never shuffle)."""
    from .images import dedup as D
    from .sources import images as IMG

    src = IMG.images_table(spark, N_IMG_DEDUP).select("image_id", "bytes")
    recrawl = src.withColumn("image_id", F.concat("image_id", F.lit("~re")))
    return D.exact_dedup(src.unionByName(recrawl))


def image_dedup_exact_sql() -> str:
    return (
        "SELECT 'img' || lpad(CAST(i AS VARCHAR), 10, '0') AS "
        "canonical_image_id, CAST(2 AS BIGINT) AS n_copies "
        f"FROM range({N_IMG_DEDUP}) t(i)"
    )


def image_caption_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-caption dedup: after stripping the per-crawl
    ``photo NNNNNNNN:`` prefix, captions repeat with the generator's
    CAPTION_PERIOD — the engine must find exactly those groups by grouping
    the normalized strings (images/dedup.py caption_dedup)."""
    from .images import dedup as D
    from .sources import images as IMG

    src = IMG.images_table(spark, N_IMG_DEDUP).select("image_id", "caption")
    norm = F.regexp_replace("caption", r"^photo \d+: ", "")
    return D.caption_dedup(src, caption_col=norm)


def image_caption_dedup_sql() -> str:
    from .sources.images import CAPTION_PERIOD, CAPTION_SUBJECTS, CAPTION_TOWNS

    subj = "[" + ", ".join(f"'{s}'" for s in CAPTION_SUBJECTS) + "]"
    town = "[" + ", ".join(f"'{t}'" for t in CAPTION_TOWNS) + "]"
    n, p = N_IMG_DEDUP, CAPTION_PERIOD
    big, small = n // p + 1, n // p  # residues below n % p get one extra
    return f"""
SELECT 'a ' || ({subj})[(r % {len(CAPTION_SUBJECTS)}) + 1] || ' in ' ||
       ({town})[(r % {len(CAPTION_TOWNS)}) + 1] ||
       ' with housenumber ' || CAST(1 + r AS VARCHAR) AS caption_norm,
       'img' || lpad(CAST(r AS VARCHAR), 10, '0') AS canonical_image_id,
       CAST(CASE WHEN r < {n % p} THEN {big} ELSE {small} END AS BIGINT)
         AS n_copies
FROM range({p}) t(r)"""


def image_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate pairs over the stored 64-bit phash column
    via banded LSH + exact Hamming refine (images/dedup.py
    phash_neardup_pairs). The oracle replays the identical banding on
    phashes recomputed driver-side from the pure generator kernel."""
    from .images import dedup as D
    from .sources import images as IMG

    src = IMG.images_table(spark, N_IMG_DEDUP).select("image_id", "phash")
    return D.phash_neardup_pairs(
        src, max_hamming=PHASH_NEARDUP_MAX_HAMMING
    )


def image_phash_neardup_sql() -> str:
    from .images.dedup import PHASH_BAND_BITS, PHASH_BANDS
    from .sources.images import images_phash_sql

    bb = PHASH_BAND_BITS
    mask = (1 << bb) - 1
    return f"""
WITH ph AS (SELECT image_id, phash FROM {images_phash_sql(N_IMG_DEDUP)} s),
bands AS (
  SELECT image_id, phash, j AS band, (phash >> (j * {bb})) & {mask} AS bucket
  FROM ph CROSS JOIN (
    SELECT unnest(generate_series(0, {PHASH_BANDS - 1})) AS j) g)
SELECT img_a, img_b, hamming FROM (
  SELECT DISTINCT a.image_id AS img_a, b.image_id AS img_b,
         CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.image_id < b.image_id) t
WHERE hamming <= {PHASH_NEARDUP_MAX_HAMMING}"""


IMG_CORPUS_MIN_CAPTION = 55  # drops ~18% of the synthetic captions


def image_corpus_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full image-corpus preparation over a simulated double-crawl:
    caption-length gate → exact byte-dedup keep-one (drops every re-crawl
    copy) → phash near-dup cluster keep-one (images/dedup.py
    prepare_image_corpus). The oracle replays the gate arithmetic, the
    LSH banding and the connected-components fixpoint (recursive CTE) on
    driver-side recomputed phashes."""
    from .images import dedup as D
    from .sources import images as IMG

    src = IMG.images_table(spark, N_IMG_DEDUP).select(
        "image_id", "bytes", "w", "h", "caption", "phash"
    )
    recrawl = src.withColumn("image_id", F.concat("image_id", F.lit("~re")))
    kept = D.prepare_image_corpus(
        src.unionByName(recrawl),
        min_caption_chars=IMG_CORPUS_MIN_CAPTION,
        max_hamming=PHASH_NEARDUP_MAX_HAMMING,
    )
    return kept.select("image_id", "phash")


def image_corpus_kept_sql() -> str:
    from .images.dedup import PHASH_BAND_BITS, PHASH_BANDS
    from .sources.images import CAPTION_SUBJECTS, CAPTION_TOWNS, images_phash_sql

    subj = "[" + ", ".join(f"'{s}'" for s in CAPTION_SUBJECTS) + "]"
    town = "[" + ", ".join(f"'{t}'" for t in CAPTION_TOWNS) + "]"
    bb = PHASH_BAND_BITS
    mask = (1 << bb) - 1
    return f"""
WITH RECURSIVE
ph AS (SELECT image_id, phash FROM {images_phash_sql(N_IMG_DEDUP)} s),
cap AS (
  SELECT 'img' || lpad(CAST(i AS VARCHAR), 10, '0') AS image_id,
         'photo ' || lpad(CAST(i AS VARCHAR), 8, '0') || ': a ' ||
         ({subj})[(i % {len(CAPTION_SUBJECTS)}) + 1] || ' in ' ||
         ({town})[(i % {len(CAPTION_TOWNS)}) + 1] ||
         ' with housenumber ' || CAST(1 + i % 180 AS VARCHAR) AS caption
  FROM range({N_IMG_DEDUP}) t(i)),
gated AS (
  SELECT p.image_id, p.phash FROM ph p JOIN cap c USING (image_id)
  WHERE LENGTH(c.caption) >= {IMG_CORPUS_MIN_CAPTION}),
bands AS (
  SELECT image_id, phash, j AS band, (phash >> (j * {bb})) & {mask} AS bucket
  FROM gated CROSS JOIN (
    SELECT unnest(generate_series(0, {PHASH_BANDS - 1})) AS j) g),
pairs AS (
  SELECT DISTINCT a.image_id AS img_a, b.image_id AS img_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.image_id < b.image_id
  WHERE bit_count(xor(a.phash, b.phash)) <= {PHASH_NEARDUP_MAX_HAMMING}),
edges AS (
  SELECT img_a AS esrc, img_b AS edst FROM pairs
  UNION SELECT img_b, img_a FROM pairs),
reach(id, r) AS (
  SELECT image_id, image_id FROM gated
  UNION
  SELECT e.edst, reach.r FROM reach JOIN edges e ON e.esrc = reach.id)
SELECT g.image_id, g.phash FROM gated g
JOIN (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id) c
  ON c.id = g.image_id
WHERE c.cluster_id = g.image_id"""


def image_resize_stats_sql() -> str:
    """The resize gate's expected aggregate: every one of the N_MM_IMAGES
    rows must come back with the target dims and a byte-equal caption. The
    engine earns these counts by actually decoding, resampling and
    re-encoding; the oracle pins the only SQL-expressible part (the binary
    codecs themselves are value-tested in tests/test_images.py)."""
    n = N_MM_IMAGES
    return (
        f"SELECT CAST({n} AS BIGINT) AS n_rows, CAST({n} AS BIGINT) AS n_dim_ok, "
        f"CAST({n} AS BIGINT) AS n_caption_ok"
    )


# Multi-resolution exact kNN: fine rings bound candidates per point (the
# scale path); res 8's ring-1 covers the whole synthetic world, making the
# last round an unconditional exact fallback for the few unguaranteed points.
KNN_RES_LIST = [13, 10, 8]


def knn_nearest_street(
    spark: SparkSession,
    sf_dir: str,
    k: int = 1,
    dim_strategy: str = "broadcast",
) -> DataFrame:
    """J10: nearest street per point via k-ring candidate expansion with
    guarantee-based escalation (exact — value-checked against the oracle's
    brute-force cross join). ``dim_strategy='shuffle'`` exercises the
    salted shuffle join for target sets beyond broadcast size (the
    reference's national imports, ShapeReader.java:189-201)."""
    from .operators import knn as KN
    from .sources import streets as ST
    from .sources import synthetic as S

    pts = S.points_df(spark, sf_dir).select("point_id", "lon", "lat")
    targets = ST.street_points_df(spark, sf_dir)
    out = KN.knn_nearest_multires(
        pts, targets, res_list=KNN_RES_LIST, k_ring=1, n_neighbors=k,
        dim_strategy=dim_strategy,
    )
    return out.select("point_id", "street_key", "name", "knn_rank")

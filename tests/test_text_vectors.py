"""Text-analysis / dedup / vector-similarity operators vs the DuckDB oracle.

Every query is compared cell-for-cell (exact equality, including the rounded
doubles — the arithmetic is designed to be bit-identical across engines, see
text/hashing.py and vectors/similarity.py).
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

SF = "/root/testdata/sf0.001"

QUERIES = [
    "text_token_stats",
    "text_quality",
    "text_lang_id",
    "text_lang_id_accuracy",
    "text_fingerprints",
    "dedup_exact",
    "dedup_minhash_buckets",
    "dedup_minhash_pairs",
    "dedup_simhash",
    "dedup_simhash_pairs",
    "dedup_ngram_jaccard",
    "sim_brute_topk",
    "sim_ann_buckets",
    "sim_ann_topk",
    "sim_ann_recall",
    "emb_neardup_pairs",
    "dedup_clusters",
    "corpus_report",
    "token_budget_sample",
    "contamination_check",
    "pack_sequences",
    "training_order",
    "ivf_topk",
    "ivf_recall",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    yield con
    con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(list(df.columns)).reset_index(drop=True)


@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_oracle(spark, duck, name):
    import __spark_entry__ as E

    got = _normalize(E.queries()[name](spark, SF).toPandas())
    want = _normalize(duck.execute(E.oracle_sql()[name]).df())
    assert len(got) == len(want), f"{name}: {len(got)} vs {len(want)} rows"
    assert list(got.columns) == list(want.columns), name
    for c in got.columns:
        a, b = got[c], want[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            ok = (a.isna() & b.isna()) | (a.astype(float) == b.astype(float))
        else:
            ok = a.astype(object) == b.astype(object)
        assert ok.all(), f"{name}.{c}: first diff at {ok.idxmin()}: " f"{a[~ok].head(3).tolist()} vs {b[~ok].head(3).tolist()}"


def test_minhash_pairs_nonempty_and_verified(spark):
    """The LSH candidate set must be non-degenerate on the test corpus and
    every surviving pair's Jaccard must be a valid ratio."""
    import __spark_entry__ as E

    df = E.queries()["dedup_minhash_pairs"](spark, SF).toPandas()
    assert (df.jaccard >= 0).all() and (df.jaccard <= 1).all()


def test_minhash_hash_verify_matches_string_verify(spark):
    """verify_on='hashes' (int64 shingle-hash intersect — the corpus-scale
    mode whose pinned frame carries no shingle strings) must produce the
    identical (doc_a, doc_b, jaccard) set as the default string verify on
    the sandbox corpora at BOTH test scales (no 31-bit collisions there;
    candidate generation is shared, so any drift is a verify-path bug)."""
    from housenumbercore_spark import pipelines as P
    from housenumbercore_spark.text import dedup as D

    for sf in (SF, "/root/testdata/sf0.01"):
        docs = P.documents_df(spark, sf).select("doc_id", "text")
        want = sorted(
            map(tuple, D.minhash_dedup_pairs(docs).collect())
        )
        got = sorted(
            map(tuple, D.minhash_dedup_pairs(docs, verify_on="hashes").collect())
        )
        assert got == want, f"hash-verify drift at {sf}"


def test_ann_recall_bounds(spark):
    import __spark_entry__ as E

    df = E.queries()["sim_ann_recall"](spark, SF).toPandas()
    assert len(df) == 8  # one row per query
    assert ((df.recall_at_k >= 0) & (df.recall_at_k <= 1)).all()


def test_ngram_df_cap_drops_hot_shingles_but_keeps_exact_jaccard(spark):
    """A boilerplate shingle shared by every doc must not generate pairs
    when its DF exceeds the cap; pairs found via rare shingles keep EXACT
    Jaccard computed over the full (uncapped) shingle sets."""
    from housenumbercore_spark.text import dedup as TD

    boiler = "all rights reserved worldwide"
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta gamma delta {boiler}", "en"),
            (2, f"alpha beta gamma epsilon {boiler}", "en"),
            (3, f"one two three four {boiler}", "en"),
            (4, f"five six seven eight {boiler}", "en"),
            (5, f"nine ten eleven twelve {boiler}", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    # cap below the boilerplate's DF (5): only the rare-shingle pair stays
    capped = TD.ngram_jaccard_pairs(docs, k=3, threshold=0.1, max_df=4)
    got = {(r.doc_a, r.doc_b): r.jaccard for r in capped.collect()}
    assert set(got) == {(1, 2)}
    # jaccard over FULL shingle sets: docs 1/2 have 7 distinct 3-gram
    # shingles each, sharing 2 ("alpha beta gamma") + 3 boilerplate-spanning
    # ... recompute exactly instead of hand-counting:
    from housenumbercore_spark.text.dedup import with_shingle_hashes

    sh = {r.doc_id: set(r.shingles)
          for r in with_shingle_hashes(docs, 3).collect()}
    inter = len(sh[1] & sh[2])
    want = round(inter / len(sh[1] | sh[2]), 6)
    assert got[(1, 2)] == want
    # without the cap the boilerplate connects everything
    uncapped = TD.ngram_jaccard_pairs(docs, k=3, threshold=0.1, max_df=100)
    assert uncapped.count() > 1


def test_dedup_clusters_vs_duckdb_recursive(spark):
    """Connected components (min-label propagation) vs a DuckDB recursive-
    CTE reachability oracle on a graph with a chain, a cycle, a star, and
    isolated vertices."""
    from housenumbercore_spark.text import dedup as D

    ids = [f"d{i:02d}" for i in range(12)]
    edges = [
        ("d00", "d01"), ("d01", "d02"), ("d02", "d03"),          # chain
        ("d04", "d05"), ("d05", "d06"), ("d06", "d04"),          # cycle
        ("d07", "d08"), ("d07", "d09"), ("d07", "d10"),          # star
    ]                                                             # d11 isolated
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id string")
    pairs = spark.createDataFrame(edges, "doc_a string, doc_b string")
    got = {
        r.doc_id: (r.cluster_id, r.is_canonical)
        for r in D.dedup_clusters(docs, pairs).collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE docs (id varchar)")
    con.executemany("INSERT INTO docs VALUES (?)", [(i,) for i in ids])
    con.execute("CREATE TABLE e (src varchar, dst varchar)")
    con.executemany(
        "INSERT INTO e VALUES (?, ?)",
        [(a, b) for a, b in edges] + [(b, a) for a, b in edges],
    )
    want = dict(con.execute("""
        WITH RECURSIVE reach(id, r) AS (
            SELECT id, id FROM docs
            UNION
            SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id
        )
        SELECT id, MIN(r) FROM reach GROUP BY id
    """).fetchall())
    assert {k: v[0] for k, v in got.items()} == want
    for doc, (cluster, canon) in got.items():
        assert canon == (doc == cluster)
    assert sum(1 for v in got.values() if v[1]) == 4  # 3 components + isolated


def test_dedup_clusters_on_minhash_pairs(spark):
    """Integration: cluster the real MinHash near-dup pairs; every pair's
    endpoints land in one cluster, and non-canonical rows are exactly the
    documents a keep-one pipeline would drop."""
    import __spark_entry__ as E
    from housenumbercore_spark.text import dedup as D
    from housenumbercore_spark import pipelines as P

    docs = P.text_token_stats(spark, SF).select("doc_id")
    pairs = E.queries()["dedup_minhash_pairs"](spark, SF).select("doc_a", "doc_b")
    clusters = D.dedup_clusters(docs, pairs)
    cl = {r.doc_id: r.cluster_id for r in clusters.collect()}
    for a, b in pairs.collect():
        assert cl[a] == cl[b]
    n_docs = docs.count()
    n_clusters = clusters.filter("is_canonical").count()
    n_pairs = pairs.count()
    assert n_docs - n_clusters <= n_pairs  # drops ≤ one doc per edge
    assert clusters.count() == n_docs


def test_prepare_corpus_composition(spark):
    """prepare_corpus wires the oracled stages into the keep-one pipeline:
    every surviving doc passes the quality/language gates, no two
    survivors share an exact content key, and no near-dup pair at the
    threshold has BOTH endpoints surviving; the report ledger is
    stage-consistent."""
    from housenumbercore_spark import pipelines as P
    from housenumbercore_spark.text import corpus as C
    from housenumbercore_spark.text import dedup as D

    docs = P.documents_df(spark, SF)
    kept, report = C.prepare_corpus(
        docs, min_quality=0.55, languages=["en", "de"], jaccard_threshold=0.5
    )
    k = kept.cache()
    assert k.filter("quality < 0.55").count() == 0
    assert k.filter("pred_lang not in ('en','de')").count() == 0

    # exact-dedup invariant: one survivor per content key
    ex = D.exact_dedup(k.select("doc_id", "text"))
    assert ex.filter("doc_id <> canonical_doc_id").count() == 0

    # near-dup keep-one invariant: no surviving pair at the threshold
    pairs = D.minhash_dedup_pairs(k.select("doc_id", "text")).filter(
        "jaccard >= 0.5"
    )
    assert pairs.count() == 0

    rep = {r.stage: (r.n_in, r.n_out) for r in report.collect()}
    assert list(rep) == [
        "input", "quality_gate", "language_filter", "exact_dedup",
        "neardup_keep_one",
    ]
    chain = ["input", "quality_gate", "language_filter", "exact_dedup",
             "neardup_keep_one"]
    for a, b in zip(chain, chain[1:]):
        assert rep[a][1] == rep[b][0]
    assert rep["neardup_keep_one"][1] == k.count()
    assert 0 < k.count() < docs.count()
    k.unpersist()


def test_ivf_topk_recall_and_full_probe_exactness(spark):
    """IVF scale path: high recall at a 4/16 probe fraction, and EXACT
    equality with brute force when every cell is probed (deterministic
    data → deterministic recall)."""
    from housenumbercore_spark.vectors import similarity as V

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    rec = V.ivf_recall(emb).collect()
    assert len(rec) == V.NQ
    assert all(float(r.recall_at_k) >= 0.6 for r in rec)
    assert sum(float(r.recall_at_k) for r in rec) / len(rec) >= 0.9

    bf = {(r.query_id, r.neighbor_id, r.knn_rank)
          for r in V.brute_force_topk(emb).collect()}
    iv = {(r.query_id, r.neighbor_id, r.knn_rank)
          for r in V.ivf_topk(emb, nprobe=V.IVF_CENTROIDS).collect()}
    assert bf == iv and len(bf) == V.NQ * V.TOPK


def test_ivf_index_partitions_corpus(spark):
    """Every vector lands in exactly one inverted list; centroid ids are
    the first IVF_CENTROIDS vec_ids; each centroid is its own nearest."""
    from housenumbercore_spark.vectors import similarity as V
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx = V.ivf_index(emb)
    n = emb.count()
    assert idx.count() == n
    assert idx.select("vec_id").distinct().count() == n
    cids = {r.centroid_id for r in idx.select("centroid_id").distinct().collect()}
    assert cids <= set(range(V.IVF_CENTROIDS))
    own = idx.filter(F.col("vec_id") < V.IVF_CENTROIDS)
    assert own.filter(F.col("vec_id") != F.col("centroid_id")).count() == 0


def test_dedup_clusters_generic_over_embedding_pairs(spark):
    """dedup_clusters is payload-agnostic: clustering the embedding-cosine
    near-dup pairs satisfies the same keep-one invariants."""
    from housenumbercore_spark import pipelines as P
    from housenumbercore_spark.text import dedup as D
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    pairs = P.emb_neardup_pairs(spark, SF).select(
        F.col("vec_a").cast("string").alias("doc_a"),
        F.col("vec_b").cast("string").alias("doc_b"),
    )
    docs = emb.select(F.col("vec_id").cast("string").alias("doc_id"))
    cl = D.dedup_clusters(docs, pairs)
    m = {r.doc_id: r.cluster_id for r in cl.collect()}
    for a, b in pairs.collect():
        assert m[a] == m[b]
    assert cl.count() == emb.count()
    n_canon = cl.filter("is_canonical").count()
    assert n_canon == cl.select("cluster_id").distinct().count()


def test_sample_to_token_budget(spark):
    """Deterministic token-budget sampling: close to budget, identical
    kept set across runs AND partitionings, equal split across groups
    with small groups kept whole."""
    from housenumbercore_spark import pipelines as P
    from housenumbercore_spark.text import corpus as C
    from housenumbercore_spark.text.analysis import token_stats
    from pyspark.sql import functions as F

    docs = P.documents_df(spark, SF)
    total = token_stats(docs).agg(F.sum("n_tokens")).collect()[0][0]
    budget = int(total * 0.3)

    kept = C.sample_to_token_budget(docs, budget)
    kt = kept.agg(F.sum("n_tokens")).collect()[0][0]
    assert 0 < kt < total
    assert abs(kt - budget) / budget < 0.3  # fixed data -> stable draw

    ids1 = {r.doc_id for r in kept.select("doc_id").collect()}
    ids2 = {
        r.doc_id
        for r in C.sample_to_token_budget(docs.repartition(7), budget)
        .select("doc_id")
        .collect()
    }
    assert ids1 == ids2  # no RNG, no order dependence

    # grouped: equal split, small groups capped at their own size
    g = C.sample_to_token_budget(docs, budget, by="lang")
    per = g.groupBy("lang").agg(F.sum("n_tokens").alias("t")).collect()
    totals = {
        r.lang: r.t
        for r in docs.join(token_stats(docs), "doc_id")
        .groupBy("lang").agg(F.sum("n_tokens").alias("t")).collect()
    }
    n_groups = len(totals)
    for r in per:
        share = budget / n_groups
        if totals[r.lang] <= share:
            assert r.t == totals[r.lang]  # kept whole
        else:
            assert r.t <= totals[r.lang]


def test_contamination_check(spark):
    """8-gram benchmark-contamination scan: exact copies flag with ratio
    1.0, a 9-word verbatim span yields exactly two common 8-grams, a
    7-word overlap stays below the shingle size and is NOT flagged."""
    from housenumbercore_spark.text import corpus as C

    bench_words = [f"w{i}" for i in range(20)]
    docs = spark.createDataFrame(
        [
            ("full_copy", " ".join(bench_words)),
            ("span9", "x1 x2 " + " ".join(bench_words[4:13]) + " y1 y2"),
            ("span7", "x1 " + " ".join(bench_words[4:11]) + " y1"),
            ("clean", "a b c d e f g h i j k l m n"),
        ],
        "doc_id string, text string",
    )
    bench = spark.createDataFrame(
        [("b0", " ".join(bench_words))], "bench_id string, text string"
    )
    got = {
        (r.doc_id, r.bench_id): (r.n_common_shingles, float(r.doc_overlap_ratio))
        for r in C.contamination_check(docs, bench).collect()
    }
    assert got[("full_copy", "b0")] == (13, 1.0)  # 20 words -> 13 8-grams
    assert got[("span9", "b0")][0] == 2           # 9-word span -> 2 8-grams
    assert ("span7", "b0") not in got             # below shingle size
    assert ("clean", "b0") not in got


def test_pack_sequences(spark):
    """Sequence packing: every doc packed exactly once, every pack within
    budget, oversize docs isolated + flagged, deterministic across
    partitionings."""
    from housenumbercore_spark import pipelines as P
    from housenumbercore_spark.text import corpus as C
    from pyspark.sql import functions as F

    docs = P.documents_df(spark, SF)
    MAX = 120
    packed = C.pack_sequences(docs, MAX, n_buckets=8)
    n = docs.count()
    assert packed.count() == n
    assert packed.select("doc_id").distinct().count() == n

    sums = (
        packed.filter("pack_slot >= 0")
        .groupBy("pack_id")
        .agg(F.sum("n_tokens").alias("t"), F.count(F.lit(1)).alias("m"))
    )
    assert sums.filter(F.col("t") > MAX).count() == 0
    assert sums.filter("m > 1").count() > 0, "packing never combined docs"

    over = packed.filter("pack_slot = -1")
    assert over.filter(F.col("n_tokens") <= MAX).count() == 0
    over_packs = {r.pack_id for r in over.select("pack_id").collect()}
    in_over = packed.filter(packed.pack_id.isin(list(over_packs)) if over_packs else "false")
    assert in_over.count() == over.count(), "oversize doc shares a pack"

    again = C.pack_sequences(docs.repartition(13), MAX, n_buckets=8)
    a = sorted(map(tuple, packed.collect()))
    b = sorted(map(tuple, again.collect()))
    assert a == b, "packing depends on physical partitioning"


def test_training_order_deterministic_shuffle(spark):
    from housenumbercore_spark import pipelines as P
    from housenumbercore_spark.text import corpus as C

    docs = P.documents_df(spark, SF).select("doc_id")
    o1 = [r.doc_id for r in C.training_order(docs, seed=1).orderBy("order_key", "doc_id").collect()]
    o1b = [r.doc_id for r in C.training_order(docs.repartition(9), seed=1).orderBy("order_key", "doc_id").collect()]
    o2 = [r.doc_id for r in C.training_order(docs, seed=2).orderBy("order_key", "doc_id").collect()]
    assert o1 == o1b
    assert o1 != o2
    assert sorted(o1) == sorted(o2)


def test_dedup_clusters_nonconvergence_raises_and_phantoms_ignored(spark):
    from housenumbercore_spark.text import dedup as D

    ids = [f"c{i}" for i in range(6)]
    chain = [(f"c{i}", f"c{i+1}") for i in range(5)]
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id string")
    pairs = spark.createDataFrame(chain, "doc_a string, doc_b string")
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="not converged"):
        D.dedup_clusters(docs, pairs, max_iter=1)

    # pair endpoints outside docs (e.g. docs is a post-filter subset) are
    # ignored — a phantom id must never win a canonical election
    docs_sub = spark.createDataFrame([("c3",), ("c4",), ("c5",)], "doc_id string")
    cl = {r.doc_id: (r.cluster_id, r.is_canonical)
          for r in D.dedup_clusters(docs_sub, pairs).collect()}
    assert set(cl) == {"c3", "c4", "c5"}
    assert cl["c3"] == ("c3", True)
    assert cl["c4"] == ("c3", False) and cl["c5"] == ("c3", False)


def test_sample_to_token_budget_null_group_kept(spark):
    """Docs whose `by` column is NULL form their own group instead of
    silently vanishing through a NULL equi-join (the bug class fixed in
    the merge sink this round)."""
    from housenumbercore_spark.text import corpus as C
    from pyspark.sql import functions as F

    rows = [(f"d{i}", "alpha beta gamma delta " * 10, None if i % 3 == 0 else "en")
            for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id string, text string, lang string")
    kept = C.sample_to_token_budget(docs, 10_000_000, by="lang")  # huge budget
    assert kept.count() == 30, "NULL-lang docs dropped"
    assert kept.filter(F.col("lang").isNull()).count() == 10


def test_pack_sequences_null_text_is_zero_tokens(spark):
    from housenumbercore_spark.text import corpus as C

    docs = spark.createDataFrame(
        [("a", None), ("b", "one two three"), ("c", "x " * 500)],
        "doc_id string, text string",
    )
    packed = {r.doc_id: (r.n_tokens, r.pack_slot)
              for r in C.pack_sequences(docs, 100, n_buckets=2).collect()}
    assert packed["a"][0] == 0 and packed["a"][1] >= 0
    assert packed["c"][1] == -1  # oversize still isolated


@pytest.mark.parametrize("seed", [3, 17])
def test_dedup_clusters_random_graphs_vs_duckdb(spark, seed):
    """Property check: random sparse graphs (including multi-edges and
    self-loops) cluster identically to DuckDB's recursive reachability."""
    import numpy as np

    from housenumbercore_spark.text import dedup as D

    rng = np.random.default_rng(seed)
    n = 120
    ids = [f"r{i:03d}" for i in range(n)]
    m = 100
    ea = rng.integers(0, n, m)
    eb = rng.integers(0, n, m)
    edges = [(ids[a], ids[b]) for a, b in zip(ea, eb)]
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id string")
    pairs = spark.createDataFrame(edges, "doc_a string, doc_b string")
    got = {r.doc_id: r.cluster_id for r in D.dedup_clusters(docs, pairs).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE docs (id varchar)")
    con.executemany("INSERT INTO docs VALUES (?)", [(i,) for i in ids])
    con.execute("CREATE TABLE e (src varchar, dst varchar)")
    con.executemany(
        "INSERT INTO e VALUES (?, ?)",
        edges + [(b, a) for a, b in edges],
    )
    want = dict(con.execute("""
        WITH RECURSIVE reach(id, r) AS (
            SELECT id, id FROM docs
            UNION
            SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id
        )
        SELECT id, MIN(r) FROM reach GROUP BY id
    """).fetchall())
    assert got == want


def test_prepare_corpus_materialized_once_and_keep_cols(spark):
    """The report's eager counts must not leave re-execution for the
    caller: the returned kept_docs is a materialized scan (LogicalRDD
    under the default localCheckpoint strategy, InMemoryRelation under
    persist), so materializing it re-runs NOTHING of the MinHash/cluster
    lineage. keep_cols threads extra input columns through the narrow
    enrichment."""
    from housenumbercore_spark import pipelines as P
    from housenumbercore_spark.text import corpus as C

    docs = P.documents_df(spark, SF)
    kept, report = C.prepare_corpus(
        docs, min_quality=0.55, languages=["en", "de"],
        jaccard_threshold=0.5, keep_cols=("source",),
    )
    plan = kept._jdf.queryExecution().optimizedPlan().toString()
    # materialized-scan marker per strategy: LogicalRDD (localCheckpoint,
    # the default) or InMemoryRelation (the persist strategy) — the claim
    # under test is "no re-executable MinHash/cluster lineage", which both
    # satisfy
    assert "LogicalRDD" in plan or "InMemoryRelation" in plan, (
        f"kept not materialized:\n{plan[:500]}"
    )
    assert kept.columns == ["doc_id", "text", "quality", "pred_lang", "source"]
    # passthrough column carries the input's values
    joined = kept.select("doc_id", "source").join(
        docs.select("doc_id", docs.source.alias("src0")), "doc_id"
    )
    assert joined.filter("source <> src0").count() == 0
    rep = {r.stage: (r.n_in, r.n_out) for r in report.collect()}
    assert rep["neardup_keep_one"][1] == kept.count()


def test_prepare_corpus_keep_cols_overlapping_projection(spark):
    """keep_cols naming a column the enrichment already projects ('lang',
    'text') must thread it once, not select it twice (AMBIGUOUS_REFERENCE);
    names that collide with enrichment OUTPUT columns fail fast."""
    import pytest

    from housenumbercore_spark import pipelines as P
    from housenumbercore_spark.text import corpus as C

    docs = P.documents_df(spark, SF)
    kept, _ = C.prepare_corpus(docs, keep_cols=("lang", "text"))
    assert kept.columns == ["doc_id", "text", "quality", "pred_lang", "lang"]
    joined = kept.select("doc_id", "lang").join(
        docs.select("doc_id", docs.lang.alias("l0")), "doc_id"
    )
    assert joined.filter("lang <> l0").count() == 0
    with pytest.raises(ValueError, match="collide"):
        C.prepare_corpus(docs, keep_cols=("n_tokens",))


def test_kmeans_centroids_skip_zero_vectors(spark):
    """An all-zero embedding in the training sample must not poison the
    centroids with NaN (norm division) — it is skipped."""
    import pandas as pd

    from housenumbercore_spark.vectors import similarity as V

    pdf = pd.DataFrame(
        {
            "vec_id": [f"v{i}" for i in range(8)],
            "embedding": [[0.0, 0.0, 0.0]] + [
                [float(i), 1.0, 0.5 * i] for i in range(1, 8)
            ],
        }
    )
    emb = spark.createDataFrame(pdf)
    cents = V.kmeans_centroids(emb, n_centroids=3, sample_size=8, iters=3)
    assert len(cents) == 3
    for _, qv, sq in cents:
        assert all(v == int(v) for v in qv)
        assert sq > 0  # no NaN/zero centroid


def test_prepare_corpus_accepts_tuple_languages(spark):
    """Column.isin unpacks a list but treats a TUPLE as one unsupported
    array literal — prepare_corpus must normalize any iterable (the
    engine's own CORPUS_LANGS constant is a tuple)."""
    from housenumbercore_spark import pipelines as P
    from housenumbercore_spark.text import corpus as C

    docs = P.documents_df(spark, SF)
    kept_t, rep_t = C.prepare_corpus(docs, languages=("en", "de"))
    kept_l, rep_l = C.prepare_corpus(docs, languages=["en", "de"])
    assert kept_t.count() == kept_l.count()
    assert sorted(map(tuple, rep_t.collect())) == sorted(
        map(tuple, rep_l.collect())
    )


def test_kmeans_centroids_deterministic_and_exact_at_full_probe(spark):
    """The trained coarse quantizer is reproducible across partitionings
    (hash-ordered sample, no RNG) and, like every centroid set, exact when
    all lists are probed."""
    from housenumbercore_spark.vectors import similarity as V

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    km1 = V.kmeans_centroids(emb)
    km2 = V.kmeans_centroids(emb.repartition(13))
    assert km1 == km2 and len(km1) == V.IVF_CENTROIDS

    bf = {(r.query_id, r.neighbor_id, r.knn_rank)
          for r in V.brute_force_topk(emb).collect()}
    iv = {(r.query_id, r.neighbor_id, r.knn_rank)
          for r in V.ivf_topk(emb, nprobe=len(km1), centroids=km1).collect()}
    assert bf == iv


def test_kmeans_centroids_beat_first_n_on_clustered_data(spark):
    """On CLUSTERED embeddings a trained quantizer must beat the first-n
    placeholder. Construction: the first 16 vectors (= the first-n
    centroid set) all come from ONE cluster, so first-n collapses to a
    single direction and sprays every cluster across arbitrary cells,
    while kmeans re-spreads its 16 centroids over the 64 true clusters.
    (On the driver's near-random embeddings first-n wins instead — the
    queries ARE its centroids — which is why the driver row keeps the
    deterministic first-n oracle.)"""
    import numpy as np

    from housenumbercore_spark.vectors import similarity as V

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(64, 64))
    rows = []
    for i in range(16):
        v = centers[0] + 0.15 * rng.normal(size=64)
        rows.append((i, [float(x) for x in v], 0))
    for i in range(16, 400):
        v = centers[i % 64] + 0.15 * rng.normal(size=64)
        rows.append((i, [float(x) for x in v], i % 64))
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    km = V.kmeans_centroids(emb, sample_size=400)
    rec_km = [float(r.recall_at_k) for r in V.ivf_recall(emb, centroids=km).collect()]
    rec_fn = [float(r.recall_at_k) for r in V.ivf_recall(emb).collect()]
    mean_km, mean_fn = sum(rec_km) / len(rec_km), sum(rec_fn) / len(rec_fn)
    assert mean_km >= 0.95, (mean_km, rec_km)
    assert mean_km > mean_fn, (mean_km, mean_fn)


def test_lang_id_und_and_case_folding(spark):
    """Round-4 review fixes: (1) a doc hitting NO language profile gets
    'und', not a silent first-profile win; (2) marker matching is
    case-folded so sentence-initial 'The'/'Der' count."""
    from housenumbercore_spark.text.analysis import lang_id

    docs = spark.createDataFrame(
        [
            ("d1", "zzz qqq xyzzy plugh", "xx"),          # no markers at all
            ("d2", "The THE The cat", "en"),               # only capitalized
            ("d3", "Der Hund und DIE Katze", "de"),
        ],
        "doc_id string, text string, lang string",
    )
    got = {r.doc_id: r for r in lang_id(docs).collect()}
    assert got["d1"].pred_lang == "und" and got["d1"].lang_score == 0
    assert got["d2"].pred_lang == "en" and got["d2"].lang_score == 3
    assert got["d3"].pred_lang == "de" and got["d3"].lang_score == 3


def test_fingerprints_short_doc_whitespace_normalized(spark):
    """Short-doc min-shingle fallback hashes the TOKEN JOIN: 'a  b' and
    'a b' must fingerprint identically (matching shingle_expr)."""
    from housenumbercore_spark.text.analysis import fingerprints

    docs = spark.createDataFrame(
        [("d1", "alpha  beta", "en"), ("d2", "alpha beta", "en")],
        "doc_id string, text string, lang string",
    )
    got = {r.doc_id: r for r in fingerprints(docs).collect()}
    assert got["d1"].min_shingle_hash == got["d2"].min_shingle_hash
    assert got["d1"].rolling_hash == got["d2"].rolling_hash
    # content_hash stays raw-text (exact-dup semantics) — they differ
    assert got["d1"].content_hash != got["d2"].content_hash


def test_pack_sequences_zero_token_doc_avoids_flagged_singleton(spark):
    """A zero-token doc 'fits' any capacity — including the capacity-0
    flagged oversize singleton, which must stay a singleton (pack_slot=-1
    marks it for split-or-drop; a joiner would corrupt that contract)."""
    from housenumbercore_spark.text.corpus import pack_sequences

    docs = spark.createDataFrame(
        [
            ("big", " ".join(["w"] * 50), "en"),  # oversize vs max_tokens=10
            ("empty", None, "en"),                # NULL text = 0 tokens
            ("tiny", "one two", "en"),
        ],
        "doc_id string, text string, lang string",
    )
    rows = {r.doc_id: r for r in pack_sequences(docs, 10, n_buckets=1).collect()}
    assert rows["big"].pack_slot == -1            # flagged singleton
    assert rows["empty"].n_tokens == 0
    assert rows["empty"].pack_id != rows["big"].pack_id
    assert rows["empty"].pack_slot != -1
    # the zero-token doc can still share a NORMAL open pack
    assert rows["empty"].pack_id == rows["tiny"].pack_id


def test_tokenization_drops_phantom_empty_tokens(spark):
    """Review regression: whitespace-only text counts 0 tokens and leading
    tab/newline no longer fabricates a '' token — Spark and DuckDB twins in
    lockstep."""
    import duckdb

    from housenumbercore_spark.text import analysis as TA
    from housenumbercore_spark.text.hashing import tokens_duck

    df = spark.createDataFrame(
        [("e", ""), ("w", "   "), ("t", "\tHello world"), ("n", "one")],
        "doc_id string, text string",
    )
    got = {r.doc_id: r.n_tokens for r in TA.token_stats(df).collect()}
    assert got == {"e": 0, "w": 0, "t": 2, "n": 1}
    con = duckdb.connect()
    want = {
        k: v for k, v in con.execute(
            "SELECT doc_id, len(" + tokens_duck() + ") FROM (VALUES "
            "('e',''),('w','   '),('t',chr(9)||'Hello world'),('n','one')"
            ") t(doc_id, text)"
        ).fetchall()
    }
    assert want == got


def test_token_budget_zero_token_group_kept_not_crash(spark):
    """A group whose docs are all zero-token has __grp_tokens = 0: the
    budget division must not throw DIVIDE_BY_ZERO (Spark 4 ANSI default)
    and keeping everything costs nothing, so all its docs survive."""
    from housenumbercore_spark.text.corpus import sample_to_token_budget

    docs = spark.createDataFrame(
        [
            (1, "", "emptyg"),
            (2, "   ", "emptyg"),
            (3, "one two three four five six seven eight", "fullg"),
        ],
        "doc_id long, text string, lang string",
    )
    kept = sample_to_token_budget(docs, budget_tokens=4, by="lang").collect()
    ids = {r.doc_id for r in kept}
    assert {1, 2} <= ids  # zero-token group entirely kept
    for r in kept:
        if r.doc_id in (1, 2):
            assert r.n_tokens == 0


def test_cosine_zero_norm_vector_scores_zero(spark):
    """An all-zero embedding must score cos 0.0 against everything, not
    throw DIVIDE_BY_ZERO under ANSI mode — across brute force, LSH and
    IVF paths."""
    from housenumbercore_spark.vectors import similarity as VS

    emb = spark.createDataFrame(
        [
            (0, [0.0] * VS.DIM),                       # zero-norm query
            (1, [1.0] + [0.0] * (VS.DIM - 1)),
            (2, [0.5] + [0.0] * (VS.DIM - 1)),
            (3, [0.0] * VS.DIM),                       # zero-norm corpus
        ],
        "vec_id long, embedding array<float>",
    )
    bf = VS.brute_force_topk(emb, nq=1, k=3).collect()
    assert all(r.cos_sim == 0.0 for r in bf)  # query is the zero vector
    ann = VS.ann_topk(emb, nq=2, k=3).collect()
    assert all(
        r.cos_sim == 0.0
        for r in ann
        if r.query_id == 0 or r.neighbor_id == 3
    )
    ivf = VS.ivf_index(emb, n_centroids=2)
    assert ivf.count() == 4  # zero-norm rows assign without crashing
    nd = VS.neardup_pairs(emb, threshold=0.9).collect()
    assert {(r.vec_a, r.vec_b) for r in nd} == {(1, 2)}


def test_contamination_benchmark_with_both_id_columns(spark):
    """A benchmark cut from the corpus naturally carries bench_id AND a
    leftover doc_id; the rename path must not create two doc_id columns
    (AMBIGUOUS_REFERENCE)."""
    from housenumbercore_spark.text.corpus import contamination_check

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(7, 1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "bench_id long, doc_id long, text string",
    )
    hits = contamination_check(docs, bench, min_common=1).collect()
    assert [(r.doc_id, r.bench_id) for r in hits] == [(1, 7)]


def test_prepare_corpus_empty_language_list_filters_all(spark):
    """languages=[] means 'keep zero languages' — previously the falsy
    check silently disabled the gate and kept everything."""
    from housenumbercore_spark.text.corpus import prepare_corpus

    docs = spark.createDataFrame(
        [
            (i, "the quick brown fox jumps over the lazy dog again and "
                "again because the test needs enough words " + str(i), "en")
            for i in range(5)
        ],
        "doc_id long, text string, lang string",
    )
    kept, report = prepare_corpus(docs, min_quality=0.0, languages=[])
    assert kept.count() == 0
    stages = {r.stage: r.n_out for r in report.collect()}
    assert stages["language_filter"] == 0


def test_stateful_rounding_matches_sql_round():
    """_round_half_up == SQL round() on doubles: ties away from zero,
    1-ulp-below-.5 stays down (floor(abs+0.5) rounded it up)."""
    import numpy as np

    from housenumbercore_spark.streaming.stateful import _round_half_up

    v = np.array(
        [0.5, -0.5, 1.5, 2.5, -2.5, 0.49999999999999994,
         -0.49999999999999994, 0.4999999999999999, 3.0, -3.0, 0.0]
    )
    want = np.array([1, -1, 2, 3, -3, 0, 0, 0, 3, -3, 0], dtype="float64")
    assert (_round_half_up(v) == want).all()

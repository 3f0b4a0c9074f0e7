"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (100 TB corpus):
- Exact dedup groups on a 60-bit content hash — map-side partial agg, one
  shuffle on the hash key, never on the text payload.
- MinHash signatures are pure per-row column expressions (no shuffle, no
  Python); only the 32×int64 signature — not the document — enters the LSH
  band shuffle.
- SimHash is likewise per-row; its 60 bits split into 6 bands of 10.
- Both candidate stages are the banded-pair join of operators/banded.py
  (equi-join on (band, bucket), refine before dedup, AQE for hot buckets);
  SimHash refines with an exact bit_count(xor) Hamming bound.
- n-gram Jaccard uses the inverted-index join (explode shingle → equi-join
  on shingle → count per pair), the set-based alternative to all-pairs.

All integer arithmetic is reproduced bit-for-bit by text/oracles.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.banded import banded_pairs, bit_bands, explode_bands
from ..pinning import pin, unpin
from .analysis import tokens_col
from .hashing import (
    MERSENNE31,
    MINHASH_A,
    MINHASH_B,
    MINHASH_BANDS,
    MINHASH_ROWS,
    SIMHASH_BAND_BITS,
    SIMHASH_BANDS,
    SIMHASH_BITS,
    h60_spark,
)

NORM_EXPR = "regexp_replace(lower(trim(text)), '\\\\s+', ' ')"


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup on normalized content hash: every doc mapped to the
    canonical (min doc_id) of its content group."""
    keyed = docs.select(
        "doc_id", F.expr(h60_spark(NORM_EXPR)).alias("content_key")
    )
    groups = keyed.groupBy("content_key").agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count(F.lit(1)).alias("group_size"),
    )
    return (
        keyed.join(groups, "content_key")
        .select(
            "doc_id",
            "content_key",
            "canonical_doc_id",
            "group_size",
            (F.col("group_size") > 1).alias("is_duplicate_group"),
        )
    )


def shingle_expr(k: int) -> str:
    """Distinct word-k-gram shingles of `toks` (whole text if < k tokens)."""
    if k == 1:
        return "array_distinct(toks)"
    return (
        f"CASE WHEN size(toks) >= {k} THEN array_distinct("
        f"transform(sequence(1, size(toks) - {k - 1}), "
        f"i -> concat_ws(' ', slice(toks, i, {k})))) "
        f"ELSE array(concat_ws(' ', toks)) END"
    )


def with_shingle_hashes(docs: DataFrame, k: int) -> DataFrame:
    """doc_id + distinct shingle strings + their 31-bit hashes."""
    return (
        docs.withColumn("toks", tokens_col())
        .withColumn("shingles", F.expr(shingle_expr(k)))
        .withColumn(
            "sh31",
            F.expr(f"transform(shingles, s -> {h60_spark('s')} % {MERSENNE31})"),
        )
        .select("doc_id", "shingles", "sh31")
    )


def minhash_signatures(
    docs: DataFrame, k: int = 2, shingled: DataFrame | None = None
) -> DataFrame:
    """32-element MinHash signature per doc (universal hashing
    (a*h+b) mod 2^31-1 over shingle hashes; constants in hashing.py).

    Shape: explode shingle hashes → 32 ``min`` aggregates per doc. The
    min-aggregation runs inside whole-stage codegen (array higher-order
    lambdas are interpreted per element — measured 10×+ slower), and
    map-side partial aggregation collapses each doc to one row before the
    shuffle, so shuffle volume is |docs| × 32 int64s regardless of shingle
    count.

    ``shingled`` (a :func:`with_shingle_hashes` frame, typically pinned)
    skips recomputing the tokenize+shingle+md5 scan when the caller
    already materialized it — that scan is the dominant cost of the whole
    MinHash pipeline at corpus scale, and fusing it with the 32-way
    aggregate in one stage also pushes the generated code past the JIT's
    method limits (measured ~2× slower than split stages at sf0.1)."""
    d = (
        shingled if shingled is not None else with_shingle_hashes(docs, k)
    ).select("doc_id", F.explode("sh31").alias("h"))
    aggs = [
        F.min(F.expr(f"({a} * h + {b}) % {MERSENNE31}")).alias(f"m{i}")
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]
    agg = d.groupBy("doc_id").agg(*aggs)
    sig = F.array(*[F.col(f"m{i}") for i in range(len(MINHASH_A))])
    return agg.select("doc_id", sig.alias("sig"))


def minhash_bands(sigs: DataFrame) -> DataFrame:
    """Explode each signature into (band, bucket): bucket = 60-bit hash of
    the band's row slice. Only (doc_id, band, bucket) int64s shuffle."""
    r = MINHASH_ROWS
    buckets = F.array(
        *[
            F.expr(h60_spark(f"concat_ws(',', slice(sig, {j * r + 1}, {r}))"))
            for j in range(MINHASH_BANDS)
        ]
    )
    return explode_bands(sigs, ["doc_id"], buckets)


def lsh_candidate_pairs(bands: DataFrame) -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) sharing any LSH bucket
    (operators/banded.py)."""
    return banded_pairs(
        bands.withColumnRenamed("doc_id", "doc_a"),
        bands.withColumnRenamed("doc_id", "doc_b"),
        "doc_a",
        "doc_b",
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    k: int = 2,
    min_sig_agree: int = 8,
    verify_on: str = "shingles",
) -> DataFrame:
    """MinHash LSH candidates → signature-estimate prefilter → exact
    shingle-Jaccard verify.

    The prefilter drops candidate pairs whose signatures agree on fewer
    than ``min_sig_agree`` of the 32 components (estimated Jaccard <
    min_sig_agree/32) BEFORE the full shingle arrays are joined — at the
    10¹²-doc shape the verify join is the only place document-sized
    payloads move, and one hot LSH bucket must not drag every shingle set
    of its members across the wire. A shared band already guarantees
    MINHASH_ROWS agreeing components, so the bar only bites above that.

    ``verify_on="hashes"`` intersects the deduplicated 31-bit shingle
    HASHES instead of the shingle strings: the pinned corpus frame and
    both verify-join sides then carry one int64 per shingle instead of a
    k-word string (~5-10× smaller at k=2 English text), which is the
    right trade at corpus scale — the Jaccard differs only when two
    distinct shingles of the same doc pair collide in 31 bits
    (P ≈ n²/2³¹ per doc at n shingles/doc; tests assert exact equality
    on the sandbox corpora). Default stays ``"shingles"`` because the
    DuckDB oracles compute string-set Jaccard."""
    # pin the corpus-derived frames: the shingle frame feeds the signature
    # aggregate AND two differently-keyed verify joins, and sigs feeds
    # THREE consumers (bands, a-side, b-side) — without the pins the
    # dominant tokenize+shingle+md5 scan re-executes once per consumer
    # (ReuseExchange can't dedupe joins with different keys), ~4x the
    # whole job's scan cost at the 10¹²-doc shape. ONE shared pin
    # of with_shingle_hashes runs that scan exactly once (round-5 change:
    # previously sh and sigs each re-ran it — measured 6.3 s → see bench).
    # Pin mechanism (localCheckpoint vs persist vs reliable checkpoint) is
    # the deployment's choice — see pinning.py.
    if verify_on == "hashes":
        # drop the shingle strings BEFORE the pin: the materialized frame
        # holds (doc_id, int64[]) only. array_distinct guards the (rare)
        # in-doc 31-bit collision so |sa|+|sb|-|sa∩sb| stays a true union.
        wsh = pin(
            with_shingle_hashes(docs, k).select(
                "doc_id", F.array_distinct("sh31").alias("sh31")
            )
        )
        sh = wsh.select("doc_id", F.col("sh31").alias("shset"))
    elif verify_on == "shingles":
        wsh = pin(with_shingle_hashes(docs, k))
        sh = wsh.select("doc_id", F.col("shingles").alias("shset"))
    else:
        raise ValueError(f"verify_on must be 'shingles' or 'hashes', got {verify_on!r}")
    sigs = pin(minhash_signatures(docs, k, shingled=wsh))
    pairs = lsh_candidate_pairs(minhash_bands(sigs))
    siga = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("siga"))
    sigb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sigb"))
    agree = F.expr(
        "aggregate(zip_with(siga, sigb, (x, y) -> IF(x = y, 1, 0)), 0, "
        "(acc, v) -> acc + v)"
    )
    screened = (
        pairs.join(siga, "doc_a")
        .join(sigb, "doc_b")
        .withColumn("__agree", agree)
        .filter(F.col("__agree") >= min_sig_agree)
        .select("doc_a", "doc_b")
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shset").alias("sa"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shset").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    return (
        screened.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(inter / union, 6).alias("jaccard"),
        )
    )


def simhash(docs: DataFrame) -> DataFrame:
    """60-bit SimHash over tokens (with multiplicity): bit j is set when the
    sum of ±1 votes from token-hash bit j is positive — equivalently, when
    more than half the token hashes have bit j set.

    Shape: explode tokens → 60 codegen'd bit-count sums + a token count per
    doc (map-side partial agg → one row per doc enters the shuffle), then
    one 60-term projection assembles the hash. Replaces a nested
    interpreted higher-order aggregate that was ~20× slower per row."""
    d = docs.withColumn("toks", tokens_col()).select(
        "doc_id", F.explode("toks").alias("t")
    )
    d = d.select("doc_id", F.expr(h60_spark("t")).alias("h"))
    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.sum(F.expr(f"(h >> {j}) & 1")).alias(f"b{j}")
        for j in range(SIMHASH_BITS)
    ]
    agg = d.groupBy("doc_id").agg(*aggs)
    sim = F.expr(
        " + ".join(f"IF(b{j} * 2 > n, {1 << j}L, 0L)" for j in range(SIMHASH_BITS))
    )
    return agg.select("doc_id", sim.alias("simhash"))


def simhash_pairs(docs: DataFrame, max_hamming: int = 24) -> DataFrame:
    """Near-dup pairs by SimHash: 10-bit band candidates, then the exact
    Hamming distance via bit_count(xor) as the keep refine
    (operators/banded.py).

    The hash frame is pinned (pinning.py, same rationale as
    :func:`minhash_dedup_pairs`) because the band self-join consumes it
    TWICE under different aliases and ReuseExchange does not canonicalize
    the two sides — without the pin the dominant tokenize + explode +
    60-bit-sum scan executes once per side (measured 3.7 → 2.6 s at
    sf0.1; at the 10¹²-doc shape the pin is one narrow (doc_id, int64)
    row per doc, negligible next to re-running the corpus scan)."""
    s = pin(simhash(docs))
    bands = explode_bands(
        s,
        ["doc_id", "simhash"],
        bit_bands("simhash", SIMHASH_BANDS, SIMHASH_BAND_BITS),
    )
    return banded_pairs(
        bands.withColumnsRenamed({"doc_id": "doc_a", "simhash": "ha"}),
        bands.withColumnsRenamed({"doc_id": "doc_b", "simhash": "hb"}),
        "doc_a",
        "doc_b",
        score=F.expr("bit_count(ha ^ hb)").alias("hamming"),
        keep=F.col("hamming") <= max_hamming,
    )


def ngram_jaccard_pairs(
    docs: DataFrame, k: int = 3, threshold: float = 0.2, max_df: int = 100
) -> DataFrame:
    """n-gram Jaccard via the inverted-index join with a document-frequency
    cap, then an exact array verify.

    Candidate generation explodes shingle HASHES (narrow int64 shuffle, not
    strings) and drops shingles whose document frequency exceeds ``max_df``
    before the self-join: one stop-word-like shingle shared by f documents
    otherwise materializes f² join rows — the quadratic blowup a 100 TB
    corpus cannot afford. Capped shingles carry negligible Jaccard signal;
    the reported pairs' Jaccard values stay EXACT because the verify step
    recomputes them from the full distinct-shingle arrays. Recall caveat
    (documented contract): a pair whose every common shingle is hotter than
    ``max_df`` is not reported.

    The shingle frame is pinned (pinning.py, same rationale as
    :func:`minhash_dedup_pairs`): five consumers read it — the df
    aggregate, both sides of the inverted-index self-join, and both
    verify sides — and without the pin each re-runs the dominant
    tokenize + shingle + hash scan (measured 15 → ~6 s at sf0.1)."""
    sh = pin(
        with_shingle_hashes(docs, k).select("doc_id", "shingles", "sh31")
    )
    inv = sh.select("doc_id", F.explode("sh31").alias("h"))
    hot = inv.groupBy("h").agg(F.count(F.lit(1)).alias("__df")).filter(
        F.col("__df") > max_df
    )
    rare = inv.join(hot.select("h"), "h", "left_anti")
    pairs = (
        rare.select(F.col("doc_id").alias("doc_a"), "h")
        .join(rare.select(F.col("doc_id").alias("doc_b"), "h"), "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sa"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", F.round(inter / union, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 30,
) -> DataFrame:
    """Duplicate-CLUSTER assignment: connected components over the
    near-duplicate pair graph → (doc_id, cluster_id, is_canonical).

    Completes the dedup suite's "keep one per group" step: pair generators
    (MinHash/SimHash/n-gram) emit edges; this collapses them into
    components and elects the minimum doc id as the canonical survivor —
    a training pipeline keeps ``is_canonical`` rows and drops the rest.

    Algorithm: iterative min-label propagation (each round, every vertex
    takes the min label among itself and its neighbours) — converges in
    O(component diameter) rounds, each round one equi-join + one map-side
    combinable min-aggregate on (id, label) pairs. Near-dup components are
    small and dense (diameter rarely > a few hops even at corpus scale),
    which is why plain propagation is the right tool here rather than the
    large/small-star contraction needed for web-graph-diameter inputs.
    Both the edge set and each round's labels are pinned (pinning.py)
    like kNN's multires loop: the (possibly expensive) pair-generation
    lineage runs ONCE, labels' lineage stays flat, nothing pinned beyond
    the round.
    Isolated documents form singleton clusters (canonical by
    construction). Pairs whose endpoints are not in ``docs`` are ignored
    (otherwise a phantom id could win a cluster's canonical election and
    a keep-one pipeline would drop every real member). Raises if the
    propagation has not converged after ``max_iter`` rounds — a silent
    partial result would split components."""
    ids = docs.select(F.col(id_col).alias("id"))
    edges = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    edges = (
        edges.join(ids.withColumnRenamed("id", "src"), "src", "left_semi")
        .join(ids.withColumnRenamed("id", "dst"), "dst", "left_semi")
    )
    edges = pin(
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).dropDuplicates()
    )  # pair generation runs once, not per round
    labels = ids.withColumn("label", F.col("id"))
    converged = False
    try:
        for _ in range(max_iter):
            prop = edges.join(
                labels.withColumnRenamed("id", "src"), "src"
            ).select(F.col("dst").alias("id"), "label")
            # truncate=True: labels re-pins every round — retained lineage
            # would stack one join+agg plan per round (pinning.py)
            new = pin(
                labels.unionByName(prop)
                .groupBy("id")
                .agg(F.min("label").alias("label")),
                truncate=True,
            )
            changed = (
                new.alias("n")
                .join(labels.alias("o"), "id")
                .filter(F.col("n.label") != F.col("o.label"))
                .limit(1)
                .count()
            )
            labels = new
            if changed == 0:
                converged = True
                break
    finally:
        # persist-strategy CacheManager entry; no-op otherwise — released
        # even when a mid-loop Spark failure propagates out
        unpin(edges)
    if not converged:
        raise RuntimeError(
            f"dedup_clusters: min-label propagation not converged after "
            f"{max_iter} rounds (component diameter exceeds max_iter; "
            f"raise max_iter)"
        )
    return labels.select(
        F.col("id").alias(id_col),
        F.col("label").alias("cluster_id"),
        (F.col("id") == F.col("label")).alias("is_canonical"),
    )

"""Embedding similarity operators over the `embeddings` table
(vec_id bigint, embedding array<float>, label int).

Scale design:
- Vectors are quantized to int64 (round(x*1e5)) once; all dot products are
  integer sums — order-independent, so results are bit-identical across
  engines AND across Spark partitionings (no floating-point nondeterminism
  in the hot path; the only float ops are two sqrt/div at the end).
- Brute-force top-k broadcasts the (small) query set against the corpus —
  a map-side nested loop inside whole-stage codegen; the only shuffle is
  the final per-query top-k window on nq partitions.
- The ANN path hashes every vector into L=4 sign-LSH tables of 8
  hyperplanes (literal integer planes derived from md5 — constant-folded,
  no per-row hashing). Candidates come from the banded-pair join of
  operators/banded.py keyed on (table, bucket): at 10^12 rows this is the
  join that replaces the quadratic scan, and bucket skew is handled by AQE
  skew-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..operators.banded import banded_pairs, explode_bands
from ..pinning import pin
from ..text.hashing import _const

DIM = 64  # embedding dimensionality of the documents' embedding table
QUANT = 100_000  # fixed-point scale for int64 quantization
NQ = 8  # query set = vec_id < NQ
TOPK = 5

ANN_TABLES = 4
ANN_PLANES = 8  # bits per table → 256 buckets/table
ANN_KEYS = ["tbl", "bucket"]  # band keys of the ann_buckets index


def plane(t: int, p: int) -> list[int]:
    """Deterministic integer hyperplane (components in [-1000, 1000])."""
    return [_const(f"pl_{t}_{p}_{d}", 2001) - 1000 for d in range(DIM)]


def quantized(emb: DataFrame) -> DataFrame:
    """vec_id + int64-quantized vector + its (exact) squared norm."""
    return emb.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> "
            f"cast(round(cast(x as double) * {QUANT}.0) as bigint))"
        ).alias("qv"),
    ).withColumn(
        "n2", F.expr("aggregate(transform(qv, x -> x * x), 0L, (a, v) -> a + v)")
    )


def _cos(qa: str, qb: str, na: str, nb: str):
    # zero-norm guard: an all-zero embedding (or one entirely below the
    # quantization grid step) has n2 = 0, and the plain division throws
    # DIVIDE_BY_ZERO under Spark 4's default ANSI mode. Its dot product
    # is necessarily 0, so cos := 0.0 is the principled value. Nonzero
    # quantized norms are ≥ 1, so the guard never alters a real cosine.
    # The DuckDB oracle (vectors/oracles.py _cos) carries the same CASE.
    dot = F.expr(
        f"aggregate(zip_with({qa}, {qb}, (x, y) -> x * y), 0L, (a, v) -> a + v)"
    )
    denom = F.sqrt(F.col(na).cast("double")) * F.sqrt(F.col(nb).cast("double"))
    return F.when(denom == 0, F.lit(0.0)).otherwise(
        F.round(dot.cast("double") / denom, 6)
    )


def brute_force_topk(emb: DataFrame, nq: int = NQ, k: int = TOPK) -> DataFrame:
    """Exact cosine top-k: broadcast query set × corpus, per-query window."""
    q = quantized(emb)
    queries = q.filter(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("qa"),
        F.col("n2").alias("na"),
    )
    corpus = q.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("qv").alias("qb"),
        F.col("n2").alias("nb"),
    )
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cos("qa", "qb", "na", "nb").alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        scored.withColumn("knn_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("knn_rank") <= k)
    )


def ann_buckets(emb: DataFrame) -> DataFrame:
    """(vec_id, table, bucket) sign-LSH index — one narrow projection."""
    q = quantized(emb)
    bucket_exprs = []
    for t in range(ANN_TABLES):
        bits = " + ".join(
            f"IF(aggregate(zip_with(qv, array({', '.join(map(str, plane(t, p)))}), "
            f"(x, c) -> x * c), 0L, (a, v) -> a + v) >= 0, {1 << p}, 0)"
            for p in range(ANN_PLANES)
        )
        bucket_exprs.append(f"({bits})")
    return explode_bands(
        q,
        ["vec_id", "qv", "n2"],
        F.expr(f"array({', '.join(bucket_exprs)})"),
        keys=ANN_KEYS,
    )


def ann_candidates(emb: DataFrame, nq: int = NQ) -> DataFrame:
    """Distinct (query_id, neighbor_id, cos_sim) sharing any LSH bucket.

    The cosine is computed MAP-SIDE, before the pair dedup: a pair can
    surface once per shared table (up to ANN_TABLES duplicate rows), and
    deduplicating first would shuffle the two full quantized vectors +
    norms (~1 KB/row) per candidate through the exchange — the payload
    cost the minhash pipeline is engineered to avoid. Computing the
    (deterministic) cosine up front costs at most ANN_TABLES-1 redundant
    map-side dot products per pair and shrinks the shuffled row to three
    scalars."""
    b = ann_buckets(emb)
    return banded_pairs(
        b.filter(F.col("vec_id") < nq).withColumnsRenamed(
            {"vec_id": "query_id", "qv": "qa", "n2": "na"}
        ),
        b.withColumnsRenamed({"vec_id": "neighbor_id", "qv": "qb", "n2": "nb"}),
        "query_id",
        "neighbor_id",
        on=ANN_KEYS,
        probe=True,
        score=_cos("qa", "qb", "na", "nb").alias("cos_sim"),
    )


def ann_topk(emb: DataFrame, nq: int = NQ, k: int = TOPK) -> DataFrame:
    """Approximate top-k: exact cosine ranking within LSH candidates."""
    cand = ann_candidates(emb, nq)
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        cand.withColumn("knn_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("knn_rank") <= k)
    )


def _recall_report(truth: DataFrame, approx: DataFrame) -> DataFrame:
    """Per-query recall of ``approx`` (query_id, neighbor_id) against the
    ``truth`` top-k — shared by the LSH and IVF paths."""
    hits = approx.select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    return (
        truth.select("query_id", "neighbor_id")
        .join(hits, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_truth"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_matched"),
        )
        .select(
            "query_id",
            "n_matched",
            F.round(F.col("n_matched") / F.col("n_truth"), 6).alias("recall_at_k"),
        )
    )


def ann_recall(emb: DataFrame, nq: int = NQ, k: int = TOPK) -> DataFrame:
    """Per-query recall@k of the ANN path vs the brute-force ground truth."""
    return _recall_report(brute_force_topk(emb, nq, k), ann_topk(emb, nq, k))


IVF_CENTROIDS = 16
IVF_NPROBE = 4
KMEANS_SAMPLE = 4096
KMEANS_ITERS = 10


def _first_n_centroids(emb: DataFrame, n_centroids: int) -> list[tuple]:
    """Default centroid set: the corpus vectors with the first
    ``n_centroids`` ids as (centroid_id, qv, n2) tuples — deterministic
    and dimension-scale. :func:`kmeans_centroids` is the trained
    alternative; both feed the same inlined-literal assignment."""
    rows = (
        quantized(emb)
        .filter(F.col("vec_id") < n_centroids)
        .select("vec_id", "qv", "n2")
        .collect()  # dimension-scale: n_centroids rows, like ann planes
    )
    return [
        (int(r.vec_id), [int(x) for x in r.qv], int(r.n2))
        for r in sorted(rows, key=lambda r: r.vec_id)
    ]


def kmeans_centroids(
    emb: DataFrame,
    n_centroids: int = IVF_CENTROIDS,
    sample_size: int = KMEANS_SAMPLE,
    iters: int = KMEANS_ITERS,
) -> list[tuple]:
    """Spherical k-means (Lloyd, cosine assignment) on a DETERMINISTIC
    sample → (centroid_id, qv, n2) tuples for :func:`ivf_index` /
    :func:`ivf_topk`.

    Sample = the ``sample_size`` vectors with the smallest 60-bit id hash
    — a uniform sample that is identical on every run and every
    partitioning (same device as text/corpus.py sampling; no RNG state).
    The sort+limit moves only (hash, qv) rows, and the sample is
    FIXED-SIZE no matter the corpus size, so at 10¹²-vector scale the
    driver-side training cost is O(sample × k × iters × dim) — constant —
    while assignment stays the inlined-literal pure map. Init = first
    ``n_centroids`` sample vectors in hash order; empty clusters keep
    their previous centroid. Output vectors are unit-normalized then
    re-quantized to the int64 grid (cosine is scale-invariant, so the
    assignment arithmetic is unchanged)."""
    import numpy as np

    from ..text.hashing import h60_spark

    q = quantized(emb).withColumn(
        "__h", F.expr(h60_spark("cast(vec_id as string)"))
    )
    rows = q.orderBy("__h", "vec_id").limit(sample_size).collect()
    X = np.array([r.qv for r in rows], dtype=np.float64)
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    # an all-zero quantized vector (zero embedding, or magnitudes below
    # the grid step) would divide to NaN and poison every mean downstream
    X = X[norms[:, 0] > 0]
    norms = norms[norms[:, 0] > 0]
    if not len(X):
        raise ValueError("kmeans_centroids: every sampled vector is zero")
    X /= norms
    k = min(n_centroids, len(X))
    C = X[:k].copy()
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    C[j] = m / n
    out = []
    for j in range(k):
        qv = [int(v) for v in np.round(C[j] * QUANT)]
        out.append((j, qv, sum(v * v for v in qv)))
    return out


def ivf_index(
    emb: DataFrame,
    n_centroids: int = IVF_CENTROIDS,
    centroids: list[tuple] | None = None,
) -> DataFrame:
    """IVF inverted lists: (vec_id, qv, n2, centroid_id) — every corpus
    vector assigned to its max-cosine coarse centroid.

    ``centroids`` is an explicit (centroid_id, qv, n2) list — pass
    :func:`kmeans_centroids` output for a trained coarse quantizer;
    default is :func:`_first_n_centroids` (deterministic, mirrored by the
    DuckDB oracle). The centroid vectors inline as literal arrays in one
    argmax expression (exactly how ann_buckets inlines its hyperplanes),
    so assignment is a PURE MAP — zero exchanges, no vector payload ever
    shuffles (plan-asserted in tests/test_plans.py). Ties break to the
    lowest centroid id; cosine is rounded to 6 dp like :func:`_cos`,
    keeping results bit-identical across engines and partitionings."""
    q = quantized(emb)
    cents = centroids or _first_n_centroids(emb, n_centroids)
    structs = []
    for cid, cqv, cn2 in sorted(cents):
        arr = f"array({', '.join(str(int(x)) for x in cqv)})"
        dot = f"aggregate(zip_with(qv, {arr}, (x, y) -> x * y), 0L, (a, v) -> a + v)"
        if float(cn2) == 0.0:
            cos = "0.0d"  # zero-norm centroid: cos := 0 (see _cos)
        else:
            # IF guards the zero-norm CORPUS vector (ANSI DIVIDE_BY_ZERO)
            cos = (
                f"IF(n2 = 0, 0.0d, round(cast({dot} as double) / "
                f"(sqrt(cast(n2 as double)) * sqrt({float(cn2)!r}d)), 6))"
            )
        structs.append(f"struct({cos} as s, {-int(cid)}L as nr)")
    best = f"array_max(array({', '.join(structs)}))"
    return q.withColumn(
        "centroid_id", F.expr(f"cast(-({best}.nr) as bigint)")
    )


def ivf_topk(
    emb: DataFrame,
    nq: int = NQ,
    k: int = TOPK,
    n_centroids: int = IVF_CENTROIDS,
    nprobe: int = IVF_NPROBE,
    centroids: list[tuple] | None = None,
) -> DataFrame:
    """IVF approximate top-k: each query probes its ``nprobe`` nearest
    centroids and ranks exact cosine within those inverted lists only —
    the scan fraction is ≈ nprobe/n_centroids of the corpus per query,
    reached through an equi-join on centroid_id (broadcast of nq×nprobe
    probe rows). ``centroids`` as in :func:`ivf_index` (pass
    :func:`kmeans_centroids` output for the trained quantizer). With
    ``nprobe == n_centroids`` every inverted list is probed, so the
    result is EXACTLY brute_force_topk whatever the centroid set
    (asserted in tests)."""
    cent_rows = centroids or _first_n_centroids(emb, n_centroids)
    index = ivf_index(emb, n_centroids, centroids=cent_rows)
    cents = emb.sparkSession.createDataFrame(
        cent_rows, "centroid_id bigint, cv array<bigint>, cn bigint"
    )
    q = quantized(emb).filter(F.col("vec_id") < nq)
    probes = q.crossJoin(F.broadcast(cents)).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("qa"),
        F.col("n2").alias("na"),
        "centroid_id",
        _cos("qv", "cv", "n2", "cn").alias("__cs"),
    )
    wp = W.partitionBy("query_id").orderBy(F.desc("__cs"), "centroid_id")
    probed = (
        probes.withColumn("__r", F.row_number().over(wp))
        .filter(F.col("__r") <= nprobe)
        .select("query_id", "qa", "na", "centroid_id")
    )
    cand = (
        index.join(F.broadcast(probed), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cos("qa", "qv", "na", "n2").alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        cand.withColumn("knn_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("knn_rank") <= k)
    )


def ivf_recall(
    emb: DataFrame,
    nq: int = NQ,
    k: int = TOPK,
    n_centroids: int = IVF_CENTROIDS,
    nprobe: int = IVF_NPROBE,
    centroids: list[tuple] | None = None,
) -> DataFrame:
    """Per-query recall@k of the IVF path vs brute-force ground truth."""
    return _recall_report(
        brute_force_topk(emb, nq, k),
        ivf_topk(emb, nq, k, n_centroids, nprobe, centroids=centroids),
    )


NEARDUP_COS = 0.25  # driver testdata embeddings are near-random; 0.25 keeps
# the tail pairs (max observed ~0.39) without an O(n²) blow-up


def neardup_pairs(emb: DataFrame, threshold: float = NEARDUP_COS) -> DataFrame:
    """Embedding-cosine near-dup pairs within shared LSH buckets; the
    cosine threshold is the keep refine of operators/banded.py.

    The bucketed frame is pinned (pinning.py, same rationale as
    text/dedup.minhash_dedup_pairs): the self-join consumes it twice
    under different aliases and ReuseExchange does not canonicalize the
    sides, so without the pin the quantize + hyperplane-hash scan runs
    once per side."""
    b = pin(ann_buckets(emb))
    return banded_pairs(
        b.withColumnsRenamed({"vec_id": "vec_a", "qv": "qa", "n2": "na"}),
        b.withColumnsRenamed({"vec_id": "vec_b", "qv": "qb", "n2": "nb"}),
        "vec_a",
        "vec_b",
        on=ANN_KEYS,
        score=_cos("qa", "qb", "na", "nb").alias("cos_sim"),
        keep=F.col("cos_sim") >= threshold,
    )

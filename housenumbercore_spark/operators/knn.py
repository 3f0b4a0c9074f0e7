"""kNN / nearest-neighbour association via cell k-ring candidate expansion.

The reference associates housenumbers to streets by *name equality only*
(Workcache_Entry.normalize, /root/reference/src/de/regioosm/
theoreticalhousenumbercore/util/Workcache_Entry.java:724-791); the graft's
north rule adds geometric nearest-street matching. Design:

1. targets (streets) are replicated to every cell of the k-ring around
   their own cell — build side ~ (2k+1)² × n_targets narrow rows, broadcast;
2. points encode their cell with pure column arithmetic and equi-join;
3. per-candidate distance is the reference's equirectangular formula
   (dbfunctions.sql:28-50) as a codegen column expression;
4. the n nearest per point, ordered by (distance, target_id) —
   deterministic ties.

Exactness contract: :func:`knn_nearest_multires` returns the global n
nearest targets of every point, provided the LAST resolution's ring covers
the target domain; every earlier round only accepts points whose answer
:func:`ring_guarantee_m` proves. :func:`knn_nearest` is the one-round
ladder: its ring-k answer is the global one whenever the true neighbours
lie within the k-ring of the point's cell, and points whose ring holds no
candidate fall out.

Materialization contract: the points shuffle once, hash-partitioned by
``point_id``, and every round is a narrow step over that partitioning (a
LEFT join against the broadcast ring dim, then a per-point aggregate that
needs no exchange). A point proven in an earlier round gets a NULL join key,
so it passes through with one row and probes nothing. Building the ladder
runs no Spark job: no count, no pin, no anti-join, no union.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..geo import cells as C
from ..geo.distance import EARTH_RADIUS_M, distance_m_col


def _q(name: str) -> str:
    return f"`{name}`"


def expand_targets_to_ring(
    targets: DataFrame, res: int, k: int = 1, lon: str = "slon", lat: str = "slat"
) -> DataFrame:
    """Replicate each target row to all cells of its k-ring (column-arithmetic
    ring: lon wraps; lat offsets running past a pole are FILTERED rather than
    clamped — the same covered-cell set as geo.cells.k_ring's clamp+dedup,
    but duplicate-free by construction, so the ring dim needs no
    dropDuplicates shuffle before broadcasting). The (2k+1)² offsets are one
    literal generator, so the expansion is a narrow projection of
    ``targets``: no offsets relation, no nested-loop join."""
    n = 1 << res
    offs = ", ".join(
        f"named_struct('dx', CAST({dx} AS BIGINT), 'dy', CAST({dy} AS BIGINT))"
        for dx in range(-k, k + 1) for dy in range(-k, k + 1)
    )
    iy = "__iy + __o.dy"
    # the grid's SQL definitions (cells.ix_sql/iy_sql/pack_sql) parse into
    # one expression each, instead of ~25 gateway calls per Column build
    out = (
        targets.selectExpr(
            "*",
            f"{C.ix_sql(_q(lon), res)} AS __ix",
            f"{C.iy_sql(_q(lat), res)} AS __iy",
            f"explode(array({offs})) AS __o",
        )
        .where(f"{iy} BETWEEN 0 AND {n - 1}")
        .selectExpr("*", f"{C.pack_sql(res, f'pmod(__ix + __o.dx, {n})', iy)} AS cell")
        .drop("__ix", "__iy", "__o")
    )
    if n <= 2 * k + 1:  # lon wrap can alias cells only at degenerate res
        out = out.dropDuplicates(out.columns)
    return out


#: plan-statistics size (bytes) above which the 'auto' strategy stops
#: broadcasting the ring-expanded target dim. Matches Spark's default
#: autoBroadcastJoinThreshold order of magnitude with ring-expansion
#: headroom: the dim is (2k+1)² × |targets| rows.
AUTO_BROADCAST_BYTES = 64 << 20


def _dim_strategy_auto(dim: DataFrame) -> str:
    """'broadcast' when Catalyst's size estimate for the expanded dim is
    known and small, else 'shuffle'. Unknown statistics (non-file sources)
    surface as huge sizeInBytes and correctly pick the safe shuffle path."""
    try:
        size = int(
            dim._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return "shuffle"
    return "broadcast" if 0 < size <= AUTO_BROADCAST_BYTES else "shuffle"


def knn_nearest(
    points: DataFrame,
    targets: DataFrame,
    res: int,
    k_ring: int = 1,
    n_neighbors: int = 1,
    point_id: str = "point_id",
    target_id: str = "street_key",
    lon: str = "lon",
    lat: str = "lat",
    tlon: str = "slon",
    tlat: str = "slat",
    dim_strategy: str = "broadcast",
    n_salt: int = 8,
) -> DataFrame:
    """→ points columns + targets columns + (dist_m, knn_rank): the
    ``n_neighbors`` nearest targets within the k-ring of each point's cell.

    Points with no target in their k-ring are absent from the output
    (:func:`knn_nearest_multires` escalates such points, and every point
    whose ring answer is not provably global, to coarser resolutions).
    This is the one-round ladder, so both share one plan shape and one
    ``dim_strategy``:

    - ``'broadcast'`` (default): ring-expanded targets broadcast to every
      executor — right whenever (2k+1)²×|targets| fits in memory.
    - ``'shuffle'``: salted shuffle hash join on the cell key — the path
      for national-scale target sets (reference imports Italy's 13.9 M
      addresses, ShapeReader.java:189-201) where the expanded dim exceeds
      any broadcast threshold. Salting spreads hot urban cells over
      ``n_salt`` reducers; AQE skew-join handles the residue.
    - ``'auto'``: choose by Catalyst's size estimate of the expanded dim
      (unknown stats → shuffle, the safe direction at scale).
    """
    return knn_nearest_multires(
        points, targets, [res], k_ring, n_neighbors,
        point_id=point_id, target_id=target_id, lon=lon, lat=lat,
        tlon=tlon, tlat=tlat, dim_strategy=dim_strategy, n_salt=n_salt,
    )


def _ring_guarantee_sql(res: int, k: int, lon: str, lat: str) -> str:
    n = 1 << res
    cw, ch = 360.0 / n, 180.0 / n
    lo, la = _q(lon), _q(lat)
    # grid indices come from THE single definition (cells.ix_sql/iy_sql, the
    # same ones the ring join's cell keys parse) so this bound can never
    # drift from the join's actual cell assignment; D-suffixed literals keep
    # the arithmetic in doubles
    ix, iy = C.ix_sql(lo, res), C.iy_sql(la, res)
    g_lon = (f"LEAST({lo} - (({ix} - {k}) * {cw!r}D - 180.0D), "
             f"(({ix} + {1 + k}) * {cw!r}D - 180.0D) - {lo})")
    g_lat = (f"LEAST({la} - (({iy} - {k}) * {ch!r}D - 90.0D), "
             f"(({iy} + {1 + k}) * {ch!r}D - 90.0D) - {la})")
    cos_m = f"COS(RADIANS(ABS({la}) + ({g_lat}) / 2))"
    return (f"(LEAST(RADIANS({g_lat}), RADIANS({g_lon}) * {cos_m}) "
            f"* {EARTH_RADIUS_M * 0.9999!r}D)")


def ring_guarantee_m(
    res: int, k: int, lon: str = "lon", lat: str = "lat"
) -> F.Column:
    """Lower bound (meters, equirectangular formula) on the distance from a
    point to ANY target outside the point's cell k-ring at ``res``.

    A target outside the ring differs by more than ``g_lon`` degrees of
    longitude or more than ``g_lat`` degrees of latitude (distance from the
    point to the nearest ring edge). Under the engine's distance formula
    d = R·sqrt((Δlon·cosφₘ)² + Δlat²):

    - Δlat ≥ g_lat alone gives d ≥ R·rad(g_lat);
    - Δlon ≥ g_lon with |Δlat| < g_lat bounds the midpoint latitude by
      |φ| + g_lat/2, so d ≥ R·rad(g_lon)·cos(|φ| + g_lat/2).

    A 0.9999 factor absorbs float rounding. If the best in-ring candidate is
    STRICTLY closer than this bound, it is provably the global nearest."""
    return F.expr(_ring_guarantee_sql(res, k, lon, lat))


def knn_nearest_multires(
    points: DataFrame,
    targets: DataFrame,
    res_list: list[int],
    k_ring: int = 1,
    n_neighbors: int = 1,
    point_id: str = "point_id",
    target_id: str = "street_key",
    lon: str = "lon",
    lat: str = "lat",
    tlon: str = "slon",
    tlat: str = "slat",
    dim_strategy: str = "broadcast",
    n_salt: int = 8,
) -> DataFrame:
    """EXACT kNN with bounded candidate counts: run the ring join at the
    finest resolution first and accept every point whose n-th nearest
    in-ring candidate beats :func:`ring_guarantee_m`; escalate only the
    remainder to coarser resolutions. The LAST res in ``res_list`` is the
    unconditional fallback and must ring-cover the whole target domain.
    → points columns + targets columns + (dist_m, knn_rank); a target row
    is identified by (target_id, tlon, tlat).

    Scale shape: at a res where the ring holds O(10) targets, candidates are
    ~(2k+1)²·density·|points| instead of |points|·|targets| — the difference
    between a 10⁶-candidate round and a 10¹⁴-row cross join at the 10¹²
    target shape.

    Plan shape — one lazy chain, no driver action while building it:

    - the points shuffle ONCE, into ``defaultParallelism`` partitions
      hash-partitioned by ``point_id``;
    - round 1 LEFT-joins every point to the ring dim on its cell; a later
      round joins on ``CASE WHEN NOT __done THEN cell END``, so a point
      proven earlier has a NULL key, probes nothing and passes through
      with one null-extended row (a round in which every point is already
      done costs one narrow pass and no probe);
    - ``groupBy(point_id)`` keeps the point's columns (``first``: constant
      per point) and, for points not yet done, the round's sorted top-n
      array of (dist_m, target_id, tlon, tlat). The state is already
      partitioned by ``point_id``, so this aggregate adds no exchange.
      ``collect_list`` plans it as an ObjectHashAggregate, which past
      ``spark.sql.objectHashAggregate.sortBased.fallbackThreshold`` (128)
      points per task falls back to sorting that task's candidate rows
      (every task does, on perfbench evaluate);
    - ``__done`` becomes true once the array holds n candidates and the
      n-th beats the ring bound; the last round's answer is final for
      every point still open;
    - at the end ``inline`` over the array yields one row per neighbour
      with its ``knn_rank``, and the remaining target columns join back
      once on (target_id, tlon, tlat), so a payload of any type (MapType
      tags included) never enters the sort.

    Under ``dim_strategy='broadcast'`` the point shuffle is the only
    non-broadcast exchange; under ``'shuffle'`` each round's salted join
    shuffles the state and the aggregate shuffles it back by ``point_id``.
    Each round has exactly one consumer, so nothing is recomputed and no
    round needs a pin; a failed task re-runs its share of the chain from
    the point shuffle's files."""
    if n_neighbors < 1:
        raise ValueError(f"n_neighbors must be >= 1, got {n_neighbors}")
    cores = points.sparkSession.sparkContext.defaultParallelism
    ring_cols = [target_id, tlon, tlat]
    narrow = targets.select(*ring_cols)
    if dim_strategy == "auto":
        # every round's dim is |ring| × |targets| rows: the first decides
        dim_strategy = _dim_strategy_auto(
            expand_targets_to_ring(narrow, res_list[0], k_ring, tlon, tlat)
        )
    if dim_strategy not in ("broadcast", "shuffle"):
        raise ValueError(f"unknown dim_strategy {dim_strategy!r}")
    carried = [c for c in points.columns if c != point_id]
    # decouple from the input file count; the hash partitioning by point_id
    # is what every round's aggregate reuses
    state = points.repartition(cores, point_id)
    dist = distance_m_col(F.col(lon), F.col(lat), F.col(tlon), F.col(tlat))
    hit = F.struct(dist.alias("dist_m"), *ring_cols)
    top_n = F.slice(
        F.array_sort(F.collect_list(F.when(F.col(tlon).isNotNull(), hit))),
        1, n_neighbors,
    )
    for i, res in enumerate(res_list):
        key = C.cell_sql(_q(lon), _q(lat), res)
        if i:
            key = f"CASE WHEN NOT __done THEN {key} END"
        dim = expand_targets_to_ring(narrow, res, k_ring, tlon, tlat)
        if dim_strategy == "broadcast":
            dim = dim.withColumnRenamed("cell", "__dim_cell")
            cand = state.join(
                F.broadcast(dim), F.expr(key) == dim["__dim_cell"], "left"
            )
        else:
            from .pip_join import salted_cell_join

            cand = salted_cell_join(
                state.withColumn("__cell", F.expr(key)), dim, n_salt=n_salt,
                how="left",
            )
        ans = top_n
        if i:
            ans = F.when(F.first("__done"), F.first("__ans")).otherwise(ans)
        state = cand.groupBy(point_id).agg(
            *[F.first(c).alias(c) for c in carried],
            *([F.first("__done").alias("__done")] if i else []),
            ans.alias("__ans"),
        )
        if i < len(res_list) - 1:
            proven = (
                f"size(__ans) = {n_neighbors} AND try_element_at(__ans, "
                f"{n_neighbors}).dist_m < "
                f"{_ring_guarantee_sql(res, k_ring, lon, lat)}"
            )
            state = state.withColumn(
                "__done", F.expr(f"__done OR ({proven})" if i else proven)
            )
    hit_cols = ", ".join(f"'{c}', h.{_q(c)}" for c in (*ring_cols, "dist_m"))
    ranked = state.select(point_id, *carried, F.expr(
        f"inline(transform(__ans, (h, i) -> "
        f"named_struct({hit_cols}, 'knn_rank', i + 1)))"
    ))
    if len(targets.columns) > len(ring_cols):
        payload = targets if dim_strategy == "shuffle" else F.broadcast(targets)
        ranked = ranked.join(payload, ring_cols)
    return ranked.select(*points.columns, *targets.columns, "dist_m", "knn_rank")

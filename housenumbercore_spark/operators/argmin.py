"""Generic keep-one-row-per-group argmin with an explicit strategy choice.

Several operators keep, per group, the single row minimizing an order
tuple (W1 best OSM object, official first-wins dedup —
HousenumberList.java:161-173 —, lowest-rel_id associatedStreet pick —
OSMStreet.java:60-76). Two physical shapes compute it:

- ``window``: row_number() over (partitionBy group, orderBy order) —
  shuffle every row, one per-partition sort. The default.
- ``agg``: ``min(struct(order..., rest))`` — a SortAggregate whose
  map-side ``partial_min`` combines duplicate groups BEFORE the shuffle.

The aggregate only pays when groups repeat *within a map partition*:
its map-side sort + partial pass is pure overhead otherwise, and the
per-partition duplication of a globally-2.4x-duplicated scattered key
tends to ZERO as partition count grows (600k rows / 250k groups across
1000 partitions ≈ all-distinct per partition). Measured on the sf0.1
match build at local[32], 10 interleaved rounds: window 3.01 s median
vs agg 3.43 s — so ``auto`` resolves to window, and callers opt into
``agg`` where they KNOW per-partition duplication is high (the official
first-wins dedup reduces 150k rows to 1.2k groups at sf0.1 — there the
partial combine collapses the shuffle ~100x).

Both shapes are bit-identical whenever the order tuple is unique within
each group (all callers order by a per-row-unique id): the struct
comparison never reads past the order columns. With ties the agg path
breaks them by the remaining columns — deterministic, where row_number
on a tied ORDER BY is not. A MapType anywhere in the schema cannot
participate in struct ordering, so ``agg`` falls back to window (which
only orders by ``order`` — unorderable payloads just ride along).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

_BEST = "__argmin_best"
_RN = "__argmin_rn"


def has_unorderable_col(schema) -> bool:
    """True if any column type cannot participate in struct ordering
    (MapType anywhere in the type tree) — such schemas must take the
    row_number window path in :func:`keep_min_row`."""
    from pyspark.sql import types as T

    def bad(dt) -> bool:
        if isinstance(dt, T.MapType):
            return True
        if isinstance(dt, T.ArrayType):
            return bad(dt.elementType)
        if isinstance(dt, T.StructType):
            return any(bad(f.dataType) for f in dt.fields)
        return False

    return any(bad(f.dataType) for f in schema.fields)


def keep_min_row(
    df: DataFrame,
    group: Sequence[str],
    order: Sequence[str],
    strategy: str = "auto",
) -> DataFrame:
    """Keep per ``group`` the row with the minimum ``order`` tuple,
    preserving ``df``'s column set and order.

    ``strategy``: ``"window"`` (and ``"auto"``, the measured default for
    unknown group duplication) → row_number window; ``"agg"`` → argmin
    STRUCT aggregate with map-side partial combine — opt in when groups
    repeat many times per map partition (see module docstring), falls
    back to window when the schema holds an unorderable type."""
    if strategy not in ("auto", "window", "agg"):
        raise ValueError(f"unknown keep_min_row strategy: {strategy!r}")
    group = list(group)
    # an order column that is also a group key is constant within each
    # group — dropping it keeps the two strategies identical AND keeps the
    # agg path's output free of duplicate column names
    order = [c for c in order if c not in set(group)]
    if not order:
        raise ValueError("keep_min_row: order must name a non-group column")
    for reserved in (_BEST, _RN):
        if reserved in df.columns:
            raise ValueError(f"keep_min_row: column name {reserved!r} is reserved")
    def qc(c: str):
        # backtick-quote every name: a bare "a.b" string would parse as a
        # nested struct path, not the literal column name
        return F.col("`" + c.replace("`", "``") + "`")

    if strategy == "agg" and not has_unorderable_col(df.schema):
        rest = [c for c in df.columns if c not in {*group, *order}]
        agg = df.groupBy(*[qc(c) for c in group]).agg(
            F.min(F.struct(*[qc(c).alias(c) for c in (*order, *rest)])).alias(_BEST)
        )
        picked = agg.select(
            *[qc(c) for c in group],
            *[F.col(_BEST).getField(c).alias(c) for c in (*order, *rest)],
        )
        return picked.select(*[qc(c) for c in df.columns])
    w = W.partitionBy(*[qc(c) for c in group]).orderBy(
        *[qc(c).asc() for c in order]
    )
    return (
        df.withColumn(_RN, F.row_number().over(w))
        .filter(F.col(_RN) == 1)
        .drop(_RN)
    )

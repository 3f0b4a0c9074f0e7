"""Diff/merge sink semantics (M1/S9) as a set-based operator.

The reference's Workcache loads the previous result set, flips per-row
states (dbloaded → unchanged/changed/new, leftovers → deleted) and writes
back row-by-row (/root/reference/src/de/regioosm/theoreticalhousenumbercore/
util/Workcache.java:114-132, 209-240, 243-424). Here the same protocol is
ONE full-outer join producing an action column: the new snapshot is every
row but the deletes, and the audit counters group by action. At scale this
is a single shuffle on the merge key (or an Iceberg MERGE INTO where a
catalog exists).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_actions(
    base: DataFrame,
    updates: DataFrame,
    keys: list[str],
    compare: list[str],
) -> DataFrame:
    """Full-outer diff: one row per key with action ∈ insert/update/
    unchanged/delete plus the surviving (post-merge) values.

    Keys join NULL-SAFELY (NULL = NULL), like the Workcache merge
    (snapshots.merge_upsert_snapshot_table): a plain equality join would
    split a NULL-keyed row into a perpetual delete+insert pair and the
    diff would never converge. The reference's Workcache keys are primary
    keys (non-NULL), so behavior there is unchanged."""
    import functools

    b = base.select(
        *[F.col(k).alias(f"__bk_{k}") for k in keys],
        *[F.col(c).alias(f"__b_{c}") for c in compare],
        F.lit(True).alias("__b_present"),
    )
    u = updates.select(
        *[F.col(k).alias(f"__uk_{k}") for k in keys],
        *[F.col(c).alias(f"__u_{c}") for c in compare],
        F.lit(True).alias("__u_present"),
    )
    cond = functools.reduce(
        lambda a, c: a & c,
        [F.col(f"__bk_{k}").eqNullSafe(F.col(f"__uk_{k}")) for k in keys],
    )
    j = b.join(u, cond, "full_outer")
    key_cols = [
        F.coalesce(F.col(f"__bk_{k}"), F.col(f"__uk_{k}")).alias(k)
        for k in keys
    ]
    in_b = F.col("__b_present").isNotNull()
    in_u = F.col("__u_present").isNotNull()
    changed = F.lit(False)
    for c in compare:
        changed = changed | ~(
            F.col(f"__b_{c}").eqNullSafe(F.col(f"__u_{c}"))
        )
    action = (
        F.when(~in_b, F.lit("insert"))
        .when(~in_u, F.lit("delete"))
        .when(changed, F.lit("update"))
        .otherwise(F.lit("unchanged"))
    )
    # update-side wins whenever the update ROW exists (not coalesce: an
    # update that sets a column to NULL must null it in the snapshot,
    # otherwise the diff never converges)
    out_vals = [
        F.when(in_u, F.col(f"__u_{c}")).otherwise(F.col(f"__b_{c}")).alias(c)
        for c in compare
    ]
    return j.select(*key_cols, *out_vals, action.alias("action"))


def merge_counters(actions_df: DataFrame) -> DataFrame:
    """Audit counts per action (the reference logs these per job)."""
    return actions_df.groupBy("action").agg(F.count(F.lit(1)).alias("n_rows"))

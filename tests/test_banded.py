"""operators/banded.py: the one banded-candidate pair join behind the
MinHash, SimHash, phash and embedding LSH families."""

from __future__ import annotations

from pyspark.sql import functions as F

from housenumbercore_spark.operators.banded import (
    banded_pairs,
    bit_bands,
    explode_bands,
)
from plan_audit import simple_plan


def test_banded_pairs_pair_predicates_and_refine_before_dedup(spark):
    # 4 x 4-bit bands: 1 and 2 share every band; 3 (0x000F) shares bands
    # 1-3 with them at Hamming 4; 4 (0xF0F0) shares bands 0 and 2 with
    # 1 and 2 and band 2 with 3
    df = spark.createDataFrame(
        [(1, 0x0000), (2, 0x0000), (3, 0x000F), (4, 0xF0F0)], "id long, h long"
    )
    bands = explode_bands(df, ["id", "h"], bit_bands("h", 4, 4))
    a_side = bands.withColumnsRenamed({"id": "a", "h": "ha"})
    b_side = bands.withColumnsRenamed({"id": "b", "h": "hb"})

    # self-join: each pair sharing any band exactly once, as (a < b) —
    # never (a, a), never the mirrored (b, a)
    pairs = [tuple(r) for r in banded_pairs(a_side, b_side, "a", "b").collect()]
    assert sorted(pairs) == [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]

    # probe: queries {1, 2} broadcast against every row; a query meets
    # every other row sharing a band, lower ids included, never itself
    probe = banded_pairs(
        a_side.filter(F.col("a") <= 2), b_side, "a", "b", probe=True
    )
    got = [tuple(r) for r in probe.collect()]
    assert sorted(got) == [(1, 2), (1, 3), (1, 4), (2, 1), (2, 3), (2, 4)]

    # score + keep: the refine drops far pairs, the all-band pair stays once
    near = banded_pairs(
        a_side,
        b_side,
        "a",
        "b",
        score=F.expr("bit_count(ha ^ hb)").alias("hamming"),
        keep=F.col("hamming") <= 2,
    )
    assert [tuple(r) for r in near.collect()] == [(1, 2, 0)]

    # refine before dedup: the keep predicate is evaluated below the
    # dedup's hash exchange on the pair keys, so that exchange carries
    # only surviving pairs
    lines = simple_plan(near).splitlines()
    dedup = next(
        i for i, ln in enumerate(lines) if "Exchange hashpartitioning(a#" in ln
    )
    keep = [i for i, ln in enumerate(lines) if "<= 2)" in ln]
    assert keep and min(keep) > dedup, "\n".join(lines)

"""Banded-candidate pair join: the one shape behind every LSH near-dup and
ANN candidate operator (MinHash, SimHash, phash, embedding sign-LSH).

Every row is exploded to one (band, bucket) key per band, two band frames
equi-join on those keys, a pair predicate drops self and mirrored pairs,
an optional score is computed map-side, the keep predicate filters, and
only then are the duplicate pairs removed (a pair surfaces once per band
it shares). Only the band frames' narrow columns — ids, hashes, and for
embeddings the quantized vectors — ever enter the join.

Two measured decisions live here and nowhere else:

- **Refine before dedup.** The keep filter runs map-side ahead of the
  ``dropDuplicates`` exchange, so that exchange carries only the
  surviving pairs, not the whole band-join fan-out (BENCH/phash_scale.py,
  1M phashes: 73.3 s -> 11.3 s). The score is deterministic per pair, so
  filtering first is result-identical.
- **Hot buckets go to AQE.** A near-dup mega-cluster (or flat-image
  phashes) puts one bucket's f² expansion on one reducer key; AQE
  skew-join splitting (on in session.py) chunks it with no plan change.
  BENCH/skew_lsh.py measured that against hot-only block salting on a
  clone-cluster shape: 11.6 s vs 35.1 s best-of-3, and salting also pays
  a full bucket-size count job to find the hot keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BAND_KEYS = ["band", "bucket"]


def bit_bands(hash_col: str, n: int, b: int) -> Column:
    """The ``n`` consecutive ``b``-bit slices of a 64-bit hash, low bits
    first, as an array column. ``(h >> s) & mask`` is shift-direction
    safe: the mask keeps only low bits, on which arithmetic and logical
    shifts agree, so negative hashes band correctly."""
    mask = (1 << b) - 1
    return F.array(
        *[F.expr(f"({hash_col} >> {j * b}) & {mask}") for j in range(n)]
    )


def explode_bands(
    df: DataFrame, cols: list, buckets: Column, keys: list = BAND_KEYS
) -> DataFrame:
    """One row per band: ``cols`` plus (band index, bucket) taken from the
    ``buckets`` array (e.g. :func:`bit_bands`)."""
    return df.select(*cols, F.posexplode(buckets).alias(*keys))


def banded_pairs(
    a_side: DataFrame,
    b_side: DataFrame,
    a: str,
    b: str,
    on: list = BAND_KEYS,
    probe: bool = False,
    score: Column | None = None,
    keep: Column | None = None,
) -> DataFrame:
    """Distinct (a, b[, score]) pairs of rows sharing any band bucket.

    Self-join (``probe=False``): both sides come from one band frame and
    each unordered pair is reported once as ``a < b``. Probe
    (``probe=True``): ``a_side`` is a small query set, broadcast against
    the ``b_side`` corpus, and every (query, other row) pair is kept —
    ``a != b``. ``score`` is an aliased column over both sides' payload,
    ``keep`` a predicate over the output columns; it is applied before
    the pair dedup."""
    if probe:
        joined = b_side.join(F.broadcast(a_side), on)
        pair = F.col(a) != F.col(b)
    else:
        joined = a_side.join(b_side, on)
        pair = F.col(a) < F.col(b)
    out = joined.filter(pair).select(a, b, *([] if score is None else [score]))
    if keep is not None:
        out = out.filter(keep)
    return out.dropDuplicates([a, b])

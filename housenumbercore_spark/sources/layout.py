"""Spatial storage layout: cell-partitioned, Morton-sorted parquet.

At the 10¹²-row target the dominant cost of every spatial query is the
scan. The reference leans on PostGIS GiST indexes; the Spark-native
equivalent is LAYOUT — make the storage itself the index:

- **partition by a coarse cell** (``cell<res>=`` directory key): a query
  windowed to a bbox prunes whole partitions at PLANNING time (Catalyst
  ``PartitionFilters`` — no file even listed outside the window);
- **sort within partitions by the Morton key** (geo.cells.morton_key
  packing of the fine cell): spatially close rows land in the same parquet
  row group, so row-group min/max statistics on the fine ``cell`` column
  prune most of the remaining bytes for small windows.

``write_spatial`` produces that layout from any (lon, lat) DataFrame;
``read_window`` plans a bbox query with both pruning levels applied and is
asserted in tests/test_plans.py to show ``PartitionFilters`` +
``PushedFilters`` in the physical plan.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..geo import cells as C

PART_RES = 5     # 32×32 grid globally → ~50-200 ~1100 km cells over a
# continent; raise to 8 (256×256, ~140 km cells) for continental datasets
# that want 10³-10⁴ prunable partitions — spatial_window_read does
SORT_RES = 13    # fine cell for row-group locality + min/max pruning


def morton_udf():
    import pandas as pd

    def _morton(cell):
        return pd.Series(C.morton_key(cell.to_numpy(dtype=np.int64)))

    return F.pandas_udf(_morton, "long")


def write_spatial(
    df: DataFrame,
    path: str,
    lon: str = "lon",
    lat: str = "lat",
    part_res: int = PART_RES,
    sort_res: int = SORT_RES,
) -> None:
    """Write ``df`` cell-partitioned + Morton-sorted.

    The partition key and fine cell are pure codegen; the Morton interleave
    is an Arrow-batched pandas UDF evaluated once per row AT WRITE TIME
    only (reads never touch it). ``sortWithinPartitions`` keeps the sort
    shuffle-free on top of the repartition by key."""
    keyed = (
        df.withColumn("part_cell", C.cell_col(lon, lat, part_res))
        .withColumn("cell", C.cell_col(lon, lat, sort_res))
        .withColumn("__morton", morton_udf()("cell"))
    )
    (
        keyed.repartition("part_cell")
        .sortWithinPartitions("__morton")
        .drop("__morton")
        .write.mode("overwrite")
        .partitionBy("part_cell")
        .parquet(path)
    )


def read_window(
    spark: SparkSession,
    path: str,
    lon_min: float,
    lat_min: float,
    lon_max: float,
    lat_max: float,
    lon: str = "lon",
    lat: str = "lat",
    part_res: int = PART_RES,
) -> DataFrame:
    """Bbox query over a :func:`write_spatial` table with partition pruning.

    The coarse-cell predicate is an IN-list over the window's cover cells
    (driver-side arithmetic on the bbox only — never data), which Catalyst
    turns into ``PartitionFilters``; the lon/lat range predicates push into
    the parquet scan and combine with the Morton sort's row-group min/max
    stats."""
    cells = [int(c) for c in C.cover_bbox(lon_min, lat_min, lon_max, lat_max, part_res)]
    return (
        spark.read.parquet(path)
        .filter(F.col("part_cell").isin(cells))
        .filter(
            (F.col(lon) >= lon_min) & (F.col(lon) <= lon_max)
            & (F.col(lat) >= lat_min) & (F.col(lat) <= lat_max)
        )
    )

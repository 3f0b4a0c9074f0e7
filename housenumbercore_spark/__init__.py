"""housenumbercore_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-expresses the query semantics of regio-osm/housenumbercore (per-row Java +
PostGIS JDBC, see /root/reference) as set-based Spark DataFrame operators:

- hierarchical cell indexing of point/line/polygon geometries (pure column
  arithmetic on the hot path — no Python per row),
- broadcast + salted cell-indexed point-in-polygon joins against admin
  boundary polygons,
- kNN housenumber→street association via cell k-ring candidate expansion,
- normalized-key full-outer match evaluation (identical / list-only /
  osm-only), and
- image+caption payload plumbing with per-row decoded-pixel PSNR / caption
  byte-equality invariants.

The package is organised as:

- ``geo``        cell grid, WKB geometry kernel, CRS transforms, distance
- ``norm``       housenumber / street-name normalization (column expressions)
- ``operators``  spatial joins, kNN, match evaluation, merge, banded pair joins
- ``sources``    synthetic data, list/OSM importers, export sinks, snapshot tables
- ``images``     pure-python codecs (PNG/zlib, deterministic lossy) behind a
  ``register_codec`` seam, phash, PSNR
- ``text`` / ``vectors``  dedup, corpus preparation, similarity search
- ``streaming``  windowed / stateful streams, the streaming image gate
- ``checkpoint`` per-partition checkpoint / lineage manifests, resume logic
- ``pipelines``  the query bodies behind ``__spark_entry__.queries()``
"""

__version__ = "0.1.0"

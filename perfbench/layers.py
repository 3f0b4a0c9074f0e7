"""The per-layer metric names the traced run reports, and how they are
assembled from per-pass span counters (medians over traced passes).

Layer calls that a workload does not make read 0 on that workload.
"""

from __future__ import annotations

import statistics

from .trace import COUNTERS

CALLS = (
    "pip_join.cover_cells", "pip_join.assign", "geo.tile_assign", "sources.scan",
    "argmin.keep_min_row", "match_eval.best_osm_object",
    "match_eval.match_evaluation", "pinning.pin", "knn.knn_nearest_multires",
    "street_catalog.streets_in_areas", "street_catalog.merge_street_geometries",
    "images.gate", "images.refine", "pip_join.assign_narrow",
    "checkpoint.checkpointed_run", "checkpoint.resume",
    "snapshots.snapshot_write", "snapshots.merge_upsert", "snapshots.read_snapshot",
)
COUNTER_UNITS = {"wall_s": "s", "driver_s": "s", "jobs": "count",
                 "exec_cpu_s": "s", "gc_s": "s", "shuffle_mb": "MB"}
COUNTS = {
    "pip_join.cover_rows": "count",
    "pip_join.refine_yield": "ratio",
    "sources.stage_s": "s",
    "match_eval.spill_mb": "MB",
    "knn.round1_accept_share": "ratio",
    "images.quarantined": "count",
    "images.decoded": "count",
    "checkpoint.bytes_mb": "MB",
    "snapshots.manifest_kb": "KB",
    "session.start_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}
SPILL_CALLS = ("argmin.keep_min_row", "match_eval.best_osm_object",
               "match_eval.match_evaluation")


def names() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    out = {f"{c}.{k}": COUNTER_UNITS[k] for c in CALLS for k in COUNTERS}
    out.update(COUNTS)
    return out


def per_layer_metrics(per_pass: list[dict], counts: dict) -> dict:
    def med(values):
        return statistics.median(values) if values else 0.0

    vals: dict[str, float] = {}
    for c in CALLS:
        for k in COUNTERS:
            vals[f"{c}.{k}"] = med([p.get(c, {}).get(k, 0.0) for p in per_pass])
    vals["match_eval.spill_mb"] = med(
        [sum(p.get(c, {}).get("spill_mb", 0.0) for c in SPILL_CALLS) for p in per_pass])
    vals.update(counts)
    return {n: {"value": float(vals.get(n, 0.0)), "unit": u} for n, u in names().items()}

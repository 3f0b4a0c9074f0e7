"""The three workloads. Each pass is one operation: ``run_pass`` calls the
engine on the staged inputs and returns what it produced, ``check``
compares that with the independent expectation and returns the list of
mismatches (empty when correct).

Spans (perfbench/trace.py) name the layer calls; they cost nothing while
tracing is off.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from housenumbercore_spark import checkpoint as CK
from housenumbercore_spark import pinning
from housenumbercore_spark.images import assign as IA
from housenumbercore_spark.images import udfs as IU
from housenumbercore_spark.operators import argmin as AM
from housenumbercore_spark.operators import knn as KN
from housenumbercore_spark.operators import match_eval as ME
from housenumbercore_spark.operators import pip_join as PJ
from housenumbercore_spark.operators import street_catalog as SC
from housenumbercore_spark.sources import snapshots as SN

from . import expect as E
from . import inputs as I


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _corrupted(wl, df):
    """Apply the self-tests' corruption hook (``wl.corrupt``) to an engine
    output, if one is set."""
    return wl.corrupt(df) if wl.corrupt else df


def _diff(name: str, got, want) -> list[str]:
    return [] if got == want else [f"{name}: got {got!r}, want {want!r}"]


class Assign:
    """Bulk read path: points -> admin areas (two overlapping levels) ->
    tiles, summed into one checksum row (the sink)."""

    def __init__(self, spark, st, exp, run_dir):
        self.spark, self.exp = spark, exp
        self.points_path = st.paths["points"]
        self.areas = spark.read.parquet(st.paths["areas"])
        self.sample_r = st.data["sample_r"]
        self.rows = st.rows["points"]
        self.corrupt = None

    def run_pass(self, tr) -> dict:
        with tr.span("sources.scan"):
            pts = tr.mat(self.spark.read.parquet(self.points_path))
        with tr.wrap(PJ, "cover_cells", "pip_join.cover_cells"):
            with tr.span("pip_join.assign"):
                assigned = tr.mat(PJ.assign_points_to_areas(self.spark, pts, self.areas))
        assigned = _corrupted(self, assigned)
        with tr.span("geo.tile_assign"):
            tiled = PJ.tile_assign(assigned, I.TILE_RES)
            sample = (F.col("point_id") % I.SAMPLE_MOD) == self.sample_r
            row = tiled.agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum("point_id").alias("id_sum"),
                F.sum("area_id").alias("area_sum"),
                F.sum(F.col("tile_id") % E.SUM_MOD).alias("tile_sum"),
                F.collect_list(F.when(sample, F.struct("point_id", "area_id")))
                .alias("sample"),
            ).collect()[0]
        return {"rows": row.rows, "id_sum": row.id_sum, "area_sum": row.area_sum,
                "tile_sum": row.tile_sum,
                "sample": sorted((r.point_id, r.area_id) for r in row.sample)}

    def check(self, res: dict) -> list[str]:
        return [m for k in ("rows", "id_sum", "area_sum", "tile_sum", "sample")
                for m in _diff(f"assign.{k}", res[k], self.exp[k])]

    def trace_counts(self, tr) -> None:
        pts = self.spark.read.parquet(self.points_path)
        res = PJ.pick_join_res(self.areas)
        tr.count("pip_join.cover_rows", PJ.cover_cells(self.areas, res).count())
        cand = PJ.assign_points_to_areas(self.spark, pts, self.areas, res=res,
                                         exact=False).count()
        tr.count("pip_join.refine_yield", self.exp["rows"] / cand)


class Evaluate:
    """Bulk shuffle and multi-round path: first-wins dedup, best OSM object,
    full-outer match, pinned counters; multires kNN; street-in-area join
    and per-street linemerge."""

    def __init__(self, spark, st, exp, run_dir):
        self.spark, self.exp, self.p = spark, exp, st.paths
        self.sample_r = st.data["sample_r"]
        self.rows = sum(st.rows[k] for k in ("official", "osm", "knn_points", "streets"))
        self.corrupt = None
        self.areas = spark.read.parquet(self.p["areas"])

    def _inputs(self):
        rd = self.spark.read.parquet
        flags = F.broadcast(rd(self.p["job_flags"]))
        off = rd(self.p["official"]).join(flags, "job_id").withColumn(
            "hnr_key", ME.match_key("housenumber", "exact"))
        tags = F.map_filter(
            F.map_from_arrays(
                F.array(F.lit("building"), F.lit("entrance"), F.lit("amenity")),
                F.array(F.col("building"), F.col("entrance"), F.col("amenity"))),
            lambda k, v: v.isNotNull())
        osm = (rd(self.p["osm"]).join(flags, "job_id")
               .withColumn("prio", ME.osm_tag_priority(tags))
               .withColumn("hnr_key", ME.match_key("housenumber", "exact"))
               .select("job_id", "street", "hnr_key", "osm_id", "prio"))
        return off, osm

    def run_pass(self, tr) -> dict:
        off, osm = self._inputs()
        with tr.span("argmin.keep_min_row"):
            off = tr.mat(AM.keep_min_row(
                off, ["job_id", "street", "hnr_key"], ["source_id"], strategy="agg"
            ).select("job_id", "street", "hnr_key", "source_id"))
        with tr.span("match_eval.best_osm_object"):
            best = tr.mat(ME.best_osm_object(osm))
        with tr.span("match_eval.match_evaluation"):
            matched = tr.mat(ME.match_evaluation(off, best))
        with tr.span("pinning.pin"):
            pinned = pinning.pin(matched)
            counters = ME.evaluation_counters(pinned).collect()
            sums = pinned.agg(F.sum("source_id").alias("s"),
                              F.sum("osm_id").alias("o")).collect()[0]

        pts = self.spark.read.parquet(self.p["knn_points"])
        targets = self.spark.read.parquet(self.p["street_points"])
        with tr.span("knn.knn_nearest_multires"):
            near = _corrupted(self, KN.knn_nearest_multires(
                pts, targets, res_list=I.KNN_RES_LIST))
            sample = (F.col("point_id") % I.SAMPLE_MOD) == self.sample_r
            knn = near.agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum("street_key").alias("key_sum"),
                F.collect_list(F.when(sample, F.struct("point_id", "street_key")))
                .alias("sample"),
            ).collect()[0]

        segs = self.spark.read.parquet(self.p["streets"])
        with tr.span("street_catalog.streets_in_areas"):
            in_areas = tr.mat(SC.streets_in_areas(self.spark, segs, self.areas))
        with tr.span("street_catalog.merge_street_geometries"):
            merged = SC.merge_street_geometries(in_areas).select(
                "area_id", "name", "n_segments", "n_merged").collect()
        return {
            "counters": {r.job_id: (r.number_target, r.number_identical,
                                    r.number_osmonly) for r in counters},
            "source_sum": sums.s, "osm_sum": sums.o,
            "knn_rows": knn.rows, "knn_key_sum": knn.key_sum,
            "knn_sample": sorted((r.point_id, r.street_key) for r in knn.sample),
            "streets": {(r.area_id, r.name): (r.n_segments, r.n_merged) for r in merged},
        }

    def check(self, res: dict) -> list[str]:
        out = [m for k in ("source_sum", "osm_sum", "knn_rows", "knn_key_sum",
                           "knn_sample")
               for m in _diff(f"evaluate.{k}", res[k], self.exp[k])]
        for k in ("counters", "streets"):
            got, want = res[k], self.exp[k]
            bad = sorted(j for j in set(got) | set(want) if got.get(j) != want.get(j))
            out += [f"evaluate.{k}[{j}]: got {got.get(j)}, want {want.get(j)}"
                    for j in bad[:5]]
        return out

    def trace_counts(self, tr) -> None:
        pts = self.spark.read.parquet(self.p["knn_points"])
        targets = self.spark.read.parquet(self.p["street_points"])
        res = I.KNN_RES_LIST[0]
        sure = KN.knn_nearest(pts, targets, res).filter(
            F.col("dist_m") < KN.ring_guarantee_m(res, 1)).count()
        tr.count("knn.round1_accept_share", sure / self.exp["knn_rows"])


class Ingest:
    """Write path: digest gate + narrow assign, quarantine decode,
    resumable checkpointed partitions, snapshot write + merge, read-back."""

    def __init__(self, spark, st, exp, run_dir):
        self.spark, self.exp, self.p = spark, exp, st.paths
        self.run_dir = run_dir
        self.rows = st.rows["images"]
        self.areas = spark.read.parquet(self.p["areas"])
        self.n_pass = 0
        self.last_bytes = {}
        self.corrupt = None

    def run_pass(self, tr) -> dict:
        self.n_pass += 1
        out = os.path.join(self.run_dir, f"pass{self.n_pass:03d}")
        ck_dir, table = os.path.join(out, "checkpoint"), os.path.join(out, "snapshot")
        rd = self.spark.read.parquet
        facts, src = rd(self.p["images"]), rd(self.p["sources"])
        with tr.wrap(IU, "check_invariants_split", "images.gate"), \
                tr.wrap(PJ, "assign_points_to_areas", "pip_join.assign_narrow"):
            assigned, quarantine = IA.assign_gated_images_to_areas(
                self.spark, facts, self.areas, src_df=src, src_id_col="src_id",
                tile_res=I.TILE_RES)
        with tr.span("images.refine"):
            q = quarantine.select("image_id", "psnr_db").collect()
        assigned = _corrupted(self, assigned)
        with tr.span("pinning.pin"):
            assigned = pinning.pin(assigned.select(
                "image_id", "area_id", "tile_id", "psnr_db",
                (F.col("area_id") % I.INGEST_PARTS).cast("int").alias("part"),
                F.lit(0).alias("rev")))

        def build(spark, key):
            # the partition key comes back from the part=<key> directory
            return assigned.filter(F.col("part") == int(key)).drop("part")

        keys = list(range(I.INGEST_PARTS))
        with tr.span("checkpoint.checkpointed_run"):
            first = CK.checkpointed_run(self.spark, build, keys, ck_dir, "v1")
        with tr.span("checkpoint.resume"):
            again = CK.checkpointed_run(self.spark, build, keys, ck_dir, "v1")
        with tr.span("snapshots.snapshot_write"):
            SN.snapshot_write(CK.read_checkpointed(self.spark, ck_dir),
                              table, partition_cols=["part"])
        updates = assigned.join(F.broadcast(rd(self.p["update_ids"])), "image_id") \
            .withColumn("rev", F.lit(1))
        with tr.span("snapshots.merge_upsert"):
            SN.merge_upsert_snapshot_table(self.spark, table, updates,
                                           keys=["image_id", "area_id"])
        with tr.span("snapshots.read_snapshot"):
            back = SN.read_snapshot(self.spark, table).agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum("area_id").alias("area_sum"),
                F.sum(F.substring("image_id", 4, 8).cast("long")).alias("idx_sum"),
                F.sum("rev").alias("rev_sum"),
            ).collect()[0]
        self.last_bytes = {
            "checkpoint": _dir_bytes(ck_dir),
            "manifest": _dir_bytes(os.path.join(table, SN.META)),
            "storage": _dir_bytes(out),
        }
        shutil.rmtree(out, ignore_errors=True)
        self.last = {
            "quarantine": sorted(r.image_id for r in q),
            "decoded": sum(1 for r in q if r.psnr_db < 999.0),
            "computed": first["computed"], "recomputed": again["computed"],
            "skipped": again["skipped"],
            "rows": back.rows, "area_sum": back.area_sum,
            "idx_sum": back.idx_sum, "rev_sum": back.rev_sum,
        }
        return self.last

    def check(self, res: dict) -> list[str]:
        e = self.exp
        out = [m for k in ("quarantine", "decoded", "rows", "area_sum",
                           "idx_sum", "rev_sum")
               for m in _diff(f"ingest.{k}", res[k], e[k])]
        out += _diff("ingest.computed", res["computed"], e["parts"])
        out += _diff("ingest.resume_computed", res["recomputed"], [])
        out += _diff("ingest.resume_skipped", res["skipped"], e["parts"])
        return out

    def trace_counts(self, tr) -> None:
        tr.count("images.quarantined", len(self.last["quarantine"]))
        tr.count("images.decoded", self.last["decoded"])
        tr.count("checkpoint.bytes_mb", self.last_bytes["checkpoint"] / 1e6)
        tr.count("snapshots.manifest_kb", self.last_bytes["manifest"] / 1e3)


WORKLOADS = {"assign": Assign, "evaluate": Evaluate, "ingest": Ingest}

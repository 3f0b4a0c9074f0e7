"""Reference-parity operator batch vs DuckDB oracle: housenumber explode,
associatedStreet, merge diff, boundary selection, JOSM export, census,
streaming windows/sessions."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

SF = "/root/testdata/sf0.001"

QUERIES = [
    "hnr_explode",
    "associated_street",
    "merge_diff",
    "merge_action_counters",
    "boundary_select",
    "josm_export",
    "census_counters",
    "stream_windowed_counts",
    "stream_sessions",
    "suburb_assignment",
    "boundary_union_centroid",
    "crs_transform",
    "import_rejects",
    "resume_pending",
    "sorted_street_list",
    "lu_commune_lookup",
    "video_frame_sample",
    "street_merge_stats",
    "street_merged_geometries",
    "title_case_streets",
    "stream_user_state",
    "address_flags",
    "audio_feature_stats",
    "image_resize_stats",
    "checkpoint_image_lineage",
    "spatial_window_read",
    "stream_image_gate",
    "image_invariants",
    "image_decode_stats",
    "knn_nearest_street_shuffle",
    "merge_upsert_snapshot",
    "snapshot_time_travel",
    "image_gated_assign",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ("part", "supplier", "customer", "lineitem", "nation", "region",
              "orders", "events"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    yield con
    con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(list(df.columns)).reset_index(drop=True)


@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_oracle(spark, duck, name):
    import __spark_entry__ as E

    got = _normalize(E.queries()[name](spark, SF).toPandas())
    want = _normalize(duck.execute(E.oracle_sql()[name]).df())
    assert len(got) == len(want), f"{name}: {len(got)} vs {len(want)} rows"
    assert list(got.columns) == list(want.columns), name
    for c in got.columns:
        a, b = got[c], want[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            ok = (a.isna() & b.isna()) | (a.astype(float) == b.astype(float))
        else:
            ok = (a.isna() & b.isna()) | (a.astype(object) == b.astype(object))
        assert ok.all(), (
            f"{name}.{c}: {a[~ok].head(3).tolist()} vs {b[~ok].head(3).tolist()}"
        )


def test_merge_has_all_actions(spark):
    import __spark_entry__ as E

    counts = {
        r.action: r.n_rows
        for r in E.queries()["merge_action_counters"](spark, SF).collect()
    }
    assert set(counts) == {"insert", "update", "unchanged", "delete"}
    assert all(v > 0 for v in counts.values())


def test_hnr_explode_semantics(spark):
    from housenumbercore_spark.norm import housenumbers as HN

    df = spark.createDataFrame(
        [(1, "2-8"), (2, "1,3;5"), (3, "8-2"), (4, "2-8a"), (5, "13b")],
        "rec_id long, housenumber string",
    )
    out = HN.explode_housenumbers(df)
    got = sorted((r.rec_id, r.housenumber) for r in out.collect())
    assert got == [
        (1, "2"), (1, "4"), (1, "6"), (1, "8"),
        (2, "1"), (2, "3"), (2, "5"),
        (5, "13b"),
    ]


def _apply_merge(actions_df):
    """The snapshot a diff leads to: every row except deletes (the values
    are already merged into the action frame)."""
    from pyspark.sql import functions as F

    return actions_df.filter(F.col("action") != "delete").select("k", "v")


def test_merge_null_key_converges(spark):
    """A NULL merge key must match NULL-SAFELY (like the upsert sinks):
    plain equality would emit a perpetual delete+insert pair and the diff
    would never converge."""
    from housenumbercore_spark.operators import merge as M

    base = spark.createDataFrame([(None, "A"), (1, "B")], "k int, v string")
    updates = spark.createDataFrame(
        [(None, "A"), (1, "B2")], "k int, v string"
    )
    acts = {
        (r.k, r.v): r.action
        for r in M.merge_actions(base, updates, ["k"], ["v"]).collect()
    }
    assert acts == {(None, "A"): "unchanged", (1, "B2"): "update"}
    snap = _apply_merge(M.merge_actions(base, updates, ["k"], ["v"]))
    again = M.merge_actions(snap, updates, ["k"], ["v"])
    assert {r.action for r in again.collect()} == {"unchanged"}


def test_merge_null_update_wins(spark):
    """An update that NULLs a compared column must null it in the snapshot
    (coalesce would silently revert it and the diff would never converge)."""
    from housenumbercore_spark.operators import merge as M

    base = spark.createDataFrame([(1, "X"), (2, "Y")], "k long, v string")
    updates = spark.createDataFrame(
        [(1, None), (2, "Y")], "k long, v string"
    )
    out = {r.k: (r.v, r.action) for r in
           M.merge_actions(base, updates, ["k"], ["v"]).collect()}
    assert out[1] == (None, "update")
    assert out[2] == ("Y", "unchanged")
    # re-running against the merged snapshot converges to all-unchanged
    snap = _apply_merge(M.merge_actions(base, updates, ["k"], ["v"]))
    again = {r.k: r.action for r in
             M.merge_actions(snap, updates, ["k"], ["v"]).collect()}
    assert set(again.values()) == {"unchanged"}


def test_stateful_rounding_half_away(spark, tmp_path):
    """Exact half-cents round away from zero, matching SQL round()."""
    import duckdb

    from housenumbercore_spark.streaming import stateful as ST

    from datetime import datetime

    df = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 0, 0), 7, "c", 0.125, ""),
         (2, datetime(2024, 1, 1, 0, 10), 7, "c", 0.135, "")],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    # the stream source globs on the literal file name events.parquet
    import glob
    import shutil

    outdir = tmp_path / "_stage"
    df.coalesce(1).write.mode("overwrite").parquet(str(outdir))
    part = glob.glob(str(outdir / "part-*.parquet"))[0]
    shutil.move(part, str(tmp_path / "events.parquet"))
    got = {r.user_id: r.value_cents
           for r in ST.user_running_stats(spark, str(tmp_path)).collect()}
    con = duckdb.connect()
    con.execute(
        f"create view events as select * from "
        f"read_parquet('{tmp_path}/events.parquet')"
    )
    want = con.execute(ST.user_running_stats_sql()).df()
    assert got[7] == int(want["value_cents"].iloc[0]) == 13 + 14


def test_stateful_null_value_and_ts_skip_like_sql(spark, tmp_path):
    """NULL value rows count in n_events but drop from the cent sum, and
    NaT timestamps skip the first/last bounds — matching SQL COUNT(*)/
    SUM/MIN/MAX semantics (a NaN reaching astype(int64) is undefined)."""
    import duckdb

    from housenumbercore_spark.streaming import stateful as ST

    from datetime import datetime

    df = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 1, 0), 7, "c", 1.00, ""),
         (2, None, 7, "c", None, ""),
         (3, datetime(2024, 1, 1, 0, 30), 7, "c", 2.50, "")],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    import glob
    import shutil

    outdir = tmp_path / "_stage"
    df.coalesce(1).write.mode("overwrite").parquet(str(outdir))
    part = glob.glob(str(outdir / "part-*.parquet"))[0]
    shutil.move(part, str(tmp_path / "events.parquet"))
    row = {r.user_id: r for r in
           ST.user_running_stats(spark, str(tmp_path)).collect()}[7]
    con = duckdb.connect()
    con.execute(
        f"create view events as select * from "
        f"read_parquet('{tmp_path}/events.parquet')"
    )
    want = con.execute(ST.user_running_stats_sql()).df().iloc[0]
    assert row.n_events == int(want["n_events"]) == 3
    assert row.value_cents == int(want["value_cents"]) == 350
    assert row.first_ts == want["first_ts"].to_pydatetime()
    assert row.last_ts == want["last_ts"].to_pydatetime()


def test_street_merge_stats_beyond_generator_period(spark, tmp_path):
    """Regression (scale landmine): the street grid residues repeat with
    period 1000 in s_suppkey, so above 1000 suppliers two street_keys used
    to collide to byte-identical coordinates — the engine's linemerge then
    stitched chains ACROSS street_keys while the oracle's per-key chain CTE
    did not. The injectivity epsilon (sources/streets.py) must keep engine
    and oracle in exact agreement at 2.5x the period."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from housenumbercore_spark import pipelines as P
    from housenumbercore_spark.sources import streets as STR

    stage = tmp_path / "_stage"
    (
        spark.range(1, 2501)
        .select(F.col("id").cast("long").alias("s_suppkey"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(str(stage))
    )
    shutil.move(
        glob.glob(str(stage / "part-*.parquet"))[0],
        str(tmp_path / "supplier.parquet"),
    )
    for t in ("nation", "region"):
        shutil.copy(f"{SF}/{t}.parquet", str(tmp_path / f"{t}.parquet"))

    # coordinates are injective: 2500 keys -> 2500 distinct segment-1 starts
    segs = STR.street_segments_df(spark, str(tmp_path))
    s1 = segs.filter(F.col("osm_id") % 10 == 0)
    assert s1.select("x0", "y0").distinct().count() == 2500

    got = _normalize(P.street_merge_stats(spark, str(tmp_path)).toPandas())
    con = duckdb.connect()
    for t in ("supplier", "nation", "region"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{tmp_path}/{t}.parquet')"
        )
    want = _normalize(con.execute(P.street_merge_stats_sql()).df())
    con.close()
    assert len(got) == len(want) > 0
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_josm_export_omits_null_tags(spark):
    """Review regression: a NULL tag value must omit that tag, not
    NULL-propagate through the whole node string (silent export loss)."""
    from housenumbercore_spark.sources import export as EX

    df = spark.createDataFrame(
        [(1, "Hauptweg", "5", None, 6.5, 50.5),
         (2, "Ring", "7b", "52062", 6.6, 50.6)],
        "source_id long, street string, housenumber string, "
        "postcode string, lon double, lat double",
    )
    rows = {r.source_id: r.xml for r in EX.josm_export(df).collect()}
    assert rows[1] is not None and "addr:postcode" not in rows[1]
    assert "addr:street" in rows[1] and "addr:housenumber" in rows[1]
    assert "addr:postcode" in rows[2]

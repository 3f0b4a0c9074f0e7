"""Physical-plan property tests: the scale contract, asserted.

Correctness tests prove the operators compute the right rows; these prove
the plans would survive a 100× scale-up — dims broadcast, Python off the
fact path, scans pruned, shuffles bounded.
"""

from __future__ import annotations

from plan_audit import audit_plan

SF = "/root/testdata/sf0.001"


def _q(name):
    import __spark_entry__ as E

    return E.queries()[name]


def test_flagship_plan_broadcast_no_python(spark):
    df = _q("pip_count_per_area")(spark, SF)
    df.collect()  # execute THIS plan so AQE finalizes and codegen shows
    a = audit_plan(df)
    assert a["n_broadcast_joins"] >= 1, "area dim must broadcast"
    assert a["n_sortmerge_joins"] == 0, "no shuffle join on the fact path"
    assert not a["has_batch_eval_python"], "no row-at-a-time Python"
    assert a["wholestage_codegen"]


def test_flagship_scan_prunes_columns(spark):
    a = audit_plan(_q("pip_assignments")(spark, SF))
    for cols in a["read_schemas"]:
        # orders.parquet has 9 columns; the point source needs only the key
        assert len(cols) <= 2, f"scan reads too many columns: {cols}"
    assert not a["has_batch_eval_python"]


def test_match_eval_broadcasts_flag_dim(spark):
    # audit the UNPINNED plan: the driver query memoizes a localCheckpoint
    # (shared with evaluation_counters), whose plan is just a block scan
    from housenumbercore_spark import pipelines as P

    a = audit_plan(P.evaluation_matched_plan(spark, SF))
    assert a["n_broadcast_joins"] >= 2, "job-flag dim joins must broadcast"
    assert not a["has_batch_eval_python"]


def test_filter_pushdown_reaches_parquet(spark):
    from pyspark.sql import functions as F

    df = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .filter(F.col("o_orderkey") % 1 == 0)
        .filter(F.col("o_orderpriority") == "5-LOW")
        .select("o_orderkey")
    )
    a = audit_plan(df)
    assert any("o_orderpriority" in p for p in a["pushed_filters"]), a[
        "pushed_filters"
    ]


def test_street_catalog_refine_is_jvm_only(spark):
    """The street-in-polygon refine must be collect-free and Python-free:
    the only Python allowed in the plan is the dimension-side cover_cells
    mapInPandas (areas → cover rows), never a per-candidate street refine.
    (The refine's higher-order functions run interpreted, outside the
    whole-stage codegen stage; this test checks for Python, not codegen.)"""
    import inspect

    from housenumbercore_spark.operators import street_catalog as SC

    from housenumbercore_spark.sources import streets as STS
    from housenumbercore_spark.sources import synthetic as SY

    streets = SC.apply_whitelist(STS.street_segments_df(spark, SF))
    # the areas frame dies with the call, and with it the area_cover memo:
    # the plan below computes the cover itself
    df = SC.streets_in_areas(
        spark, streets, SY.areas_df(spark, SF).filter("admin_level = 8"))
    a = audit_plan(df)
    assert not a["has_batch_eval_python"], "row-at-a-time Python on street path"
    # the only Python: areas→cover mapInPandas, instantiated once — both
    # branches (endpoint + crossing) probe one broadcast of it; explain
    # prints each node twice (tree + detail), so 1 logical occurrence → ≤2
    # textual. A second cover build or a Python street refine would add two
    # more.
    assert a["plan"].count("MapInPandas") <= 2, a["plan"]
    assert a["plan"].count("BroadcastExchange") <= 2, a["plan"]
    src = inspect.getsource(SC.streets_in_areas)
    assert ".collect()" not in src, "driver-side polygon collect reintroduced"


def test_knn_no_cartesian_no_python_rows(spark):
    a = audit_plan(_q("knn_nearest_street")(spark, SF))
    assert not a["has_batch_eval_python"]
    # candidate generation is a cell equi-join, not a cross join, and the
    # ring offsets are a literal generator, not a nested-loop join
    assert "CartesianProduct" not in a["plan"]
    assert "BroadcastNestedLoopJoin" not in a["plan"]


def test_dedup_minhash_plan_shape(spark):
    a = audit_plan(_q("dedup_minhash_pairs")(spark, SF))
    assert not a["has_batch_eval_python"]


def test_corpus_enrichment_is_map_only(spark):
    """prepare_corpus' score-attachment stage must stay a single narrow
    projection: zero exchanges, zero joins (a regression to the join-back
    pattern would shuffle the full corpus text twice)."""
    from housenumbercore_spark import pipelines as P
    from housenumbercore_spark.text import analysis as TA

    docs = P.documents_df(spark, SF)
    q = TA.quality_score(docs, keep_cols=("text", "lang"))
    enr = TA.lang_id(q, keep_cols=("text", "quality")).select(
        "doc_id", "text", "quality", "pred_lang"
    )
    plan = enr._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 0, plan
    assert "Join" not in plan, plan


def test_token_budget_sampling_shuffles_no_text(spark):
    """sample_to_token_budget: the only exchanges carry the narrow
    per-group totals (group agg), and the totals join is a broadcast —
    document text never shuffles. Asserts the DEFAULT (localCheckpoint)
    strategy's plan shape, so the strategy is forced for the assertion:
    under persist the pinned totals render as an InMemoryRelation subtree
    whose internal exchange changes the count without changing what
    actually shuffles."""
    from conftest import forced_pin_strategy

    from housenumbercore_spark import pipelines as P
    from housenumbercore_spark.text import corpus as C

    with forced_pin_strategy(spark, "local"):
        samp = C.sample_to_token_budget(
            P.documents_df(spark, SF), 10_000, by="lang"
        )
        plan = samp._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Exchange") <= 2, plan


def test_ivf_index_is_map_only(spark):
    """IVF centroid assignment must be a pure map (inlined centroid
    literals, like ann_buckets' planes): zero exchanges, zero joins — a
    regression to the groupBy-argmax+join shape would shuffle every
    quantized vector payload at corpus scale."""
    from housenumbercore_spark.vectors import similarity as V

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = V.ivf_index(emb)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 0, plan
    assert "Join" not in plan, plan


def test_keep_min_row_agg_combines_map_side(spark):
    """The agg strategy's whole point is the map-side partial combine:
    duplicate groups collapse BEFORE the shuffle, so |groups| narrow rows
    cross the wire instead of every candidate row. Assert the physical
    shape: a partial_min aggregate strictly below the single Exchange —
    a regression to final-only aggregation (or a second shuffle) would
    re-ship the full duplication at the 10^12-row shape."""
    from housenumbercore_spark.operators.argmin import keep_min_row

    df = spark.range(1000).selectExpr(
        "id % 10 as g", "id as o", "id * 2 as payload"
    )
    out = keep_min_row(df, ["g"], ["o"], strategy="agg")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    pre_exchange = plan.split("Exchange", 1)[1]
    assert "partial_min(struct(o," in pre_exchange, plan
    # and the window strategy is the one that must NOT pay an extra
    # aggregate pass: one Exchange + one Window, no partial aggregate
    win = keep_min_row(df, ["g"], ["o"], strategy="window")
    wplan = win._jdf.queryExecution().executedPlan().toString()
    assert wplan.count("Exchange") == 1, wplan
    assert "partial_min" not in wplan, wplan

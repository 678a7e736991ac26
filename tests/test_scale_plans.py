"""Plan-shape regression tests — the 100 TB design invariants.

Correctness tests prove the operators compute the right answer at small
scale; these prove the PLANS are the ones that survive a 1000-executor
cluster: filters reach the parquet scan, small sides broadcast, exact
geometry predicates never run on a cross product, aggregations are
partial+final, and column pruning holds (SURVEY.md §4.2, §7.3).
"""

import os

import pyspark.sql.functions as F
import pytest


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_parquet(spark):
    df = (spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
          .where(F.col("l_orderkey") > 100).select("l_orderkey", "l_partkey"))
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_orderkey), GreaterThan(l_orderkey,100)]" in plan


def test_column_pruning_reaches_parquet(spark):
    df = (spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
          .select("l_orderkey", "l_quantity"))
    plan = plan_of(df)
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity" in plan


def test_spatial_join_broadcasts_and_prefilters(spark):
    """The exact Python predicate must sit ABOVE a native-condition
    broadcast join — never BE the join condition (which would evaluate
    Python on the full cross product)."""
    import __spark_entry__ as entrymod
    df = entrymod.queries()["spatial_join"](spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" in plan
    bnlj = plan[plan.index("BroadcastNestedLoopJoin"):]
    head = bnlj.split("\n")[0]
    assert "pythonUDF" not in head, "exact predicate leaked into join condition"
    assert "xmin" in head and "ymax" in head, "native bbox prefilter missing"


def test_grid_join_is_equi_join_no_cross_product(spark):
    """Both big×big strategies must avoid cross products: the cogroup
    path shuffles on cell keys into FlatMapCoGroupsInPandas; the
    equi-join path joins on cell keys."""
    import __spark_entry__ as entrymod
    df = entrymod.queries()["grid_spatial_join"](spark, SF_DIR)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) \
        or ("BroadcastHashJoin" in plan) or ("FlatMapCoGroupsInPandas" in plan)

    from datafusion_geo_spark.operators.spatial_join import grid_join
    from datafusion_geo_spark.sources.fixtures import lines_orders, lines_part
    a = lines_orders(spark, SF_DIR, with_nulls=False).select("o_orderkey", "k", "geom")
    b = lines_part(spark, SF_DIR).select("p_partkey", "m", "geom")
    plan2 = plan_of(grid_join(a, b, cell=8.0))
    assert "CartesianProduct" not in plan2
    assert "BroadcastNestedLoopJoin" not in plan2
    assert ("SortMergeJoin" in plan2) or ("ShuffledHashJoin" in plan2) \
        or ("BroadcastHashJoin" in plan2)


def test_extent_agg_is_partial_final(spark):
    """st_extent collapses into Catalyst's two-phase hash aggregate
    (partial min/max before the exchange — the reference's
    update_batch/merge_batch lifecycle, extent.rs:76-128, for free)."""
    import __spark_entry__ as entrymod
    df = entrymod.queries()["extent_by_mktsegment"](spark, SF_DIR)
    plan = plan_of(df)
    assert plan.count("HashAggregate") >= 2
    assert "partial_min" in plan and "partial_max" in plan


def test_exact_dedup_partial_agg(spark):
    import __spark_entry__ as entrymod
    df = entrymod.queries()["exact_dedup"](spark, SF_DIR)
    plan = plan_of(df)
    assert plan.count("HashAggregate") >= 2, "map-side combine missing"


def test_minhash_no_cross_product(spark):
    import __spark_entry__ as entrymod
    df = entrymod.queries()["minhash_pairs"](spark, SF_DIR)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cosine_topk_stays_jvm_side(spark):
    """Brute-force cosine top-k must be pure built-ins (F.aggregate /
    zip_with) — no Python eval node in the plan."""
    import __spark_entry__ as entrymod
    df = entrymod.queries()["cosine_topk"](spark, SF_DIR)
    plan = plan_of(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


# ---- round-2 scale-fix pins (VERDICT r2 #8): these three plan shapes
# fixed real scale-killers; a regression must fail loudly, not re-measure.

def test_cogroup_repartition_pinned_against_aqe_collapse(spark):
    """The cogrouped grid join must shuffle through an explicitly-
    NUMBERED repartition on the cell keys (REPARTITION_BY_NUM is exempt
    from AQE coalescing). Without it AQE sees only the tiny bbox rows
    and collapses the quadratic Python stage to ONE task
    (spatial_join.py:199-211)."""
    from datafusion_geo_spark.operators.spatial_join import cogrouped_grid_join
    from datafusion_geo_spark.sources.fixtures import lines_orders, lines_part
    a = lines_orders(spark, SF_DIR, with_nulls=False, with_bbox=True) \
        .select("o_orderkey", "k", "geom", "xmin", "ymin", "xmax", "ymax")
    b = lines_part(spark, SF_DIR, with_bbox=True) \
        .select("p_partkey", "m", "geom", "xmin", "ymin", "xmax", "ymax")
    df = cogrouped_grid_join(a, b, cell=8.0, a_cols=["o_orderkey", "k"],
                             b_cols=["p_partkey", "m"])
    plan = plan_of(df)
    assert plan.count("REPARTITION_BY_NUM") >= 2, \
        "explicit-width repartition lost — AQE can collapse the cogroup"
    assert "FlatMapCoGroupsInPandas" in plan


def test_lsh_cap_is_broadcast_anti_join_not_window(spark):
    """The hot-bucket cap must be a partial+final count + BROADCAST
    anti-join (big side streams, no sort) — never a window count, which
    shuffles AND sorts every banded row (dedup.py:_cap_buckets)."""
    from datafusion_geo_spark.operators.dedup import _cap_buckets
    banded = spark.createDataFrame(
        [(i % 5, i) for i in range(100)], "band long, doc_id long")
    capped = _cap_buckets(banded, ["band"], max_bucket=10)
    plan = plan_of(capped)
    assert "LeftAnti" in plan, "anti-join shape lost"
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, \
        "hot-key side no longer broadcast"
    assert "Window" not in plan, "cap regressed to a window count"
    # partial+final count on the hot-key side (map-side combine)
    assert plan.count("HashAggregate") >= 2

    import __spark_entry__ as entrymod
    pairs_plan = plan_of(entrymod.queries()["minhash_pairs"](spark, SF_DIR))
    assert "LeftAnti" in pairs_plan and "Window" not in pairs_plan


def test_broadcast_snapshot_cap_enforced(spark, monkeypatch):
    """broadcast_bbox_join's driver-side snapshot must stay bounded: a
    small side above MAX_SNAPSHOT_ROWS raises instead of OOMing the
    driver (spatial_join.py:94-101)."""
    from datafusion_geo_spark.operators import spatial_join as sj
    from datafusion_geo_spark.sources.fixtures import boxes_nation, points_customer
    monkeypatch.setattr(sj, "MAX_SNAPSHOT_ROWS", 10)
    with pytest.raises(ValueError, match="exceeds 10 rows"):
        sj.broadcast_bbox_join(points_customer(spark, SF_DIR),
                               boxes_nation(spark, SF_DIR))  # 25 > 10


def test_chunk_docs_is_narrow_no_shuffle(spark):
    """Chunking must slice-then-explode with zero exchanges: chunks stay
    co-partitioned with their source documents."""
    from datafusion_geo_spark.operators.dedup import chunk_documents
    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    plan = plan_of(chunk_documents(df))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_range_join_no_nested_loop(spark):
    """The range join must stay a bucket equi-join — a raw BETWEEN
    theta-join would be a BroadcastNestedLoopJoin."""
    import __spark_entry__ as entrymod
    plan = plan_of(entrymod.queries()["range_tag_events"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_geo_parquet_window_prunes_partitions(spark):
    """The gated geoio query must keep its row-group pruning
    layer: the window's range filter on the GeoParquet covering column
    is pushed to the parquet scan (row groups skipped from stats)."""
    import __spark_entry__ as entrymod
    df = entrymod.queries()["geo_parquet_window"](spark, SF_DIR)
    plan = plan_of(df)
    assert "PushedFilters: [" in plan and "bbox.xmin" in plan


def test_sphere_paths_window_parallelism_scales(spark):
    """The r5 verdict's one scale-killer: a lag window partitioned by
    c_mktsegment alone runs as 5 tasks forever. The two-phase rewrite
    must lag within (segment, custkey block) — the big window's
    partition spec has to include the block key, and only the tiny
    per-block boundary pass may partition on the segment alone."""
    import __spark_entry__ as entrymod
    df = entrymod.queries()["sphere_paths"](spark, SF_DIR)
    plan = plan_of(df)
    # every Window node over the raw rows must key on the block column
    windows = [ln for ln in plan.split("\n") if "Window [" in ln]
    assert windows, "expected window nodes in sphere_paths plan"
    big = [ln for ln in windows if "_b#" not in ln]
    # the only segment-only window allowed is the boundary patch, which
    # consumes the per-block aggregate (it carries the _f/_l structs)
    for ln in big:
        assert "_f#" in ln or "_l#" in ln, \
            f"segment-only window over raw rows (5-task sort): {ln}"


def test_count_min_sketch_is_partial_final(spark):
    """The sketch build must be a partial+final hash aggregate on
    (row, cell) — the map-side combine is what bounds the shuffle at
    depth*width rows per task."""
    from datafusion_geo_spark.operators.sketch import count_min_sketch
    toks = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select(F.explode(F.split(F.trim(F.col("text")), r"\s+"))
                    .alias("tok")))
    plan = plan_of(count_min_sketch(toks, "tok", depth=4, width=1024))
    assert "partial_count" in plan or "HashAggregate" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "CartesianProduct" not in plan


def test_bloom_membership_is_broadcast_join(spark):
    """Batch membership must probe the bounded positions table via a
    broadcast join — never shuffle the corpus per batch."""
    from datafusion_geo_spark.operators.sketch import bloom_filter_new
    d = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
         .select("doc_id", F.md5(F.col("text")).alias("key")))
    corpus = d.where(F.col("doc_id") % 3 != 0)
    batch = d.where(F.col("doc_id") % 3 == 0)
    plan = plan_of(bloom_filter_new(corpus, batch, "key", m=65536, k=3))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_hll_registers_partial_final_max(spark):
    """The register MAX must combine map-side (2^b groups)."""
    from datafusion_geo_spark.operators.sketch import hll_registers
    ev = (spark.read.parquet(f"{SF_DIR}/events.parquet")
          .where(F.col("user_id").isNotNull())
          .select(F.col("user_id").cast("string").alias("key")))
    plan = plan_of(hll_registers(ev, "key", b=8))
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan  # one shuffle, on the register key


def test_dup_spans_window_partitions_by_doc(spark):
    """The duplicate-span islands window must partition by doc_id
    (parallelism grows with the corpus) — never a low-cardinality or
    global window — and the occurrence marking must be the one-pass
    count-over-gram window (r12): a single exchange moves the exploded
    corpus once, no hash key, no join-back."""
    from datafusion_geo_spark.operators.dedup import _dup_span_stats_lazy
    from datafusion_geo_spark.operators.util import cache_scope
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text")
    with cache_scope() as scope:
        plan = plan_of(_dup_span_stats_lazy(scope, docs))
    flat = plan.lower().replace(" ", "")
    # islands window keyed by doc_id
    assert "windowspecdefinition(doc_id#" in flat
    # occurrence window keyed by the exact gram column
    assert "windowspecdefinition(g#" in flat
    # the gram relation is never hashed and never joined back
    assert "md5" not in flat
    assert "sortmergejoin" not in flat.replace("sortmergejoin(doc_id", "")


def test_mlm_pool_is_take_ordered_not_global_window(spark):
    """MLM's replacement pool must come from a distributed
    TakeOrderedAndProject (top-1024 over aggregated counts), never a
    row_number over the FULL vocabulary (single-task at 100 TB); the
    pool itself then broadcasts."""
    from datafusion_geo_spark.operators.objectives import mlm_masking
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text")
    plan = plan_of(mlm_masking(docs))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan


def test_ivfpq_serving_scan_reads_codes_not_floats(spark):
    """IVFADC's serving side: the probe prune must be an equi-join on
    the coarse list id (broadcast probe set), with NO cartesian
    product anywhere in the executed plan."""
    from datafusion_geo_spark.operators.similarity import ivfpq_search
    from datafusion_geo_spark.sources.fixtures import embeddings_normed
    vecs = embeddings_normed(spark, SF_DIR)
    plan = plan_of(ivfpq_search(vecs, cache_key=(SF_DIR, "scale-plan")))
    assert "CartesianProduct" not in plan
    # the ADC table lookup joins on (query, subspace, code) — hashed
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan


def test_linear_fits_are_single_aggregate_collects(spark):
    """ridge/logreg corpus passes must be partial+final aggregates (the
    map-side-combined Gram/gradient sums), never a window or sort over
    the corpus."""
    from datafusion_geo_spark.operators.mlfit import doc_features
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text")
    feat = doc_features(docs)
    agg = feat.agg(F.sum(F.col("x1") * F.col("x1")).alias("g"),
                   F.sum(F.col("x1") * F.col("y")).alias("b"))
    plan = plan_of(agg)
    assert "partial_sum" in plan.lower()
    assert "Window" not in plan and "Sort" not in plan


def test_eval_histograms_scan_corpus_once(spark):
    """The histogram-shaped eval family must read its source table
    exactly ONCE: totals ride as full-frame windows over the bounded
    histogram, never as a crossJoin against a re-aggregation (which
    re-runs the corpus-wide pass — the r6 session-3 fix)."""
    import __spark_entry__ as entrymod
    qs = entrymod.queries()
    for name in ("auc_eval", "ks_drift", "value_hist_quantiles",
                 "skew_audit", "feature_corr", "calibration_bins"):
        plan = plan_of(qs[name](spark, SF_DIR))
        scans = plan.count("Scan parquet")  # matches FileScan lines too
        assert scans == 1, f"{name}: {scans} parquet scans, want 1"


def test_composed_evals_have_no_self_join(spark):
    """auc_by_group and lang_confusion compose map-side operators via
    keep_cols passthrough — ONE scan, ZERO joins (the previous
    composition self-joined derivations of the same scan on doc_id)."""
    import __spark_entry__ as entrymod
    qs = entrymod.queries()
    for name in ("auc_by_group", "lang_confusion"):
        plan = plan_of(qs[name](spark, SF_DIR))
        for node in ("SortMergeJoin", "ShuffledHashJoin",
                     "BroadcastHashJoin", "BroadcastNestedLoopJoin"):
            assert node not in plan, f"{name}: unexpected {node}"
        scans = plan.count("Scan parquet")  # matches FileScan lines too
        assert scans == 1, f"{name}: {scans} parquet scans, want 1"


def test_grouped_evals_partition_windows_by_group(spark):
    """Grouped AUC / grouped quantiles must PARTITION their windows by
    the group column — sort parallelism scales with group count, not a
    single global sort (the sphere_paths lesson)."""
    import __spark_entry__ as entrymod
    qs = entrymod.queries()
    plan = plan_of(qs["auc_by_group"](spark, SF_DIR))
    assert "lang" in plan[plan.index("Window"):].split("\n")[0] or \
        "partitionBy" not in plan  # Window node names its partition keys
    p2 = plan_of(qs["quantiles_by_type"](spark, SF_DIR))
    w = p2[p2.index("Window"):].split("\n")[0]
    assert "event_type" in w


def test_scd2_windows_partition_by_key(spark):
    import __spark_entry__ as entrymod
    plan = plan_of(entrymod.queries()["scd2_history"](spark, SF_DIR))
    w = plan[plan.index("Window"):].split("\n")[0]
    assert "user_id" in w


def test_grid_grouped_matches_pairs(spark):
    """r11 optimization pin: the per-cell partial-aggregation variant
    (cogrouped_grid_join_grouped) must reproduce the pair-list
    operator + JVM groupBy EXACTLY — same groups, same pair counts,
    same distinct-key counts."""
    import pyspark.sql.functions as F
    from datafusion_geo_spark.operators.spatial_join import (
        cogrouped_grid_join, cogrouped_grid_join_grouped)
    from datafusion_geo_spark.sources.fixtures import lines_orders, lines_part
    a = lines_orders(spark, SF_DIR, with_nulls=False, with_bbox=True) \
        .select("o_orderkey", "k", "geom", "xmin", "ymin", "xmax", "ymax")
    b = lines_part(spark, SF_DIR, with_bbox=True) \
        .select("p_partkey", "m", "geom", "xmin", "ymin", "xmax", "ymax")
    pairs = cogrouped_grid_join(a, b, cell=8.0,
                                a_cols=["o_orderkey", "k"],
                                b_cols=["p_partkey", "m"])
    want = {r["m_minus_k"]: (r["n_pairs"], r["n_orders"], r["n_parts"])
            for r in (pairs.groupBy((F.col("m") - F.col("k"))
                                    .alias("m_minus_k"))
                      .agg(F.count("*").alias("n_pairs"),
                           F.countDistinct("o_orderkey").alias("n_orders"),
                           F.countDistinct("p_partkey").alias("n_parts"))
                      .collect())}
    stats = cogrouped_grid_join_grouped(
        a, b, cell=8.0, a_key="o_orderkey", b_key="p_partkey",
        a_cols=["o_orderkey", "k"], b_cols=["p_partkey", "m"],
        group_of=lambda la, rb, ia, ib: (rb["m"].to_numpy()[ib]
                                         - la["k"].to_numpy()[ia]))
    got = {r["grp"]: (r["n_pairs"], r["n_orders"], r["n_parts"])
           for r in (stats.groupBy("grp")
                     .agg(F.sum("n_pairs").alias("n_pairs"),
                          F.countDistinct("a_id").alias("n_orders"),
                          F.countDistinct("b_id").alias("n_parts"))
                     .collect())}
    assert want and got == want


def test_grid_grouped_keeps_pinned_repartition(spark):
    """The grouped variant inherits the REPARTITION_BY_NUM pin (AQE
    must not collapse the quadratic Python stage to one task)."""
    import __spark_entry__ as entrymod
    df = entrymod.queries()["grid_spatial_join"](spark, SF_DIR)
    plan = plan_of(df)
    assert plan.count("REPARTITION_BY_NUM") >= 2
    assert "FlatMapCoGroupsInPandas" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("name", ["distinct_ngrams", "zipf_fit"])
def test_word_operators_split_each_document_once(spark, name):
    """distinct_ngrams and zipf_fit split the words at the explode: an
    explode of a projected word-array column makes Spark infer a
    ``size(split(...)) > 0`` filter below the projection, which splits
    every document a second time. One ``split(`` per scan of the
    documents in the optimized plan."""
    import re

    import __spark_entry__ as entrymod
    plan = optimized_of(entrymod.queries()[name](spark, SF_DIR))
    scans = len(re.findall(r"Relation \[", plan))
    assert scans and plan.count("split(") == scans, plan

"""Physical-plan assertions — the properties that decide whether a plan
survives a 100 TB scale-up: filters/projections pushed into the parquet scan,
dimension joins broadcast, no CartesianProduct anywhere, window top-k not
degenerating into a global sort.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from aicoe_osc_demo_spark.plans import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def explain(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_projection_pruned_to_scan(spark):
    plan = explain(QUERIES["proj_select_columns"](spark, SF_DIR))
    # only the 3 selected columns reach the parquet reader
    assert "ReadSchema" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "p_partkey" in read_schema and "p_brand" in read_schema
    assert "p_name" not in read_schema and "p_type" not in read_schema


def test_filter_pushed_down(spark):
    plan = explain(QUERIES["filter_conjunctive"](spark, SF_DIR))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "l_quantity" in pushed and "l_returnflag" in pushed


def test_broadcast_dim_joins(spark):
    plan = explain(QUERIES["join_broadcast_dims"](spark, SF_DIR), "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_multiway_join_broadcasts_dims(spark):
    plan = explain(QUERIES["join_multiway_revenue_by_nation"](spark, SF_DIR), "simple")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_cross_join_is_broadcast_not_cartesian(spark):
    plan = explain(QUERIES["join_cross_small"](spark, SF_DIR), "simple")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "llm_minhash_lsh_pairs",
        "llm_ngram_jaccard_pairs",
        "llm_cosine_topk",
        "llm_ann_lsh_topk",
        "llm_simhash_pairs",
        "llm_fuzzy_jaccard_join",
        "curation_negative_sample",
        "ml_relevance_inference",
        "llm_bm25_topk",
        "llm_containment_pairs",
        "llm_mixture_sample",
        "llm_dedup_clusters",
        "pipeline_llm_curation",
        "llm_bloom_prefilter",
        "llm_incremental_near_dedup",
        "llm_embedding_near_dup",
        "llm_ann_candidate_count",
        "llm_lm_perplexity",
        "llm_hll_vocab_estimate",
        "llm_cms_token_counts",
        "llm_prefix_jaccard_join",
        "llm_duplicate_spans",
        "join_salted_skew",
        "llm_semantic_dedup",
        "events_range_join_binned",
        "llm_pq_codes",
        "llm_pq_adc_topk",
        "llm_ivfpq_topk",
        "llm_retrieve_rerank",
        "llm_pq_refine_topk",
        "llm_tfidf_keywords",
        "llm_bpe_encode",
        "incremental_apply_cdc",
    ],
)
def test_no_cartesian_product(spark, name):
    # candidate generation must be an equi-join (band/bucket/block key) or an
    # explicit broadcast fan-out — never a shuffled all-pairs product
    plan = explain(QUERIES[name](spark, SF_DIR), "simple")
    assert "CartesianProduct" not in plan


def test_negative_sample_lazy_threshold_is_broadcast(spark):
    # the runtime prefilter threshold (one-row pool count) must enter the
    # plan as a broadcast, never a shuffled join
    plan = explain(QUERIES["curation_negative_sample"](spark, SF_DIR), "simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_aggregates_have_partial_combine(spark):
    # map-side partial aggregation: two HashAggregate levels around the
    # exchange (Catalyst's partial/final split)
    plan = explain(QUERIES["agg_pricing_summary"](spark, SF_DIR), "simple")
    assert plan.count("HashAggregate") >= 2


def test_whole_stage_codegen_on_core_path(spark):
    # AQE wraps the plan until runtime; disable it for this assertion so the
    # codegen spans are visible in the static plan.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = explain(QUERIES["agg_pricing_summary"](spark, SF_DIR), "formatted")
        # whole-stage codegen spans show as "[codegen id : N]" in formatted mode
        assert "codegen id" in plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_funnel_windows_share_one_shuffle(spark):
    # three chained MIN-CASE windows all partition on user_id: the plan must
    # reuse one Exchange for them (the only other exchange is the final
    # single-row rollup)
    plan = explain(QUERIES["events_funnel_counts"](spark, SF_DIR), "simple")
    assert plan.count("Exchange") <= 2


def test_pack_and_cap_are_single_shuffle(spark):
    for name in ("llm_pack_offset_bins", "llm_per_host_cap"):
        plan = explain(QUERIES[name](spark, SF_DIR), "simple")
        assert plan.count("Exchange") == 1, name


def test_bm25_joins_all_broadcast(spark):
    # postings x query-terms / corpus-stats: all broadcast at this scale;
    # never a shuffled all-pairs product.  df no longer join-backs: it
    # rides a window over the term partition of the SAME postings subtree
    # (the groupBy+broadcast-join form re-expanded the token explode — a
    # second corpus scan), so the plan must show a Window and one fewer
    # broadcast join than the pre-r13 shape.
    plan = explain(QUERIES["llm_bm25_topk"](spark, SF_DIR), "simple")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "Window" in plan


def test_dsir_lambda_join_is_broadcast(spark):
    # the B-row lambda table must broadcast into the per-doc scoring join
    # (a shuffled join there would move the whole (doc_id, bucket, count)
    # stream through an exchange keyed on bucket — wrong at corpus scale).
    # The catalog entry eagerly checkpoints to release its feature cache
    # (plan collapses to Scan ExistingRDD), so inspect the LAZY plan via a
    # caller-owned scope — same operator, same arguments.
    from pyspark.sql import functions as F

    from aicoe_osc_demo_spark.cache import CacheScope
    from aicoe_osc_demo_spark.operators.quality import dsir_resample
    from aicoe_osc_demo_spark.plans import load

    docs = load(spark, SF_DIR, "documents")
    with CacheScope() as s:
        out = dsir_resample(
            docs, docs.filter(F.col("lang") == "en"), buckets=256, k=50, scope=s
        )
        plan = explain(out, "simple")
        assert "CartesianProduct" not in plan
        assert plan.count("BroadcastHashJoin") >= 1
        # global top-k is a bounded TakeOrdered, never a full sort
        assert "TakeOrdered" in plan


def test_c4_rules_is_shuffle_free(spark):
    plan = explain(QUERIES["llm_c4_rules"](spark, SF_DIR), "simple")
    assert plan.count("Exchange") == 0


def test_token_budget_plan_scans_corpus_once(spark):
    # the per-source counts are a shared (checkpointed) intermediate that
    # the normalizer aggregate reuses — the corpus parquet is read once,
    # inside the checkpoint, never by a live scan of either branch
    plan = explain(QUERIES["llm_token_budget_plan"](spark, SF_DIR), "simple")
    # both the output projection and the normalizer aggregate read the
    # checkpointed per-source counts
    assert plan.count("Scan ExistingRDD") == 2
    assert "FileScan" not in plan
    assert "CartesianProduct" not in plan


def test_token_budget_plan_leaves_no_cached_result(spark):
    # no result reuse across queries: the per-source counts must not stay
    # registered in the CacheManager, where a later call's plan (or one
    # over changed documents) would read them
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    first = QUERIES["llm_token_budget_plan"](spark, SF_DIR).collect()
    second = QUERIES["llm_token_budget_plan"](spark, SF_DIR)
    assert "InMemory" not in explain(second, "simple")
    assert sorted(second.collect()) == sorted(first)
    assert cache.isEmpty()


def test_entire_catalog_has_no_cartesian_product(spark):
    # the blanket guarantee behind the parameterized spot checks above:
    # EVERY registered query's physical plan is cartesian-free — candidate
    # generation throughout the catalog is equi-join/broadcast shaped.
    # (~60 s: one explain per query at sf0.001, plus the eager iterative
    # queries' checkpoint jobs.)
    offenders = []
    for name, fn in QUERIES.items():
        plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert not offenders, offenders


def _walk_physical(node):
    # AQE and query-stage wrappers hide their subtree from children():
    # unwrap to the initial plan / wrapped stage or the walk sees nothing
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _walk_physical(node.initialPlan())
        return
    if cls.endswith("QueryStageExec"):
        yield from _walk_physical(node.plan())
        return
    yield node
    ch = node.children()
    for i in range(ch.length()):
        yield from _walk_physical(ch.apply(i))


def test_unpartitioned_windows_and_single_part_exchanges_are_post_reduction(spark):
    # the invariant behind PLAN_AUDIT's ~60 benign 1-part nodes: a global
    # (partition-less) Window or an Exchange SinglePartition is only safe
    # when its input is already REDUCED — an aggregate, a limit, a literal
    # table, or a cached/checkpointed reduced artifact.  A future entry
    # that windows over a raw fact scan must fail here, not at 100 TB.
    REDUCED_MARKERS = (
        "Aggregate",        # Hash/ObjectHash/SortAggregateExec
        "Limit",            # Local/Global/CollectLimitExec
        "TakeOrderedAndProject",  # fused ORDER BY + LIMIT (k-row output)
        "LocalTableScan",   # literal frames (math tables, manifests)
        "InMemoryTableScan",  # cached reduced artifacts
        "ReusedExchange",   # alias of an exchange already checked
        "ScanExistingRDD",  # localCheckpoint'ed iterative state (peeling)
        "RDDScan",
    )
    offenders = []
    for name, fn in QUERIES.items():
        try:
            root = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan()
        except Exception as e:  # noqa: BLE001
            offenders.append((name, f"plan error: {e}"[:120]))
            continue
        for node in _walk_physical(root):
            cls = node.getClass().getSimpleName()
            is_global_window = cls in ("WindowExec", "WindowInPandasExec") and node.partitionSpec().isEmpty()
            is_single_part = cls == "ShuffleExchangeExec" and node.outputPartitioning().toString() == "SinglePartition"
            if not (is_global_window or is_single_part):
                continue
            subtree = [n.getClass().getSimpleName() for n in _walk_physical(node)][1:]
            if not any(any(m in s for m in REDUCED_MARKERS) for s in subtree):
                offenders.append((name, f"{cls} over {subtree[:6]}"))
        spark.catalog.clearCache()
    assert not offenders, offenders


def test_ntile_contrast_case_refuses_unbounded_input(spark, tmp_path, monkeypatch):
    # the documented contrast case must raise on over-ceiling input rather
    # than run NTILE's per-group global sort at scale
    import pytest as _pytest
    from pyspark.sql import functions as F

    from aicoe_osc_demo_spark.plans import advanced as adv

    # normal path still works at test scale
    assert QUERIES["window_ntile_deciles"](spark, SF_DIR).count() > 0

    big = spark.range(10_000_001).select(
        F.lit("A").alias("l_returnflag"),
        (F.col("id") % 1000).cast("double").alias("l_extendedprice"),
        F.col("id").alias("l_orderkey"),
        F.lit(1).alias("l_linenumber"),
    )
    monkeypatch.setattr(adv, "load", lambda _s, _d, _t: big)
    with _pytest.raises(ValueError, match="bounded contrast case"):
        adv.window_ntile_deciles(spark, SF_DIR)

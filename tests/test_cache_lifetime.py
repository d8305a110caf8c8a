"""Cache-lifetime contract (cache.py): operators that persist internal
artifacts must not accumulate storage across composed calls.  The
parametrized tests cover every artifact-owning operator.

Default path: the operator pins its (small) result and releases every
artifact before returning — two composed searches leave at most two
result-sized blocks, never the index artifacts.
Scope path: persists register with the caller's CacheScope, the plan
stays lazy, and ``release()`` verifiably frees the blocks.
"""

from __future__ import annotations

import pathlib
import random
import re
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from aicoe_osc_demo_spark.cache import CacheScope
from aicoe_osc_demo_spark.operators import corpus, dedup, graph, quality, similarity


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _emb_df(spark, n=40, dim=8, seed=11):
    random.seed(seed)
    rows = [(i, [random.uniform(-1, 1) for _ in range(dim)]) for i in range(n)]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_ivfpq_default_path_releases_index_artifacts(spark):
    from aicoe_osc_demo_spark.operators.similarity import ivfpq_topk

    df = _emb_df(spark)
    queries = df.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    n0 = _n_persistent(spark)
    r1 = ivfpq_topk(df, queries, nlist=2, nprobe=2, m=2, k_pq=4, top_k=3, dim=8)
    r2 = ivfpq_topk(df, queries, nlist=2, nprobe=2, m=2, k_pq=4, top_k=3, dim=8)
    # two composed searches: only the two pinned result frames survive —
    # the 2x5 index artifacts (4 IVF-PQ + ADC LUT each) are all released
    assert _n_persistent(spark) - n0 <= 2
    assert r1.count() > 0 and r2.count() > 0


def test_ivfpq_scope_path_is_lazy_and_release_frees_blocks(spark):
    from aicoe_osc_demo_spark.operators.similarity import ivfpq_topk

    df = _emb_df(spark)
    queries = df.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    n0 = _n_persistent(spark)
    with CacheScope() as s:
        out = ivfpq_topk(
            df, queries, nlist=2, nprobe=2, m=2, k_pq=4, top_k=3, dim=8, scope=s
        )
        # scope path: nothing materialized at build time (plan is lazy)
        rows1 = out.collect()
        assert _n_persistent(spark) > n0  # artifacts are cached mid-scope
        rows2 = out.collect()  # second action reuses them
        assert rows1 == rows2
    # context-manager exit released every artifact (blocking unpersist);
    # <= rather than == because the async ContextCleaner may concurrently
    # GC result blocks pinned by earlier tests
    assert _n_persistent(spark) <= n0


def test_prefix_jaccard_and_pagerank_default_release(spark):
    from aicoe_osc_demo_spark.operators.dedup import prefix_jaccard_join
    from aicoe_osc_demo_spark.operators.graph import pagerank

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " * (1 + i % 3))
         for i in range(12)],
        ["doc_id", "text"],
    )
    edges = spark.createDataFrame(
        [(i, (i + 1) % 10) for i in range(10)], ["src", "dst"]
    )
    nodes = spark.createDataFrame([(i,) for i in range(10)], ["node_id"])
    n0 = _n_persistent(spark)
    pj = prefix_jaccard_join(docs, threshold=0.5)
    pr = pagerank(edges, nodes, iters=2)
    # one pinned result frame each; the shingle base / edge cache are gone
    assert _n_persistent(spark) - n0 <= 2
    assert pj.count() > 0 and pr.count() == 10

    with CacheScope() as s:
        lazy = prefix_jaccard_join(docs, threshold=0.5, scope=s)
        n_lazy = lazy.count()
    assert n_lazy == pj.count()
    assert _n_persistent(spark) <= n0 + 2  # scope released its persist


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _owner_inputs(spark):
    rnd = random.Random(23)
    vecs = spark.createDataFrame(
        [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(30)],
        ["vec_id", "embedding"],
    )
    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " * (1 + i % 3) + f"w{i % 4}")
         for i in range(12)],
        ["doc_id", "text"],
    )
    return SimpleNamespace(
        vecs=vecs,
        queries=vecs.filter(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("query_id"), "embedding"
        ),
        docs=docs,
        edges=spark.createDataFrame(
            [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2)], ["src", "dst"]
        ),
        nodes=spark.createDataFrame([(i,) for i in range(5)], ["node_id"]),
    )


def _pq_adc(i, scope):
    codes, books = similarity.product_quantize(i.vecs, m=2, k=4, iters=2, dim=8)
    return similarity.pq_adc_topk(codes, books, i.queries, k=3, m=2, dim=8, scope=scope)


# every operator that persists artifacts it owns (the cache.py contract)
OWNERS = {
    "ivfpq_topk": lambda i, scope: similarity.ivfpq_topk(
        i.vecs, i.queries, nlist=2, nprobe=2, m=2, k_pq=4, top_k=3, dim=8, scope=scope
    ),
    "prefix_jaccard_join": lambda i, scope: dedup.prefix_jaccard_join(
        i.docs, threshold=0.5, scope=scope
    ),
    "pagerank": lambda i, scope: graph.pagerank(i.edges, i.nodes, iters=2, scope=scope),
    "triangle_count": lambda i, scope: graph.triangle_count(i.edges, scope=scope),
    "vocab_coverage": lambda i, scope: corpus.vocab_coverage(
        i.docs, vocab_size=3, scope=scope
    ),
    "dsir_resample": lambda i, scope: quality.dsir_resample(
        i.docs, i.docs.filter(F.col("doc_id") < 4), buckets=16, k=3, scope=scope
    ),
    "semdedup_pairs": lambda i, scope: similarity.semdedup_pairs(
        i.vecs, k=2, iters=2, tau=0.0, dim=8, scope=scope
    ),
    "pq_adc_topk": _pq_adc,
    "pq_refine_topk": lambda i, scope: similarity.pq_refine_topk(
        i.vecs, i.queries, shortlist=5, top_k=3, m=2, k_pq=4, dim=8, scope=scope
    ),
    "mmr_diverse_topk": lambda i, scope: similarity.mmr_diverse_topk(
        i.vecs, i.queries.select(F.col("query_id").alias("vec_id"), "embedding").limit(1),
        k=3, pool=6, driver_greedy=False, scope=scope,
    ),
}


@pytest.mark.parametrize("owner", OWNERS)
def test_owner_releases_artifacts_on_both_paths(spark, owner):
    """Default path: the call pins its result and releases every artifact,
    so the CacheManager is empty afterwards and the call leaves at most
    its one pinned result block.  Scope path: building the plan fires no
    Spark job, the artifacts serve the caller's action, and ``release()``
    returns storage to the baseline.  Both paths give the same rows."""
    call = OWNERS[owner]
    inputs = _owner_inputs(spark)
    spark.catalog.clearCache()
    n0 = _n_persistent(spark)
    pinned = call(inputs, scope=None)
    assert _cache_empty(spark)
    assert _n_persistent(spark) - n0 <= 1

    sc = spark.sparkContext
    group = f"scope-build-{owner}"
    with CacheScope() as s:
        n1 = _n_persistent(spark)
        sc.setJobGroup(group, "plan build")
        try:
            lazy = call(inputs, scope=s)
            assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert not _cache_empty(spark)
        rows = lazy.collect()
    assert _cache_empty(spark)
    # <= rather than ==: the async ContextCleaner may concurrently GC
    # result blocks pinned by earlier tests
    assert _n_persistent(spark) <= n1
    assert sorted(rows) == sorted(pinned.collect())


def test_materializations_go_through_cache_module():
    """Every materialization decision lives in cache.py: no other engine
    module calls localCheckpoint / persist / cache directly or branches on
    whether it was handed a scope."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "aicoe_osc_demo_spark"
    pattern = re.compile(r"localCheckpoint\(|\.persist\(|\.cache\(\)|scope is (not )?None")
    offenders = [
        f"{path.relative_to(pkg)}:{n}: {line.strip()}"
        for path in sorted(pkg.rglob("*.py"))
        if path.name != "cache.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert not offenders, offenders

"""r14 optimization-round pins: internals changed for performance must keep
bit-identical semantics.

- ngram_novelty(reference_flag=...): ref-membership rides a same-key
  window (max(flag) over the gram partition) on ONE shingle pass instead
  of a second tokenize pass + distinct + join; must equal the two-frame
  form on every row, including docs with zero reference overlap and the
  all-flagged / none-flagged edges.
- bm25 factoring: bm25_topk now composes bm25_query_terms /
  bm25_matched_postings / bm25_rank_from_postings so hybrid entries can
  share one matched-postings pass; the composition must reproduce the
  monolithic scores, and the rank_fusion tf leg computed as SUM(tf) over
  the shared postings must equal the count-of-matched-occurrences form.
"""

from __future__ import annotations

import sys
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def _docs(spark):
    rows = [
        (0, "alpha beta gamma delta epsilon"),
        (1, "alpha beta gamma zeta eta"),
        (2, "one two three four five six"),
        (3, "one two three alpha beta gamma"),
        (4, "seven eight nine ten"),
        (5, "alpha beta gamma delta epsilon"),  # exact dup of doc 0
        (6, "totally novel words only here"),
        (7, "ten nine eight seven"),  # reversed -> different trigrams
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_novelty_flag_matches_two_frame_form(spark):
    from aicoe_osc_demo_spark.operators.dedup import ngram_novelty

    docs = _docs(spark)
    flag = F.col("doc_id") % 2 == 0
    ref = docs.filter(F.col("doc_id") % 2 == 0)
    got = {
        tuple(r)
        for r in ngram_novelty(docs, None, n=3, reference_flag=flag).collect()
    }
    want = {tuple(r) for r in ngram_novelty(docs, ref, n=3).collect()}
    assert got == want


def test_ngram_novelty_flag_edges(spark):
    from aicoe_osc_demo_spark.operators.dedup import ngram_novelty

    docs = _docs(spark)
    # every doc flagged -> nothing is novel
    all_ref = ngram_novelty(docs, None, n=3, reference_flag=F.lit(True)).collect()
    assert all(r.n_novel == 0 and r.novelty_pct == 0.0 for r in all_ref)
    # no doc flagged -> everything is novel
    none_ref = ngram_novelty(docs, None, n=3, reference_flag=F.lit(False)).collect()
    assert all(r.n_novel == r.n_grams and r.novelty_pct == 100.0 for r in none_ref)


def test_bm25_factored_composition_matches_monolith(spark):
    from aicoe_osc_demo_spark.operators.corpus import (
        bm25_matched_postings,
        bm25_query_terms,
        bm25_rank_from_postings,
        bm25_topk,
    )

    docs = _docs(spark)
    qs = spark.createDataFrame(
        [(100, "alpha beta"), (101, "nine ten"), (102, "unseen term")],
        "q_id long, q_text string",
    )
    mono = {tuple(r) for r in bm25_topk(docs, qs, k=5, k1=1.5, b=0.75).collect()}
    qt = bm25_query_terms(qs)
    matched = bm25_matched_postings(docs, qt)
    stats = docs.select(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg(F.size(F.split(F.col("text"), " "))).alias("avgdl"),
    )
    comp = {
        tuple(r)
        for r in bm25_rank_from_postings(matched, qt, stats, k=5, k1=1.5, b=0.75).collect()
    }
    assert comp == mono and len(mono) > 0


def test_rank_fusion_tf_leg_sum_tf_equals_occurrence_count(spark):
    from aicoe_osc_demo_spark.operators.corpus import (
        bm25_matched_postings,
        bm25_query_terms,
    )

    docs = _docs(spark)
    qs = spark.createDataFrame(
        [(100, "alpha beta"), (101, "one alpha one")],
        "q_id long, q_text string",
    )
    qt = bm25_query_terms(qs)
    matched = bm25_matched_postings(docs, qt)
    new = {
        (r.q_id, r.doc_id): r.score
        for r in matched.join(F.broadcast(qt), on="term")
        .groupBy("q_id", "doc_id")
        .agg(F.sum("tf").alias("score"))
        .collect()
    }
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    old = {
        (r.q_id, r.doc_id): r.score
        for r in toks.join(F.broadcast(qt), on="term")
        .groupBy("q_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("score"))
        .collect()
    }
    assert new == old and len(new) > 0


def test_lloyd_routed_input_checkpoint_gate_parity(spark):
    """Routed Lloyd checkpoints the quantized input ONLY when the input
    arrives with >= defaultParallelism partitions (ensure_parallelism
    returns it unchanged).  On a wide input the plan reads the
    checkpointed (vec_id, v) scan; on a narrow one it does not; the
    assignments are identical."""
    import re

    from aicoe_osc_demo_spark.operators.similarity import kmeans_quantized

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .filter(F.col("vec_id") < 200)
        .select("vec_id", "embedding")
    )
    par = spark.sparkContext.defaultParallelism
    assert emb.rdd.getNumPartitions() < par
    wide = emb.repartition(par)
    checkpointed_input = re.compile(r"LogicalRDD \[vec_id#\d+L, v#\d+\]")

    def run(df):
        out = kmeans_quantized(
            df, k=4, iters=2, route_min_k=4, nprobe=2, dim=64, return_assignments=True
        )
        plan = out._jdf.queryExecution().logical().toString()
        return bool(checkpointed_input.search(plan)), {tuple(r) for r in out.collect()}

    wide_ckpt, wide_rows = run(wide)
    narrow_ckpt, narrow_rows = run(emb)
    assert wide_ckpt and not narrow_ckpt
    assert wide_rows == narrow_rows and len(wide_rows) == 200


def test_pq_adc_serving_path_matches_persisted_lut_path(spark):
    """r14: pq_adc_topk's query side is one explode pass (was an m-way
    union) and the cache_lut=False serving path checkpoints the bounded
    qsub.  Both cache_lut branches must produce identical rankings."""
    import random

    from aicoe_osc_demo_spark.operators.similarity import pq_adc_topk, product_quantize

    random.seed(91)
    rows = [(i, [random.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    codes, books = product_quantize(df, m=2, k=4, iters=2, dim=8)
    with_lut = {
        tuple(r)
        for r in pq_adc_topk(codes, books, queries, k=5, m=2, dim=8, cache_lut=True).collect()
    }
    serving = {
        tuple(r)
        for r in pq_adc_topk(codes, books, queries, k=5, m=2, dim=8, cache_lut=False).collect()
    }
    assert with_lut == serving and len(with_lut) > 0


def test_chi2_obs_checkpoint_gate_parity(spark):
    """r14: quality_chi2_independence checkpoints its bounded obs table
    only above the input-width gate; values must be identical on both
    sides of the gate."""
    from aicoe_osc_demo_spark.plans import QUERIES

    # bench path (1-partition parquet input, below the gate)
    below = sorted(
        map(tuple, QUERIES["quality_chi2_independence"](spark, "/root/testdata/sf0.001").collect())
    )
    # forced above-the-gate shape: same frame with the checkpoint applied
    from pyspark.sql import functions as F

    from aicoe_osc_demo_spark.plans import load

    d = load(spark, "/root/testdata/sf0.001", "documents").filter(
        F.col("source").isNotNull() & F.col("lang").isNotNull()
    )
    d_wide = d.repartition(spark.sparkContext.defaultParallelism)
    obs = d_wide.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    ).localCheckpoint(eager=False)
    rt = obs.groupBy("source").agg(F.sum("o").cast("long").alias("r_tot"))
    ct = obs.groupBy("lang").agg(F.sum("o").cast("long").alias("c_tot"))
    n = obs.agg(F.sum("o").cast("long").alias("n"))
    grid = (
        rt.crossJoin(F.broadcast(ct))
        .crossJoin(F.broadcast(n))
        .join(F.broadcast(obs), on=["source", "lang"], how="left")
        .withColumn("o", F.coalesce(F.col("o"), F.lit(0)))
    )
    e = F.col("r_tot").cast("double") * F.col("c_tot") / F.col("n")
    t_micro = F.floor(F.pow(F.col("o") - e, 2) / e * 1e6 + F.lit(0.5)).cast("long")
    terms = grid.select(t_micro.alias("t_micro"))
    dims = (
        rt.agg(F.count(F.lit(1)).alias("nr"))
        .crossJoin(ct.agg(F.count(F.lit(1)).alias("nc")))
        .crossJoin(n.select(F.col("n").alias("nn")))
    )
    chi2_exact = F.col("chi2_micro").cast("double") / 1e6
    defined = (F.col("nr") > 1) & (F.col("nc") > 1)
    above = sorted(
        map(
            tuple,
            terms.crossJoin(F.broadcast(dims))
            .groupBy("nr", "nc", "nn")
            .agg(F.sum("t_micro").alias("chi2_micro"))
            .select(
                F.col("nr").cast("long").alias("n_rows"),
                F.col("nc").cast("long").alias("n_cols"),
                F.when(
                    (F.col("nr") > 0) & (F.col("nc") > 0),
                    ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long"),
                ).alias("dof"),
                F.when(defined, F.round(chi2_exact, 6)).alias("chi2"),
                F.when(
                    defined,
                    F.round(
                        F.sqrt(
                            chi2_exact
                            / (F.col("nn") * F.least(F.col("nr") - 1, F.col("nc") - 1))
                        ),
                        6,
                    ),
                ).alias("cramers_v"),
            )
            .collect(),
        )
    )
    assert below == above and len(below) == 1

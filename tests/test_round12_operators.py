"""Round-12 pins: the routed-Lloyd oracle entry, the clone-corpus
cardinality identity, and the null-pair / degenerate-variance alignment
between the two group_regression code paths (r12 advice items)."""

from __future__ import annotations

import sys
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_DIR = "/root/testdata/sf0.001"


def test_clone_corpus_rows_matches_count(spark):
    """_clone_corpus_rows (parquet-footer + min(_CLONE_IDS, n) arithmetic)
    must equal the ACTUAL corpus.count() of the clone-augmented frame the
    dedup entries build — the identity that keeps LSH plane sizing and
    semdedup k synchronized with the data (r12 advice: one shared
    constant, one cheap equality pin)."""
    from aicoe_osc_demo_spark.plans.llm import _clone_arm, _clone_corpus_rows
    from aicoe_osc_demo_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    corpus = emb.unionByName(_clone_arm(emb))
    assert _clone_corpus_rows(SF_DIR) == corpus.count()


def test_kmeans_routed_matches_flat_entry(spark):
    """llm_kmeans_routed (route_min_k=4 engages _route_assign; nprobe=2 >=
    kc=2 probes every coarse cell = exhaustive mode) must be bit-identical
    to the flat llm_kmeans_clusters entry — the identity that lets the
    routed branch reuse the flat oracle SQL verbatim."""
    from aicoe_osc_demo_spark.plans import ORACLE, QUERIES

    assert "llm_kmeans_routed" in QUERIES and "llm_kmeans_routed" in ORACLE
    # same oracle text as the flat entry, by construction
    assert ORACLE["llm_kmeans_routed"] == ORACLE["llm_kmeans_clusters"]
    flat = {
        r.cluster_id: (r.n_vecs, r.mass)
        for r in QUERIES["llm_kmeans_clusters"](spark, SF_DIR).collect()
    }
    routed = {
        r.cluster_id: (r.n_vecs, r.mass)
        for r in QUERIES["llm_kmeans_routed"](spark, SF_DIR).collect()
    }
    assert flat == routed and len(flat) == 4


def test_kn_perplexity_hand_computed(spark):
    """Interpolated Kneser-Ney on a 2-doc corpus, every probability
    hand-derived: corpus "a b a b" + "a c" gives bigram counts
    (a,b):2 (b,a):1 (a,c):1, C(a)=3 C(b)=1, N1+(a,*)=2 N1+(b,*)=1,
    continuation counts N1+(*,b)=N1+(*,a)=N1+(*,c)=1, N1+(*,*)=3, D=0.75:
      P(b|a) = 1.25/3 + (0.75*2/3)*(1/3) = 0.583333...
      P(a|b) = 0.25/1 + (0.75*1/1)*(1/3) = 0.5
      P(c|a) = 0.25/3 + (0.75*2/3)*(1/3) = 0.25
    """
    import math

    from aicoe_osc_demo_spark.operators.quality import kn_perplexity_scores

    df = spark.createDataFrame([(1, "a b a b"), (2, "a c")], "doc_id long, text string")
    out = {r.doc_id: r for r in kn_perplexity_scores(df).collect()}

    def uln(x):  # the operator's micro-ln quantization
        return math.floor(math.log(x) * 1e6 + 0.5)

    p_ba = 1.25 / 3.0 + (0.75 * 2.0 / 3.0) * (1.0 / 3.0)
    p_ab = 0.25 / 1.0 + (0.75 * 1.0 / 1.0) * (1.0 / 3.0)
    p_ca = 0.25 / 3.0 + (0.75 * 2.0 / 3.0) * (1.0 / 3.0)
    assert out[1].n_bigrams == 3
    assert out[1].avg_logp == round((2 * uln(p_ba) + uln(p_ab)) / 3.0 / 1e6, 6)
    assert out[2].n_bigrams == 1
    assert out[2].avg_logp == round(uln(p_ca) / 1e6, 6)
    # discounting sanity: every interpolated probability is in (0, 1)
    for p in (p_ba, p_ab, p_ca):
        assert 0.0 < p < 1.0


def test_good_turing_coverage_hand_computed(spark):
    """Corpus 'a a b c' (en) + 'x y' (de): en has N=4 tokens, V=3, hapax
    {b,c} -> GT unseen mass 2/4, hapax ratio 2/3; de all-hapax -> 1.0."""
    from aicoe_osc_demo_spark.plans import ORACLE, QUERIES

    assert "llm_good_turing_coverage" in QUERIES and "llm_good_turing_coverage" in ORACLE
    df = spark.createDataFrame(
        [(1, "a a b c", "en"), (2, "x y", "de")], "doc_id long, text string, lang string"
    )
    wc = (
        df.select("lang", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("lang", "w")
        .count()
    )
    assert wc.count() == 5
    # the registered callable takes (spark, sf_dir); drive the same rollup
    # directly on the tiny frame
    hap = F.sum(F.when(F.col("count") == 1, 1).otherwise(0)).cast("long")
    rep = {
        r.lang: r
        for r in wc.groupBy("lang")
        .agg(
            F.sum("count").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("vocab"),
            hap.alias("hapax"),
            F.round(hap.cast("double") / F.sum("count").cast("double"), 6).alias(
                "gt_unseen_mass"
            ),
            F.round(hap.cast("double") / F.count(F.lit(1)).cast("double"), 6).alias(
                "hapax_ratio"
            ),
        )
        .collect()
    }
    assert rep["en"].n_tokens == 4 and rep["en"].vocab == 3 and rep["en"].hapax == 2
    assert rep["en"].gt_unseen_mass == 0.5 and rep["en"].hapax_ratio == round(2 / 3, 6)
    assert rep["de"].gt_unseen_mass == 1.0 and rep["de"].hapax_ratio == 1.0


def test_group_regression_paths_agree_randomized(spark):
    """Property over 40 seeded random groups (mixed nulls, constant-x,
    constant-y, singleton, and clean-line shapes on an integer grid where
    quantize_scale=1 is exact): the builtin regr_* path and the quantized
    exact-moment path must emit identical (n, slope, intercept, r2) for
    EVERY group — one Spark job per path, not per example."""
    import random

    from aicoe_osc_demo_spark.operators.relational import group_regression

    rng = random.Random(1207)
    rows = []
    for g in range(40):
        kind = rng.choice(["clean", "noisy", "const_x", "const_y", "single", "nullish"])
        n = rng.randint(1, 12) if kind != "single" else 1
        a, b = rng.randint(-3, 3), rng.randint(-5, 5)
        for i in range(n):
            x = float(rng.randint(-20, 20))
            if kind == "clean":
                y = a * x + b
            elif kind == "const_y":
                y = float(b)
            else:
                y = float(rng.randint(-50, 50))
            if kind == "const_x":
                x = float(b)
            xo = None if kind == "nullish" and rng.random() < 0.3 else x
            yo = None if kind == "nullish" and rng.random() < 0.3 else y
            rows.append((f"g{g}", xo, yo))
    df = spark.createDataFrame(rows, "g string, x double, y double")
    builtin = {
        r.g: (r.n, r.slope, r.intercept, r.r2)
        for r in group_regression(df, ["g"], y=F.col("y"), x=F.col("x")).collect()
    }
    quant = {
        r.g: (r.n, r.slope, r.intercept, r.r2)
        for r in group_regression(
            df, ["g"], y=F.col("y"), x=F.col("x"), quantize_scale=1
        ).collect()
    }
    assert set(builtin) == set(quant)
    for g in builtin:
        bn, bs, bi, br = builtin[g]
        qn, qs, qi, qr = quant[g]
        assert bn == qn, (g, builtin[g], quant[g])
        for bv, qv in ((bs, qs), (bi, qi), (br, qr)):
            if bv is None or qv is None:
                assert bv is None and qv is None, (g, builtin[g], quant[g])
            else:
                assert abs(bv - qv) <= 1e-6, (g, builtin[g], quant[g])


def test_group_regression_paths_agree_on_nulls(spark):
    """Both group_regression code paths (builtin regr_* vs quantized exact
    moments) must emit the same n (PAIR count, not COUNT(*)) and the same
    degenerate-variance conventions on null-bearing input (r12 advice:
    latent divergence — TPC-H has no nulls, user data does)."""
    from aicoe_osc_demo_spark.operators.relational import group_regression

    rows = [
        # group g: clean line y = 2x + 1 plus one null-x and one null-y row
        ("g", 0.0, 1.0), ("g", 1.0, 3.0), ("g", 2.0, 5.0), ("g", 3.0, 7.0),
        ("g", None, 9.0), ("g", 4.0, None),
        # group h: dy = 0 (constant y) -> r2 NULL on BOTH paths (oracle
        # convention; bare regr_r2 would say 1.0)
        ("h", 0.0, 5.0), ("h", 1.0, 5.0), ("h", 2.0, 5.0),
        # group i: dx = 0 (constant x) -> slope/intercept/r2 all NULL
        ("i", 2.0, 1.0), ("i", 2.0, 2.0),
    ]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    builtin = {
        r.g: r for r in group_regression(df, ["g"], y=F.col("y"), x=F.col("x")).collect()
    }
    quant = {
        r.g: r
        for r in group_regression(
            df, ["g"], y=F.col("y"), x=F.col("x"), quantize_scale=100
        ).collect()
    }
    for out in (builtin, quant):
        assert out["g"].n == 4  # pair count excludes both null rows
        assert (out["g"].slope, out["g"].intercept, out["g"].r2) == (2.0, 1.0, 1.0)
        assert out["h"].n == 3 and out["h"].slope == 0.0 and out["h"].r2 is None
        assert out["i"].r2 is None and out["i"].slope is None

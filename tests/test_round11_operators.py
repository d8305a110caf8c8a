"""Hand-computed semantics for the round-11 additions: JSD drift,
tokenizer fertility, and NDCG@5 ranking evaluation."""

from __future__ import annotations

import math
import sys
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_DIR = "/root/testdata/sf0.001"


def test_jsd_identical_halves_is_zero(spark):
    from aicoe_osc_demo_spark.operators.quality import jsd_drift

    # identical value multisets in both slices -> identical binned
    # distributions -> JSD exactly 0
    rows = [("a", float(v), half) for v in range(10) for half in (True, False)]
    df = spark.createDataFrame(rows, "g string, v double, isb boolean")
    out = jsd_drift(df, ["g"], F.col("v"), F.col("isb"), n_bins=5).collect()[0]
    assert out.jsd == 0.0
    assert out.n_baseline == 10 and out.n_current == 10


def test_jsd_disjoint_halves_is_ln2(spark):
    from aicoe_osc_demo_spark.operators.quality import jsd_drift

    # baseline fully in low bins, current fully in high bins -> disjoint
    # supports -> JSD = ln 2 (the bound; PSI would depend on smoothing)
    rows = [("a", 0.0 + i * 0.01, True) for i in range(20)] + [
        ("a", 100.0 + i * 0.01, False) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "g string, v double, isb boolean")
    out = jsd_drift(df, ["g"], F.col("v"), F.col("isb"), n_bins=4).collect()[0]
    assert out.jsd == round(math.log(2), 6)


def test_jsd_hand_case(spark):
    from aicoe_osc_demo_spark.operators.quality import jsd_drift

    # two bins: baseline (3, 1), current (1, 3) -> p=(0.75,0.25),
    # q=(0.25,0.75), m=(0.5,0.5); JSD = 0.5*Σ p ln(p/m) + 0.5*Σ q ln(q/m)
    rows = (
        [("a", 0.0, True)] * 3
        + [("a", 1.0, True)]
        + [("a", 0.0, False)]
        + [("a", 1.0, False)] * 3
    )
    df = spark.createDataFrame(rows, "g string, v double, isb boolean")
    out = jsd_drift(df, ["g"], F.col("v"), F.col("isb"), n_bins=2).collect()[0]

    def pico(t):
        return math.floor(t * 1e12 + 0.5)

    t0 = 0.75 * math.log(0.75 / 0.5) + 0.25 * math.log(0.25 / 0.5)
    t1 = 0.25 * math.log(0.25 / 0.5) + 0.75 * math.log(0.75 / 0.5)
    expected = round(0.5 * ((pico(t0) + pico(t1)) / 1e12), 6)
    assert out.jsd == expected


def test_fertility_bounds_and_exact_ratio(spark):
    from aicoe_osc_demo_spark.plans import QUERIES

    rows = QUERIES["llm_tokenizer_fertility"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        # BPE can only merge: 1 <= tokens-per-word <= chars-per-word
        assert r.fertility >= 1.0
        assert r.n_tokens >= r.n_words
        assert r.chars_per_token >= 1.0
        assert r.fertility == round(r.n_tokens / r.n_words, 6)


def test_ndcg_bounds_and_recall_consistency(spark):
    from aicoe_osc_demo_spark.plans import QUERIES

    ndcg = {r.query_id: r for r in QUERIES["llm_ndcg_eval"](spark, SF_DIR).collect()}
    rec = {
        r.query_id: r for r in QUERIES["llm_ann_recall"](spark, SF_DIR).collect()
    }
    assert set(ndcg) == set(rec) and len(ndcg) == 5
    for q, r in ndcg.items():
        assert 0.0 <= r.ndcg_at_5 <= 1.0
        # perfect recall in the exact order implies NDCG 1.0; conversely a
        # query with zero matched neighbors must score 0
        if rec[q].n_matched == 0:
            assert r.ndcg_at_5 == 0.0
        if r.ndcg_at_5 == 1.0:
            assert rec[q].n_matched == 5


def test_ndcg_idcg_fold_matches_python(spark):
    # the in-engine IDCG fold must equal the hand formula
    import math

    got = (
        spark.range(1, 6)
        .agg(
            F.sum(
                F.floor(
                    (F.lit(6) - F.col("id")).cast("double")
                    / F.log2(F.col("id") + 1)
                    * 1e12
                    + F.lit(0.5)
                ).cast("long")
            ).alias("v")
        )
        .collect()[0]
        .v
    )
    expect = sum(math.floor((6 - i) / math.log2(i + 1) * 1e12 + 0.5) for i in range(1, 6))
    assert got == expect

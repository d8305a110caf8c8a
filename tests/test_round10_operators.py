"""Hand-computed semantics for the round-10 additions: Poisson-bootstrap
CI and Krippendorff's alpha."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_DIR = "/root/testdata/sf0.001"


def test_krippendorff_alpha_perfect_agreement_is_one(spark):
    from aicoe_osc_demo_spark.operators.quality import krippendorff_alpha

    df = spark.createDataFrame([(i, i % 2 == 0) for i in range(20)], ["id", "flag"])
    out = krippendorff_alpha(
        df, {"a": F.col("flag"), "b": F.col("flag"), "c": F.col("flag")}
    ).collect()[0]
    assert out.n_units == 20 and out.n_ratings == 60
    assert out.alpha == 1.0


def test_krippendorff_alpha_matches_hand_computation(spark):
    from aicoe_osc_demo_spark.operators.quality import krippendorff_alpha

    # 4 units x 3 raters, hand-set: c_u = (3, 2, 1, 0)
    rows = [
        (1, True, True, True),
        (2, True, True, False),
        (3, True, False, False),
        (4, False, False, False),
    ]
    df = spark.createDataFrame(rows, ["id", "r1", "r2", "r3"])
    out = krippendorff_alpha(
        df, {"r1": F.col("r1"), "r2": F.col("r2"), "r3": F.col("r3")}
    ).collect()[0]
    # N=4, R=3, n=12, n1=6, n0=6, sdis = 0 + 2 + 2 + 0 = 4
    # alpha = 1 - (12-1)*4 / (2*6*6) = 1 - 44/72
    assert out.alpha == round(1 - 44 / 72, 6)


def test_krippendorff_alpha_degenerate_panel_is_null(spark):
    from aicoe_osc_demo_spark.operators.quality import krippendorff_alpha

    df = spark.createDataFrame([(i, True) for i in range(5)], ["id", "flag"])
    out = krippendorff_alpha(df, {"a": F.col("flag"), "b": F.col("flag")}).collect()[0]
    assert out.alpha is None  # all ratings identical -> no chance disagreement


def test_krippendorff_alpha_requires_two_raters(spark):
    from aicoe_osc_demo_spark.operators.quality import krippendorff_alpha

    df = spark.createDataFrame([(1, True)], ["id", "flag"])
    with pytest.raises(ValueError):
        krippendorff_alpha(df, {"a": F.col("flag")})


def test_bootstrap_ci_brackets_point_estimate_and_weights_are_poisson1(spark):
    from aicoe_osc_demo_spark.plans import QUERIES

    rows = QUERIES["agg_bootstrap_ci"](spark, SF_DIR).collect()
    assert rows, "expected one CI row per order status"
    for r in rows:
        assert r.ci_lo <= r.mean_value <= r.ci_hi, r
        # a 95% CI at N>=hundreds of orders is narrow: bounds within 25%
        assert r.ci_hi - r.ci_lo < 0.5 * r.mean_value, r

    # the threshold ladder must actually draw Poisson(1): mean weight ~= 1,
    # P(w=0) ~= 1/e over a deterministic probe of 10k hashes
    from aicoe_osc_demo_spark.plans.advanced import _POISSON1_T60

    probe = spark.range(10_000).select(
        F.conv(
            F.substring(F.md5(F.col("id").cast("string")), 1, 15), 16, 10
        ).cast("long").alias("hv")
    )
    w = sum(
        (F.when(F.col("hv") >= F.lit(t), 1).otherwise(0) for t in _POISSON1_T60),
        F.lit(0),
    )
    stats = probe.select(w.alias("w")).agg(
        F.avg("w").alias("mean_w"),
        F.avg(F.when(F.col("w") == 0, 1.0).otherwise(0.0)).alias("p0"),
    ).collect()[0]
    assert abs(stats.mean_w - 1.0) < 0.05
    assert abs(stats.p0 - 0.3679) < 0.02

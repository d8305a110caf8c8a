"""Hand-computed semantics for the round-10 second batch: TPC-H Q15,
Kaplan-Meier survival, 2-step Markov product, chi-square independence,
and the PR-curve threshold sweep."""

from __future__ import annotations

import datetime as dt
import sys
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_DIR = "/root/testdata/sf0.001"


def _write_events(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    return str(tmp_path)


def _write_documents(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    return str(tmp_path)


def _ts(day, hour=0):
    return dt.datetime(2024, 1, 1 + day, hour)


def test_survival_km_hand_case(spark, tmp_path):
    from aicoe_osc_demo_spark.plans import QUERIES

    # u1/u2: view d0 -> purchase d2; u3: view d0, censored at d4;
    # u4: view d0 -> purchase d1; u5: never views (excluded)
    rows = [
        (1, _ts(0), 1, "view", None, None),
        (2, _ts(2), 1, "purchase", 1.0, None),
        (3, _ts(0), 2, "view", None, None),
        (4, _ts(2), 2, "purchase", 1.0, None),
        (5, _ts(0), 3, "view", None, None),
        (6, _ts(4), 3, "click", None, None),
        (7, _ts(0), 4, "view", None, None),
        (8, _ts(1), 4, "purchase", 1.0, None),
        (9, _ts(3), 5, "click", None, None),
    ]
    d = _write_events(spark, tmp_path, rows)
    out = {r.dur_days: r for r in QUERIES["events_survival_km"](spark, d).collect()}
    assert set(out) == {1, 2, 4}
    # dur 1: n_risk 4, d 1 -> S = 3/4
    assert (out[1].n_risk, out[1].n_events, out[1].censored) == (4, 1, 0)
    assert out[1].survival == 0.75
    # dur 2: n_risk 3, d 2 -> S = 0.75 * (1/3) = 0.25
    assert (out[2].n_risk, out[2].n_events) == (3, 2)
    assert out[2].survival == 0.25
    # dur 4: censor only, survival carries
    assert (out[4].n_risk, out[4].n_events, out[4].censored) == (1, 0, 1)
    assert out[4].survival == 0.25


def test_survival_km_everyone_converts_hits_zero(spark, tmp_path):
    from aicoe_osc_demo_spark.plans import QUERIES

    rows = [
        (1, _ts(0), 1, "view", None, None),
        (2, _ts(1), 1, "purchase", 1.0, None),
        (3, _ts(0), 2, "view", None, None),
        (4, _ts(1), 2, "purchase", 1.0, None),
    ]
    d = _write_events(spark, tmp_path, rows)
    out = QUERIES["events_survival_km"](spark, d).collect()
    assert len(out) == 1 and out[0].dur_days == 1
    # d == n_risk at the last duration -> exact 0, not exp(ln(0))
    assert out[0].survival == 0.0


def test_markov_2step_hand_case(spark, tmp_path):
    from aicoe_osc_demo_spark.plans import QUERIES

    # u1: A,B,C   u2: A,B,A  ->  P(A->B)=1, P(B->C)=P(B->A)=0.5
    rows = [
        (1, _ts(0, 1), 1, "A", None, None),
        (2, _ts(0, 2), 1, "B", None, None),
        (3, _ts(0, 3), 1, "C", None, None),
        (4, _ts(0, 1), 2, "A", None, None),
        (5, _ts(0, 2), 2, "B", None, None),
        (6, _ts(0, 3), 2, "A", None, None),
    ]
    d = _write_events(spark, tmp_path, rows)
    got = {
        (r.state, r.next_state): r.p2
        for r in QUERIES["events_markov_2step"](spark, d).collect()
    }
    # A -> B -> {A, C} each 0.5; B -> A -> B = 0.5; C has no outgoing edge
    assert got == {("A", "A"): 0.5, ("A", "C"): 0.5, ("B", "B"): 0.5}


def test_chi2_independence_hand_case(spark, tmp_path):
    from aicoe_osc_demo_spark.plans import QUERIES

    rows = []
    i = 0
    for src, lang, n in [("s1", "en", 30), ("s1", "de", 10),
                         ("s2", "en", 10), ("s2", "de", 30)]:
        for _ in range(n):
            rows.append((i, "x", lang, src, 1))
            i += 1
    d = _write_documents(spark, tmp_path, rows)
    out = QUERIES["quality_chi2_independence"](spark, d).collect()[0]
    # every expected cell is 20: chi2 = 4 * (10^2 / 20) = 20, dof = 1
    assert (out.n_rows, out.n_cols, out.dof) == (2, 2, 1)
    assert out.chi2 == 20.0
    # Cramér's V = sqrt(chi2 / (N * min(r-1, c-1))) = sqrt(20/80)
    assert out.cramers_v == 0.5


def test_chi2_zero_cells_still_contribute_expected_mass(spark, tmp_path):
    from aicoe_osc_demo_spark.plans import QUERIES

    # s2 never produces 'de': the (s2, de) cell has O=0 but E>0 and MUST
    # contribute E to the statistic (the classic contingency-grid bug)
    rows = []
    i = 0
    for src, lang, n in [("s1", "en", 10), ("s1", "de", 10), ("s2", "en", 20)]:
        for _ in range(n):
            rows.append((i, "x", lang, src, 1))
            i += 1
    d = _write_documents(spark, tmp_path, rows)
    out = QUERIES["quality_chi2_independence"](spark, d).collect()[0]
    # rt: s1=20, s2=20; ct: en=30, de=10; N=40
    # E(s1,en)=15 E(s1,de)=5 E(s2,en)=15 E(s2,de)=5
    # chi2 = 25/15 + 25/5 + 25/15 + 25/5 = 40/3; each term quantizes
    # half-up at 1e-6 BEFORE the sum, so the two 5/3 cells land on
    # 1.666667 and the engine-exact statistic is 13.333334
    assert out.dof == 1
    assert out.chi2 == 13.333334
    assert abs(out.chi2 - 40 / 3) < 2e-6


def test_pr_curve_invariants(spark):
    from aicoe_osc_demo_spark.plans import QUERIES

    rows = sorted(
        QUERIES["ml_pr_curve"](spark, SF_DIR).collect(), key=lambda r: r.threshold
    )
    assert [r.threshold for r in rows] == [100 * i for i in range(1, 10)]
    n_pos = rows[0].n_pos
    prev_tp = None
    for r in rows:
        assert 0 <= r.tp <= r.pred_pos
        assert r.tp <= n_pos
        if r.pred_pos:
            assert r.precision == round(r.tp / r.pred_pos, 6)
        assert r.recall == (round(r.tp / n_pos, 6) if n_pos else None)
        if prev_tp is not None:
            assert r.tp <= prev_tp  # raising the bar never adds positives
        prev_tp = r.tp


def test_top_revenue_supplier_is_argmax_with_ties(spark):
    from aicoe_osc_demo_spark.plans import QUERIES
    from aicoe_osc_demo_spark.plans import load

    rows = QUERIES["join_top_revenue_supplier"](spark, SF_DIR).collect()
    assert rows, "quarter window must contain revenue at sf0.001"
    revs = {r.total_revenue for r in rows}
    assert len(revs) == 1  # every returned supplier sits at the max
    # independent recompute of the max quarterly revenue
    li = load(spark, SF_DIR, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("date"))
    )
    # r11: the entry's revenue key sums per-line half-up integer CENTS
    # (accumulation-order-proof — FLAKE_AUDIT_r11.md), so the independent
    # recompute must use the same per-row quantization, not a 2-dp round
    # of the raw double sum (they can legitimately differ by one cent)
    mx = (
        li.groupBy("l_suppkey")
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                    + F.lit(0.5)
                ).cast("long")
            ).alias("vc")
        )
        .agg(F.max(F.round(F.col("vc") / 100.0, 2)).alias("m"))
        .collect()[0]
        .m
    )
    assert revs == {mx}


def test_anova_f_hand_case(spark, tmp_path):
    from aicoe_osc_demo_spark.plans import QUERIES

    rows = [(i, "x", "en", src, n) for i, (src, n) in enumerate(
        [("s1", 10), ("s1", 20), ("s1", 30), ("s2", 20), ("s2", 40)]
    )]
    d = _write_documents(spark, tmp_path, rows)
    out = QUERIES["quality_anova_f"](spark, d).collect()[0]
    # ssm = 60^2/3 + 60^2/2 = 3000; SSB = 3000 - 120^2/5 = 120 (msb = 120)
    # SSW = 3400 - 3000 = 400 (msw = 400/3); F = 120 / (400/3) = 0.9
    assert (out.n_groups, out.n_docs) == (2, 5)
    assert out.ms_between == 120.0
    assert out.ms_within == round(400 / 3, 6)
    assert out.f_stat == 0.9


def test_anova_f_single_group_is_null(spark, tmp_path):
    from aicoe_osc_demo_spark.plans import QUERIES

    rows = [(i, "x", "en", "s1", 10 + i) for i in range(5)]
    d = _write_documents(spark, tmp_path, rows)
    out = QUERIES["quality_anova_f"](spark, d).collect()[0]
    assert out.n_groups == 1 and out.f_stat is None


def test_mann_kendall_hand_case(spark, tmp_path):
    import math

    from aicoe_osc_demo_spark.plans import QUERIES

    # one type, daily counts [1, 2, 2, 3] -> S = 5, tie group t=2
    rows, eid = [], 0
    for day, cnt in enumerate([1, 2, 2, 3]):
        for _ in range(cnt):
            rows.append((eid, _ts(day), 1, "A", None, None))
            eid += 1
    d = _write_events(spark, tmp_path, rows)
    out = QUERIES["quality_mann_kendall"](spark, d).collect()[0]
    assert (out.n_days, out.s_stat) == (4, 5)
    # var18 = 4*3*13 - 2*1*9 = 138
    assert out.var18 == 138
    assert out.z == round((5 - 1) / math.sqrt(138 / 18), 6)


def test_mann_kendall_constant_series_has_null_z(spark, tmp_path):
    from aicoe_osc_demo_spark.plans import QUERIES

    # constant daily counts: every pair ties -> var18 = 0 -> Z undefined
    rows = [(i, _ts(i), 1, "A", None, None) for i in range(4)]
    d = _write_events(spark, tmp_path, rows)
    out = QUERIES["quality_mann_kendall"](spark, d).collect()[0]
    assert out.s_stat == 0 and out.var18 == 0 and out.z is None

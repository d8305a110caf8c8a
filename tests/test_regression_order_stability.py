"""r11: the log-log OLS entries (llm_heaps_law, llm_zipf_fit) must be
accumulation-order-proof — the r10 driver window caught llm_heaps_law
hash-flaking because regr_slope over raw doubles accumulates in
engine/partition-specific order and the 6-dp round sat on a boundary.

The fix quantizes ln() inputs to integer micro-units per row and reduces
with exact integer sums, so the statistic must now be BITWISE identical
under any permutation / repartitioning of the input rows.  These tests pin
that: same documents table written in three different physical orders and
partitionings -> byte-identical collected results.
"""

from __future__ import annotations

import sys
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_DIR = "/root/testdata/sf0.001"


def _permuted_dirs(spark, tmp_path):
    """Three copies of sf0.001/documents.parquet in adversarial physical
    layouts: original, reverse-id single partition, md5-shuffled 7-way."""
    src = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    layouts = {
        "orig": src,
        "rev": src.orderBy(F.col("doc_id").desc()).coalesce(1),
        "shuf": src.repartition(7, F.md5(F.col("doc_id").cast("string"))),
    }
    dirs = {}
    for name, df in layouts.items():
        d = tmp_path / name
        df.write.parquet(str(d / "documents.parquet"))
        dirs[name] = str(d)
    return dirs


def _rows(df):
    out = [tuple(r) for r in df.collect()]
    return sorted(out, key=lambda t: tuple(str(v) for v in t))


def test_heaps_law_bitwise_stable_under_permutation(spark, tmp_path):
    from aicoe_osc_demo_spark.plans.corpus import llm_heaps_law

    dirs = _permuted_dirs(spark, tmp_path)
    results = {name: _rows(llm_heaps_law(spark, d)) for name, d in dirs.items()}
    assert results["orig"] == results["rev"] == results["shuf"]
    # the fit actually ran (non-degenerate slope on real text)
    betas = [r[-2] for r in results["orig"]]
    assert any(b is not None for b in betas)


def test_zipf_fit_bitwise_stable_under_permutation(spark, tmp_path):
    from aicoe_osc_demo_spark.plans.corpus import llm_zipf_fit

    dirs = _permuted_dirs(spark, tmp_path)
    results = {name: _rows(llm_zipf_fit(spark, d)) for name, d in dirs.items()}
    assert results["orig"] == results["rev"] == results["shuf"]
    (row,) = results["orig"]
    vocab, slope, r2 = row
    assert vocab > 0 and slope is not None and slope < 0 and 0.0 <= r2 <= 1.0


def test_ln_micro_matches_duckdb_rendering():
    """The per-row quantizer must be the same fixed expression the oracle
    renders: floor(ln(v)*1e6+0.5).  Spot-check the Python reference of that
    expression against DuckDB for a spread of magnitudes (JVM-vs-libm 1-ulp
    cases are ~1e-8-probability boundaries, not representable here)."""
    import math

    import duckdb

    vals = [1, 2, 3, 7, 10, 997, 10**6, 10**9, 10**12, 10**15]
    got = duckdb.sql(
        "SELECT list_transform("
        + str(vals)
        + ", v -> CAST(floor(ln(CAST(v AS DOUBLE)) * 1e6 + 0.5) AS BIGINT))"
    ).fetchone()[0]
    expect = [math.floor(math.log(float(v)) * 1e6 + 0.5) for v in vals]
    assert got == expect


def test_quantize_expression_cross_engine_property():
    """Property test for the load-bearing flake-fix assumption: the per-row
    quantizer floor(v*scale+0.5) evaluates identically in DuckDB and
    Python (same IEEE-754 double ops) across random magnitudes and the
    grains the catalog uses (cents/micro/nano/pico).  Spark's JVM side is
    pinned by the bitwise permutation tests above and the 3-scale oracle
    sweep; this closes the DuckDB<->reference-semantics leg cheaply over
    thousands of samples."""
    import math
    import random

    import duckdb

    rng = random.Random(20260816)
    scales = [100, 10**6, 10**9, 10**12]
    vals = []
    for _ in range(800):
        exp = rng.randint(-6, 6)
        vals.append(round(rng.uniform(-1, 1) * (10 ** exp), rng.randint(0, 12)))
    # adversarial half-boundary neighbourhoods
    vals += [0.005, 0.015, 0.025, 2.675, 0.1 + 0.2, 1e-13, -0.005, -2.675]
    con = duckdb.connect()
    for scale in scales:
        got = con.execute(
            "SELECT list_transform(?, v -> CAST(floor(v * ? + 0.5) AS BIGINT))",
            [vals, float(scale)],
        ).fetchone()[0]
        expect = [math.floor(v * float(scale) + 0.5) for v in vals]
        assert got == expect, scale

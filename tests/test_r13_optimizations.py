"""r13 optimization-round pins: internals changed for performance must keep
bit-identical semantics.

- percentile_bins: the per-row cutpoint fold was unrolled to a static
  codegen-able sum (the F.aggregate lambda ran interpreted); NULL cut
  arrays (all-NULL group) must still yield NULL bins like the fold did.
- dedup_clusters: round 1 is unrolled (initial labels == node makes the
  jump join the identity), so multi-round graphs must still reach the
  component-min fixpoint and per-round labels stay the min-propagation
  sequence.
- _route_assign: seeds ride one broadcast array row and the probe is a
  map-side argsort; pinned here on a long-chain + tie corpus in addition
  to the exhaustive-parity test in test_lloyd_routed.py.
"""

from __future__ import annotations

import sys
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def test_percentile_bins_null_group_yields_null_bins(spark):
    from aicoe_osc_demo_spark.operators.relational import percentile_bins

    df = spark.createDataFrame(
        [("a", float(i)) for i in range(20)] + [("b", None), ("b", None)],
        "g string, x double",
    )
    out = percentile_bins(df, ["g"], "x", n_bins=4).collect()
    b_bins = [r.bin for r in out if r.g == "b"]
    # percentile over an all-NULL group is NULL -> fold over NULL array was
    # NULL; the unrolled sum must preserve that, not coerce to 0
    assert b_bins == [None, None]
    a_bins = sorted(r.bin for r in out if r.g == "a")
    # 20 values, 4 equi-depth bins -> 5 per bin
    assert a_bins == sorted([0] * 5 + [1] * 5 + [2] * 5 + [3] * 5)


def test_percentile_bins_matches_interpreted_fold(spark):
    from aicoe_osc_demo_spark.operators.relational import percentile_bins

    rows = [("g%d" % (i % 3), float((i * 37) % 101) / 7.0) for i in range(500)]
    df = spark.createDataFrame(rows, "g string, x double")
    got = {
        (r.g, r.x, r.bin) for r in percentile_bins(df, ["g"], "x", n_bins=7).collect()
    }
    # reference: the pre-r13 interpreted fold, inlined
    ps = ", ".join(f"{i / 7!r}D" for i in range(1, 7))
    cuts = df.groupBy("g").agg(F.expr(f"percentile(x, array({ps}))").alias("_cuts"))
    ref = (
        df.join(F.broadcast(cuts), on=["g"])
        .withColumn(
            "bin",
            F.aggregate(
                "_cuts",
                F.lit(0),
                lambda acc, q: acc + F.when(F.col("x") >= q, 1).otherwise(0),
            ),
        )
        .drop("_cuts")
    )
    assert got == {(r.g, r.x, r.bin) for r in ref.collect()}


def test_dedup_clusters_multi_round_chain(spark):
    from aicoe_osc_demo_spark.operators.dedup import dedup_clusters

    # a 12-node path needs several pointer-jumping rounds (> the unrolled
    # round 1), plus two disjoint triangles and a singleton pair
    chain = [(i, i + 1) for i in range(11)]
    tris = [(100, 101), (101, 102), (100, 102), (200, 201), (201, 202), (200, 202)]
    pairs = spark.createDataFrame(chain + tris + [(300, 301)], "d1 long, d2 long")
    got = {
        (r.doc_id, r.cluster_id) for r in dedup_clusters(pairs, max_iter=15).collect()
    }
    want = (
        {(i, 0) for i in range(12)}
        | {(n, 100) for n in (100, 101, 102)}
        | {(n, 200) for n in (200, 201, 202)}
        | {(300, 300), (301, 300)}
    )
    assert got == want


def test_route_assign_ties_and_chain_total(spark):
    from aicoe_osc_demo_spark.operators.similarity import kmeans_quantized

    # duplicate vectors (exact seed ties) + a spread tail: assignment must
    # stay total and bit-equal to flat in exhaustive mode
    rows = [(i, [float(i % 4)] * 8) for i in range(64)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    flat = kmeans_quantized(
        df, k=8, iters=2, return_assignments=True, route_min_k=10**9
    )
    routed = kmeans_quantized(
        df, k=8, iters=2, return_assignments=True, route_min_k=1, nprobe=8
    )
    a = sorted((r.vec_id, r.cid) for r in flat.collect())
    b = sorted((r.vec_id, r.cid) for r in routed.collect())
    assert a == b and len(b) == 64


def test_lloyd_centroid_count_rides_posexplode_pass(spark):
    # r13: the dim-agnostic centroid update folds the member count into the
    # posexplode aggregate (every member contributes exactly one row per
    # dim, so count(*) of any (cid, i) group IS the member count).  Pin the
    # one-pass form against the former groupBy-over-assigned + join form on
    # a fixed assignment frame, including a singleton and an empty-free mix.
    rows = [(i, i % 3, [int(i * 13 + j) for j in range(20)]) for i in range(25)]
    rows.append((99, 7, [int(5 + j) for j in range(20)]))  # singleton cluster
    assigned = spark.createDataFrame(rows, "vec_id long, cid int, v array<long>")
    sums = (
        assigned.select("cid", F.posexplode("v").alias("i", "x"))
        .groupBy("cid", "i")
        .agg(F.sum("x").alias("sx"), F.count(F.lit(1)).alias("cnt"))
    )
    new = sums.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "sx"))), lambda s: s["sx"]
        ).alias("s"),
        F.max("cnt").alias("n"),
    )
    old = (
        sums.groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "sx"))), lambda s: s["sx"]
            ).alias("s")
        )
        .join(assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("n")), "cid")
    )
    a = sorted((r.cid, tuple(r.s), r.n) for r in new.collect())
    b = sorted((r.cid, tuple(r.s), r.n) for r in old.collect())
    assert a == b and len(a) == 4

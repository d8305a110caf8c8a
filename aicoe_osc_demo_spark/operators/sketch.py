"""Bounded-memory sketch operators.

``heavy_hitters`` — distributed Misra-Gries: each partition summarizes its
token stream with at most ``capacity`` counters (bounded executor memory no
matter how large the vocabulary), the partial summaries merge by summation
(an upper-bound sketch), and the surviving candidates are re-counted EXACTLY
with a semi-join before the final top-k.  The Misra-Gries guarantee — any
item with frequency > n/capacity survives every partial pass — means the
exact-recount output equals the true top-k whenever k's frequency floor
clears n/capacity, which is what makes the operator oracle-checkable while
still being a genuine sketch (the full-vocabulary groupBy never happens).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..cache import shared

_MG_SCHEMA = StructType(
    [StructField("item", StringType()), StructField("mg_count", LongType())]
)


def _misra_gries(stream, capacity: int) -> dict[str, int]:
    counters: dict[str, int] = {}
    for item in stream:
        if item in counters:
            counters[item] += 1
        elif len(counters) < capacity:
            counters[item] = 1
        else:
            for k in list(counters):
                counters[k] -= 1
                if counters[k] == 0:
                    del counters[k]
    return counters


def heavy_hitters(
    items: DataFrame, item_col: str, k: int, capacity: int = 256
) -> DataFrame:
    """Exact top-k frequent items via a Misra-Gries candidate sketch.

    Phase 1 (sketch, bounded memory): per-partition Misra-Gries summaries.
    Phase 2 (candidates): merge summaries, keep the top ``capacity`` by
    upper-bound count — a tiny candidate set.
    Phase 3 (exact): re-count ONLY the candidates with a broadcast semi-join
    and take the true top-k (count desc, item asc).
    """

    def sketch_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        for pdf in batches:
            for item in pdf[item_col]:
                if item in counters:
                    counters[item] += 1
                elif len(counters) < capacity:
                    counters[item] = 1
                else:
                    for key in list(counters):
                        counters[key] -= 1
                        if counters[key] == 0:
                            del counters[key]
        yield pd.DataFrame(
            {"item": list(counters.keys()), "mg_count": list(counters.values())}
        )

    partials = items.select(F.col(item_col)).mapInPandas(sketch_partition, schema=_MG_SCHEMA)
    candidates = (
        partials.groupBy("item")
        .agg(F.sum("mg_count").alias("ub"))
        .orderBy(F.col("ub").desc(), F.col("item").asc())
        .limit(capacity)
        .select("item")
    )
    exact = (
        items.join(F.broadcast(candidates), items[item_col] == candidates["item"], "left_semi")
        .groupBy(item_col)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        exact.orderBy(F.col("n").desc(), F.col(item_col).asc())
        .limit(k)
        .withColumnRenamed(item_col, "item")
    )


# --- HyperLogLog distinct-count sketch ---------------------------------------
# Deterministic HLL over md5 hashes: because the hash is md5 (not a seeded
# runtime hash), the ENTIRE sketch — bucket assignments, per-bucket max
# run lengths, and the harmonic numerator — is bit-identical in Spark,
# DuckDB, and Python, so even the approximate estimator is value-checkable
# by the oracle.  The one non-integer quantity (the alpha bias constant) is
# combined in plain double arithmetic on identical inputs in both engines.

HLL_B = 10  # 2^10 = 1024 buckets -> standard error 1.04/sqrt(1024) = 3.25%
_HLL_M = 1 << HLL_B
_HLL_WBITS = 50  # 60-bit md5 prefix minus 10 bucket bits


def hll_sketch(
    items: DataFrame, item_col: str, group_cols: list[str] | None = None
) -> DataFrame:
    """Per-bucket HLL state: (bucket, max_rho) for the 2^HLL_B buckets that
    saw at least one item — per group when ``group_cols`` is given (the
    "approximate distinct per key" shape: per-day users, per-source
    vocabulary).  One shuffle of at most m rows per partition per group
    (map-side max combine); executor memory is O(m·groups-per-partition)
    regardless of cardinality.  rho = 1 + number of leading zeros in the
    50-bit suffix (computed integer-exactly via the binary-digit count —
    no float log)."""
    group_cols = group_cols or []
    h = F.conv(F.substring(F.md5(F.col(item_col).cast("string")), 1, 15), 16, 10).cast(
        "long"
    )
    bucket = (h % _HLL_M).alias("bucket")
    # bit shift, NOT float division: h holds 60 bits, beyond double precision
    w = F.shiftrightunsigned(h, HLL_B).cast("long")
    bitlen = F.length(F.conv(w.cast("string"), 10, 2))
    rho = F.when(w == 0, F.lit(_HLL_WBITS + 1)).otherwise(
        F.lit(_HLL_WBITS + 1) - bitlen
    )
    return (
        items.select(*group_cols, bucket, rho.cast("int").alias("rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_estimate(sketch: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """Fold the sketch into the HLL estimator.  The harmonic sum is kept
    EXACT: sum 2^(-rho_j) = (sum 2^(51-rho_j)) / 2^51 with an integer
    numerator < 2^61, so no float-summation order can leak in; the final
    alpha*m^2/Z division is one double expression over identical inputs in
    every engine.  Small cardinalities (raw estimate <= 2.5m with empty
    buckets) switch to linear counting m*ln(m/zeros) — the standard HLL
    correction, and still engine-portable: the branch condition compares
    identically-computed doubles, and ln runs on an exact integer ratio
    (1-ulp libm differences are far below the 2-decimal rounding).
    Returns (group_cols..., n_buckets_nonzero, harmonic_numerator,
    estimate)."""
    alpha = 0.7213 / (1 + 1.079 / _HLL_M)
    shift = _HLL_WBITS + 1
    group_cols = group_cols or []
    agg = sketch.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_buckets_nonzero"),
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {shift} - max_rho)")).alias("zsum"),
    )
    with_znum = agg.select(
        *group_cols,
        F.col("n_buckets_nonzero").cast("long").alias("n_buckets_nonzero"),
        (
            (F.lit(_HLL_M) - F.col("n_buckets_nonzero")).cast("long")
            * F.lit(1 << shift).cast("long")
            + F.col("zsum")
        ).alias("harmonic_numerator"),
    )
    raw = F.lit(alpha * _HLL_M * _HLL_M * float(1 << shift)) / F.col(
        "harmonic_numerator"
    )
    zeros = (F.lit(_HLL_M) - F.col("n_buckets_nonzero")).cast("double")
    linear = F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / zeros)
    return with_znum.select(
        *group_cols,
        "n_buckets_nonzero",
        "harmonic_numerator",
        F.round(
            F.when((raw <= 2.5 * _HLL_M) & (zeros > 0), linear).otherwise(raw), 2
        ).alias("estimate"),
    )


def hll_merge_windows(
    sketch: DataFrame, day_col: str = "day", window_days: int = 3
) -> DataFrame:
    """Merge per-day HLL states into trailing-window states: the day-X
    sketch contributes to targets X .. X+window_days-1, and merging is
    MAX per (target, bucket) — the mergeability that lets a warehouse
    precompute daily sketch states ONCE and answer any trailing window
    by folding states, never re-touching raw events (the reason sketches
    beat COUNT(DISTINCT) at 100 TB even before memory: distinct counts
    do not merge, sketch states do).

    ``day_col`` must be DATE-typed.  Only target days that are themselves
    observed days are returned.  Cost: a window_days-way fan-out of the
    (days x m)-row sketch table + one keyed MAX — sketch-sized, not
    event-sized.
    """
    days = sketch.select(day_col).distinct()
    fan = sketch.select(
        F.col(day_col).alias("_src_day"),
        "bucket",
        "max_rho",
        F.explode(F.sequence(F.lit(0), F.lit(window_days - 1))).alias("_i"),
    ).select(
        F.date_add(F.col("_src_day"), F.col("_i")).alias(day_col), "bucket", "max_rho"
    )
    return (
        fan.join(days, on=day_col)
        .groupBy(day_col, "bucket")
        .agg(F.max("max_rho").alias("max_rho"))
    )


# --- Count-Min sketch --------------------------------------------------------
# Same determinism argument as the HLL above: md5 row-hashes make the whole
# d×w counter table — and therefore every frequency estimate — bit-identical
# across engines, so the approximate estimator is value-checkable.

CMS_D = 4
CMS_W = 1024


def _cms_bucket(item_col, j: int, w: int):
    h = F.md5(F.concat(F.lit(f"cms{j}|"), item_col.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % w


def cms_sketch(items: DataFrame, item_col: str, d: int = CMS_D, w: int = CMS_W) -> DataFrame:
    """Count-Min counter table: (j, bucket, cnt) for d independent md5 hash
    rows of w buckets.  One exploded aggregate with map-side combine; state
    is O(d·w) per partition regardless of stream size."""
    rows = items.select(
        F.posexplode(
            F.array(*[_cms_bucket(F.col(item_col), j, w) for j in range(d)])
        ).alias("j", "bucket")
    )
    return rows.groupBy("j", "bucket").agg(F.count(F.lit(1)).alias("cnt"))


def cms_estimate(
    sketch: DataFrame, probes: DataFrame, item_col: str, d: int = CMS_D, w: int = CMS_W
) -> DataFrame:
    """Frequency upper-bound per probe item: min over the d row counters at
    the item's buckets (the Count-Min guarantee: est >= true count, with
    overestimate bounded by collisions ~ n/w per row).  Probe side explodes
    d (j, bucket) keys and equi-joins the counter table — broadcastable at
    d·w rows."""
    keyed = probes.select(
        F.col(item_col),
        F.posexplode(
            F.array(*[_cms_bucket(F.col(item_col), j, w) for j in range(d)])
        ).alias("j", "bucket"),
    )
    return (
        keyed.join(F.broadcast(sketch), on=["j", "bucket"], how="left")
        .groupBy(item_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("est"))
    )


# --- distributed Bloom filter ------------------------------------------------
# The "bloom-filterable anti-join" primitive the incremental-dedup design
# references: build a bit array from a key ledger as an exploded bit-position
# aggregate (map-side bit_or combine, never a driver-side collect of keys),
# broadcast the tiny word table, and probe keys with k hash lookups.  All
# hashes are md5-derived, so build and probe are bit-identical in Spark,
# DuckDB, and Python — the filter itself is oracle-checkable.

# Defaults are oracle-checked; size the filter to the ledger at deploy time
# (~10 bits/key at k=4 → ~1.2% false-positive rate: m_bits=1<<34 for 1e9
# keys is 2 GiB of words — broadcastable — while the default 1024 bits
# saturates beyond ~1k keys and then prunes nothing).
BLOOM_M_BITS = 1024
BLOOM_K = 4


def _bloom_pos(key_col, i: int, m_bits: int):
    """Bit position i for a key: first 8 md5 hex chars of 'bloom{i}|key'
    as an integer, mod m.  Uniform and engine-portable."""
    h = F.md5(F.concat(F.lit(f"bloom{i}|"), key_col.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % m_bits


def bloom_build_bits(
    keys: DataFrame, key_col: str = "key", m_bits: int = BLOOM_M_BITS, k: int = BLOOM_K
) -> DataFrame:
    """Aggregate a key set into Bloom filter words: (widx, word) rows where
    word = bit_or of 1<<(pos%32) for every key hashing into 32-bit word
    widx (32-bit words keep every shift in checked-arithmetic range for
    both engines).  Output is m_bits/32 rows regardless of key count — the
    broadcastable summary of an arbitrarily large ledger.  Size ``m_bits``
    to ~10× the expected key count (see module note); the default is the
    small oracle-checked configuration, not a deploy-scale one."""
    pos_rows = keys.select(
        F.explode(
            F.array(*[_bloom_pos(F.col(key_col), i, m_bits) for i in range(k)])
        ).alias("p")
    )
    return (
        pos_rows.select(
            (F.col("p") / 32).cast("long").alias("widx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))").alias("mask"),
        )
        .groupBy("widx")
        .agg(F.bit_or("mask").alias("word"))
    )


def bloom_probe(
    probe: DataFrame,
    bits: DataFrame,
    key_col: str = "key",
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Membership test against built Bloom words: a probe key is
    ``maybe_member`` iff ALL k of its bit positions are set (no false
    negatives; false-positive rate set by m/n and k).  ``m_bits``/``k``
    must match the build call.  The words join is a broadcast of ≤
    m_bits/32 rows; the probe side never shuffles."""
    pos = probe.select(
        F.col(key_col),
        F.posexplode(
            F.array(*[_bloom_pos(F.col(key_col), i, m_bits) for i in range(k)])
        ).alias("i", "p"),
    ).select(
        key_col,
        (F.col("p") / 32).cast("long").alias("widx"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))").alias("mask"),
    )
    joined = pos.join(F.broadcast(bits), on="widx", how="left")
    hit = (F.col("mask").bitwiseAND(F.coalesce(F.col("word"), F.lit(0))) != 0).cast("int")
    return (
        joined.groupBy(key_col)
        .agg((F.min(hit) == 1).alias("maybe_member"))
    )


def quantile_sketch(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 1024,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Mergeable fixed-bin quantile sketch — the single-pass, no-global-sort
    scale path next to the exact percentile query (plans/advanced.py
    ``agg_exact_percentiles``, which needs a sort or full value collection
    per group).  Values are clamped into ``n_bins`` equal-width buckets over
    [lo, hi); the sketch is just (bucket, count) — one map-side-combined
    aggregate, mergeable across partitions/days/runs by adding counts,
    ≤ n_bins rows total (per group when ``group_cols`` is given — the
    telemetry-rollup shape: one small histogram per key).

    Accuracy: quantile error ≤ one bin width (hi-lo)/n_bins, the standard
    equi-width histogram bound.  For heavy-tailed columns pick lo/hi from a
    previous sketch or min/max aggregate.  All arithmetic is plain double
    ops expressed identically in the DuckDB oracle, so estimates are
    bit-reproducible, unlike Spark's approx_percentile whose GK summary is
    engine-private."""
    gc = list(group_cols or [])
    step = (float(hi) - float(lo)) / int(n_bins)
    bucket = F.least(
        F.lit(n_bins - 1),
        F.greatest(
            F.lit(0), F.floor((F.col(value_col) - float(lo)) / step).cast("int")
        ),
    )
    return (
        df.select(*gc, bucket.alias("bucket"))
        .groupBy(*gc, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def quantile_estimate(
    sketch: DataFrame,
    qs: list[float],
    lo: float,
    hi: float,
    n_bins: int = 1024,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Read quantiles off a ``quantile_sketch``: for each q, the upper edge
    of the first bucket whose cumulative count reaches q * total (per group
    when ``group_cols`` is given).  The cumulative walk is a window over
    ≤ n_bins rows per group — driver-free and cheap no matter how large the
    sketched input was."""
    from pyspark.sql import Window

    gc = list(group_cols or [])
    step = (float(hi) - float(lo)) / int(n_bins)
    w = Window.partitionBy(*gc).orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = sketch.select(
        *gc,
        "bucket",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy(*gc)).alias("total"),
    )
    out = None
    for q in qs:
        hit = (
            cum.filter(F.col("cum") >= F.col("total") * float(q))
            .groupBy(*gc)
            .agg(F.min("bucket").alias("bucket"))
            .select(
                *gc,
                F.lit(float(q)).alias("q"),
                F.round(
                    F.lit(float(lo)) + (F.col("bucket") + 1) * step, 6
                ).alias("estimate"),
            )
        )
        out = hit if out is None else out.unionByName(hit)
    return out


def hll_overlap_pairs(
    items: DataFrame, item_col: str, group_col: str
) -> DataFrame:
    """Pairwise set-overlap estimates between groups from mergeable HLL
    states: |A∩B| ≈ est(A) + est(B) − est(A∪B), where the union estimate
    comes from MERGING the two groups' sketch states (MAX per bucket) —
    the sketch algebra that answers "how much does source A's vocabulary
    overlap source B's?" for every pair while touching the raw items
    exactly once.

    At 100 TB the raw-item pass builds one sketch per group (the same
    grouped-HLL shuffle as ``hll_sketch``: ≤ m rows per group per
    partition); everything pairwise after that is sketch-sized — with G
    groups the pair fan-out is G·(G−1)/2 · m rows of (bucket, rho)
    state, independent of corpus size.  Inclusion–exclusion on three
    ±3.25 % estimates is noisy for small intersections (the standard HLL
    caveat) — the point is ranking pairs and spotting near-containment,
    not exact counts.

    Output: one row per unordered group pair (group_a, group_b, est_a,
    est_b, est_union, est_intersect), with est_intersect floored at 0.
    """
    # sk is referenced four times below (per-group estimate, group list,
    # both union arms); as Column trees each reference re-expands — and
    # re-EXECUTES — the corpus-scale raw-item pass (16 parquet scans in
    # the initial plan, exchange reuse not guaranteed).  The sketch is
    # G × m rows of bounded state: lazily checkpoint it so the raw items
    # are touched exactly once, as the contract above promises.
    sk = hll_sketch(items, item_col, [group_col]).transform(shared)
    est = hll_estimate(sk, [group_col]).select(
        F.col(group_col).alias("_g"), F.col("estimate").alias("_est")
    )
    groups = sk.select(F.col(group_col).alias("_g")).distinct()
    pairs = groups.select(F.col("_g").alias("group_a")).join(
        F.broadcast(groups.select(F.col("_g").alias("group_b"))),
        F.col("group_a") < F.col("group_b"),
    )
    side_a = pairs.join(sk, pairs["group_a"] == sk[group_col]).select(
        "group_a", "group_b", "bucket", "max_rho"
    )
    side_b = pairs.join(sk, pairs["group_b"] == sk[group_col]).select(
        "group_a", "group_b", "bucket", "max_rho"
    )
    union_sk = (
        side_a.unionByName(side_b)
        .groupBy("group_a", "group_b", "bucket")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    union_est = hll_estimate(union_sk, ["group_a", "group_b"]).select(
        "group_a", "group_b", F.col("estimate").alias("est_union")
    )
    return (
        union_est.join(
            F.broadcast(est.select(F.col("_g").alias("group_a"), F.col("_est").alias("est_a"))),
            "group_a",
        )
        .join(
            F.broadcast(est.select(F.col("_g").alias("group_b"), F.col("_est").alias("est_b"))),
            "group_b",
        )
        .select(
            "group_a",
            "group_b",
            "est_a",
            "est_b",
            "est_union",
            F.round(
                F.greatest(
                    F.col("est_a") + F.col("est_b") - F.col("est_union"), F.lit(0.0)
                ),
                2,
            ).alias("est_intersect"),
        )
    )

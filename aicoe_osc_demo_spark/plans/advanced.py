"""Advanced relational queries: rollup/grouping sets, frame-spec windows,
exact percentiles, multimodal metadata.

The reference never needed these (single-process pandas), but they complete
the SQL surface a BI layer (Superset) expects from the engine, and the
multimodal queries exercise the opaque-binary column path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import shared
from ..operators.multimodal import extract_features, media_from_text, media_metadata
from . import load, register


@register(
    "agg_rollup_revenue",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ROLLUP hierarchy totals — free from Catalyst (SURVEY §2.4 note).
    return (
        load(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "window_running_sum",
    """
    SELECT o_orderkey,
           ROUND(SUM(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
    FROM orders
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Frame-spec window: cumulative customer spend in event order.  The
    # deterministic ORDER BY makes the float accumulation order identical on
    # both engines.
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return load(spark, sf_dir, "orders").select(
        "o_orderkey", F.round(F.sum("o_totalprice").over(w), 2).alias("running_total")
    )


@register(
    "window_lag_delta",
    """
    SELECT event_id,
           ROUND(value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 2)
             AS delta
    FROM events
    """,
)
def window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    # lag/lead analytics over the event stream.
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return load(spark, sf_dir, "events").select(
        "event_id", F.round(F.col("value") - F.lag("value").over(w), 2).alias("delta")
    )


@register(
    "agg_exact_percentiles",
    """
    SELECT l_returnflag,
           ROUND(quantile_cont(l_quantity, 0.25), 6) AS p25,
           ROUND(quantile_cont(l_quantity, 0.50), 6) AS p50,
           ROUND(quantile_cont(l_quantity, 0.75), 6) AS p75
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A7 — describe() quartiles as exact interpolated percentiles (both
    # engines use linear interpolation; approx sketches would not hash-match).
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_quantity, 0.25)"), 6).alias("p25"),
            F.round(F.expr("percentile(l_quantity, 0.50)"), 6).alias("p50"),
            F.round(F.expr("percentile(l_quantity, 0.75)"), 6).alias("p75"),
        )
    )


@register(
    "multimodal_metadata",
    """
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    """,
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Opaque-binary metadata path: byte length + content hash, JVM-side only
    # (no decode, no Python) — what a 100 TB media-manifest scan looks like.
    media = media_from_text(load(spark, sf_dir, "documents"))
    return media_metadata(media)


@register(
    "multimodal_features",
    # The stub decoder derives pseudo-dimensions from the md5 digest bytes of
    # the content — reproducible in SQL, so even the mapInPandas decode path
    # is oracle-checked end-to-end.
    """
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5,
           CAST(64 + CAST('0x' || substr(md5(text), 1, 2) AS INT) % 192 AS INT) AS width,
           CAST(64 + CAST('0x' || substr(md5(text), 3, 2) AS INT) % 192 AS INT) AS height,
           CAST('0x' || substr(md5(text), 5, 2) AS INT) / 255.0 AS mean_intensity
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Decode + feature-extract via Arrow-batched mapInPandas with the stub
    # decoder (real codecs absent in this container); the deterministic stub
    # makes the full Python decode path oracle-checkable.
    media = media_from_text(load(spark, sf_dir, "documents"))
    return extract_features(media)


@register(
    "multimodal_frame_sample",
    # The stub "keyframe sampler" takes 64-byte windows at stride-2 frame
    # positions (max 8) — deterministic byte math, so the 1:N fan-out of the
    # mapInPandas stage is fully value-checked (documents text is ASCII:
    # char positions == byte positions).
    """
    SELECT doc_id AS media_id,
           CAST(j * 2 AS INT) AS frame_index,
           md5(substr(text, j * 2 * 64 + 1, 64)) AS frame_md5,
           CAST(least(octet_length(encode(text)) - j * 2 * 64, 64) AS INT) AS n_frame_bytes
    FROM documents, generate_series(0, 7) AS s(j)
    WHERE j * 2 * 64 < octet_length(encode(text))
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Frame sampling (video → frames): each media row fans out to up to 8
    # stride-2 frame rows inside one Arrow batch; bytes stay executor-side,
    # only fingerprints and sizes return.
    from ..operators.multimodal import sample_frames

    media = media_from_text(load(spark, sf_dir, "documents"))
    return sample_frames(media, frame_bytes=64, stride=2, max_frames=8)


@register(
    "agg_cube_revenue",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty, COUNT(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CUBE over both dimensions — all 2^k grouping sets in one pass.
    return (
        load(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count(F.lit(1)).alias("n"))
    )


@register(
    "join_full_outer",
    """
    SELECT c.c_custkey, c.c_name, o.n_orders FROM customer c
    FULL OUTER JOIN (
      SELECT o_custkey, COUNT(*) AS n_orders FROM orders
      WHERE o_orderstatus = 'P' GROUP BY o_custkey
    ) o ON c.c_custkey = o.o_custkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "P")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return c.join(o, c.c_custkey == o.o_custkey, "full_outer").select(
        "c_custkey", "c_name", "n_orders"
    )


@register(
    "set_union_missing_cols",
    """
    SELECT o_orderkey, o_totalprice, NULL AS c_name FROM orders WHERE o_orderstatus = 'P'
    UNION ALL
    SELECT NULL AS o_orderkey, NULL AS o_totalprice, c_name FROM customer WHERE c_custkey < 100
    """,
)
def set_union_missing_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    # unionByName(allowMissingColumns=True) — schema-evolving concat
    # (the reference concatenates per-Excel frames with drifting columns).
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "P")
        .select("o_orderkey", "o_totalprice")
    )
    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") < 100).select("c_name")
    return o.unionByName(c, allowMissingColumns=True).select(
        "o_orderkey", "o_totalprice", "c_name"
    )


@register(
    "text_levenshtein_match",
    """
    SELECT s.source AS s1, t.source AS s2, CAST(levenshtein(s.source, t.source) AS INT) AS dist
    FROM (SELECT DISTINCT source FROM documents) s
    JOIN (SELECT DISTINCT source FROM documents) t ON s.source < t.source
    WHERE levenshtein(s.source, t.source) <= 2
    """,
)
def text_levenshtein_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    # F16 adjunct — the built-in edit-distance scorer over a small distinct
    # key set (blocked by the < ordering), e.g. near-identical source names.
    s = load(spark, sf_dir, "documents").select("source").distinct()
    a, b = s.alias("a"), s.alias("b")
    return (
        a.join(b, F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("s1"),
            F.col("b.source").alias("s2"),
            F.levenshtein(F.col("a.source"), F.col("b.source")).alias("dist"),
        )
        .filter(F.col("dist") <= 2)
    )


@register(
    "agg_filtered_counts",
    """
    SELECT event_type,
           COUNT(*) FILTER (WHERE value > 50) AS n_high,
           COUNT(*) FILTER (WHERE value <= 50) AS n_low,
           ROUND(SUM(value) FILTER (WHERE value > 50), 2) AS sum_high
    FROM events GROUP BY event_type
    """,
)
def agg_filtered_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # FILTER-ed aggregates — the conditional-count idiom Superset generates.
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count(F.when(F.col("value") > 50, 1)).alias("n_high"),
        F.count(F.when(F.col("value") <= 50, 1)).alias("n_low"),
        F.round(F.sum(F.when(F.col("value") > 50, F.col("value"))), 2).alias("sum_high"),
    )


@register("ml_relevance_training_metrics")
def ml_relevance_training_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    # M5/M9 — MLlib baseline relevance trainer (Tokenizer → HashingTF → IDF
    # → LogisticRegression) on a deterministic hash split, evaluated with the
    # confusion aggregate.  Rows-only check (model floats are not
    # oracle-hashable); always exactly 1 metrics row.
    from ..operators.relational import train_dev_split
    from ..training import confusion_metrics, prepare_pairs, train_relevance

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.lit("Does this mention spark?").alias("question"),
        F.col("text"),
        F.when(F.col("text").rlike("\\bspark\\b"), 1).otherwise(0).alias("label"),
    )
    pairs = prepare_pairs(d, "question", "text", "label").withColumn(
        "doc_id", F.monotonically_increasing_id()
    )
    train, test = train_dev_split(pairs, F.col("doc_id"), 0.8, "train")
    model = train_relevance(train.drop("doc_id"), max_iter=5)
    return confusion_metrics(model.transform(test.drop("doc_id")))


@register(
    "join_salted_skew",
    """
    SELECT s.s_nationkey AS nation,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_nationkey
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hot-key mitigation (operators/skew.py): the fact side is salted by a
    # content hash, the dim side exploded n_salts times, so one pathological
    # supplier key spreads over 8 tasks instead of pinning one.  Salting is
    # purely a physical rewrite — the aggregate must equal the plain
    # equi-join the oracle runs.  Integer-cent checksum avoids
    # order-dependent float summation across engines.
    from ..operators.skew import salted_join

    fact = load(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice")
    dim = load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    return (
        salted_join(fact, dim, on="l_suppkey", n_salts=8)
        .groupBy(F.col("s_nationkey").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias(
                "revenue_cents"
            ),
        )
    )


_QS_LO, _QS_HI, _QS_BINS = 900.0, 105000.0, 1024
_QS_STEP = (_QS_HI - _QS_LO) / _QS_BINS  # 101.66015625, exact in binary


@register(
    "agg_quantile_sketch",
    f"""
    WITH b AS (
      SELECT LEAST({_QS_BINS - 1}, GREATEST(0,
        CAST(FLOOR((l_extendedprice - CAST({_QS_LO} AS DOUBLE))
                   / CAST({_QS_STEP} AS DOUBLE)) AS INT))) AS bucket
      FROM lineitem
    ),
    s AS (SELECT bucket, COUNT(*) AS cnt FROM b GROUP BY bucket),
    c AS (SELECT bucket, SUM(cnt) OVER (ORDER BY bucket) AS cum,
                 SUM(cnt) OVER () AS total FROM s),
    probes AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS q)
    SELECT q,
           ROUND(CAST({_QS_LO} AS DOUBLE)
                 + (MIN(bucket) + 1) * CAST({_QS_STEP} AS DOUBLE), 6) AS estimate
    FROM probes JOIN c ON cum >= total * q
    GROUP BY q
    """,
)
def agg_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Mergeable equi-width quantile sketch (operators/sketch.py) — the
    # 100 TB path next to agg_exact_percentiles: one combine-friendly
    # aggregate to ≤1024 rows, then a driver-free cumulative walk.  Error
    # ≤ one bin width; every double op is mirrored in the oracle so the
    # estimates hash-match.
    from ..operators.sketch import quantile_estimate, quantile_sketch

    li = load(spark, sf_dir, "lineitem")
    sk = quantile_sketch(li, "l_extendedprice", _QS_LO, _QS_HI, _QS_BINS)
    return quantile_estimate(sk, [0.5, 0.9, 0.99], _QS_LO, _QS_HI, _QS_BINS)


@register(
    "multimodal_phash_dedup",
    # Brute-force oracle over the clone-augmented media set: all pairs with
    # perceptual-hash Hamming distance <= 5.  The engine finds candidates
    # only via the 6x10-bit band equi-join, but the pigeonhole guarantee
    # (<= 5 flips over 6 bands => one band identical) makes banded recall
    # EXACTLY equal to brute force — a value-checked recall assertion.
    """
    WITH m AS (
      SELECT doc_id AS media_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS media_id, text FROM documents WHERE doc_id < 25
    ), h AS (
      SELECT media_id, CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS phash
      FROM m
    )
    SELECT a.media_id AS d1, b.media_id AS d2,
           CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
    FROM h a JOIN h b ON a.media_id < b.media_id
    WHERE bit_count(xor(a.phash, b.phash)) <= 5
    """,
)
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Perceptual-hash near-dup for media: mapInPandas pHash (stubbed as a
    # 60-bit md5 prefix; swap point for a real DCT hash) -> pigeonhole
    # band join -> Hamming filter.  Planted byte-identical clones give
    # hamming-0 ground truth pairs.
    from ..operators.multimodal import perceptual_hashes, phash_near_dup_pairs

    docs = load(spark, sf_dir, "documents")
    media = media_from_text(docs)
    clones = media_from_text(
        docs.filter(F.col("doc_id") < 25).withColumn(
            "doc_id", F.col("doc_id") + 100000
        )
    )
    # the banded self-join references hashes on both sides — without a
    # materialization the mapInPandas pHash stage (the Python boundary)
    # and both media arms execute twice.  The (media_id, phash) frame is
    # two longs per media row: checkpoint it once (lazily).  Measured at
    # sf0.1: wins every interleaved rep; Python hash passes 2 -> 1.
    hashes = perceptual_hashes(media.unionByName(clones)).transform(shared)
    return phash_near_dup_pairs(hashes, max_hamming=5, bands=6, band_bits=10)


_Z_BITS = 12
_Z_TERMS = " + ".join(
    f"((x >> {b}) & 1) * {1 << (2 * b)} + ((y >> {b}) & 1) * {1 << (2 * b + 1)}"
    for b in range(_Z_BITS)
)
_ZORDER_SQL = f"""
    SELECT o_orderkey, CAST({_Z_TERMS} AS BIGINT) AS zkey
    FROM (
      SELECT o_orderkey, o_custkey % 4096 AS x,
             CAST(floor(o_totalprice) AS BIGINT) % 4096 AS y
      FROM orders
    )
"""


from ..operators.layout import hilbert_sql as _hilbert_sql  # noqa: E402

_HILBERT_SQL = f"""
    SELECT o_orderkey, CAST(d AS BIGINT) AS hkey FROM (
      {_hilbert_sql('x', 'y', bits=12).replace(
          '__HILBERT_BASE__',
          '(SELECT o_orderkey, o_custkey % 4096 AS x, '
          'CAST(floor(o_totalprice) AS BIGINT) % 4096 AS y FROM orders)')}
    )
"""


@register("layout_hilbert_key", _HILBERT_SQL)
def layout_hilbert_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hilbert index over the same (custkey, totalprice) grid as
    # layout_zorder_key — the tighter-locality clustering switch
    # (consecutive codes are always adjacent cells; Morton teleports at
    # every power-of-two seam, so Hilbert files carry smaller min/max
    # boxes and the manifest prunes more of them for the same box
    # predicate).  Unrolled integer CASE chain, bit-identical to the
    # oracle's generated replay of the same walk.
    from ..operators.layout import hilbert_key
    from ..operators.relational import ensure_parallelism

    # the 12-level unrolled Hilbert CASE chain is a compute-heavy narrow
    # stage: spread the single-row-group scan first (no-op at scale)
    o = ensure_parallelism(
        load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    )
    x = F.pmod(F.col("o_custkey"), F.lit(4096))
    y = F.pmod(F.floor("o_totalprice").cast("long"), F.lit(4096))
    return hilbert_key(o, x, y, out="hkey", bits=12).select("o_orderkey", "hkey")


@register("layout_zorder_key", _ZORDER_SQL)
def layout_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Morton code over (custkey, totalprice) — the clustering key behind
    # zorder_write's data-skipping layout: sorting by this ONE column
    # bounds every output file's min/max box in BOTH dimensions, so the
    # stats manifest prunes files for any axis-aligned predicate.  Pure
    # integer shift/mask/add chain, bit-identical in any engine.
    from ..operators.layout import zorder_key

    o = load(spark, sf_dir, "orders")
    x = F.pmod(F.col("o_custkey"), F.lit(4096))
    y = F.pmod(F.floor("o_totalprice").cast("long"), F.lit(4096))
    return o.select("o_orderkey", zorder_key(x, y, bits=_Z_BITS).alias("zkey"))


@register(
    "layout_column_stats",
    """
    SELECT 'o_custkey' AS column, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT o_totalprice) AS BIGINT)
    FROM orders
    """,
)
def layout_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ANALYZE TABLE-style column profile: row/null/exact-NDV per column in
    # one Expand-based aggregate — the CBO + manifest-pruning inputs.  At
    # 100 TB swap exact NDV for the mergeable HLL sketch; exact here keeps
    # the statistic oracle-checkable.
    from ..operators.layout import analyze_column_stats

    return analyze_column_stats(
        load(spark, sf_dir, "orders"),
        ["o_custkey", "o_orderstatus", "o_orderpriority", "o_totalprice"],
    )


@register(
    "diag_skew_report",
    """
    WITH counts AS (
      SELECT l_suppkey, COUNT(*) AS _n FROM lineitem GROUP BY l_suppkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MAX(_n) AS BIGINT) AS max_count,
           ROUND(quantile_cont(_n, 0.50), 6) AS p50,
           ROUND(quantile_cont(_n, 0.99), 6) AS p99,
           ROUND(CAST(MAX(_n) AS DOUBLE) / quantile_cont(_n, 0.50), 6) AS skew_ratio,
           CAST(CEIL(CAST(MAX(_n) AS DOUBLE) / quantile_cont(_n, 0.99)) AS BIGINT)
             AS suggested_salt
    FROM counts
    """,
)
def diag_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pre-flight skew diagnosis for the supplier join key: per-key count
    # distribution + max/median skew ratio + the salt factor the
    # salted-join operator would use.  The decision input for
    # operators/skew.py and AQE skew handling, computable in two
    # map-side-combined aggregates.
    from ..operators.layout import skew_report

    return skew_report(load(spark, sf_dir, "lineitem"), ["l_suppkey"])


@register(
    "diag_join_explosion",
    """
    WITH lc AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS left_rows
                FROM lineitem GROUP BY l_partkey),
    per AS (
      SELECT l_partkey, left_rows, left_rows AS right_rows,
             left_rows * left_rows AS out_rows
      FROM lc
    ),
    t AS (SELECT CAST(SUM(out_rows) AS BIGINT) AS total_out_rows FROM per)
    SELECT l_partkey, left_rows, right_rows, out_rows,
           ROUND(CAST(out_rows AS DOUBLE) / total_out_rows * 100, 6)
             AS out_share_pct,
           total_out_rows
    FROM per CROSS JOIN t
    ORDER BY out_rows DESC, l_partkey LIMIT 10
    """,
)
def diag_join_explosion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pre-flight output-cardinality estimate for the classic explosive
    # self-join (lineitem x lineitem on the part hub key): per-key count
    # tables joined — minutes of metadata work that predicts the exact
    # row count of a join you might not survive running.  Companion of
    # diag_skew_report (skew = one reducer drowns; explosion = the join
    # output itself blows up).
    from ..operators.layout import join_explosion_report

    li = load(spark, sf_dir, "lineitem")
    return join_explosion_report(li, li, ["l_partkey"], top=10)


# Fellegi–Sunter field parameters: m = P(agree | same entity) under the
# deterministic corruption below, u = P(agree | different entities)
# (mktsegment has 5 values -> u = 0.2).  Weights are Python-computed
# integer nanobits inlined into BOTH the plan and the oracle, so the
# per-pair score is an exact long sum in either engine.
import math as _math

_FS_PARAMS = {"name": (0.85, 0.01), "acct": (0.92, 0.02), "seg": (0.9, 0.2)}
_FS_A = {f: int(_math.floor(_math.log2(m / u) * 1e9 + 0.5)) for f, (m, u) in _FS_PARAMS.items()}
_FS_D = {
    f: int(_math.floor(_math.log2((1 - m) / (1 - u)) * 1e9 + 0.5))
    for f, (m, u) in _FS_PARAMS.items()
}
_FS_SQL = f"""
    WITH r AS (
      SELECT c_custkey + 1000000 AS r_id, c_nationkey,
             CASE WHEN c_custkey % 7 = 0 THEN c_name || '~' ELSE c_name END
               AS r_name,
             CASE WHEN c_custkey % 13 = 0 THEN c_acctbal + 1.0 ELSE c_acctbal END
               AS r_acct,
             CASE WHEN c_custkey % 11 = 0 THEN 'MOVED' ELSE c_mktsegment END
               AS r_seg
      FROM customer
    ),
    p AS (
      SELECT l.c_custkey AS l_id, r.r_id,
             CAST(CASE WHEN l.c_name = r.r_name
                       THEN {_FS_A["name"]} ELSE {_FS_D["name"]} END
                + CASE WHEN l.c_acctbal = r.r_acct
                       THEN {_FS_A["acct"]} ELSE {_FS_D["acct"]} END
                + CASE WHEN l.c_mktsegment = r.r_seg
                       THEN {_FS_A["seg"]} ELSE {_FS_D["seg"]} END AS BIGINT)
               AS w_ni
      FROM customer l JOIN r ON l.c_nationkey = r.c_nationkey
    )
    SELECT l_id, r_id, ROUND(CAST(w_ni AS DOUBLE) / 1e9, 6) AS weight,
           CASE WHEN w_ni >= 6000000000 THEN 'match' ELSE 'possible' END
             AS match_class
    FROM p WHERE w_ni >= 0
"""


@register("linkage_fs_scores", _FS_SQL)
def linkage_fs_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Probabilistic record linkage (Fellegi-Sunter): the customer file
    # against a deterministically re-entered copy (1-in-7 name typos,
    # 1-in-13 balance slips, 1-in-11 segment moves), blocked on nation,
    # scored by summed log2(m/u) field weights, classified match /
    # possible.  Entity resolution for the relational surface — the
    # text-side siblings are the fuzzy joins.
    from ..operators.fuzzy import fs_link_scores

    c = load(spark, sf_dir, "customer")
    left = c.select(
        F.col("c_custkey").alias("l_id"),
        "c_nationkey",
        F.col("c_name").alias("l_name"),
        F.col("c_acctbal").alias("l_acct"),
        F.col("c_mktsegment").alias("l_seg"),
    )
    right = c.select(
        (F.col("c_custkey") + 1000000).alias("r_id"),
        "c_nationkey",
        F.when(F.col("c_custkey") % 7 == 0, F.concat(F.col("c_name"), F.lit("~")))
        .otherwise(F.col("c_name"))
        .alias("r_name"),
        F.when(F.col("c_custkey") % 13 == 0, F.col("c_acctbal") + 1.0)
        .otherwise(F.col("c_acctbal"))
        .alias("r_acct"),
        F.when(F.col("c_custkey") % 11 == 0, F.lit("MOVED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("r_seg"),
    )
    return fs_link_scores(
        left,
        right,
        ["c_nationkey"],
        [
            ("name", F.col("l_name") == F.col("r_name"), *_FS_PARAMS["name"]),
            ("acct", F.col("l_acct") == F.col("r_acct"), *_FS_PARAMS["acct"]),
            ("seg", F.col("l_seg") == F.col("r_seg"), *_FS_PARAMS["seg"]),
        ],
        lower_bits=0.0,
        upper_bits=6.0,
    )


@register(
    "agg_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_extendedprice), 2) AS sum_price, COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Arbitrary GROUPING SETS — the general form ROLLUP/CUBE specialize:
    # each marginal plus the grand total in ONE Expand-based pass (one
    # scan, one shuffle), vs three scans for a UNION ALL of aggregates.
    li = load(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("_li_gs")
    return li.sparkSession.sql(
        """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_extendedprice), 2) AS sum_price, COUNT(*) AS n
        FROM _li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@register(
    "window_ntile_deciles",
    """
    WITH t AS (
      SELECT l_returnflag, l_extendedprice,
             CAST(NTILE(10) OVER (PARTITION BY l_returnflag
                                  ORDER BY l_extendedprice, l_orderkey,
                                           l_linenumber) AS INT) AS decile
      FROM lineitem
    )
    SELECT l_returnflag, decile, COUNT(*) AS n,
           ROUND(MIN(l_extendedprice), 2) AS lo,
           ROUND(MAX(l_extendedprice), 2) AS hi
    FROM t GROUP BY 1, 2
    """,
)
def window_ntile_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DOCUMENTED CONTRAST CASE — the catalog's one intentionally
    # scale-unsafe plan shape, kept to demonstrate WHY the cutpoint
    # rewrite exists.  Equi-depth decile assignment per group (NTILE)
    # reduced to the per-decile envelope.  Fully deterministic tiebreak so
    # both engines cut identical tiles.
    # Scale note (measured 0.49x/row at 10x): NTILE is a full sort per
    # PARTITION KEY — with few groups everything funnels through a few
    # reducers.  At 100 TB bin by percentile CUTPOINTS instead — that
    # operator exists as percentile_bins / window_percentile_bins below;
    # exact ranking is only needed when tile POPULATIONS must be exactly
    # equal.  The guard below makes the contract executable: the entry
    # REFUSES unbounded input instead of silently funneling it through a
    # handful of reducers (test_ntile_contrast_case_refuses_unbounded_input).
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem")
    _NTILE_ROW_CEILING = 10_000_000
    n = li.count()
    if n > _NTILE_ROW_CEILING:
        raise ValueError(
            f"window_ntile_deciles is a bounded contrast case: input has"
            f" {n} rows > ceiling {_NTILE_ROW_CEILING}; use"
            f" window_percentile_bins (percentile cutpoints, no per-group"
            f" global sort) at this scale"
        )
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    return (
        li.withColumn("decile", F.ntile(10).over(w))
        .groupBy("l_returnflag", "decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("l_extendedprice"), 2).alias("lo"),
            F.round(F.max("l_extendedprice"), 2).alias("hi"),
        )
    )


@register(
    "window_percentile_bins",
    """
    WITH cuts AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice,
                           [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
      FROM lineitem GROUP BY 1
    )
    SELECT l.l_returnflag,
           CAST(len(list_filter(c.qs, q -> l.l_extendedprice >= q)) AS INT) AS bin,
           COUNT(*) AS n,
           ROUND(MIN(l.l_extendedprice), 2) AS lo,
           ROUND(MAX(l.l_extendedprice), 2) AS hi
    FROM lineitem l JOIN cuts c ON l.l_returnflag = c.l_returnflag
    GROUP BY 1, 2
    """,
)
def window_percentile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The 100 TB replacement for window_ntile_deciles: equi-depth-up-to-ties
    # deciles via exact percentile cutpoints — one combine-friendly aggregate
    # + a broadcast map-side fold instead of NTILE's per-group global sort.
    # Same per-bin envelope output shape as the NTILE query.
    from ..operators.relational import ensure_parallelism, percentile_bins

    # single-row-group input: spread the scan so the percentile partials and
    # the per-row cutpoint fold use every core (no-op on partitioned inputs)
    binned = percentile_bins(
        ensure_parallelism(
            load(spark, sf_dir, "lineitem").select(
                "l_returnflag", "l_extendedprice"
            )
        ),
        ["l_returnflag"],
        "l_extendedprice",
        10,
    )
    return binned.groupBy("l_returnflag", "bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("l_extendedprice"), 2).alias("lo"),
        F.round(F.max("l_extendedprice"), 2).alias("hi"),
    )


@register(
    "layout_column_histograms",
    """
    WITH st AS (
      SELECT MIN(CAST(o_totalprice AS DOUBLE)) AS mn1,
             MAX(CAST(o_totalprice AS DOUBLE)) AS mx1,
             MIN(CAST(o_custkey AS DOUBLE)) AS mn2,
             MAX(CAST(o_custkey AS DOUBLE)) AS mx2
      FROM orders
    ),
    e AS (
      SELECT 'o_totalprice' AS "column",
             CASE WHEN mx1 = mn1 THEN 0
                  ELSE LEAST(CAST(floor((CAST(o_totalprice AS DOUBLE) - mn1)
                                        * 10 / (mx1 - mn1)) AS INT), 9) END
               AS bin,
             mn1 AS mn, mx1 AS mx
      FROM orders CROSS JOIN st WHERE o_totalprice IS NOT NULL
      UNION ALL
      SELECT 'o_custkey',
             CASE WHEN mx2 = mn2 THEN 0
                  ELSE LEAST(CAST(floor((CAST(o_custkey AS DOUBLE) - mn2)
                                        * 10 / (mx2 - mn2)) AS INT), 9) END,
             mn2, mx2
      FROM orders CROSS JOIN st WHERE o_custkey IS NOT NULL
    )
    SELECT "column", bin,
           ROUND(mn + bin * ((mx - mn) / 10), 6) AS lo,
           ROUND(mn + (bin + 1) * ((mx - mn) / 10), 6) AS hi,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM e GROUP BY 1, 2, mn, mx
    """,
)
def layout_column_histograms(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Equi-width distribution profile per column in one Expand pass —
    # the histogram companion of layout_column_stats: where the mass
    # sits, which predicate ranges are selective.
    from ..operators.layout import column_histograms

    return column_histograms(
        load(spark, sf_dir, "orders"), ["o_totalprice", "o_custkey"], bins=10
    )


# --- Bucketed co-located join ------------------------------------------------
# Process-scoped memo, same contract as plans/llm.py's _pq_index: the
# first call per (session, sf_dir) pays the one-time bucketed ingest
# (the amortized shuffle), later calls join shuffle-free through the
# session catalog.  Results are plain join output either way, so the
# oracle is the ordinary SQL join — the bucketing is a physical
# property, pinned by test_physical_layout's no-Exchange assertion.
# The tables' file-set signatures are in the key (same pattern as
# plans/corpus.py's _BM25_INDEX_CACHE): a regenerated dataset under the
# same sf_dir rebuilds the buckets.
_BUCKETED_READY: set[tuple[int, str, tuple]] = set()


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    import re
    import tempfile

    from ..sources.files import write_bucketed_table
    from ..sources.tables import tables_signature

    tag = re.sub(r"[^a-z0-9]+", "_", sf_dir.lower()).strip("_")
    ot, ct = f"bkt_orders_{tag}", f"bkt_customer_{tag}"
    key = (id(spark), sf_dir, tables_signature(sf_dir, ("orders", "customer")))
    if key not in _BUCKETED_READY or not spark.catalog.tableExists(ot):
        _BUCKETED_READY.difference_update(
            {k for k in _BUCKETED_READY if k[:2] == (id(spark), sf_dir)}
        )
        base = tempfile.mkdtemp(prefix="spark_graft_bkt_")
        write_bucketed_table(
            load(spark, sf_dir, "orders").select(
                "o_orderkey", "o_custkey", "o_totalprice"
            ),
            ot,
            "o_custkey",
            n_buckets=8,
            sort_col="o_custkey",
            path=f"{base}/orders",
        )
        write_bucketed_table(
            load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
            ct,
            "c_custkey",
            n_buckets=8,
            sort_col="c_custkey",
            path=f"{base}/customer",
        )
        _BUCKETED_READY.add(key)
    return ot, ct


@register(
    "layout_bucketed_join",
    """
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def layout_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fact⋈dim equi-join served from co-bucketed tables: the ingest
    # already hash-routed both sides on the customer key, so the join
    # runs per-bucket with no Exchange on either side (the dominant
    # recurring shuffle of a 100 TB pipeline, paid once at write time).
    # Catalog read path (spark.table) is load-bearing: a plain path read
    # loses the bucket spec and re-shuffles.
    ot, ct = _bucketed_tables(spark, sf_dir)
    joined = spark.table(ot).join(
        spark.table(ct), on=F.col("o_custkey") == F.col("c_custkey")
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


_CORR_PAIRS = [
    ("l_quantity", "l_extendedprice"),
    ("l_quantity", "l_discount"),
    ("l_quantity", "l_tax"),
    ("l_extendedprice", "l_discount"),
    ("l_extendedprice", "l_tax"),
    ("l_discount", "l_tax"),
]
def _corr_pair_sql(a: str, b: str) -> str:
    # Exact integer-moment Pearson r over per-row cent-quantized values —
    # r11 flake-audit fix: builtin corr()'s running-mean co-moments
    # accumulate in engine/partition-specific order, so the 6-dp round
    # could flip the hash (llm_heaps_law class).  floor(v*100+0.5) is an
    # identical fixed double op in both engines; every moment after it is
    # an exact HUGEINT sum (order-proof) and r is one final fixed-order
    # double expression (sqrt is correctly rounded per IEEE-754).
    return f"""
    SELECT '{a}' AS col_a, '{b}' AS col_b,
           CASE WHEN dx > 0 AND dy > 0 THEN
             ROUND(CAST(num AS DOUBLE)
                   / (sqrt(CAST(dx AS DOUBLE)) * sqrt(CAST(dy AS DOUBLE))), 6)
           END AS corr
    FROM (
      SELECT n * sxy - sx * sy AS num,
             n * sxx - sx * sx AS dx, n * syy - sy * sy AS dy
      FROM (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(COALESCE(SUM(x), 0) AS HUGEINT) AS sx,
               CAST(COALESCE(SUM(y), 0) AS HUGEINT) AS sy,
               CAST(COALESCE(SUM(x * x), 0) AS HUGEINT) AS sxx,
               CAST(COALESCE(SUM(y * y), 0) AS HUGEINT) AS syy,
               CAST(COALESCE(SUM(x * y), 0) AS HUGEINT) AS sxy
        FROM (
          SELECT CAST(floor({a} * 100 + 0.5) AS BIGINT) AS x,
                 CAST(floor({b} * 100 + 0.5) AS BIGINT) AS y
          FROM lineitem WHERE {a} IS NOT NULL AND {b} IS NOT NULL
        )
      )
    )"""


_CORR_SQL = "\nUNION ALL\n".join(_corr_pair_sql(a, b) for a, b in _CORR_PAIRS)


@register("diag_correlation_matrix", _CORR_SQL)
def diag_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pairwise Pearson correlation of the lineitem measures in ONE scan:
    # the moments are a combinable aggregate, so all 6 pairs reduce
    # map-side and only 6 moment tuples cross the shuffle -- the
    # column-relationship companion of layout_column_stats.  The measures
    # are fixed-point (cents / integral quantities), so quantize_scale=100
    # switches the operator to its exact-integer-moment path (see
    # correlation_matrix docstring): accumulation-order-proof vs the
    # builtin corr's running-mean updates.
    from ..operators.layout import correlation_matrix

    return correlation_matrix(
        load(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        quantize_scale=100,
    )


@register(
    "agg_weighted_percentiles",
    # Type-1 lower weighted quantile: smallest value whose cumulative
    # weight reaches q * total.  Quantity weights are integral so the
    # running sums are exact; tie order among equal values cannot change
    # the selected cut.
    """
    WITH c AS (
      SELECT l_returnflag, l_extendedprice AS v,
             SUM(l_quantity) OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             SUM(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
      FROM lineitem
    ), w AS (
      SELECT l_returnflag,
             MIN(CASE WHEN cw >= 0.25 * tw THEN v END) AS q25,
             MIN(CASE WHEN cw >= 0.5 * tw THEN v END) AS q50,
             MIN(CASE WHEN cw >= 0.75 * tw THEN v END) AS q75,
             MIN(CASE WHEN cw >= 0.9 * tw THEN v END) AS q90
      FROM c GROUP BY l_returnflag
    )
    SELECT l_returnflag, CAST(0.25 AS DOUBLE) AS q, ROUND(q25, 6) AS wq_value FROM w
    UNION ALL
    SELECT l_returnflag, CAST(0.5 AS DOUBLE) AS q, ROUND(q50, 6) AS wq_value FROM w
    UNION ALL
    SELECT l_returnflag, CAST(0.75 AS DOUBLE) AS q, ROUND(q75, 6) AS wq_value FROM w
    UNION ALL
    SELECT l_returnflag, CAST(0.9 AS DOUBLE) AS q, ROUND(q90, 6) AS wq_value FROM w
    """,
)
def agg_weighted_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Quantity-weighted price percentiles per return flag: the exact
    # weighted quantile no percentile builtin covers.  One ordered window
    # per group feeds every requested q via conditional MINs in a single
    # aggregate -- adding quantiles costs nothing.
    from ..operators.relational import weighted_quantiles

    return weighted_quantiles(
        load(spark, sf_dir, "lineitem"),
        ["l_returnflag"],
        F.col("l_extendedprice"),
        F.col("l_quantity"),
        [0.25, 0.5, 0.75, 0.9],
    )


@register(
    "agg_gini_concentration",
    # Integer-cent totals -> exact long rank-weighted sums; tie order
    # among equal totals cannot change sum(i * x).
    """
    WITH pk AS (
      SELECT o_custkey,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ), r AS (
      SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i FROM pk
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           ROUND(CAST(SUM(cents) AS DOUBLE) / 100, 6) AS total,
           ROUND(2.0 * CAST(SUM(i * cents) AS DOUBLE)
                     / CAST(COUNT(*) * SUM(cents) AS DOUBLE)
                 - CAST(COUNT(*) + 1 AS DOUBLE) / COUNT(*), 6) AS gini
    FROM r
    """,
)
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gini coefficient of revenue concentration across customers -- the
    # inequality audit behind per-host caps and mixture reweighting.  Raw
    # orders reduce to per-customer totals map-side; the rank window runs
    # on the key-sized table.
    from ..operators.quality import gini_concentration

    return gini_concentration(
        load(spark, sf_dir, "orders"), "o_custkey", F.col("o_totalprice")
    )


@register(
    "join_top_supplier_share",
    # Per part: the argmax supplier and its quantity share; per supplier:
    # how many parts it leads and its mean leading share.
    """
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             CAST(SUM(l_quantity) AS DOUBLE) AS qty
      FROM lineitem GROUP BY 1, 2
    ), pt AS (
      SELECT l_partkey, SUM(qty) AS total FROM ps GROUP BY 1
    ), top AS (
      SELECT l_partkey, l_suppkey, qty / total AS share
      FROM (
        SELECT ps.*, pt.total,
               ROW_NUMBER() OVER (PARTITION BY ps.l_partkey
                                  ORDER BY ps.qty DESC, ps.l_suppkey ASC) AS rn
        FROM ps JOIN pt ON ps.l_partkey = pt.l_partkey
      ) WHERE rn = 1
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(COUNT(*) AS BIGINT) AS n_top_parts,
           ROUND(CAST(SUM(CAST(floor(share * 1e12 + 0.5) AS BIGINT)) AS DOUBLE)
                 / COUNT(*) / 1e12, 6) AS avg_top_share
    FROM top t JOIN supplier s ON t.l_suppkey = s.s_suppkey
    GROUP BY 1, 2
    """,
)
def join_top_supplier_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Single-source concentration audit (the TPC-H Q20 family question
    # asked scale-robustly): per part the DOMINANT supplier by shipped
    # quantity and its share, rolled up per supplier.  lineitem reduces
    # to (part, supplier) totals map-side; the argmax window runs on that
    # small table; the supplier dimension joins broadcast.
    from ..operators.relational import argmax_per_group

    li = load(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").cast("double").alias("qty")
    )
    # per-part total as a WINDOW sharing the argmax window's partitioning
    # (one exchange on l_partkey serves both), not a groupBy + join back —
    # the join form re-evaluated the ps subtree on both sides (guide §2.4:
    # same-keyed window needs no second shuffle; identical totals)
    scored = ps.withColumn(
        "total", F.sum("qty").over(Window.partitionBy("l_partkey"))
    )
    top = argmax_per_group(
        scored, ["l_partkey"], F.col("qty"), tiebreak=["l_suppkey"]
    ).withColumn("share", F.col("qty") / F.col("total"))
    sup = load(spark, sf_dir, "supplier")
    return (
        top.join(F.broadcast(sup), top.l_suppkey == sup.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_top_parts"),
            F.round(
                F.sum(F.floor(F.col("share") * 1e12 + F.lit(0.5)).cast("long"))
                .cast("double")
                / F.count(F.lit(1))
                / 1e12,
                6,
            ).alias("avg_top_share"),
        )
    )


@register(
    "agg_mode_per_group",
    """
    SELECT l_returnflag, l_quantity AS mode_quantity,
           CAST(n AS BIGINT) AS n
    FROM (
      SELECT l_returnflag, l_quantity, COUNT(*) AS n,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY COUNT(*) DESC, l_quantity ASC) AS rn
      FROM lineitem GROUP BY 1, 2
    ) WHERE rn = 1
    """,
)
def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Statistical mode per group with a deterministic tie (smallest value
    # wins): one map-side-combined (group, value) count, then an argmax
    # on the value-vocabulary-sized table -- never a sort of raw rows.
    from ..operators.relational import argmax_per_group

    counts = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_quantity")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return argmax_per_group(
        counts, ["l_returnflag"], F.col("n"), tiebreak=["l_quantity"]
    ).select("l_returnflag", F.col("l_quantity").alias("mode_quantity"), "n")


@register(
    "agg_distribution_shape",
    # Skewness/kurtosis from EXACT integer-cent raw-moment sums -- no
    # dependence on either engine's streaming moment formulas (Spark and
    # DuckDB disagree on sample-vs-population corrections); central
    # moments form from the raw sums as exact-ratio doubles.
    """
    WITH m AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(c) AS DOUBLE) AS s1,
             CAST(SUM(c * c) AS DOUBLE) AS s2,
             CAST(SUM(c * c * c) AS DOUBLE) AS s3,
             CAST(SUM(c * c * c * c) AS DOUBLE) AS s4
      FROM (SELECT l_returnflag,
                   CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                        AS HUGEINT) AS c
            FROM lineitem)
      GROUP BY 1
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
           ROUND((s1 / n) / 100, 6) AS mean,
           ROUND(((s3 / n) - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n))
                 / NULLIF(power((s2 / n) - (s1 / n) * (s1 / n), 1.5), 0), 6) AS skewness,
           ROUND(((s4 / n) - 4 * (s1 / n) * (s3 / n)
                  + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                  - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
                 / NULLIF(power((s2 / n) - (s1 / n) * (s1 / n), 2), 0) - 3, 6) AS excess_kurtosis
    FROM m
    """,
)
def agg_distribution_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Population skewness / excess kurtosis per group, formed from exact
    # integer-cent raw moments (one map-side-combined aggregate; the
    # built-in skewness/kurtosis aggregates differ between engines on
    # sample corrections and accumulation order -- raw integer sums
    # don't).  Sums fit in DOUBLE exactly up to 2^53: fine at catalog
    # scales; at warehouse scale swap the cents quantization for DECIMAL
    # sums.
    # exact decimal(38) sums: c^4 overflows BIGINT (~1e28 cents^4), and
    # double-summed per-row terms would be accumulation-order-dependent;
    # the exact integer sum casts to the identical double in any engine
    c = (
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .cast("decimal(38,0)")
    )
    base = load(spark, sf_dir, "lineitem").select("l_returnflag", c.alias("c"))
    c2 = (F.col("c") * F.col("c")).cast("decimal(38,0)")
    base = base.withColumn("c2", c2)
    base = base.withColumn("c3", (F.col("c2") * F.col("c")).cast("decimal(38,0)"))
    base = base.withColumn("c4", (F.col("c3") * F.col("c")).cast("decimal(38,0)"))
    m = base.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("c").cast("double").alias("s1"),
        F.sum("c2").cast("double").alias("s2"),
        F.sum("c3").cast("double").alias("s3"),
        F.sum("c4").cast("double").alias("s4"),
    )
    m1 = F.col("s1") / F.col("n")
    m2 = F.col("s2") / F.col("n")
    m3 = F.col("s3") / F.col("n")
    m4 = F.col("s4") / F.col("n")
    var = m2 - m1 * m1
    return m.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_rows"),
        F.round(m1 / 100, 6).alias("mean"),
        # NULLIF guards: a degenerate group (one row / all-equal values)
        # has var = 0 and ANSI division would throw; both engines emit NULL
        F.round(
            (m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1)
            / F.nullif(F.pow(var, 1.5), F.lit(0.0)),
            6,
        ).alias("skewness"),
        F.round(
            (m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2 - 3 * m1 * m1 * m1 * m1)
            / F.nullif(F.pow(var, 2), F.lit(0.0))
            - 3,
            6,
        ).alias("excess_kurtosis"),
    )


# Poisson(1) CDF thresholds scaled to the 60-bit md5 space: T_k =
# floor(P(X<=k) * 2^60).  A replicate weight is the count of thresholds at
# or below the row's 60-bit hash — the integer-exact inverse-CDF draw, so
# Spark and DuckDB deal IDENTICAL bootstrap weights from identical md5
# literals (same cross-engine-determinism trick as the md5 HLL sketch).
_POISSON1_T60 = [
    424136118829305344,
    848272237658610688,
    1060340297073263360,
    1131029650211480960,
    1148701988496035328,
    1152236456152946176,
    1152825534095764608,
]
_BOOT_B = 100


@register(
    "agg_bootstrap_ci",
    # Poisson bootstrap 95% CI for mean order value per status — the
    # resampling-free bootstrap for data too large to resample: each row
    # draws its OWN per-replicate Poisson(1) weight from a content hash
    # (map-side, no resampling shuffle; the only exchange carries the
    # (status, replicate) partial sums — B multiplies map work, never
    # shuffle width).  Everything is integer-exact cross-engine: weights
    # from 60-bit md5 vs integer CDF thresholds, replicate means as
    # half-up integer-cent divisions (exact IEEE division of exact <2^53
    # integers), CI bounds as order statistics of those integer means
    # (outer ranks 3/98 of B=100 — conservative 95%).
    f"""
    WITH rep AS (
      SELECT o_orderstatus, o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS c, b
      FROM orders CROSS JOIN (SELECT unnest(generate_series(0, {_BOOT_B - 1})) AS b)
    ),
    w AS (
      SELECT o_orderstatus, b, c,
             ({" + ".join(
                 f"CASE WHEN CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)"
                 f" || ':' || CAST(b AS VARCHAR)), 1, 15) AS BIGINT) >= {t}"
                 f" THEN 1 ELSE 0 END"
                 for t in _POISSON1_T60)}) AS w
      FROM rep
    ),
    m AS (
      SELECT o_orderstatus, b, SUM(w * c) AS ws, SUM(w) AS wn
      FROM w GROUP BY 1, 2 HAVING SUM(w) > 0
    ),
    mc AS (
      SELECT o_orderstatus, b,
             CAST(floor((2 * ws + wn) / (2 * wn)) AS BIGINT) AS mean_cents
      FROM m
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                   ORDER BY mean_cents, b) AS rn
      FROM mc
    ),
    ci AS (
      SELECT o_orderstatus,
             MIN(CASE WHEN rn = 3 THEN mean_cents END) AS lo,
             MIN(CASE WHEN rn = {_BOOT_B - 2} THEN mean_cents END) AS hi
      FROM r GROUP BY 1
    ),
    pt AS (
      SELECT o_orderstatus,
             CAST(floor((2 * SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                         + COUNT(*)) / (2 * COUNT(*))) AS BIGINT) AS est
      FROM orders GROUP BY 1
    )
    SELECT pt.o_orderstatus, ROUND(est / 100.0, 2) AS mean_value,
           ROUND(lo / 100.0, 2) AS ci_lo, ROUND(hi / 100.0, 2) AS ci_hi
    FROM pt JOIN ci USING (o_orderstatus)
    """,
)
def agg_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap (Chamandy et al., 'Estimating Uncertainty for
    Massive Data Streams', Google 2012): at 100 TB you cannot draw B
    resamples, but each row can draw B independent Poisson(1) weights from
    a hash of (row key, replicate) — one map-side pass, replicate sums
    shuffle as (group, b) partials.  Integer cents keep every replicate
    mean exact in both engines (sums stay far below 2^53), so even the
    CI order statistics are bit-identical, not 'close'."""
    from ..operators.relational import ensure_parallelism

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    # the B-way fan-out + per-replicate md5 is the compute-heavy stage: a
    # single-file input must not run it on one core (no-op at real scale)
    rep = ensure_parallelism(o).select(
        "o_orderstatus",
        "o_orderkey",
        cents.alias("_c"),
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    )
    hv = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":", F.col("o_orderkey").cast("string"), F.col("b").cast("string")
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    w = sum(
        (F.when(hv >= F.lit(t), 1).otherwise(0) for t in _POISSON1_T60),
        F.lit(0),
    )
    m = (
        rep.withColumn("_w", w)
        .groupBy("o_orderstatus", "b")
        .agg(
            F.sum(F.col("_w") * F.col("_c")).alias("_ws"),
            F.sum("_w").alias("_wn"),
        )
        .filter(F.col("_wn") > 0)
    )
    mc = m.select(
        "o_orderstatus",
        "b",
        F.floor(
            (2 * F.col("_ws") + F.col("_wn")) / (2 * F.col("_wn"))
        ).cast("long").alias("mean_cents"),
    )
    rn = F.row_number().over(
        Window.partitionBy("o_orderstatus").orderBy("mean_cents", "b")
    )
    ci = (
        mc.withColumn("_rn", rn)
        .groupBy("o_orderstatus")
        .agg(
            F.min(F.when(F.col("_rn") == 3, F.col("mean_cents"))).alias("_lo"),
            F.min(
                F.when(F.col("_rn") == _BOOT_B - 2, F.col("mean_cents"))
            ).alias("_hi"),
        )
    )
    pt = o.groupBy("o_orderstatus").agg(
        F.floor(
            (2 * F.sum(cents) + F.count(F.lit(1))) / (2 * F.count(F.lit(1)))
        ).cast("long").alias("_est")
    )
    return pt.join(ci, "o_orderstatus").select(
        "o_orderstatus",
        F.round(F.col("_est") / 100.0, 2).alias("mean_value"),
        F.round(F.col("_lo") / 100.0, 2).alias("ci_lo"),
        F.round(F.col("_hi") / 100.0, 2).alias("ci_hi"),
    )

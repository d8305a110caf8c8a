"""Core relational queries (SURVEY.md §2 families P/J/A/W/O/U over the test
star schema).  Each query is the Spark-first expression of a reference
operator; the paired DuckDB SQL is the correctness oracle.

Scale notes apply throughout: dimension joins broadcast, fact-fact joins
shuffle on their keys with AQE handling skew, aggregates get map-side partial
combine from Catalyst, and every filter/projection is expressed declaratively
so it pushes into the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import shared
from ..functions.hashing import deterministic_split_flag, md5_hex
from ..operators.relational import dedup_keep_first, melt, top_k_per_group
from . import load, register

# --------------------------------------------------------------------------
# Aggregations (A4/A5/A6/A9) — TPC-H Q1 shape: the demo1 Superset slices are
# exactly "SUM/AVG/COUNT by small group key" (data/superset/demo1.json
# slices 5-9, 16-20).
# --------------------------------------------------------------------------


@register(
    "agg_pricing_summary",
    # r11 flake-audit fix: every measure quantizes per-row to a fixed
    # integer grain (cents for the cent-exact columns — zero error — and
    # micro-units for the discounted-price product) so the group sums are
    # EXACT integer folds (order-proof) and each output is one final
    # fixed-order double expression; raw SUM/AVG over doubles accumulate
    # in engine/partition-specific order (llm_heaps_law flake class).
    """
    WITH q AS (
      SELECT l_returnflag, l_linestatus,
             CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS qty_c,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_c,
             CAST(floor(l_extendedprice * (1 - l_discount) * 1e6 + 0.5) AS BIGINT)
               AS disc_u
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    )
    SELECT l_returnflag, l_linestatus,
           ROUND(CAST(SUM(qty_c) AS HUGEINT) / 100.0, 2) AS sum_qty,
           ROUND(CAST(SUM(price_c) AS HUGEINT) / 100.0, 2) AS sum_base_price,
           ROUND(CAST(SUM(disc_u) AS HUGEINT) / 1e6, 2) AS sum_disc_price,
           ROUND(CAST(SUM(qty_c) AS DOUBLE) / COUNT(*) / 100, 6) AS avg_qty,
           ROUND(CAST(SUM(price_c) AS DOUBLE) / COUNT(*) / 100, 6) AS avg_price,
           COUNT(*) AS count_order
    FROM q
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    qty_c = F.floor(F.col("l_quantity") * 100 + F.lit(0.5)).cast("long")
    price_c = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    disc_u = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1e6 + F.lit(0.5)
    ).cast("long")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty_c.cast(dec)).alias("_qc"),
            F.sum(price_c.cast(dec)).alias("_pc"),
            F.sum(disc_u.cast(dec)).alias("_du"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            F.round(F.col("_qc") / 100.0, 2).alias("sum_qty"),
            F.round(F.col("_pc") / 100.0, 2).alias("sum_base_price"),
            F.round(F.col("_du").cast("double") / 1e6, 2).alias("sum_disc_price"),
            F.round(
                F.col("_qc").cast("double") / F.col("count_order") / 100, 6
            ).alias("avg_qty"),
            F.round(
                F.col("_pc").cast("double") / F.col("count_order") / 100, 6
            ).alias("avg_price"),
            "count_order",
        )
    )


@register(
    "agg_count_by_group",
    "SELECT o_orderpriority, COUNT(*) AS n_orders FROM orders GROUP BY o_orderpriority",
)
def agg_count_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A4 — Superset pie/dist_bar count-by-dimension (demo1.json slices 5, 6).
    return load(spark, sf_dir, "orders").groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


@register(
    "agg_sum_avg_by_group",
    # r11 flake-audit fix: acctbal is cent-exact, so per-row integer-cent
    # quantize + exact BIGINT sum is lossless and order-proof (the 6-dp
    # AVG was a reachable round boundary over a double accumulation).
    """
    SELECT c_mktsegment,
           ROUND(CAST(SUM(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
                 AS HUGEINT) / 100.0, 2) AS total_balance,
           ROUND(CAST(SUM(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
                 AS DOUBLE) / COUNT(*) / 100, 6) AS avg_balance,
           COUNT(*) AS n_customers
    FROM customer GROUP BY c_mktsegment
    """,
)
def agg_sum_avg_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A5/A6 — SUM(coverage)/AVG(reduction_ambition) by company analogue.
    cents = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long")
    return (
        load(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.sum(cents.cast("decimal(38,0)")).alias("_c"),
            F.count(F.lit(1)).alias("n_customers"),
        )
        .select(
            "c_mktsegment",
            F.round(F.col("_c") / 100.0, 2).alias("total_balance"),
            F.round(F.col("_c").cast("double") / F.col("n_customers") / 100, 6).alias(
                "avg_balance"
            ),
            "n_customers",
        )
    )


@register(
    "agg_global_sum",
    # r11 flake-audit: per-row micro-unit quantize -> exact integer fold
    # (2-dp boundary was low-risk but the fix is free and order-proof).
    """
    SELECT ROUND(CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 1e6 + 0.5)
                 AS BIGINT)) AS HUGEINT) / 1e6, 2) AS total_revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    """,
)
def agg_global_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A9 — global total (time-anlysis.ipynb cell 30 analogue).
    rev_u = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1e6 + F.lit(0.5)
    ).cast("long")
    return (
        load(spark, sf_dir, "lineitem")
        .agg(
            F.sum(rev_u.cast("decimal(38,0)")).alias("_u"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.round(F.col("_u").cast("double") / 1e6, 2).alias("total_revenue"),
            "n_rows",
        )
    )


@register(
    "agg_summary_stats",
    # r11 flake-audit fix: STDDEV_SAMP's Welford accumulation is
    # partition-order-dependent in its low bits (llm_heaps_law flake
    # class at a 6-dp round).  Quantity is integral, so integer-cent
    # moments (n, Σx, Σx²) are EXACT and the sample stddev is one final
    # fixed-order double expression — sqrt is correctly rounded per
    # IEEE-754, so the whole chain is deterministic.
    """
    WITH q AS (
      SELECT CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS x
      FROM lineitem WHERE l_quantity IS NOT NULL
    ),
    m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS s, CAST(SUM(x * x) AS HUGEINT) AS ss
      FROM q
    )
    SELECT CAST(n AS BIGINT) AS cnt,
           ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100, 6) AS mean_qty,
           CASE WHEN n > 1 THEN
             ROUND(sqrt(CAST(n * ss - s * s AS DOUBLE)
                        / CAST(n * (n - 1) AS DOUBLE)) / 100, 6)
           END AS std_qty,
           (SELECT ROUND(MIN(l_quantity), 2) FROM lineitem) AS min_qty,
           (SELECT ROUND(MAX(l_quantity), 2) FROM lineitem) AS max_qty
    FROM m
    """,
)
def agg_summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A7 — describe()-style summary (time-anlysis.ipynb cells 8-27).
    dec = "decimal(38,0)"
    x = F.when(
        F.col("l_quantity").isNotNull(),
        F.floor(F.col("l_quantity") * 100 + F.lit(0.5)).cast("long"),
    )
    m = load(spark, sf_dir, "lineitem").agg(
        F.count(x).cast("long").alias("cnt"),
        F.sum(x.cast(dec)).alias("s"),
        F.sum((x * x).cast(dec)).alias("ss"),
        F.round(F.min("l_quantity"), 2).alias("min_qty"),
        F.round(F.max("l_quantity"), 2).alias("max_qty"),
    )
    n = F.col("cnt").cast(dec)
    return m.select(
        "cnt",
        F.round(F.col("s").cast("double") / F.col("cnt").cast("double") / 100, 6).alias(
            "mean_qty"
        ),
        F.when(
            F.col("cnt") > 1,
            F.round(
                F.sqrt(
                    (n * F.col("ss") - F.col("s") * F.col("s")).cast("double")
                    / (n * (n - F.lit(1))).cast("double")
                )
                / 100,
                6,
            ),
        ).alias("std_qty"),
        "min_qty",
        "max_qty",
    )


@register(
    "agg_distinct_count",
    """
    SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_distinct_customers
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A8 — distinct/unique per group.
    return load(spark, sf_dir, "orders").groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_distinct_customers")
    )


@register(
    "agg_having_groups",
    """
    SELECT o_custkey, COUNT(*) AS n_orders
    FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 15
    """,
)
def agg_having_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A3 — group filter (nq_curator.py:153-157 both-labels-present HAVING).
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 15)
    )


# --------------------------------------------------------------------------
# Projections & filters (P1/P2/P4/P6)
# --------------------------------------------------------------------------


@register(
    "proj_select_columns",
    "SELECT p_partkey, p_brand, p_retailprice FROM part",
)
def proj_select_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P1 — column pruning reaches the parquet scan (ReadSchema shows 3 cols).
    return load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_retailprice")


@register(
    "filter_conjunctive",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount
    FROM lineitem
    WHERE l_quantity > 45 AND l_discount BETWEEN 0.02 AND 0.08
      AND l_returnflag = 'R'
    """,
)
def filter_conjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P2 — conjunctive predicate (text_curator.py:129-133 mask chain).
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") > 45)
        & F.col("l_discount").between(0.02, 0.08)
        & (F.col("l_returnflag") == "R")
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")


@register(
    "filter_isin",
    """
    SELECT o_orderkey, o_orderpriority FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    """,
)
def filter_isin(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P4 — isin (qa_utils.py:72-73).
    return (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select("o_orderkey", "o_orderpriority")
    )


@register(
    "filter_anti_isin",
    """
    SELECT o_orderkey, o_orderpriority FROM orders
    WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
    """,
)
def filter_anti_isin(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P4 — anti-isin exclusion (kpi_inference_curator.py:617-620).
    return (
        load(spark, sf_dir, "orders")
        .filter(~F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select("o_orderkey", "o_orderpriority")
    )


@register(
    "filter_dropna",
    """
    SELECT event_id, user_id, value, props FROM events
    WHERE value IS NOT NULL AND props IS NOT NULL
    """,
)
def filter_dropna(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P3 — na.drop on a subset (qa_utils.py:62-69, table_curator.py:229-240).
    return (
        load(spark, sf_dir, "events")
        .na.drop("any", subset=["value", "props"])
        .select("event_id", "user_id", "value", "props")
    )


# --------------------------------------------------------------------------
# Dedup (P8/A1)
# --------------------------------------------------------------------------


@register(
    "dedup_distinct_rows",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def dedup_distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P8 — whole-row drop_duplicates (farm_trainer.py:73).
    return load(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


@register(
    "dedup_keep_first_per_key",
    """
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
)
def dedup_keep_first_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P8/A1 — subset dedup with a deterministic winner (groupby().first()).
    df = dedup_keep_first(
        load(spark, sf_dir, "orders"), subset=["o_custkey"], order_by=["o_orderdate", "o_orderkey"]
    )
    return df.select("o_custkey", "o_orderkey", "o_totalprice")


# --------------------------------------------------------------------------
# Joins (J1/J2/J3/J8/J9)
# --------------------------------------------------------------------------


@register(
    "join_left_orders_customer",
    """
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def join_left_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    # J1 — the demo1 CTAS left join (demo1-join-tables.ipynb cells 7-9); the
    # duplicate-key-column surgery disappears with join(on=key).
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "left").select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@register(
    "join_broadcast_dims",
    """
    SELECT c.c_custkey, n.n_name, r.r_name
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def join_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    # J2 — the KPI-dictionary lookup join (kpi_mapping.py:4-31): explicit
    # broadcast of the dimension side; plan must show BroadcastHashJoin.
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "n_name", "r_name")
    )


@register(
    "join_semi",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderstatus = 'O')
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    # J9 — left semi (pdf_text_extractor.py:166-187 annotated-PDFs-only).
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "join_anti",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderpriority = '1-URGENT')
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    # J8 — anti-join negatives (kpi_inference_curator.py:594-643).  The
    # anti side is the URGENT-priority order subset: in this generator's
    # tables every customer has SOME order, so the unfiltered anti-join
    # returned 0 rows at every driver scale — a vacuous 0=0 oracle check.
    # Against the filtered subset the result is non-empty at all scales
    # (203 rows at sf0.01), so the check pins real values.
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "join_cross_small",
    "SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n",
)
def join_cross_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    # J3 — cartesian fan-out (relevance_infer.py:196-231 questions ×
    # paragraphs); the small side is broadcast so the "cross" is a
    # BroadcastNestedLoopJoin, never a shuffled CartesianProduct.
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    return r.crossJoin(F.broadcast(n)).select("r_name", "n_name")


@register(
    "join_multiway_revenue_by_nation",
    """
    SELECT n.n_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def join_multiway_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q5 shape — the flagship multi-join: fact-fact joins shuffle on
    # their keys, all dimensions broadcast, aggregate gets partial combine.
    # The orders⋈lineitem join carries an explicit merge hint: the local
    # 32 MB auto-broadcast threshold would otherwise broadcast the 11 MB
    # lineitem FACT table — fast-looking single-node shape that serializes
    # the probe onto one task and contradicts the shape that survives
    # 100 TB (measured at sf0.1: broadcast 1.95 s, sort-merge 1.22 s —
    # the shuffle's parallelism beats the serial broadcast probe even
    # locally).
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").hint("merge")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
        )
    )


@register(
    "join_top_unshipped_orders",
    """
    SELECT o.o_orderkey, o.o_orderdate,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def join_top_unshipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q3 shape + O1 LIMIT with deterministic tiebreak.  Unlike
    # join_multiway_revenue_by_nation, the lineitem side here is
    # pre-filtered to late shipments, so Catalyst's size-based broadcast
    # of the FILTERED side is the right call (measured: forcing merge
    # regressed 0.86 → 1.18 s); at real scale the filtered side exceeds
    # the threshold and the same CBO degrades it to the shuffle join.
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


# --------------------------------------------------------------------------
# Windows (W1/W2/W3)
# --------------------------------------------------------------------------


@register(
    "window_topk_per_group",
    """
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    # W1 — top-k per group (text_kpi_infer.py:267-274, top_k=4).
    return top_k_per_group(
        load(spark, sf_dir, "orders"),
        ["o_custkey"],
        F.col("o_totalprice"),
        3,
        tiebreak=["o_orderkey"],
    ).select("o_custkey", "o_orderkey", "o_totalprice")


@register(
    "window_rank_within_group",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(RANK() OVER (PARTITION BY l_orderkey
                             ORDER BY l_extendedprice DESC) AS INT) AS price_rank
    FROM lineitem
    """,
)
def window_rank_within_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    # W2 — per-question answer ranking, kept long (text_kpi_infer.py:197-243).
    w = Window.partitionBy("l_orderkey").orderBy(F.col("l_extendedprice").desc())
    return load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", F.rank().over(w).alias("price_rank")
    )


@register(
    "window_argmax_per_group",
    """
    SELECT c_nationkey, c_custkey AS best_custkey, c_acctbal AS best_acctbal FROM (
      SELECT c_nationkey, c_custkey, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
      FROM customer
    ) WHERE rn = 1
    """,
)
def window_argmax_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    # W3 — argmax within group (table_curator.py:191).
    best = top_k_per_group(
        load(spark, sf_dir, "customer"),
        ["c_nationkey"],
        F.col("c_acctbal"),
        1,
        tiebreak=["c_custkey"],
    )
    return best.select(
        "c_nationkey",
        F.col("c_custkey").alias("best_custkey"),
        F.col("c_acctbal").alias("best_acctbal"),
    )


# --------------------------------------------------------------------------
# Set ops & reshapes (U1/U2/U3/U4/U5)
# --------------------------------------------------------------------------


@register(
    "set_union_all",
    """
    SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderpriority = '1-URGENT'
    UNION ALL
    SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderpriority = '5-LOW'
    """,
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    # U1 — unionByName concat (text_curator.py:76-81).
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    return o.filter(F.col("o_orderpriority") == "1-URGENT").unionByName(
        o.filter(F.col("o_orderpriority") == "5-LOW")
    )


@register(
    "set_except",
    """
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    # U2 — set difference (pdf_text_extractor.py:187).
    c = load(spark, sf_dir, "customer").select("c_custkey")
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return c.exceptAll(o.distinct()).distinct()


@register(
    "set_intersect",
    """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    # U3 — set intersection (relevance_infer.py:40-46 sector ∩ config).
    o = load(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderstatus") == "F")
        .select("o_custkey")
        .intersect(o.filter(F.col("o_orderstatus") == "O").select("o_custkey"))
    )


@register(
    "reshape_melt",
    """
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS metric_value FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS metric_value FROM part
    """,
)
def reshape_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    # U4 — melt wide→long via stack (text_kpi_infer.py:235-243).
    p = load(spark, sf_dir, "part").withColumn("p_size", F.col("p_size").cast("double"))
    return melt(
        p, id_vars=["p_partkey"], value_vars=["p_size", "p_retailprice"],
        var_name="metric", value_name="metric_value",
    )


@register(
    "reshape_struct_unpack",
    """
    SELECT o_orderkey, o_totalprice AS price, o_orderpriority AS priority
    FROM orders
    """,
)
def reshape_struct_unpack(spark: SparkSession, sf_dir: str) -> DataFrame:
    # U5 — tuple column → flat columns (text_kpi_infer.py:246-249): pack a
    # struct then unpack with select("s.*").
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.struct(
            F.col("o_totalprice").alias("price"), F.col("o_orderpriority").alias("priority")
        ).alias("s"),
    )
    return o.select("o_orderkey", "s.*")


# --------------------------------------------------------------------------
# Ordering / limits / sampling (O1/O2/O3) and P10
# --------------------------------------------------------------------------


@register(
    "order_limit",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 5
    """,
)
def order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # O1/O5 — ordered LIMIT (demo1-create-tables.ipynb cells 20-21).
    return (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(5)
    )


@register(
    "sample_deterministic_shuffle",
    """
    SELECT o_orderkey, shuffle_key FROM (
      SELECT o_orderkey, md5(CAST(o_orderkey AS VARCHAR)) AS shuffle_key
      FROM orders
    ) ORDER BY shuffle_key LIMIT 100
    """,
)
def sample_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    # O2/O4 — seeded-shuffle replacement: content-hash ordering is
    # deterministic under ANY partitioning (farm_trainer.py:74 shuffle).
    return (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", md5_hex(F.col("o_orderkey")).alias("shuffle_key"))
        .orderBy("shuffle_key")
        .limit(100)
    )


@register(
    "sample_train_split",
    # 0.8 * 65536 = 52428 = 0xcccc; fixed-width lowercase hex compares
    # lexicographically in numeric order, so the oracle needs no hex→int cast.
    """
    SELECT o_orderkey FROM orders
    WHERE substr(md5('split' || CAST(o_orderkey AS VARCHAR)), 1, 4) < 'cccc'
    """,
)
def sample_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # O3 — hash-based 80/20 train split (farm_trainer.py:75-77).
    return (
        load(spark, sf_dir, "orders")
        .filter(deterministic_split_flag(F.col("o_orderkey"), 0.8, "split"))
        .select("o_orderkey")
    )


@register(
    "incremental_skip_processed",
    """
    SELECT e.event_id, e.event_type FROM events e
    WHERE NOT EXISTS (
      SELECT 1 FROM events p WHERE p.event_id = e.event_id AND p.event_id < 5000
    )
    """,
)
def incremental_skip_processed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P10 — skip-processed-files as an anti-join against the sink ledger
    # (pdf_text_extractor.py:129-139).  The "ledger" here is the already-
    # processed id range.
    from ..operators.relational import skip_processed

    e = load(spark, sf_dir, "events")
    ledger = e.filter(F.col("event_id") < 5000).select("event_id")
    return skip_processed(e, ledger, on=["event_id"]).select("event_id", "event_type")


@register(
    "incremental_apply_cdc",
    """
    WITH snap AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice, 'I' AS op,
             CAST(NULL AS TIMESTAMP) AS ts
      FROM orders
    ), b1 AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice + 1.0, 'U', o_orderdate
      FROM orders WHERE o_orderkey % 2 = 0
    ), b2 AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice + 2.0,
             CASE WHEN o_orderkey % 8 = 0 THEN 'D' ELSE 'U' END,
             o_orderdate + INTERVAL 1 DAY
      FROM orders WHERE o_orderkey % 4 = 0
    ), tagged AS (
      SELECT * FROM snap UNION ALL SELECT * FROM b1 UNION ALL SELECT * FROM b2
    ), merged AS (
      SELECT * FROM tagged
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY o_orderkey ORDER BY ts DESC NULLS LAST, op DESC) = 1
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM merged WHERE op != 'D' GROUP BY o_orderstatus
    """,
)
def incremental_apply_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Delete-aware CDC apply (the MERGE WHEN MATCHED DELETE shape): two
    # change batches — every even order re-priced (+1.00) on day 0, every
    # 4th re-priced (+2.00) or, for every 8th, DELETED on day 1 — collapse
    # against the snapshot; latest change per key wins, deleted keys
    # disappear.  +1.00/+2.00 are exact double ops (engine-portable).
    from ..operators.relational import apply_cdc

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    full = load(spark, sf_dir, "orders")
    b1 = full.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("o_totalprice") + 1.0).alias("o_totalprice"),
        F.lit("U").alias("op"),
        F.col("o_orderdate").alias("ts"),
    )
    b2 = full.filter(F.col("o_orderkey") % 4 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("o_totalprice") + 2.0).alias("o_totalprice"),
        F.when(F.col("o_orderkey") % 8 == 0, F.lit("D")).otherwise(F.lit("U")).alias("op"),
        (F.col("o_orderdate") + F.expr("INTERVAL 1 DAY")).alias("ts"),
    )
    merged = apply_cdc(o, b1.unionByName(b2), ["o_orderkey"], "ts")
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("total_cents"),
    )


@register(
    "incremental_upsert_latest",
    """
    WITH tagged AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS version, 0 AS src
      FROM orders
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_totalprice + 10.0, 2, 1
      FROM orders WHERE o_orderkey % 7 = 0
    ), merged AS (
      SELECT * FROM tagged
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY o_orderkey ORDER BY version DESC, src DESC) = 1
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM merged GROUP BY o_orderstatus
    """,
)
def incremental_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CDC latest-wins merge (lakehouse MERGE shape without a table format):
    # an update batch re-prices every 7th order (+10.00 — an exact double
    # op; a *1.1 reprice rounds differently across engines on .005
    # boundaries); highest version wins.
    from ..operators.relational import upsert_latest

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    existing = o.withColumn("version", F.lit(1))
    updates = (
        o.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 10.0)
        .withColumn("version", F.lit(2))
    )
    merged = upsert_latest(existing, updates, ["o_orderkey"], "version")
    # exact integer-cent checksum: double SUM order differs between engines
    # at the last cents on a 1e9-scale total
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("long").alias("total_cents"),
    )


@register(
    "incremental_agg_maintenance",
    """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM orders GROUP BY o_orderstatus
    """,
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Materialized-view delta merge (incremental view maintenance): the
    # pre-1997 aggregate plays the persisted MV state, the 1997+ partial
    # aggregate plays the delta batch, and merge_agg_state folds them.
    # Counts/sums are monoids, so state + partial(delta) must equal the
    # full recompute — which IS the oracle.  At 100 TB the refresh touches
    # the delta, never the base.
    from ..operators.relational import merge_agg_state

    o = load(spark, sf_dir, "orders")
    cutoff = F.lit("1997-01-01").cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("total_cents"),
        )

    state = partial(o.filter(F.col("o_orderdate") < cutoff))
    delta = partial(o.filter(F.col("o_orderdate") >= cutoff))
    return merge_agg_state(state, delta, ["o_orderstatus"], ["n_orders", "total_cents"])


@register(
    "incremental_join_maintenance",
    """
    SELECT o_custkey AS custkey, o_orderkey,
           ROUND(o_totalprice, 2) AS totalprice,
           ROUND(c_acctbal, 2) AS acctbal,
           c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Incremental JOIN-view maintenance (the Δ-rule): pre-1997 orders ⋈
    # established customers plays the persisted view; late orders and
    # newly-onboarded customers arrive as insert deltas, and the refresh
    # runs the three delta joins — never base⋈base again.  Inner join
    # distributes over union, so the maintained view must equal the full
    # recompute — which IS the oracle.
    from ..operators.relational import merge_join_state

    o = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_orderkey", "o_totalprice"
    )
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_acctbal", "c_mktsegment"
    )
    cutoff = F.lit("1997-01-01").cast("timestamp")
    od = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        "o_orderkey",
        "o_totalprice",
        "o_orderdate",
    )
    a_old = od.filter(F.col("o_orderdate") < cutoff).drop("o_orderdate")
    d_a = od.filter(F.col("o_orderdate") >= cutoff).drop("o_orderdate")
    b_old = c.filter(F.col("custkey") % 20 != 0)
    d_b = c.filter(F.col("custkey") % 20 == 0)
    m_old = a_old.join(b_old, ["custkey"])
    view = merge_join_state(m_old, a_old, b_old, d_a, d_b, ["custkey"])
    return view.select(
        "custkey",
        "o_orderkey",
        F.round("o_totalprice", 2).alias("totalprice"),
        F.round("c_acctbal", 2).alias("acctbal"),
        "c_mktsegment",
    )


@register(
    "diag_table_diff",
    """
    WITH old_t AS (
      SELECT o_orderkey, md5(concat_ws('|',
               CAST(o_custkey AS VARCHAR), o_orderstatus, o_orderpriority)) AS fp
      FROM orders
    ),
    new_src AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0 THEN '9-RERATED' ELSE o_orderpriority END
               AS o_orderpriority
      FROM orders WHERE o_orderkey % 13 != 0
      UNION ALL
      SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_orderpriority
      FROM orders WHERE o_orderkey % 11 = 0
    ),
    new_t AS (
      SELECT o_orderkey, md5(concat_ws('|',
               CAST(o_custkey AS VARCHAR), o_orderstatus, o_orderpriority)) AS fp
      FROM new_src
    )
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n_keys FROM (
      SELECT CASE WHEN o.fp IS NULL THEN 'added'
                  WHEN n.fp IS NULL THEN 'removed'
                  WHEN o.fp != n.fp THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM old_t o FULL OUTER JOIN new_t n USING (o_orderkey)
    ) GROUP BY status
    """,
)
def diag_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Snapshot reconciliation between two table versions: a rebuild that
    # drops every 13th order, re-rates every 7th, and appends re-keyed
    # copies of every 11th diffs to the exact four-row added / removed /
    # changed / unchanged summary a promotion gate asserts on.  Compared
    # columns are string/int only (md5 over doubles would hit
    # engine-specific float formatting).
    from ..operators.relational import table_diff

    o = load(spark, sf_dir, "orders")
    old = o.select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
    new = (
        old.filter(F.col("o_orderkey") % 13 != 0)
        .withColumn(
            "o_orderpriority",
            F.when(F.col("o_orderkey") % 7 == 0, F.lit("9-RERATED")).otherwise(
                F.col("o_orderpriority")
            ),
        )
        .unionByName(
            old.filter(F.col("o_orderkey") % 11 == 0).withColumn(
                "o_orderkey", F.col("o_orderkey") + 10000000
            )
        )
    )
    return table_diff(
        old, new, ["o_orderkey"], ["o_custkey", "o_orderstatus", "o_orderpriority"]
    )


@register(
    "join_exists_order_priority",
    # TPC-H Q4 shape (ref test query family): order-priority counts for
    # orders with at least one slow line — a correlated EXISTS the
    # engine plans as a left SEMI join with a residual cross-side
    # predicate (no duplicate-order inflation, no DISTINCT pass).
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    )
    GROUP BY o_orderpriority
    """,
)
def join_exists_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    slow = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")),
        "left_semi",
    )
    return slow.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )


@register(
    "join_part_value_share",
    # TPC-H Q11 shape: parts whose revenue exceeds a multiple of the
    # MEAN part revenue (scale-invariant, unlike Q11's fixed fraction,
    # so the entry stays non-vacuous at every SF) — the scalar threshold
    # is one tiny aggregate over the |parts|-sized rollup, broadcast.
    """
    WITH pv AS (
      SELECT l_partkey,
             SUM(l_extendedprice * (1 - l_discount)) AS val
      FROM lineitem GROUP BY 1
    ),
    m AS (SELECT AVG(val) AS a, SUM(val) AS t FROM pv)
    SELECT l_partkey, ROUND(val, 2) AS part_value,
           ROUND(val / m.t, 6) AS share
    FROM pv CROSS JOIN m
    WHERE val > 1.5 * m.a
    """,
)
def join_part_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
    pv = li.groupBy("l_partkey").agg(F.sum(rev).alias("_val"))
    stats = pv.agg(F.avg("_val").alias("_a"), F.sum("_val").alias("_t"))
    return (
        pv.crossJoin(F.broadcast(stats))
        .filter(F.col("_val") > F.lit(1.5) * F.col("_a"))
        .select(
            "l_partkey",
            F.round(F.col("_val"), 2).alias("part_value"),
            F.round(F.col("_val") / F.col("_t"), 6).alias("share"),
        )
    )


@register(
    "join_single_late_supplier",
    # TPC-H Q21 shape (suppliers who kept the order waiting): orders
    # with >= 2 suppliers where EXACTLY ONE supplier shipped late — the
    # EXISTS / NOT-EXISTS pair collapses to one (order, supplier)
    # aggregate plus one order rollup, both partitioned on l_orderkey so
    # the second join is co-located.
    """
    WITH lo AS (
      SELECT l.l_orderkey, l.l_suppkey,
             MAX(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 45 DAY
                      THEN 1 ELSE 0 END) AS late
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    ),
    byorder AS (
      SELECT l_orderkey, COUNT(*) AS n_supp, SUM(late) AS n_late
      FROM lo GROUP BY 1
    )
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM lo
    JOIN byorder b ON lo.l_orderkey = b.l_orderkey
    JOIN supplier s ON lo.l_suppkey = s.s_suppkey
    WHERE b.n_supp >= 2 AND b.n_late = 1 AND lo.late = 1
    GROUP BY s.s_name
    """,
)
def join_single_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    # orders is a FACT table (grows with SF) — shuffle-join on the order
    # key like the sibling Q4/Q7/Q10 entries; broadcasting it would hit
    # the 8 GB broadcast limit long before warehouse scale
    lo = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                F.when(
                    F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 45 DAY"),
                    1,
                ).otherwise(0)
            ).alias("late")
        )
    )
    # per-order counts as a WINDOW over lo, not a groupBy + self-join:
    # Catalyst pushes the late=1 predicate into only ONE copy of the lo
    # subtree, so the two copies stop being identical and exchange reuse
    # never fires — the executed self-join plan scanned lineitem and
    # orders TWICE (measured: 5 scans, 0 ReusedExchange).  The window
    # reuses lo's own (l_orderkey, l_suppkey) aggregate exchange, touches
    # each fact table once, and computes the identical n_supp/n_late.
    wo = Window.partitionBy("l_orderkey")
    return (
        lo.withColumn("n_supp", F.count(F.lit(1)).over(wo))
        .withColumn("n_late", F.sum("late").over(wo))
        .filter(
            (F.col("n_supp") >= 2) & (F.col("n_late") == 1) & (F.col("late") == 1)
        )
        .join(F.broadcast(s), lo["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
    )


@register(
    "window_percent_rank_cume",
    """
    SELECT o_orderkey, o_orderpriority,
           ROUND(PERCENT_RANK() OVER (PARTITION BY o_orderpriority
                                      ORDER BY o_totalprice, o_orderkey), 6)
             AS pr,
           ROUND(CUME_DIST() OVER (PARTITION BY o_orderpriority
                                   ORDER BY o_totalprice, o_orderkey), 6)
             AS cd
    FROM orders
    """,
)
def window_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    # PERCENT_RANK / CUME_DIST within partition — the normalized-rank
    # pair completing the window family (rank/dense_rank/ntile/argmax
    # already covered).  Sort is per-priority (5 balanced partitions at
    # any SF), with the (price, orderkey) composite making ranks
    # deterministic under ties.
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


@register(
    "join_nation_trade_volume",
    # TPC-H Q7 shape: revenue shipped between two nations, both
    # directions, by year — supplier nation from lineitem, customer
    # nation through orders; both nation lookups broadcast.
    """
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS l_year,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
    JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
    WHERE ((sn.n_name = 'NATION_18' AND cn.n_name = 'NATION_19')
        OR (sn.n_name = 'NATION_19' AND cn.n_name = 'NATION_18'))
    GROUP BY 1, 2, 3
    """,
)
def join_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    sn = n.select(F.col("n_nationkey").alias("_snk"), F.col("n_name").alias("supp_nation"))
    cn = n.select(F.col("n_nationkey").alias("_cnk"), F.col("n_name").alias("cust_nation"))
    # Q7 join order (guide §3.3): Catalyst pushes n_name IN (18,19) into
    # both nation scans but keeps the JOIN ORDER as written, so the
    # fact-fact li⋈o shuffle ran over unfiltered rows.  Joining each fact
    # against its nation-pruned dimension FIRST (both broadcastable after
    # the 2/25-nation cut) shrinks both shuffle sides ~12x before the
    # orderkey exchange; the disjunctive pair filter still applies after —
    # inner-join reorder + retained filter is value-identical.
    s2 = s.join(F.broadcast(sn), F.col("s_nationkey") == F.col("_snk")).select(
        "s_suppkey", "supp_nation"
    )
    c2 = c.join(F.broadcast(cn), F.col("c_nationkey") == F.col("_cnk")).select(
        "c_custkey", "cust_nation"
    )
    j = (
        li.join(F.broadcast(s2), li["l_suppkey"] == s2["s_suppkey"])
        .join(
            o.join(F.broadcast(c2), o["o_custkey"] == c2["c_custkey"]),
            li["l_orderkey"] == o["o_orderkey"],
        )
        .filter(
            ((F.col("supp_nation") == "NATION_18") & (F.col("cust_nation") == "NATION_19"))
            | ((F.col("supp_nation") == "NATION_19") & (F.col("cust_nation") == "NATION_18"))
        )
    )
    return j.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("int").alias("l_year"),
    ).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))), 2
        ).alias("revenue")
    )


@register(
    "join_returned_revenue_topk",
    # TPC-H Q10 shape: customers ranked by revenue lost to returns —
    # fact-fact join on orderkey, customer dim joined AFTER the rollup
    # (the aggregate shrinks the fact side to |customers| rows first).
    # The rank key is an EXACT integer-cent sum: each line quantizes to
    # half-up cents BEFORE the sum (r11 fix — flooring the double SUM
    # still inherited its accumulation order), so the rank-20/21
    # boundary is engine- and partition-order-proof.
    """
    WITH r AS (
      SELECT o.o_custkey,
             CAST(SUM(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100
                        + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_returnflag = 'R'
      GROUP BY 1
    )
    SELECT c.c_custkey, c.c_name, c.c_mktsegment,
           ROUND(r.cents / 100.0, 2) AS revenue
    FROM r JOIN customer c ON r.o_custkey = c.c_custkey
    ORDER BY r.cents DESC, c.c_custkey LIMIT 20
    """,
)
def join_returned_revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    r = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * 100
                    + F.lit(0.5)
                ).cast("long")
            )
            .cast("long")
            .alias("_cents")
        )
    )
    return (
        r.join(c, r["o_custkey"] == c["c_custkey"])
        .orderBy(F.col("_cents").desc(), F.col("c_custkey"))
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "c_mktsegment",
            F.round(F.col("_cents") / 100.0, 2).alias("revenue"),
        )
    )


# --- Bucketed-served fact⋈fact variants --------------------------------------
# The unbucketed Q4/Q10 entries above shuffle BOTH fact sides on the order
# key every run — the honest plan for unbucketed input, and the documented
# 100 TB bottleneck (SCALE.md).  These variants serve the same queries from
# orders/lineitem co-bucketed on the order key at ingest: the join runs
# per-bucket with NO Exchange on either fact side (pinned by
# test_physical_layout), demonstrating the remedy layout_bucketed_join
# introduced on the fact⋈dim case.  Same memo contract as
# plans/advanced.py's _BUCKETED_READY, with the source tables' file-set
# signatures in the key (the pattern of plans/corpus.py's BM25 index) so a
# regenerated dataset under the same sf_dir rebuilds instead of serving
# stale buckets.
_BUCKETED_FACTS_READY: set[tuple[int, str, tuple]] = set()


def _bucketed_fact_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    import re
    import tempfile

    from ..sources.files import write_bucketed_table
    from ..sources.tables import tables_signature

    tag = re.sub(r"[^a-z0-9]+", "_", sf_dir.lower()).strip("_")
    ot, lt = f"bkt_orders_ok_{tag}", f"bkt_lineitem_ok_{tag}"
    key = (id(spark), sf_dir, tables_signature(sf_dir, ("orders", "lineitem")))
    if key not in _BUCKETED_FACTS_READY or not spark.catalog.tableExists(ot):
        # drop stale memo entries for the same session+dir (data regenerated)
        _BUCKETED_FACTS_READY.difference_update(
            {k for k in _BUCKETED_FACTS_READY if k[:2] == (id(spark), sf_dir)}
        )
        base = tempfile.mkdtemp(prefix="spark_graft_bktf_")
        write_bucketed_table(
            load(spark, sf_dir, "orders").select(
                "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
            ),
            ot,
            "o_orderkey",
            n_buckets=8,
            sort_col="o_orderkey",
            path=f"{base}/orders",
        )
        write_bucketed_table(
            load(spark, sf_dir, "lineitem").select(
                "l_orderkey",
                "l_shipdate",
                "l_returnflag",
                "l_extendedprice",
                "l_discount",
            ),
            lt,
            "l_orderkey",
            n_buckets=8,
            sort_col="l_orderkey",
            path=f"{base}/lineitem",
        )
        _BUCKETED_FACTS_READY.add(key)
    return ot, lt


@register(
    "join_exists_order_priority_bkt",
    # identical result to join_exists_order_priority — bucketing is a
    # physical property, so the oracle is the plain EXISTS
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    )
    GROUP BY o_orderpriority
    """,
)
def join_exists_order_priority_bkt(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q4 served from co-bucketed facts: the semi join consumes both
    # sides' bucket layout directly (zero Exchange before the join; the
    # only shuffle left is the priority rollup on ~5 groups).
    ot, lt = _bucketed_fact_tables(spark, sf_dir)
    o, li = spark.table(ot), spark.table(lt).select("l_orderkey", "l_shipdate")
    slow = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")),
        "left_semi",
    )
    return slow.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )


@register(
    "join_returned_revenue_topk_bkt",
    # identical result (and integer-cent rank key) as
    # join_returned_revenue_topk
    """
    WITH r AS (
      SELECT o.o_custkey,
             CAST(SUM(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100
                        + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_returnflag = 'R'
      GROUP BY 1
    )
    SELECT c.c_custkey, c.c_name, c.c_mktsegment,
           ROUND(r.cents / 100.0, 2) AS revenue
    FROM r JOIN customer c ON r.o_custkey = c.c_custkey
    ORDER BY r.cents DESC, c.c_custkey LIMIT 20
    """,
)
def join_returned_revenue_topk_bkt(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q10 served from co-bucketed facts: the orderkey join is
    # exchange-free; the only remaining fact-sized shuffle is the custkey
    # rollup (inherent — it changes the key), already reduced map-side.
    ot, lt = _bucketed_fact_tables(spark, sf_dir)
    o = spark.table(ot).select("o_orderkey", "o_custkey")
    li = spark.table(lt).filter(F.col("l_returnflag") == "R")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    r = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * 100
                    + F.lit(0.5)
                ).cast("long")
            )
            .cast("long")
            .alias("_cents")
        )
    )
    return (
        r.join(F.broadcast(c), r["o_custkey"] == c["c_custkey"])
        .orderBy(F.col("_cents").desc(), F.col("c_custkey"))
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "c_mktsegment",
            F.round(F.col("_cents") / 100.0, 2).alias("revenue"),
        )
    )


@register(
    "agg_promo_share",
    # TPC-H Q14 shape: promo revenue share per month — one conditional
    # aggregate, the CASE folds map-side, broadcast part dim.  r11
    # flake-audit fix: both revenue sums quantize per-row to micro-units
    # (exact integer folds, order-proof) and the 6-dp share is one final
    # fixed-order double ratio of exact integers.
    """
    SELECT CAST(year(l.l_shipdate) AS INT) AS yr,
           CAST(month(l.l_shipdate) AS INT) AS mo,
           ROUND(100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                    THEN CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 1e6
                              + 0.5) AS BIGINT) ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 1e6
                             + 0.5) AS BIGINT)) AS DOUBLE), 6) AS promo_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1, 2
    """,
)
def agg_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    dec = "decimal(38,0)"
    rev_u = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1e6 + F.lit(0.5)
    ).cast("long")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy(
            F.year("l_shipdate").cast("int").alias("yr"),
            F.month("l_shipdate").cast("int").alias("mo"),
        )
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", rev_u).otherwise(0).cast(dec)
            ).alias("_promo"),
            F.sum(rev_u.cast(dec)).alias("_tot"),
        )
        .select(
            "yr",
            "mo",
            F.round(
                F.lit(100.0)
                * F.col("_promo").cast("double")
                / F.col("_tot").cast("double"),
                6,
            ).alias("promo_pct"),
        )
    )


@register(
    "filter_or_of_ands",
    # TPC-H Q19 shape: disjunction of conjunctive brand/size/quantity
    # clauses — the predicate-pushdown stress case: the whole OR-of-ANDs
    # is one scan-level filter after the broadcast part join, no UNION
    # of three scans.
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#11' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#22' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 35)
       OR (p.p_brand = 'Brand#33' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 50)
    """,
)
def filter_or_of_ands(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    cond = (
        (
            (F.col("p_brand") == "Brand#11")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#22")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 35)
        )
        | (
            (F.col("p_brand") == "Brand#33")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 50)
        )
    )
    return j.filter(cond).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.round(
            F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))), 2
        ).alias("revenue"),
    )


@register(
    "agg_share_to_parent",
    # Share-to-parent hierarchy report (region > nation): two keyed
    # rollups of the same fact chain, the region level joined back
    # broadcast — the drill-down ratio every BI tool labels "% of
    # parent", without GROUPING SETS re-reading the fact table.
    """
    WITH nrev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             SUM(l.l_extendedprice * (1 - l.l_discount)) AS rev
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2
    ),
    rrev AS (SELECT region, SUM(rev) AS rrev FROM nrev GROUP BY 1)
    SELECT n.region, n.nation, ROUND(n.rev, 2) AS revenue,
           ROUND(n.rev / r.rrev, 6) AS share_of_region
    FROM nrev n JOIN rrev r ON n.region = r.region
    """,
)
def agg_share_to_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).alias("_rev"),
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    dim = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("s_suppkey", F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
    )
    nrev = (
        li.join(F.broadcast(dim), li["l_suppkey"] == dim["s_suppkey"])
        .groupBy("region", "nation")
        .agg(F.sum("_rev").alias("_nrev"))
        # nrev feeds the region rollup AND the final join; each reference
        # re-expanded the lineitem join+aggregate (all 4 tables scanned
        # twice, 0 ReusedExchange).  The table is nation-count-sized —
        # materialize it once (lazily).  A region WINDOW instead would
        # also work but changes the double-sum ORDER of _rrev and risks
        # the 6dp round; the checkpoint keeps the aggregate bit-identical.
        .transform(shared)
    )
    rrev = nrev.groupBy("region").agg(F.sum("_nrev").alias("_rrev"))
    return nrev.join(F.broadcast(rrev), "region").select(
        "region",
        "nation",
        F.round("_nrev", 2).alias("revenue"),
        F.round(F.col("_nrev") / F.col("_rrev"), 6).alias("share_of_region"),
    )


@register(
    "join_cheapest_supplier_per_part",
    # TPC-H Q2 shape (min-cost supplier per part): per-(part, supplier)
    # price rollup, then a deterministic per-part argmin via min_by on
    # the (price, suppkey) composite — no window sort, one keyed
    # aggregate each, supplier dim broadcast for the name.
    """
    WITH ps AS (
      -- integer half-up at 6dp (floor(x*1e6+0.5)/1e6): engine ROUND
      -- disagrees on exact .5 boundaries, which unit-price ratios hit
      SELECT l_partkey, l_suppkey,
             floor(AVG(l_extendedprice / l_quantity) * 1e6 + 0.5) / 1e6
               AS unit_price
      FROM lineitem WHERE l_quantity > 0
      GROUP BY 1, 2
    ),
    best AS (
      SELECT l_partkey, l_suppkey, unit_price AS best_price FROM (
        SELECT ps.*, ROW_NUMBER() OVER (PARTITION BY l_partkey
                                        ORDER BY unit_price, l_suppkey) AS rn
        FROM ps
      ) WHERE rn = 1
    )
    SELECT b.l_partkey, s.s_name, b.best_price
    FROM best b JOIN supplier s ON b.l_suppkey = s.s_suppkey
    """,
)
def join_cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        (
            F.floor(
                F.avg(F.col("l_extendedprice") / F.col("l_quantity")) * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("unit_price")
    )
    best = ps.groupBy("l_partkey").agg(
        F.min_by(
            F.col("l_suppkey"), F.struct(F.col("unit_price"), F.col("l_suppkey"))
        ).alias("_sk"),
        F.min("unit_price").alias("best_price"),
    )
    return best.join(F.broadcast(s), best["_sk"] == s["s_suppkey"]).select(
        "l_partkey", "s_name", "best_price"
    )


@register(
    "agg_custdist",
    # TPC-H Q13 shape: distribution of customers by order count, INCLUDING
    # zero-order customers (the left join), reduced to a count-of-counts
    # histogram — two keyed aggregates, output is |distinct counts| rows.
    """
    WITH oc AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY 1
    )
    SELECT CAST(c_count AS BIGINT) AS c_count,
           CAST(COUNT(*) AS BIGINT) AS custdist
    FROM oc GROUP BY 1
    """,
)
def agg_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select("c_custkey")
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    oc = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return oc.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("long").alias("custdist")
    )


@register(
    "join_large_quantity_orders",
    # TPC-H Q18 shape (large-volume orders): orders whose total quantity
    # exceeds 2x the MEAN per-order quantity (scale-invariant threshold —
    # TPC-H's fixed 300 goes vacuous or degenerate across SFs), top 50 by
    # quantity.  Quantities are integral so the rank key is exact in both
    # engines; the scalar threshold broadcasts.
    """
    WITH oq AS (
      SELECT l_orderkey, SUM(l_quantity) AS qty FROM lineitem GROUP BY 1
    ),
    m AS (SELECT AVG(qty) AS a FROM oq)
    SELECT o.o_orderkey, o.o_custkey, ROUND(o.o_totalprice, 2) AS totalprice,
           ROUND(oq.qty, 2) AS total_qty
    FROM oq CROSS JOIN m
    JOIN orders o ON o.o_orderkey = oq.l_orderkey
    WHERE oq.qty > 2 * m.a
    ORDER BY oq.qty DESC, o.o_orderkey LIMIT 50
    """,
)
def join_large_quantity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    oq = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("_qty"))
    m = oq.agg(F.avg("_qty").alias("_a"))
    return (
        oq.crossJoin(F.broadcast(m))
        .filter(F.col("_qty") > 2 * F.col("_a"))
        .join(o, oq["l_orderkey"] == o["o_orderkey"])
        .orderBy(F.col("_qty").desc(), F.col("o_orderkey"))
        .limit(50)
        .select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            F.round("_qty", 2).alias("total_qty"),
        )
    )


@register(
    "join_dormant_rich_customers",
    # TPC-H Q22 essence (high-balance, low-activity customers), made
    # scale-invariant: above-average positive balance AND order count
    # under half the mean orders-per-customer (the literal "no orders"
    # predicate is vacuous on this data — every customer orders).  Both
    # scalar thresholds broadcast; the order counts are one keyed
    # aggregate; output is a per-segment rollup.
    """
    WITH ab AS (SELECT AVG(c_acctbal) AS a FROM customer WHERE c_acctbal > 0),
    oc AS (SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY 1),
    m AS (SELECT AVG(n) AS an FROM oc)
    SELECT c.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS numcust,
           ROUND(SUM(c.c_acctbal), 2) AS totacctbal
    FROM customer c
    CROSS JOIN ab CROSS JOIN m
    LEFT JOIN oc ON oc.o_custkey = c.c_custkey
    WHERE c.c_acctbal > ab.a AND COALESCE(oc.n, 0) < 0.5 * m.an
    GROUP BY 1
    """,
)
def join_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").select("o_custkey")
    ab = c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("_a"))
    oc = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("_n"))
    m = oc.agg(F.avg("_n").alias("_an"))
    return (
        c.crossJoin(F.broadcast(ab))
        .crossJoin(F.broadcast(m))
        .join(oc, c["c_custkey"] == oc["o_custkey"], "left")
        .filter(
            (F.col("c_acctbal") > F.col("_a"))
            & (F.coalesce(F.col("_n"), F.lit(0)) < 0.5 * F.col("_an"))
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@register(
    "join_market_share",
    # TPC-H Q8 shape: each supplier nation's share of yearly revenue to
    # ASIA-region customers — the 6-table multiway join reduces to a
    # (year, supp_nation) rollup BEFORE the share window, so the window
    # runs on a metadata-sized table; all dims broadcast.
    """
    WITH rev AS (
      SELECT CAST(year(o.o_orderdate) AS INT) AS yr, n2.n_name AS supp_nation,
             SUM(l.l_extendedprice * (1 - l.l_discount)) AS v
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
      JOIN region r   ON n1.n_regionkey = r.r_regionkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'ASIA'
      GROUP BY 1, 2
    ),
    cents AS (
      SELECT yr, supp_nation,
             CAST(floor(v * 100 + 0.5) AS BIGINT) AS vc
      FROM rev
    )
    SELECT yr, supp_nation, ROUND(vc / 100.0, 2) AS revenue,
           ROUND(CAST(vc AS DOUBLE) / SUM(vc) OVER (PARTITION BY yr), 6) AS mkt_share
    FROM cents
    """,
)
def join_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    asia_nations = (
        n.join(F.broadcast(r.filter(F.col("r_name") == "ASIA")),
               n["n_regionkey"] == r["r_regionkey"])
        .select(F.col("n_nationkey").alias("_cnk"))
    )
    supp_nation = s.join(
        F.broadcast(n.select(F.col("n_nationkey").alias("_snk"),
                             F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("_snk"),
    ).select("s_suppkey", "supp_nation")
    rev = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(asia_nations), c["c_nationkey"] == F.col("_cnk"), "left_semi")
        .join(F.broadcast(supp_nation), li["l_suppkey"] == supp_nation["s_suppkey"])
        .groupBy(
            F.year("o_orderdate").cast("int").alias("yr"), "supp_nation"
        )
        .agg(F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).alias("_v"))
        # half-up integer cents BEFORE the ratio: the double sums accumulate
        # in engine-specific order, and a raw 6dp round off the ratio of two
        # such sums can flip a digit cross-engine (same guard as Q3/Q10)
        .withColumn("_vc", F.floor(F.col("_v") * 100 + F.lit(0.5)).cast("long"))
    )
    w = Window.partitionBy("yr")
    return rev.select(
        "yr",
        "supp_nation",
        F.round(F.col("_vc") / 100.0, 2).alias("revenue"),
        F.round(F.col("_vc").cast("double") / F.sum("_vc").over(w), 6).alias("mkt_share"),
    )


@register(
    "join_unshipped_topk_revenue",
    # TPC-H Q3 shape (shipping priority): revenue still unshipped at the
    # cutoff for one market segment, top 10 orders.  The date range is
    # FIXED across SFs in this generator (1995-2001), so the literal
    # cutoff is scale-stable; the rank key sums per-line half-up integer
    # cents (exact fold — accumulation-order-proof, same r11 guard as
    # Q10).
    """
    SELECT l.l_orderkey,
           ROUND(CAST(SUM(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100
                            + 0.5) AS BIGINT)) AS BIGINT) / 100.0, 2) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < DATE '1998-06-01'
      AND l.l_shipdate > DATE '1998-06-01'
    GROUP BY 1, 3, 4
    ORDER BY CAST(SUM(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100
                        + 0.5) AS BIGINT)) AS BIGINT) DESC, l.l_orderkey
    LIMIT 10
    """,
)
def join_unshipped_topk_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-06-01").cast("date")
    )
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-06-01").cast("date")
    )
    c = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    grouped = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"], "left_semi")
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * 100
                    + F.lit(0.5)
                ).cast("long")
            )
            .cast("long")
            .alias("_cents")
        )
    )
    return (
        grouped.orderBy(F.col("_cents").desc(), F.col("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            F.round(F.col("_cents") / 100.0, 2).alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
        )
    )


@register(
    "agg_forecast_revenue_delta",
    # TPC-H Q6 shape: revenue delta from lifting mid-band discounts on
    # small-quantity 1997 lineitems — one map-only conditional sum;
    # every predicate reaches the parquet scan (PushedFilters).
    """
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue_delta,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
      AND l_discount BETWEEN 0.04 AND 0.06 AND l_quantity < 24
    """,
)
def agg_forecast_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("date"))
            & (F.col("l_discount") >= 0.04)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue_delta"
            ),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )


@register(
    "join_small_quantity_loss",
    # TPC-H Q17 shape: yearly revenue lost to sub-20%-of-average-quantity
    # orders of one brand — the correlated scalar subquery rewritten as a
    # per-part average join (one keyed aggregate co-partitioned with the
    # probe side; the brand dim prunes first).
    """
    WITH pa AS (
      SELECT l_partkey, AVG(l_quantity) AS avg_qty FROM lineitem GROUP BY 1
    )
    SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 2) AS avg_yearly_loss,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN pa ON pa.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1' AND l.l_quantity < 0.2 * pa.avg_qty
    """,
)
def join_small_quantity_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    p = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#1")
        .select("p_partkey")
    )
    pa = li.groupBy("l_partkey").agg(F.avg("l_quantity").alias("_avg_qty"))
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"], "left_semi")
        .join(pa, "l_partkey")
        .filter(F.col("l_quantity") < 0.2 * F.col("_avg_qty"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly_loss"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )


@register(
    "join_product_type_profit",
    # TPC-H Q9 shape (product-type profit): per-nation per-year profit on
    # one part family.  No partsupp table in this schema, so supply cost is
    # proxied as 60% of the part's retail price — the JOIN/rollup shape
    # (LIKE-filtered part dim pruning the fact scan, supplier->nation
    # broadcast, (nation, year) rollup AFTER the multiway join) is the
    # reference's.  Each line's profit lands as half-up integer cents
    # BEFORE the sum (r11 flake-audit fix: the r10 version floored a
    # SUM(double), whose accumulation order is engine-specific — same
    # class as the llm_heaps_law hash flake; per-row quantize + exact
    # BIGINT sum is order-proof, the Q3/Q8/Q10 guard done properly).
    """
    WITH profit AS (
      SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
             CAST(SUM(CAST(floor((l.l_extendedprice * (1 - l.l_discount)
                 - 0.6 * p.p_retailprice * l.l_quantity) * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS amount_cents
      FROM lineitem l
      JOIN part p     ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n   ON n.n_nationkey = s.s_nationkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      WHERE p.p_name LIKE '%red%'
      GROUP BY 1, 2
    )
    SELECT nation, o_year,
           ROUND(amount_cents / 100.0, 2) AS sum_profit
    FROM profit
    """,
)
def join_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount",
    )
    p = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supp_nation = s.join(
        F.broadcast(n), s["s_nationkey"] == n["n_nationkey"]
    ).select("s_suppkey", F.col("n_name").alias("nation"))
    amount_cents = F.floor(
        (
            F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
            - F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity")
        )
        * 100
        + F.lit(0.5)
    ).cast("long")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(supp_nation), li["l_suppkey"] == supp_nation["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("nation", F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(F.sum(amount_cents).cast("long").alias("_cents"))
        .select(
            "nation",
            "o_year",
            F.round(F.col("_cents") / 100.0, 2).alias("sum_profit"),
        )
    )


@register(
    "join_shipmode_priority",
    # TPC-H Q12 shape (shipmode priority): does slow shipping correlate
    # with order priority?  This schema has no l_shipmode/l_receiptdate, so
    # the "mode" class is l_linestatus and "late" is shipped >60 days after
    # the order date — the shape is the reference's map-only conditional
    # counts over one fact-fact equi-join, with every date predicate pushed
    # to the lineitem scan.
    """
    SELECT l.l_linestatus AS ship_class,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= o.o_orderdate + INTERVAL 60 DAY
      AND l.l_shipdate >= DATE '1997-01-01'
      AND l.l_shipdate < DATE '1998-01-01'
    GROUP BY 1
    """,
)
def join_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("date"))
    ).select("l_orderkey", "l_linestatus", "l_shipdate")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .filter(F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"))
        .groupBy(F.col("l_linestatus").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


@register(
    "agg_parts_supplier_counts",
    # TPC-H Q16 shape (parts/supplier relationship): distinct suppliers per
    # surviving (brand, type, size) bucket, excluding a supplier denylist.
    # No partsupp table here, so the part-supplier relation is the DISTINCT
    # (l_partkey, l_suppkey) pairs actually observed in lineitem, and the
    # "complaints" denylist is the negative-balance suppliers.  Scale
    # shape: pair-dedup is a fingerprint-sized shuffle, the part dim
    # broadcasts, the denylist anti-join broadcasts, and the distinct count
    # reshuffles only the surviving pairs.
    """
    WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT pr.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM pairs pr
    JOIN part p ON p.p_partkey = pr.l_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 7, 10, 13, 16, 19, 23)
      AND pr.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY 1, 2, 3
    """,
)
def agg_parts_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = (
        load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    )
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 23)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    denylist = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        pairs.join(
            F.broadcast(denylist),
            pairs["l_suppkey"] == denylist["s_suppkey"],
            "left_anti",
        )
        .join(F.broadcast(p), pairs["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


@register(
    "join_excess_shipping_share",
    # TPC-H Q20 shape (potential part promotion): suppliers in one nation
    # who concentrated more than half their lifetime shipped quantity of a
    # LIKE-filtered part family into 1997.  The reference's nested
    # availability semi-join (partsupp.availqty > 0.5 * shipped) becomes a
    # SINGLE conditional keyed aggregate over (suppkey, partkey) — Spark
    # computes the year slice and the lifetime total in one shuffle instead
    # of the spec's self-join — then part/nation prune via broadcast
    # semi-joins.
    """
    WITH sp AS (
      SELECT l_suppkey, l_partkey,
             SUM(CASE WHEN l_shipdate >= DATE '1997-01-01'
                       AND l_shipdate < DATE '1998-01-01'
                      THEN l_quantity ELSE 0 END) AS qty97,
             SUM(l_quantity) AS qty_all
      FROM lineitem GROUP BY 1, 2
    ),
    cand AS (
      SELECT DISTINCT sp.l_suppkey
      FROM sp
      JOIN part p ON p.p_partkey = sp.l_partkey
      WHERE p.p_name LIKE 'small%' AND sp.qty97 > 0.5 * sp.qty_all
        AND sp.qty97 > 0
    )
    SELECT s.s_name, ROUND(s.s_acctbal, 2) AS acctbal
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name = 'NATION_3'
      AND s.s_suppkey IN (SELECT l_suppkey FROM cand)
    """,
)
def join_excess_shipping_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_partkey", "l_quantity", "l_shipdate"
    )
    in97 = (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date")) & (
        F.col("l_shipdate") < F.lit("1998-01-01").cast("date")
    )
    sp = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum(F.when(in97, F.col("l_quantity")).otherwise(F.lit(0))).alias("qty97"),
        F.sum("l_quantity").alias("qty_all"),
    )
    fam = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    cand = (
        sp.filter((F.col("qty97") > 0.5 * F.col("qty_all")) & (F.col("qty97") > 0))
        .join(F.broadcast(fam), sp["l_partkey"] == fam["p_partkey"], "left_semi")
        .select("l_suppkey")
        .distinct()
    )
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    return (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"], "left_semi")
        .join(F.broadcast(cand), s["s_suppkey"] == cand["l_suppkey"], "left_semi")
        .select("s_name", F.round("s_acctbal", 2).alias("acctbal"))
    )


@register(
    "join_top_revenue_supplier",
    # TPC-H Q15 shape (top supplier): quarterly revenue per supplier, then
    # the supplier(s) hitting the global maximum.  The spec's CREATE VIEW +
    # correlated MAX subquery becomes one supplier-cardinality rollup and a
    # 1-row broadcast of the global max — no second scan of the fact table
    # and no global sort.  Revenue sums per-line half-up integer cents
    # (exact fold) so the max-equality predicate is
    # accumulation-order-proof (same r11 guard as Q3/Q8/Q9/Q10); ties at
    # the max all return, per the spec.
    """
    WITH rev AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                  AS BIGINT)) AS BIGINT) AS rc
      FROM lineitem
      WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1997-04-01'
      GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name, ROUND(rc / 100.0, 2) AS total_revenue
    FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.rc = (SELECT MAX(rc) FROM rev)
    """,
)
def join_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("date"))
    ).select("l_suppkey", "l_extendedprice", "l_discount")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            F.floor(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * 100
                + F.lit(0.5)
            ).cast("long")
        )
        .cast("long")
        .alias("rc")
    )
    mx = rev.agg(F.max("rc").alias("_mx"))
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), rev["rc"] == F.col("_mx"), "left_semi")
        .join(F.broadcast(s), rev["l_suppkey"] == s["s_suppkey"])
        .select("s_suppkey", "s_name", F.round(F.col("rc") / 100.0, 2).alias("total_revenue"))
    )

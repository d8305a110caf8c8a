"""Event-stream queries (SURVEY.md §2.10 + F8 JSON parsing) over ``events``.

The reference is batch-only; these queries give its incremental semantics a
real event-time surface: tumbling-window aggregation, sessionization, JSON
prop extraction.  All run identically on a streaming DataFrame (see
streaming.incremental) — the batch forms here are what the oracle can check.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import shared
from ..streaming.incremental import sessionize, windowed_event_counts
from . import load, register


@register(
    "events_windowed_counts",
    """
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 / 100.0, 6) AS sum_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def events_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Tumbling 1-hour event-time window; window.start == date_trunc('hour').
    return windowed_event_counts(load(spark, sf_dir, "events"), "1 hour")


@register(
    "events_sessionize",
    """
    SELECT user_id,
           CAST(MAX(session_id) AS INT) AS n_sessions,
           COUNT(*) AS n_events
    FROM (
      SELECT user_id,
             SUM(CASE WHEN gap_s IS NULL OR gap_s > 1800 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM (
        SELECT user_id, ts,
               epoch(ts) - LAG(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS gap_s
        FROM events
      )
    )
    GROUP BY user_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gap-based sessionization (30 min), then sessions/events per user.
    s = sessionize(load(spark, sf_dir, "events"), gap_minutes=30)
    return s.groupBy("user_id").agg(
        F.max("session_id").cast("int").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "events_json_extract",
    """
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
    FROM events
    """,
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    # F8 — JSON prop parsing (literal_eval → from_json analogue).
    return load(spark, sf_dir, "events").select(
        "event_id", F.get_json_object("props", "$.k").cast("long").alias("k_value")
    )


@register(
    "events_session_window",
    # Islands formulation of Spark's session_window merge rule: a new session
    # starts when the microsecond gap to the previous event is >= the 30-min
    # gap duration (Spark merges while next.ts < prev.ts + gap).
    """
    WITH d AS (SELECT user_id, ts, epoch_us(ts) AS us FROM events),
    g AS (
      SELECT user_id, ts, us,
             CASE WHEN LAG(us) OVER w IS NULL
                       OR us - LAG(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS brk
      FROM d WINDOW w AS (PARTITION BY user_id ORDER BY us)
    ),
    s AS (
      SELECT user_id, ts,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY us
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM g
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Native session windows (gap 30 min) — the streaming-compatible form of
    # sessionization; identical semantics on batch.
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window(F.col("ts"), "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )


@register(
    "events_hypertable_rollup",
    # Continuous-aggregate shape: one pass produces BOTH hourly and daily
    # granularities via GROUPING SETS (grain 'hour' rows carry the hour
    # bucket, grain 'day' rows the day bucket).
    """
    SELECT grain, bucket, event_type, n, sum_value FROM (
      SELECT 'hour' AS grain, date_trunc('hour', ts) AS bucket, event_type,
             COUNT(*) AS n, ROUND(CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0, 6) AS sum_value
      FROM events GROUP BY 1, 2, 3
      UNION ALL
      SELECT 'day' AS grain, date_trunc('day', ts) AS bucket, event_type,
             COUNT(*) AS n, ROUND(CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0, 6) AS sum_value
      FROM events GROUP BY 1, 2, 3
    )
    """,
)
def events_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hypertable-style multi-granularity rollup in ONE scan via GROUPING
    # SETS (the UNION ALL oracle states the semantics; Catalyst's Expand
    # computes both grains in a single pass over the fact table).
    load(spark, sf_dir, "events").createOrReplaceTempView("_events_rollup_src")
    return spark.sql(
        """
        SELECT CASE WHEN hour_b IS NOT NULL THEN 'hour' ELSE 'day' END AS grain,
               COALESCE(hour_b, day_b) AS bucket, event_type,
               COUNT(*) AS n,
               ROUND(CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                     / CAST(100 AS DOUBLE), 6) AS sum_value
        FROM (
          SELECT date_trunc('hour', ts) AS hour_b, date_trunc('day', ts) AS day_b,
                 event_type, value
          FROM _events_rollup_src
        )
        GROUP BY GROUPING SETS ((hour_b, event_type), (day_b, event_type))
        """
    )


@register(
    "events_asof_join",
    # DuckDB's native ASOF JOIN is the oracle for the engine's union+window
    # formulation — for each purchase, the latest at-or-before view per user.
    """
    SELECT t.event_id, t.user_id, q.value AS view_value_asof
    FROM (SELECT * FROM events WHERE event_type = 'purchase') t
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') q
      ON t.user_id = q.user_id AND t.ts >= q.ts
    """,
)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # As-of join (custom operator — Spark has no builtin): one shuffle on
    # the key, windowed last(ignorenulls) over the merged stream.
    from ..operators.temporal import asof_join

    e = load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase")
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("value").alias("view_value")
    )
    out = asof_join(
        purchases,
        views.withColumnRenamed("ts", "view_ts"),
        on=["user_id"],
        left_ts="ts",
        right_ts="view_ts",
        value_cols=["view_value"],
    )
    return out.select("event_id", "user_id", "view_value_asof")


@register(
    "events_range_join",
    """
    SELECT p.period, COUNT(*) AS n_orders, ROUND(SUM(o.o_totalprice), 2) AS total
    FROM orders o
    JOIN (
      SELECT y AS period,
             CAST(CAST(y AS VARCHAR) || '-01-01' AS TIMESTAMP) AS pstart,
             CAST(CAST(y + 1 AS VARCHAR) || '-01-01' AS TIMESTAMP) AS pend
      FROM generate_series(1995, 2001) AS s(y)
    ) p ON o.o_orderdate >= p.pstart AND o.o_orderdate < p.pend
    GROUP BY p.period
    """,
)
def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Range join against a broadcast interval dimension (year periods) —
    # BroadcastNestedLoopJoin is the right physical plan for a tiny dim.
    from ..operators.temporal import range_join_broadcast

    o = load(spark, sf_dir, "orders")
    periods = spark.range(1995, 2002).select(
        F.col("id").cast("int").alias("period"),
        F.to_timestamp(F.concat(F.col("id").cast("string"), F.lit("-01-01"))).alias("pstart"),
        F.to_timestamp(F.concat((F.col("id") + 1).cast("string"), F.lit("-01-01"))).alias("pend"),
    )
    joined = range_join_broadcast(
        o, periods, F.col("o_orderdate"), F.col("pstart"), F.col("pend")
    )
    return joined.groupBy("period").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "events_daily_type_matrix",
    """
    SELECT date_trunc('day', ts) AS day, event_type,
           COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
                 / COUNT(*) / 100, 6) AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_daily_type_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Daily per-type rollup — the Superset time-series slice shape.
    return (
        load(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
                .cast("double")
                / F.count(F.lit(1))
                / 100,
                6,
            ).alias("avg_value"),
        )
    )


@register(
    "events_funnel_counts",
    """
    WITH w1 AS (
      SELECT user_id, event_type, ts,
             MIN(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS t1
      FROM events
    ), w2 AS (
      SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
                  OVER (PARTITION BY user_id) AS t2
      FROM w1
    ), w3 AS (
      SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
                  OVER (PARTITION BY user_id) AS t3
      FROM w2
    ), per_user AS (
      SELECT user_id, MAX(t1) AS t1, MAX(t2) AS t2, MAX(t3) AS t3
      FROM w3 GROUP BY user_id
    )
    SELECT CAST(COUNT(user_id) AS BIGINT) AS n_users,
           CAST(COUNT(t1) AS BIGINT) AS n_view,
           CAST(COUNT(t2) AS BIGINT) AS n_view_click,
           CAST(COUNT(t3) AS BIGINT) AS n_full_funnel
    FROM per_user
    """,
)
def events_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Ordered funnel view -> click -> purchase: each step's timestamp is the
    # first qualifying event AFTER the previous step.  Three chained window
    # passes over ONE user_id partitioning (single shuffle), then a rollup.
    from pyspark.sql import Window

    wu = Window.partitionBy("user_id")
    d = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    d = d.withColumn(
        "t1", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(wu)
    )
    d = d.withColumn(
        "t2",
        F.min(
            F.when((F.col("event_type") == "click") & (F.col("ts") > F.col("t1")), F.col("ts"))
        ).over(wu),
    )
    d = d.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")), F.col("ts")
            )
        ).over(wu),
    )
    per_user = d.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    return per_user.agg(
        F.count("user_id").cast("long").alias("n_users"),
        F.count("t1").cast("long").alias("n_view"),
        F.count("t2").cast("long").alias("n_view_click"),
        F.count("t3").cast("long").alias("n_full_funnel"),
    )


@register(
    # NOTE: was accidentally registered under the same name as the full
    # retention-matrix entry below (which silently shadowed this one in
    # the dict) — renamed to its own slot: the d1/d7 summary is the
    # dashboard-KPI form, the matrix below is the analysis form.
    "events_retention_d1_d7",
    """
    WITH d AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), c AS (
      SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY user_id
    ), j AS (
      SELECT d.user_id, c.cohort_day, d.day - c.cohort_day AS off
      FROM d JOIN c ON d.user_id = c.user_id
    )
    SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(DISTINCT CASE WHEN off = 1 THEN user_id END) AS BIGINT) AS retained_d1,
           CAST(COUNT(DISTINCT CASE WHEN off = 7 THEN user_id END) AS BIGINT) AS retained_d7
    FROM j GROUP BY cohort_day
    """,
)
def events_retention_d1_d7(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cohort retention: users grouped by first-activity day; day+1 / day+7
    # return rates.  (user, day) distinct first -- the shuffle carries one
    # row per user-day, not per event.  Output day as string (DATE dtype
    # mismatches pandas in the compare harness).
    e = load(spark, sf_dir, "events")
    d = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    # r13 same-key-window rewrite: min(day) over the user partition
    # replaces the groupBy + join-back on the same key (2 events scans ->
    # 1; the distinct's exchange feeds the window directly).  Identical
    # aggregate expression -> bit-equal values (oracle-pinned).
    j = d.withColumn(
        "cohort_day", F.min("day").over(Window.partitionBy("user_id"))
    ).withColumn("off", F.datediff("day", "cohort_day"))
    return j.groupBy("cohort_day").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct(F.when(F.col("off") == 1, F.col("user_id"))).alias("retained_d1"),
        F.countDistinct(F.when(F.col("off") == 7, F.col("user_id"))).alias("retained_d7"),
    ).select(
        F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
        "n_users",
        "retained_d1",
        "retained_d7",
    )


@register(
    "events_pivot_type_columns",
    # conditional-aggregation formulation of PIVOT — identical output to
    # Spark's .pivot() with a pinned column list
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
    FROM events GROUP BY 1
    """,
)
def events_pivot_type_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    # True relational pivot: one row per day, one column per event type.
    # The pinned values list keeps the plan single-pass (no distinct-values
    # pre-query) — the form that scales.
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"))
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
        .na.fill(0)
    )


@register(
    "events_trailing_hour_avg",
    # time-RANGE window frame (not row-count): trailing 1-hour mean per
    # user, expressed over integer epoch-seconds so the frame semantics are
    # engine-portable
    """
    SELECT event_id, user_id,
           ROUND(CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER w
                      AS DOUBLE)
                 / COUNT(*) OVER w / 100, 6) AS trailing_avg
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def events_trailing_hour_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Rolling event-time aggregate: RANGE frame on epoch seconds — the
    # time-series smoothing shape (one shuffle on user_id, ordered frame
    # scan within partition).
    from pyspark.sql import Window

    # ts is TIMESTAMP_NTZ; derive integer epoch seconds from its wall-clock
    # FIELDS (datediff/hour/minute/second are timezone-independent on NTZ)
    # rather than cast('timestamp').cast('long'), which would re-interpret
    # the naive value in the session timezone and shift RANGE-frame
    # membership under a non-UTC session with DST inside the data range.
    # (Truncated to whole seconds — DuckDB's epoch() keeps fractions, so
    # both sides floor for identical frame boundaries.)
    e = load(spark, sf_dir, "events").withColumn(
        "epoch_s",
        (
            F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("long") * 86400
            + F.hour("ts") * 3600
            + F.minute("ts") * 60
            + F.second("ts")
        ).cast("long"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("epoch_s")
        .rangeBetween(-3600, Window.currentRow)
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    return e.select(
        "event_id",
        "user_id",
        F.round(
            F.sum(cents).over(w).cast("double")
            / F.count(F.lit(1)).over(w)
            / 100,
            6,
        ).alias("trailing_avg"),
    )


@register(
    "events_hll_daily_users",
    # Grouped HLL: approximate distinct users per day, with the exact
    # count alongside — the md5-deterministic sketch makes the APPROXIMATE
    # estimate value-checkable, and the exact column lets the driver see
    # the error band numerically.
    """
    WITH i AS (
      SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(user_id AS VARCHAR) AS item
      FROM events
    ),
    h AS (SELECT day, CAST('0x' || substr(md5(item), 1, 15) AS BIGINT) AS hv FROM i),
    st AS (
      SELECT day, hv % 1024 AS bucket,
             CASE WHEN (hv >> 10) = 0 THEN 51
                  ELSE 51 - length(bin(hv >> 10)) END AS rho
      FROM h
    ),
    sk AS (SELECT day, bucket, MAX(rho) AS max_rho FROM st GROUP BY 1, 2),
    agg AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS nb,
             CAST(SUM(CAST(1 AS BIGINT) << (51 - max_rho)) AS BIGINT) AS zsum
      FROM sk GROUP BY day
    ),
    raws AS (
      SELECT day,
             (CAST(0.7213 AS DOUBLE) / (1 + CAST(1.079 AS DOUBLE) / 1024))
               * 1024 * 1024 * (CAST(1 AS BIGINT) << 51)
               / ((1024 - nb) * (CAST(1 AS BIGINT) << 51) + zsum) AS raw,
             CAST(1024 - nb AS DOUBLE) AS zeros
      FROM agg
    ),
    est AS (
      SELECT day,
             ROUND(CASE WHEN raw <= 2.5 * 1024 AND zeros > 0
                        THEN CAST(1024 AS DOUBLE) * ln(CAST(1024 AS DOUBLE) / zeros)
                        ELSE raw END, 2) AS estimate
      FROM raws
    ),
    ex AS (SELECT day, CAST(COUNT(DISTINCT item) AS BIGINT) AS n_exact FROM i GROUP BY day)
    SELECT day, estimate, n_exact FROM est JOIN ex USING (day)
    """,
)
def events_hll_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-day distinct users via the grouped HLL sketch (operators/
    # sketch.py): at 100 TB this replaces a COUNT(DISTINCT) whose exact
    # per-key dedup shuffle dominates; the sketch shuffle is capped at
    # 2^10 rows per day per partition.  Exact count joined alongside.
    from ..operators.sketch import hll_estimate, hll_sketch

    e = load(spark, sf_dir, "events")
    items = e.select(
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
        F.col("user_id"),
    )
    est = hll_estimate(hll_sketch(items, "user_id", ["day"]), ["day"]).select(
        "day", "estimate"
    )
    exact = items.groupBy("day").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    return est.join(exact, on="day")


@register(
    "events_range_join_binned",
    """
    WITH p AS (
      SELECT y AS period,
             date_diff('day', DATE '1970-01-01',
                       CAST(CAST(y AS VARCHAR) || '-01-01' AS DATE)) AS sd,
             date_diff('day', DATE '1970-01-01',
                       CAST(CAST(y + 1 AS VARCHAR) || '-01-01' AS DATE)) AS ed
      FROM generate_series(1995, 2001) AS s(y)
    ),
    o AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d,
             o_totalprice
      FROM orders
    )
    SELECT p.period, COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM o JOIN p ON o.d >= p.sd AND o.d < p.ed
    GROUP BY p.period
    """,
)
def events_range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The LARGE-interval-table range join: same semantics as
    # events_range_join, but through the binned equi-join
    # (operators/temporal.py:binned_range_join) that scales when the
    # interval side cannot broadcast.  Day numbers (datediff from epoch)
    # keep the axis numeric and session-timezone-free; integer-cent
    # checksum keeps the double sum order-independent across engines.
    from ..operators.temporal import binned_range_join

    epoch = F.lit("1970-01-01").cast("date")
    periods = spark.range(1995, 2002).select(
        F.col("id").alias("period"),
        F.datediff(
            F.to_date(F.concat(F.col("id").cast("string"), F.lit("-01-01"))), epoch
        ).alias("sd"),
        F.datediff(
            F.to_date(F.concat((F.col("id") + 1).cast("string"), F.lit("-01-01"))), epoch
        ).alias("ed"),
    )
    o = load(spark, sf_dir, "orders").select(
        F.datediff(F.to_date("o_orderdate"), epoch).alias("d"), "o_totalprice"
    )
    joined = binned_range_join(o, periods, "d", "sd", "ed", bin_width=128)
    return joined.groupBy("period").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("total_cents"),
    )


@register(
    "events_grouped_quantiles",
    """
    WITH b AS (
      SELECT event_type,
             LEAST(999, GREATEST(0,
               CAST(FLOOR((value - CAST(0.0 AS DOUBLE))
                          / CAST(0.5 AS DOUBLE)) AS INT))) AS bucket
      FROM events
    ),
    s AS (SELECT event_type, bucket, COUNT(*) AS cnt
          FROM b GROUP BY event_type, bucket),
    c AS (SELECT event_type, bucket,
                 SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
                 SUM(cnt) OVER (PARTITION BY event_type) AS total
          FROM s),
    probes AS (SELECT CAST(unnest([0.5, 0.99]) AS DOUBLE) AS q)
    SELECT c.event_type, q,
           ROUND(CAST(0.0 AS DOUBLE) + (MIN(bucket) + 1) * CAST(0.5 AS DOUBLE), 6)
             AS estimate
    FROM probes JOIN c ON cum >= total * q
    GROUP BY c.event_type, q
    """,
)
def events_grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-group quantiles through the MERGEABLE histogram sketch — the
    # telemetry rollup (p50/p99 latency per event type) that at 100 TB runs
    # as one combine-friendly aggregate to ≤1000 rows per key instead of a
    # per-group sort.  Estimates are bit-mirrored in the oracle.
    from ..operators.sketch import quantile_estimate, quantile_sketch

    e = load(spark, sf_dir, "events")
    sk = quantile_sketch(e, "value", 0.0, 500.0, 1000, ["event_type"])
    return quantile_estimate(sk, [0.5, 0.99], 0.0, 500.0, 1000, ["event_type"])


@register(
    "events_scd2_type_history",
    """
    WITH ordered AS (
      SELECT user_id, ts, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_type) AS prev_type
      FROM events
    ),
    collapsed AS (
      SELECT user_id, ts, event_type FROM ordered
      WHERE prev_type IS NULL OR event_type <> prev_type
    )
    SELECT user_id, event_type,
           ts AS valid_from,
           COALESCE(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_type),
                    TIMESTAMP '2100-01-01 00:00:00') AS valid_to,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_type) IS NULL
             AS is_current
    FROM collapsed
    """,
)
def events_scd2_type_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SCD2 historization of each user's event_type "state": the change log
    # collapses to validity intervals [valid_from, valid_to) with an
    # is_current flag — the slowly-changing-dimension layout that
    # point-in-time joins (AS OF semantics) consume.  Both windows ride one
    # user_id exchange.
    from ..operators.relational import scd2_from_changelog

    e = load(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    return scd2_from_changelog(
        e, ["user_id"], "ts", ["event_type"], open_end_ts="2100-01-01 00:00:00"
    )


@register(
    "events_scd2_pointintime",
    # The consuming side of SCD2: an AS OF lookup of each fact's dimension
    # state.  DuckDB's native ASOF JOIN against the replayed history is the
    # oracle for the engine's union+window formulation.
    """
    WITH ordered AS (
      SELECT user_id, ts, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_type) AS prev_type
      FROM events
    ),
    hist AS (
      SELECT user_id, ts AS valid_from, event_type AS state
      FROM ordered
      WHERE prev_type IS NULL OR event_type <> prev_type
    ),
    facts AS (SELECT event_id, user_id, ts FROM events WHERE event_id % 20 = 0)
    SELECT f.event_id, f.user_id, h.state AS state_asof
    FROM facts f
    ASOF LEFT JOIN hist h
      ON f.user_id = h.user_id AND f.ts >= h.valid_from
    """,
)
def events_scd2_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SCD2 + AS OF: build the type-history dimension, then attach to each
    # sampled fact the state whose validity interval covers its timestamp
    # (backward as-of on valid_from — equivalent to the BETWEEN lookup on
    # half-open intervals, but one shuffle instead of a range join).
    from ..operators.relational import scd2_from_changelog
    from ..operators.temporal import asof_join

    e = load(spark, sf_dir, "events")
    hist = scd2_from_changelog(
        e.select("user_id", "ts", "event_type"), ["user_id"], "ts", ["event_type"]
    ).select("user_id", "valid_from", F.col("event_type").alias("state"))
    facts = e.filter(F.col("event_id") % 20 == 0).select("event_id", "user_id", "ts")
    out = asof_join(
        facts,
        hist,
        on=["user_id"],
        left_ts="ts",
        right_ts="valid_from",
        value_cols=["state"],
    )
    return out.select("event_id", "user_id", F.col("state_asof"))


@register(
    "events_gapfill_locf",
    """
    WITH b AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             ROUND(CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0, 6) AS sum_value
      FROM events WHERE value >= 45 GROUP BY 1, 2
    ),
    span AS (SELECT event_type, MIN(bucket) AS lo, MAX(bucket) AS hi FROM b GROUP BY 1),
    grid AS (
      SELECT s.event_type,
             unnest(generate_series(s.lo, s.hi, INTERVAL 1 HOUR)) AS bucket
      FROM span s
    ),
    j AS (
      SELECT g.event_type, g.bucket, b.sum_value,
             b.sum_value IS NULL AS is_gap
      FROM grid g LEFT JOIN b USING (event_type, bucket)
    )
    SELECT event_type, bucket,
           last_value(sum_value IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sum_value,
           is_gap
    FROM j
    """,
)
def events_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hypertable gap filling: a sparse hourly rollup (only high-value
    # events) densifies to a per-type hourly grid with
    # last-observation-carried-forward — the time_bucket_gapfill + locf
    # shape continuous dashboards need.  Grid generated executor-side via
    # sequence+explode; one key window fills.
    from ..operators.temporal import gapfill_locf

    e = load(spark, sf_dir, "events")
    buckets = (
        e.filter(F.col("value") >= 45)
        .groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("bucket"))
        .agg(
            F.round(
                F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")) / 100.0,
                6,
            ).alias("sum_value")
        )
    )
    return gapfill_locf(buckets, ["event_type"], "bucket", ["sum_value"], 3600)


@register(
    "events_sliding_hll_users",
    """
    WITH i AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day_d,
             CAST(user_id AS VARCHAR) AS item
      FROM events
    ),
    days AS (SELECT DISTINCT day_d FROM i),
    h AS (SELECT day_d, CAST('0x' || substr(md5(item), 1, 15) AS BIGINT) AS hv FROM i),
    st AS (
      SELECT day_d, hv % 1024 AS bucket,
             CASE WHEN (hv >> 10) = 0 THEN 51
                  ELSE 51 - length(bin(hv >> 10)) END AS rho
      FROM h
    ),
    sk AS (SELECT day_d, bucket, MAX(rho) AS max_rho FROM st GROUP BY 1, 2),
    fan AS (
      SELECT sk.day_d + CAST(s.i AS INT) AS day_d, bucket, max_rho
      FROM sk, generate_series(0, 2) AS s(i)
    ),
    m AS (
      SELECT f.day_d, bucket, MAX(max_rho) AS max_rho
      FROM fan f JOIN days d USING (day_d) GROUP BY 1, 2
    ),
    agg AS (
      SELECT day_d, CAST(COUNT(*) AS BIGINT) AS nb,
             CAST(SUM(CAST(1 AS BIGINT) << (51 - max_rho)) AS BIGINT) AS zsum
      FROM m GROUP BY day_d
    ),
    raws AS (
      SELECT day_d,
             (CAST(0.7213 AS DOUBLE) / (1 + CAST(1.079 AS DOUBLE) / 1024))
               * 1024 * 1024 * (CAST(1 AS BIGINT) << 51)
               / ((1024 - nb) * (CAST(1 AS BIGINT) << 51) + zsum) AS raw,
             CAST(1024 - nb AS DOUBLE) AS zeros
      FROM agg
    ),
    est AS (
      SELECT day_d,
             ROUND(CASE WHEN raw <= 2.5 * 1024 AND zeros > 0
                        THEN CAST(1024 AS DOUBLE) * ln(CAST(1024 AS DOUBLE) / zeros)
                        ELSE raw END, 2) AS users_3d
      FROM raws
    ),
    ifan AS (
      SELECT i.day_d + CAST(s.i AS INT) AS day_d, item
      FROM i, generate_series(0, 2) AS s(i)
    ),
    fx AS (
      SELECT f.day_d, CAST(COUNT(DISTINCT item) AS BIGINT) AS n_exact_3d
      FROM ifan f JOIN days d USING (day_d) GROUP BY f.day_d
    )
    SELECT strftime(e.day_d, '%Y-%m-%d') AS day, users_3d, n_exact_3d
    FROM est e JOIN fx USING (day_d)
    """,
)
def events_sliding_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Trailing-3-day distinct users from MERGED daily HLL states — the
    # pre-aggregate-once / answer-any-window sketch pattern: raw events
    # are touched exactly once (daily sketch build); every window after
    # that folds sketch-sized state (MAX per bucket).  Exact trailing
    # count alongside for the error band.
    from ..operators.sketch import hll_estimate, hll_merge_windows, hll_sketch

    e = load(spark, sf_dir, "events")
    items = e.select(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day_d"), F.col("user_id")
    )
    sk = hll_sketch(items, "user_id", ["day_d"])
    merged = hll_merge_windows(sk, "day_d", window_days=3)
    est = hll_estimate(merged, ["day_d"]).select(
        "day_d", F.col("estimate").alias("users_3d")
    )
    days = items.select("day_d").distinct()
    ifan = items.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(2))).alias("_i"),
        F.col("day_d").alias("_src"),
    ).select(F.date_add(F.col("_src"), F.col("_i")).alias("day_d"), "user_id")
    exact = (
        ifan.join(days, on="day_d")
        .groupBy("day_d")
        .agg(F.countDistinct("user_id").cast("long").alias("n_exact_3d"))
    )
    return (
        est.join(exact, on="day_d")
        .select(
            F.date_format(F.col("day_d"), "yyyy-MM-dd").alias("day"),
            "users_3d",
            "n_exact_3d",
        )
    )


@register(
    "events_winsorize",
    """
    WITH q AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS p_lo,
             quantile_cont(value, 0.95) AS p_hi
      FROM events GROUP BY event_type
    ),
    w AS (
      SELECT e.event_type, p_lo, p_hi,
             CASE WHEN value < p_lo THEN p_lo
                  WHEN value > p_hi THEN p_hi
                  ELSE value END AS value_win,
             CASE WHEN value < p_lo THEN -1
                  WHEN value > p_hi THEN 1
                  ELSE 0 END AS clip_flag
      FROM events e JOIN q USING (event_type)
    )
    SELECT event_type,
           ROUND(MIN(p_lo), 6) AS p_lo,
           ROUND(MIN(p_hi), 6) AS p_hi,
           CAST(SUM(CASE WHEN clip_flag = -1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_low,
           CAST(SUM(CASE WHEN clip_flag = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_high,
           ROUND(CAST(SUM(CAST(floor(value_win * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
             / 1e6, 6) AS win_sum
    FROM w GROUP BY event_type
    """,
)
def events_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Robust-mean preprocessing: clip event values to the exact per-type
    # [p05, p95] band before averaging (outlier spikes no longer own the
    # mean).  The clip bounds broadcast back onto the rows, so the fact
    # table is touched once; the summary proves the clip counts and the
    # winsorized mass per type.
    from ..operators.quality import winsorize

    w = winsorize(load(spark, sf_dir, "events"), "value", ["event_type"], 0.05, 0.95)
    return w.groupBy("event_type").agg(
        F.round(F.min("p_lo"), 6).alias("p_lo"),
        F.round(F.min("p_hi"), 6).alias("p_hi"),
        F.sum(F.when(F.col("clip_flag") == -1, 1).otherwise(0))
        .cast("long")
        .alias("n_low"),
        F.sum(F.when(F.col("clip_flag") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_high"),
        F.round(
            F.sum(F.floor(F.col("value_win") * 1e6 + F.lit(0.5)).cast("long")) / 1e6,
            6,
        ).alias("win_sum"),
    )


@register(
    "events_cooccurrence_lift",
    """
    WITH u AS (SELECT DISTINCT user_id AS e, event_type AS i FROM events),
    n AS (SELECT CAST(COUNT(DISTINCT e) AS BIGINT) AS n_entities FROM u),
    pi AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS n FROM u GROUP BY i),
    pr AS (
      SELECT a.i AS item_a, b.i AS item_b, CAST(COUNT(*) AS BIGINT) AS n_both
      FROM u a JOIN u b ON a.e = b.e AND a.i < b.i GROUP BY 1, 2
    )
    SELECT item_a, item_b, pa.n AS n_a, pb.n AS n_b, n_both,
           ROUND(CAST(n_both * n_entities AS DOUBLE) / (pa.n * pb.n), 6) AS lift
    FROM pr
    JOIN pi pa ON pa.i = pr.item_a
    JOIN pi pb ON pb.i = pr.item_b
    CROSS JOIN n
    """,
)
def events_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Market-basket association over the event stream: which event types
    # travel together across users, chance-corrected by lift.  Candidate
    # volume is bounded by the per-user distinct-TYPE count (the type
    # vocabulary), never the event count.
    from ..operators.relational import cooccurrence_lift

    return cooccurrence_lift(load(spark, sf_dir, "events"), "user_id", "event_type")


@register(
    "events_time_weighted_avg",
    """
    WITH d AS (
      SELECT user_id, event_id, value,
             CAST(floor(epoch(ts)) AS BIGINT) AS s
      FROM events
    ),
    l AS (
      SELECT user_id, value, s,
             LEAD(s) OVER (PARTITION BY user_id ORDER BY s, event_id) AS ns
      FROM d
    ),
    c AS (SELECT user_id, value, ns - s AS dt FROM l WHERE ns IS NOT NULL),
    a AS (
      SELECT user_id,
             CAST(SUM(CAST(floor(value * dt * 1e9 + 0.5) AS BIGINT)) AS BIGINT)
               AS num_ni,
             CAST(SUM(dt) AS BIGINT) AS total_s
      FROM c GROUP BY user_id
    )
    SELECT user_id, total_s,
           ROUND(CAST(num_ni AS DOUBLE) / 1e9 / total_s, 6) AS twa
    FROM a WHERE total_s > 0
    """,
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hypertable time_weight aggregate: LOCF time-weighted mean of the
    # value series per user — each reading weighted by the seconds until
    # the next, so burst sampling doesn't over-count.  Epoch seconds come
    # from NTZ field arithmetic (the events_trailing_hour_avg convention).
    from ..operators.temporal import time_weighted_avg

    e = load(spark, sf_dir, "events").withColumn(
        "epoch_s",
        (
            F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("long") * 86400
            + F.hour("ts") * 3600
            + F.minute("ts") * 60
            + F.second("ts")
        ).cast("long"),
    )
    return time_weighted_avg(
        e, "epoch_s", "value", ["user_id"], tiebreak_cols=["event_id"]
    )


@register(
    "events_lag_features",
    """
    WITH d AS (
      SELECT user_id, event_id, event_type, value,
             CAST(floor(epoch(ts)) AS BIGINT) AS s
      FROM events
    )
    SELECT user_id, event_id, event_type,
           LAG(event_type) OVER w AS prev_state,
           CAST(s - LAG(s) OVER w AS BIGINT) AS gap_s,
           ROUND(value - LAG(value) OVER w, 6) AS value_delta,
           CAST(ROW_NUMBER() OVER w AS INT) AS seq
    FROM d
    WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id)
    """,
)
def events_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-user lag/delta feature builder (sequence-model staple): previous
    # event type, gap seconds, value delta, sequence index — all four
    # columns off ONE shared Sort+Window (single shuffle on user_id).
    # First events keep NULL lags.
    from ..operators.temporal import lag_features

    e = load(spark, sf_dir, "events").withColumn(
        "epoch_s",
        (
            F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("long") * 86400
            + F.hour("ts") * 3600
            + F.minute("ts") * 60
            + F.second("ts")
        ).cast("long"),
    )
    out = lag_features(
        e, "user_id", "epoch_s", "value",
        state_col="event_type", tiebreak_cols=["event_id"],
    )
    return out.select(
        "user_id", "event_id", "event_type",
        "prev_state", "gap_s", "value_delta", "seq",
    )


@register(
    "events_transition_matrix",
    """
    WITH s AS (
      SELECT event_type AS state,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_state
      FROM events
    ),
    p AS (
      SELECT state, next_state, CAST(COUNT(*) AS BIGINT) AS n
      FROM s WHERE next_state IS NOT NULL GROUP BY 1, 2
    ),
    t AS (SELECT state, CAST(SUM(n) AS BIGINT) AS n_from FROM p GROUP BY state)
    SELECT state, next_state, n, n_from,
           ROUND(CAST(n AS DOUBLE) / n_from, 6) AS p
    FROM p JOIN t USING (state)
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # First-order Markov flow over per-user event sequences: P(next |
    # current) for every observed transition — the session-flow model.
    # One LEAD window + a type-vocabulary-sized count.
    from ..operators.temporal import transition_matrix

    return transition_matrix(
        load(spark, sf_dir, "events"), "user_id", "event_type", "ts",
        tiebreak_cols=["event_id"],
    )


@register(
    "events_decayed_counts",
    """
    WITH mx AS (SELECT MAX(CAST(date_trunc('day', ts) AS DATE)) AS m
                FROM events),
    d AS (
      SELECT event_type,
             datediff('day', CAST(date_trunc('day', ts) AS DATE), m) AS age
      FROM events CROSS JOIN mx
    ),
    w AS (
      SELECT event_type,
             CAST(floor(pow(0.5, CAST(age AS DOUBLE) / 7.0) * 1e9 + 0.5)
                  AS BIGINT) AS w_ni
      FROM d
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_raw,
           ROUND(CAST(SUM(w_ni) AS DOUBLE) / 1e9, 6) AS decayed_count
    FROM w GROUP BY event_type
    """,
)
def events_decayed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Recency-weighted event-type popularity with a 7-day half-life —
    # the trending view; age anchors to the newest day in the data so
    # the metric is deterministic.  Costs one broadcast scalar + one
    # map-side-combined aggregate.
    from ..operators.temporal import decayed_counts

    e = load(spark, sf_dir, "events").withColumn(
        "day_d", F.to_date(F.date_trunc("day", F.col("ts")))
    )
    mx = e.agg(F.max("day_d").alias("m"))
    aged = e.crossJoin(F.broadcast(mx)).withColumn(
        "age", F.datediff(F.col("m"), F.col("day_d"))
    )
    return decayed_counts(aged, "age", ["event_type"], half_life=7.0)


@register(
    "events_mad_outliers",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    wm AS (SELECT e.event_type, value, med FROM events e JOIN med USING (event_type)),
    mad AS (
      SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
      FROM wm GROUP BY event_type
    ),
    z AS (
      SELECT wm.event_type, med, mad,
             0.6745 * abs(value - med) / mad AS rz
      FROM wm JOIN mad USING (event_type)
    )
    SELECT event_type, ROUND(MIN(med), 6) AS med, ROUND(MIN(mad), 6) AS mad,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN rz > 3.5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers,
           ROUND(MAX(rz), 6) AS max_z
    FROM z GROUP BY event_type
    """,
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Robust anomaly audit per event type: modified z-score from
    # median/MAD (outliers can't drag their own threshold) — the
    # flagging companion of events_winsorize.  Two broadcast-back
    # grouped percentiles; summary proves the flag counts.
    from ..operators.quality import mad_outliers

    out = mad_outliers(load(spark, sf_dir, "events"), "value", ["event_type"], 3.5)
    return out.groupBy("event_type").agg(
        F.round(F.min("med"), 6).alias("med"),
        F.round(F.min("mad"), 6).alias("mad"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("is_outlier"), 1).otherwise(0)).cast("long").alias("n_outliers"),
        F.round(F.max("robust_z"), 6).alias("max_z"),
    )


@register(
    "events_retention_cohorts",
    """
    WITH d AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d FROM events
    ),
    f AS (SELECT user_id, MIN(d) AS cohort FROM d GROUP BY 1),
    r AS (
      SELECT d.user_id, f.cohort,
             CAST(datediff('day', f.cohort, d.d) AS INT) AS day_offset
      FROM d JOIN f USING (user_id)
    ),
    g AS (
      SELECT cohort, day_offset, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM r GROUP BY 1, 2
    ),
    s AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_size FROM f GROUP BY 1)
    SELECT CAST(g.cohort AS VARCHAR) AS cohort, day_offset, n_users, cohort_size,
           ROUND(CAST(n_users AS DOUBLE) / cohort_size, 6) AS retention
    FROM g JOIN s USING (cohort)
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cohort retention matrix — the canonical product-analytics rollup:
    # users grouped by first-seen day, distinct actives per (cohort, day
    # offset), rate against cohort size.  One events scan: first-seen via
    # a user-key window, size via the day-offset-0 row of the same
    # (cohort, offset) aggregate — never per cohort.
    e = load(spark, sf_dir, "events").select(
        "user_id", F.to_date(F.date_trunc("day", F.col("ts"))).alias("d")
    )
    # r13 same-key-window rewrite: the first-seen day was a groupBy +
    # join-back over the same user key, and the cohort-size a second
    # aggregate over that first-seen table — Catalyst re-expanded both
    # shared subtrees (2 events scans, 0 ReusedExchange).  min(d) over the
    # user partition rides ONE events scan; cohort_size == n_users at
    # day_offset 0 (every user is active on their own first day — the
    # min-day row is in the distinct-active set by construction), so the
    # size rides the SAME (cohort, day_offset) aggregate via a
    # cohort-partition window instead of a second aggregate + join.
    # Identical aggregate expressions -> bit-equal values (oracle-pinned).
    r = e.withColumn("cohort", F.min("d").over(Window.partitionBy("user_id"))).select(
        "user_id", "cohort", F.datediff("d", "cohort").alias("day_offset")
    )
    g = r.groupBy("cohort", "day_offset").agg(
        F.countDistinct("user_id").alias("n_users")
    )
    g = g.withColumn(
        "cohort_size",
        F.max(F.when(F.col("day_offset") == 0, F.col("n_users"))).over(
            Window.partitionBy("cohort")
        ),
    )
    return g.select(
        F.col("cohort").cast("string").alias("cohort"),
        "day_offset",
        "n_users",
        "cohort_size",
        F.round(F.col("n_users").cast("double") / F.col("cohort_size"), 6).alias(
            "retention"
        ),
    )


@register(
    "events_rfm_scores",
    """
    WITH d AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    mx AS (SELECT MAX(d) AS md FROM d),
    u AS (
      SELECT user_id,
             CAST(datediff('day', MAX(d), (SELECT md FROM mx)) AS BIGINT)
               AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(cents) AS BIGINT) AS monetary_cents
      FROM d GROUP BY user_id
    ),
    cuts AS (
      SELECT quantile_cont(recency_days, [0.2, 0.4, 0.6, 0.8]) AS rq,
             quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]) AS fq,
             quantile_cont(monetary_cents, [0.2, 0.4, 0.6, 0.8]) AS mq
      FROM u
    )
    SELECT user_id, recency_days, frequency, monetary_cents,
           CAST(4 - len(list_filter(c.rq, q -> u.recency_days >= q)) + 1 AS INT)
             AS r_score,
           CAST(len(list_filter(c.fq, q -> u.frequency >= q)) + 1 AS INT)
             AS f_score,
           CAST(len(list_filter(c.mq, q -> u.monetary_cents >= q)) + 1 AS INT)
             AS m_score
    FROM u CROSS JOIN cuts c
    """,
)
def events_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    # RFM segmentation (recency / frequency / monetary quintiles) — the
    # classic lifecycle scoring on the no-sort cutpoint pattern: scores
    # are 1-5, recency inverts (recent = high), monetary in exact
    # integer cents.  All THREE quintile cut arrays come out of ONE
    # aggregate over the per-user rollup (three chained percentile_bins
    # calls each re-derive the rollup in their lineage — measured 15
    # exchanges / 15 BNLJ in PLAN_AUDIT_r8; this form is 5 exchanges,
    # and the single-partition cuts aggregate sees |users| partials,
    # not events).  The two broadcast fan-outs carry one row each.
    e = load(spark, sf_dir, "events").select(
        "user_id",
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("d"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    # global max day via map-side MAX over the raw scan (no rollup needed)
    mx = e.agg(F.max("d").alias("md"))
    u = (
        e.groupBy("user_id")
        .agg(
            F.max("d").alias("last_d"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum("cents").cast("long").alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "user_id",
            F.datediff("md", "last_d").cast("long").alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
    )
    ps = "array(0.2D, 0.4D, 0.6D, 0.8D)"
    cuts = u.agg(
        F.expr(f"percentile(recency_days, {ps})").alias("_rq"),
        F.expr(f"percentile(frequency, {ps})").alias("_fq"),
        F.expr(f"percentile(monetary_cents, {ps})").alias("_mq"),
    )

    def _fold(arr: str, col: str) -> Column:
        return F.aggregate(
            arr,
            F.lit(0),
            lambda acc, q: acc + F.when(F.col(col) >= q, 1).otherwise(0),
        )

    return u.crossJoin(F.broadcast(cuts)).select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary_cents",
        (F.lit(5) - _fold("_rq", "recency_days")).cast("int").alias("r_score"),
        (_fold("_fq", "frequency") + F.lit(1)).cast("int").alias("f_score"),
        (_fold("_mq", "monetary_cents") + F.lit(1)).cast("int").alias("m_score"),
    )


@register(
    "events_ohlc_bars",
    # Window-ranked oracle (DuckDB arg_min/arg_max cannot order by a
    # composite): open/close = value at the (ts, event_id)-first/last row
    # per bar, identical tiebreak to the engine's min_by/max_by struct.
    """
    WITH ranked AS (
      SELECT date_trunc('day', ts) AS bucket, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY date_trunc('day', ts), event_type
                                ORDER BY ts ASC, event_id ASC) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY date_trunc('day', ts), event_type
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
    )
    SELECT bucket, event_type,
           ROUND(MAX(CASE WHEN rn_a = 1 THEN value END), 6) AS open,
           ROUND(MAX(value), 6) AS high,
           ROUND(MIN(value), 6) AS low,
           ROUND(MAX(CASE WHEN rn_d = 1 THEN value END), 6) AS close,
           COUNT(*) AS n
    FROM ranked GROUP BY bucket, event_type
    """,
)
def events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    # OHLC downsampling (hypertable first/last/min/max rollup): ONE
    # map-side-combinable aggregate — min_by/max_by partials merge like
    # MIN/MAX, so ticks reduce per-partition before the keyed shuffle,
    # unlike the oracle's whole-group window sort.
    from ..operators.temporal import ohlc_bars

    return ohlc_bars(
        load(spark, sf_dir, "events"),
        ts_col="ts",
        value_col="value",
        key_cols=["event_type"],
        bucket="day",
        id_col="event_id",
    )


@register(
    "events_asof_tolerance",
    # DuckDB ASOF LEFT JOIN + the identical integer-microsecond staleness
    # cutoff: matches older than 30 min come back NULL.
    """
    SELECT t.event_id, t.user_id,
           CASE WHEN q.ts IS NULL OR epoch_us(t.ts) - epoch_us(q.ts) > 1800000000
                THEN NULL ELSE q.value END AS view_value_asof,
           CASE WHEN q.ts IS NULL OR epoch_us(t.ts) - epoch_us(q.ts) > 1800000000
                THEN NULL
                ELSE ROUND((epoch_us(t.ts) - epoch_us(q.ts)) / 1e6, 6)
           END AS staleness_s
    FROM (SELECT * FROM events WHERE event_type = 'purchase') t
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') q
      ON t.user_id = q.user_id AND t.ts >= q.ts
    """,
)
def events_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Bounded-staleness as-of join (merge_asof tolerance / kdb ASOF
    # TOLERANCE): same single-shuffle union+window plan as
    # events_asof_join, the 30-min bound applied as a map-side filter on
    # exact epoch-microseconds — stale feature values become NULL instead
    # of silently wrong.
    from ..operators.temporal import asof_join_tolerance

    e = load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase")
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts"), F.col("value").alias("view_value")
    )
    out = asof_join_tolerance(
        purchases,
        views,
        on=["user_id"],
        left_ts="ts",
        right_ts="view_ts",
        value_cols=["view_value"],
        tolerance_seconds=1800,
    )
    return out.select("event_id", "user_id", "view_value_asof", "staleness_s")


@register(
    "events_cusum_changepoint",
    # Same CUSUM chain: daily counts (integral -> exact mean), running
    # sum of deviations ordered by day, peak |CUSUM| with min-day ties.
    """
    WITH per AS (
      SELECT event_type, date_trunc('day', ts) AS bucket,
             CAST(COUNT(*) AS DOUBLE) AS x
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT *, AVG(x) OVER (PARTITION BY event_type) AS mean,
             COUNT(*) OVER (PARTITION BY event_type) AS n_buckets
      FROM per
    ), c AS (
      SELECT *, SUM(x - mean) OVER (
               PARTITION BY event_type ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
      FROM m
    )
    SELECT event_type, bucket AS change_bucket,
           ROUND(cusum, 6) AS peak_cusum,
           CAST(n_buckets AS BIGINT) AS n_buckets
    FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY event_type ORDER BY abs(cusum) DESC, bucket ASC) AS rn
          FROM c)
    WHERE rn = 1
    """,
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CUSUM level-shift detection on the per-type daily count series: the
    # raw stream reduces to (type, day) in one map-side-combined pass;
    # the running-deviation window and peak argmax run on the tiny daily
    # table.  Counts are integral so the mean is exact and the ordered
    # cumsum replays bit-identically in the oracle.
    from ..operators.temporal import cusum_changepoints

    return cusum_changepoints(
        load(spark, sf_dir, "events"),
        ["event_type"],
        F.date_trunc("day", F.col("ts")),
        F.lit(1),
    )


@register(
    "events_path_trigrams",
    """
    WITH s AS (
      SELECT event_type AS step1,
             LEAD(event_type, 1) OVER w AS step2,
             LEAD(event_type, 2) OVER w AS step3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT step1, step2, step3, CAST(COUNT(*) AS BIGINT) AS n
    FROM s WHERE step2 IS NOT NULL AND step3 IS NOT NULL
    GROUP BY 1, 2, 3
    """,
)
def events_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Frequent 3-step behavioral paths: chained LEADs over ONE user_id
    # shuffle (the k-step self-join formulation shuffles the fact table
    # k times), then a map-side-combined count on the path vocabulary.
    # event_id breaks timestamp ties so every n-gram is deterministic.
    from ..operators.temporal import path_ngrams

    return path_ngrams(
        load(spark, sf_dir, "events"),
        "user_id",
        "ts",
        "event_type",
        n=3,
        tiebreak_col="event_id",
    )


@register(
    "events_incident_overlap",
    # Oracle replays the two interval derivations and checks the overlap
    # with a plain predicate join -- the binned plan must emit exactly
    # the pairs the naive theta-join finds.
    """
    WITH act AS (
      SELECT user_id, date_trunc('day', ts) AS day,
             MIN(ts) AS l_start, MAX(ts) AS l_end
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY 1, 2
    ), hr AS (
      SELECT date_trunc('hour', ts) AS hour_start, COUNT(*) AS n_err
      FROM events WHERE event_type = 'error' GROUP BY 1
    ), inc AS (
      SELECT hour_start, hour_start + INTERVAL 1 HOUR AS hour_end
      FROM hr WHERE n_err > 1.5 * (SELECT AVG(n_err) FROM hr)
    )
    SELECT a.user_id, a.day, i.hour_start,
           ROUND((least(epoch_us(a.l_end), epoch_us(i.hour_end))
                  - greatest(epoch_us(a.l_start), epoch_us(i.hour_start))) / 1e6,
                 6) AS overlap_s
    FROM act a JOIN inc i
      ON epoch_us(a.l_start) <= epoch_us(i.hour_end)
     AND epoch_us(i.hour_start) <= epoch_us(a.l_end)
    """,
)
def events_incident_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Interval x interval overlap join, binned: per-user daily activity
    # intervals vs error-burst incident hours (count > 1.5x the mean
    # hourly error rate).  Both sides explode to hour bins, equi-join on
    # the bin, and each pair is emitted exactly once in the bin holding
    # greatest(l_start, r_start) -- no DISTINCT pass, never |L| x |R|.
    from ..operators.temporal import interval_overlap_join

    e = load(spark, sf_dir, "events")
    act = (
        e.filter(F.col("event_type").isin("click", "view"))
        .groupBy("user_id", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.min("ts").alias("l_start"), F.max("ts").alias("l_end"))
    )
    hr = (
        e.filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_start"))
        .agg(F.count(F.lit(1)).alias("n_err"))
    )
    avg_err = hr.agg(F.avg("n_err").alias("_avg"))
    inc = (
        hr.crossJoin(F.broadcast(avg_err))
        .filter(F.col("n_err") > 1.5 * F.col("_avg"))
        .select(
            "hour_start",
            (F.col("hour_start") + F.expr("INTERVAL 1 HOUR")).alias("hour_end"),
        )
    )
    out = interval_overlap_join(
        act, inc, "l_start", "l_end", "hour_start", "hour_end", bin_seconds=3600
    )
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    return out.select(
        "user_id",
        "day",
        "hour_start",
        F.round(
            (
                F.least(us("l_end"), us("hour_end"))
                - F.greatest(us("l_start"), us("hour_start"))
            )
            / 1e6,
            6,
        ).alias("overlap_s"),
    )


@register(
    "events_ab_test",
    # Identical md5-parity variant assignment + per-unit conversion and
    # the pooled two-proportion z statistic.
    """
    WITH u AS (
      SELECT user_id,
             CASE WHEN CAST('0x' || substr(md5('ab|' || CAST(user_id AS VARCHAR)), 1, 8)
                        AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
             MAX(CASE WHEN event_type = 'purchase' AND value >= 150.0
                      THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY 1
    ), s AS (
      SELECT CAST(SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN variant = 'A' THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN variant = 'A' THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
             CAST(SUM(CASE WHEN variant = 'A' THEN 0 ELSE conv END) AS BIGINT) AS conv_b
      FROM u
    )
    SELECT n_a, n_b, conv_a, conv_b,
           ROUND(conv_a / CAST(NULLIF(n_a, 0) AS DOUBLE), 6) AS rate_a,
           ROUND(conv_b / CAST(NULLIF(n_b, 0) AS DOUBLE), 6) AS rate_b,
           ROUND((conv_b / CAST(NULLIF(n_b, 0) AS DOUBLE)
                  - conv_a / CAST(NULLIF(n_a, 0) AS DOUBLE))
                 / NULLIF(conv_a / CAST(NULLIF(n_a, 0) AS DOUBLE), 0),
                 6) AS lift_b_vs_a,
           ROUND((conv_b / CAST(NULLIF(n_b, 0) AS DOUBLE)
                  - conv_a / CAST(NULLIF(n_a, 0) AS DOUBLE))
                 / NULLIF(sqrt(((conv_a + conv_b) / CAST(NULLIF(n_a + n_b, 0) AS DOUBLE))
                        * (1.0 - (conv_a + conv_b) / CAST(NULLIF(n_a + n_b, 0) AS DOUBLE))
                        * (1.0 / NULLIF(n_a, 0) + 1.0 / NULLIF(n_b, 0))), 0),
                 6) AS z_score
    FROM s
    """,
)
def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two-proportion A/B readout: deterministic md5-parity variant split
    # (a null experiment by construction -- the z statistic is the
    # product), unit = user, conversion = any purchase >= 150.  Events
    # reduce to units, units to two variant rows; every ratio forms from
    # integer numerators so the oracle replays it exactly.
    from ..operators.quality import ab_test_report

    e = load(spark, sf_dir, "events")
    parity = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ab|"), F.col("user_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    e = e.withColumn("variant", F.when(parity == 0, "A").otherwise("B"))
    return ab_test_report(
        e,
        "user_id",
        "variant",
        (F.col("event_type") == "purchase") & (F.col("value") >= 150.0),
    )


def _ccf_arm_sql(k: int) -> str:
    yk = "y" if k == 0 else f"y{k}"
    # exact integer moments per lag (counts; order-proof), one final
    # fixed-order double expression — see cross_correlation docstring
    return f"""
    SELECT {k} AS lag,
           CASE WHEN dx > 0 AND dy > 0 THEN
             ROUND(CAST(num AS DOUBLE)
                   / (sqrt(CAST(dx AS DOUBLE)) * sqrt(CAST(dy AS DOUBLE))), 6)
           END AS ccf, n
    FROM (
      SELECT n * sxy - sx * sy AS num,
             n * sxx - sx * sx AS dx, n * syy - sy * sy AS dy,
             CAST(n AS BIGINT) AS n
      FROM (
        SELECT CAST(COUNT({yk}) AS HUGEINT) AS n,
               CAST(COALESCE(SUM(CASE WHEN {yk} IS NOT NULL THEN x END), 0) AS HUGEINT) AS sx,
               CAST(COALESCE(SUM({yk}), 0) AS HUGEINT) AS sy,
               CAST(COALESCE(SUM(CASE WHEN {yk} IS NOT NULL THEN x * x END), 0) AS HUGEINT) AS sxx,
               CAST(COALESCE(SUM({yk} * {yk}), 0) AS HUGEINT) AS syy,
               CAST(COALESCE(SUM(x * {yk}), 0) AS HUGEINT) AS sxy
        FROM lagged
      )
    )"""


_CCF_SQL = (
    """
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS y
      FROM events GROUP BY 1
    ), lagged AS (
      SELECT x, y,
             LAG(y, 1) OVER w AS y1, LAG(y, 2) OVER w AS y2,
             LAG(y, 3) OVER w AS y3, LAG(y, 4) OVER w AS y4,
             LAG(y, 5) OVER w AS y5
      FROM daily WINDOW w AS (ORDER BY day)
    )
    """
    + "\nUNION ALL\n".join(_ccf_arm_sql(k) for k in range(6))
)


@register("events_cross_correlation", _CCF_SQL)
def events_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lead-lag CCF between the daily purchase and error series ("do error
    # bursts predict purchase dips k days later?").  Raw events reduce to
    # the 30-row daily table map-side; lags and all corr moment sums run
    # on that table in one window + one aggregate.  exact_counts=True:
    # the series are integer counts, so the per-lag Pearson r reduces
    # over exact integer moments (accumulation-order-proof; r11
    # flake-audit fix for the builtin corr's order-dependent low bits).
    from ..operators.temporal import cross_correlation

    daily = (
        load(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long")
            .alias("y"),
        )
    )
    return cross_correlation(
        daily, "day", F.col("x"), F.col("y"), max_lag=5, exact_counts=True
    )


@register(
    "events_asof_nearest",
    # Same union + two-direction window construction: backward fill,
    # forward fill, integer-microsecond distance pick (ties -> backward).
    """
    WITH m AS (
      SELECT user_id, ts, CAST(NULL AS DOUBLE) AS v, 1 AS side, event_id
      FROM events WHERE event_type = 'purchase'
      UNION ALL
      SELECT user_id, ts, value AS v, 0 AS side, NULL
      FROM events WHERE event_type = 'view'
    ), f AS (
      SELECT *,
        last_value(CASE WHEN side = 0 THEN v END IGNORE NULLS) OVER wb AS bv,
        last_value(CASE WHEN side = 0 THEN ts END IGNORE NULLS) OVER wb AS bts,
        last_value(CASE WHEN side = 0 THEN v END IGNORE NULLS) OVER wf AS fv,
        last_value(CASE WHEN side = 0 THEN ts END IGNORE NULLS) OVER wf AS fts
      FROM m
      WINDOW wb AS (PARTITION BY user_id ORDER BY ts ASC, side ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY user_id ORDER BY ts DESC, side ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id,
           CASE WHEN fts IS NULL
                 OR (bts IS NOT NULL
                     AND epoch_us(ts) - epoch_us(bts) <= epoch_us(fts) - epoch_us(ts))
                THEN bv ELSE fv END AS view_value_asof,
           ROUND(CASE WHEN fts IS NULL
                       OR (bts IS NOT NULL
                           AND epoch_us(ts) - epoch_us(bts) <= epoch_us(fts) - epoch_us(ts))
                      THEN (epoch_us(ts) - epoch_us(bts)) / 1e6
                      ELSE (epoch_us(fts) - epoch_us(ts)) / 1e6 END,
                 6) AS nearest_distance_s
    FROM f WHERE side = 1
    """,
)
def events_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # merge_asof(direction='nearest'): each purchase takes the view
    # reading closest in time on EITHER side (ties -> earlier), one keyed
    # exchange shared by both direction windows.
    from ..operators.temporal import asof_join_nearest

    e = load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase")
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts"), F.col("value").alias("view_value")
    )
    out = asof_join_nearest(
        purchases, views, ["user_id"], "ts", "view_ts", "view_value"
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("view_value_asof").alias("view_value_asof"),
        "nearest_distance_s",
    )


@register(
    "events_timed_funnel",
    # Funnel with per-step deadlines: click within 1 h of the first view,
    # purchase within 24 h of that click.
    """
    WITH w1 AS (
      SELECT user_id, event_type, ts,
             MIN(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS t1
      FROM events
    ), w2 AS (
      SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > t1
                          AND epoch_us(ts) - epoch_us(t1) <= 3600000000
                         THEN ts END)
                  OVER (PARTITION BY user_id) AS t2
      FROM w1
    ), w3 AS (
      SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > t2
                          AND epoch_us(ts) - epoch_us(t2) <= 86400000000
                         THEN ts END)
                  OVER (PARTITION BY user_id) AS t3
      FROM w2
    ), per_user AS (
      SELECT user_id, MAX(t1) AS t1, MAX(t2) AS t2, MAX(t3) AS t3
      FROM w3 GROUP BY user_id
    )
    SELECT CAST(COUNT(user_id) AS BIGINT) AS n_users,
           CAST(COUNT(t1) AS BIGINT) AS n_view,
           CAST(COUNT(t2) AS BIGINT) AS n_click_1h,
           CAST(COUNT(t3) AS BIGINT) AS n_purchase_24h
    FROM per_user
    """,
)
def events_timed_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The production funnel shape: each step only counts within its
    # deadline (click <=1h after view, purchase <=24h after click) --
    # unbounded funnels overstate conversion.  Same three chained windows
    # over ONE user_id shuffle as events_funnel_counts, the deadlines are
    # map-side integer-microsecond predicates.
    from pyspark.sql import Window

    wu = Window.partitionBy("user_id")
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    d = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    d = d.withColumn(
        "t1", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(wu)
    )
    d = d.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("ts") > F.col("t1"))
                & (us(F.col("ts")) - us(F.col("t1")) <= 3600 * 1_000_000),
                F.col("ts"),
            )
        ).over(wu),
    )
    d = d.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("t2"))
                & (us(F.col("ts")) - us(F.col("t2")) <= 86400 * 1_000_000),
                F.col("ts"),
            )
        ).over(wu),
    )
    per_user = d.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    return per_user.agg(
        F.count("user_id").cast("long").alias("n_users"),
        F.count("t1").cast("long").alias("n_view"),
        F.count("t2").cast("long").alias("n_click_1h"),
        F.count("t3").cast("long").alias("n_purchase_24h"),
    )


@register(
    "events_dow_seasonality",
    # Day-of-week profile: average daily count per (type, weekday) vs the
    # type's overall daily average; weekday 0 = Monday both engines.
    """
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             isodow(date_trunc('day', ts)) - 1 AS dow,
             CAST(COUNT(*) AS DOUBLE) AS x
      FROM events GROUP BY 1, 2, 3
    ), per_dow AS (
      SELECT event_type, dow, AVG(x) AS avg_count,
             CAST(COUNT(*) AS BIGINT) AS n_days
      FROM daily GROUP BY 1, 2
    ), overall AS (
      SELECT event_type, AVG(x) AS overall_avg FROM daily GROUP BY 1
    )
    SELECT p.event_type, CAST(p.dow AS INT) AS dow, p.n_days,
           ROUND(p.avg_count, 6) AS avg_count,
           ROUND(p.avg_count / o.overall_avg, 6) AS seasonality_index
    FROM per_dow p JOIN overall o ON p.event_type = o.event_type
    """,
)
def events_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Weekly seasonality profile: raw events reduce to (type, day)
    # map-side; the dow rollup and the overall-average broadcast join run
    # on the daily table.  Integral daily counts keep both averages exact
    # ratios of integers.
    daily = (
        load(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.expr("weekday(ts)").alias("dow"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("x"))
    )
    per_dow = daily.groupBy("event_type", "dow").agg(
        F.avg("x").alias("avg_count"), F.count(F.lit(1)).cast("long").alias("n_days")
    )
    overall = daily.groupBy("event_type").agg(F.avg("x").alias("overall_avg"))
    return (
        per_dow.join(F.broadcast(overall), on="event_type")
        .select(
            "event_type",
            F.col("dow").cast("int").alias("dow"),
            "n_days",
            F.round(F.col("avg_count"), 6).alias("avg_count"),
            F.round(F.col("avg_count") / F.col("overall_avg"), 6).alias(
                "seasonality_index"
            ),
        )
    )


@register(
    "events_cumulative_new_users",
    # Growth accounting per event type: each user's first day DOING that
    # type, then a running sum over the (type, day) table.
    """
    WITH first_seen AS (
      SELECT event_type, user_id, MIN(date_trunc('day', ts)) AS day
      FROM events GROUP BY 1, 2
    ), per_day AS (
      SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS new_users
      FROM first_seen GROUP BY 1, 2
    )
    SELECT event_type, day, new_users,
           CAST(SUM(new_users) OVER (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cumulative_users
    FROM per_day
    """,
)
def events_cumulative_new_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Adoption curve per event type WITHOUT a distinct-per-day blowup:
    # first-appearance day per (type, user) -- one map-side-combinable MIN
    # -- daily adopter counts, and a running sum over the (type, day)
    # table (9-19 days per type at check scale, non-vacuous at any sf).
    from pyspark.sql import Window

    first_seen = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", "user_id")
        .agg(F.min(F.date_trunc("day", F.col("ts"))).alias("day"))
    )
    per_day = first_seen.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("long").alias("new_users")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return per_day.select(
        "event_type",
        "day",
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cumulative_users"),
    )


@register(
    "events_time_to_convert",
    # First view -> first-purchase-after-it latency distribution; exact
    # interpolated percentiles over the per-user latency table.
    """
    WITH u AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view
      FROM events GROUP BY 1
    ), c AS (
      SELECT e.user_id,
             CAST(MIN(epoch_us(e.ts) - epoch_us(u.t_view)) AS BIGINT) AS delta_us
      FROM events e JOIN u ON e.user_id = u.user_id
      WHERE e.event_type = 'purchase' AND e.ts > u.t_view
      GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           ROUND(quantile_cont(delta_us / 1e6, 0.5), 6) AS p50_s,
           ROUND(quantile_cont(delta_us / 1e6, 0.9), 6) AS p90_s,
           ROUND(CAST(SUM(delta_us) AS DOUBLE) / COUNT(*) / 1e6, 6) AS mean_s
    FROM c
    """,
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Conversion-latency distribution: per user the first view and the
    # first purchase after it (two map-side MIN aggregates + one keyed
    # join), then exact percentiles on the per-user latency table.
    e = load(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view")
    )
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    c = (
        e.filter(F.col("event_type") == "purchase")
        .join(u, on="user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min(us("ts") - us("t_view")).cast("long").alias("delta_us"))
        .withColumn("delta_s", F.col("delta_us") / 1e6)
    )
    return c.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.round(F.expr("percentile(delta_s, 0.5)"), 6).alias("p50_s"),
        F.round(F.expr("percentile(delta_s, 0.9)"), 6).alias("p90_s"),
        F.round(
            F.sum("delta_us").cast("double") / F.count(F.lit(1)) / 1e6, 6
        ).alias("mean_s"),
    )


@register(
    "events_theil_sen_trend",
    # Median pairwise slope of the per-type daily count series.
    """
    WITH daily AS (
      SELECT event_type,
             datediff('day', DATE '2024-01-01', CAST(date_trunc('day', ts) AS DATE))
               AS x,
             CAST(COUNT(*) AS DOUBLE) AS y
      FROM events GROUP BY 1, 2
    ), pairs AS (
      SELECT a.event_type, (b.y - a.y) / (b.x - a.x) AS s
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND b.x > a.x
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(quantile_cont(s, 0.5), 6) AS theil_sen_slope
    FROM pairs GROUP BY 1
    """,
)
def events_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Robust daily trend per event type: raw events reduce to the 30-row
    # daily table map-side; the all-pairs slope median is bucket-table
    # work (~435 pairs per type), immune to burst days OLS would chase.
    from ..operators.temporal import theil_sen_trend

    daily = (
        load(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.datediff(
                F.date_trunc("day", F.col("ts")).cast("date"), F.lit("2024-01-01").cast("date")
            ).alias("x"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("y"))
    )
    return theil_sen_trend(daily, ["event_type"], F.col("x"), F.col("y"))


@register(
    "events_anomaly_ewma",
    # EWMA control chart on the daily count series, lambda = 0.3: the
    # recursion unrolls to a window-weighted sum (exact closed form), the
    # band is the 2-sigma warning limit (non-vacuous at check scale; the
    # 3-sigma action limit flags nothing on 30-day series).
    """
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY date_trunc('day', ts))
               AS i,
             CAST(COUNT(*) AS DOUBLE) AS x
      FROM events GROUP BY 1, 2
    ), ew AS (
      SELECT event_type, day, i, x,
             0.3 * power(0.7, i) * SUM(x * power(0.7, -i)) OVER (
               PARTITION BY event_type ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             + power(0.7, i) * FIRST_VALUE(x) OVER (
               PARTITION BY event_type ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ewma
      FROM daily
    ), resid AS (
      SELECT *, x - ewma AS r,
             STDDEV_SAMP(x - ewma) OVER (PARTITION BY event_type) AS sd
      FROM ew
    )
    SELECT event_type, day, CAST(x AS DOUBLE) AS x,
           ROUND(ewma, 6) AS ewma,
           abs(r) > 2 * sd AS is_anomaly
    FROM resid
    """,
)
def events_anomaly_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EWMA control chart (the classic process-monitoring detector, and
    # the streaming-friendly complement of CUSUM's offline shift search):
    # raw events reduce to the daily table map-side; the EWMA recursion
    # unrolls to ONE window-weighted sum (exact closed form -- both
    # engines run the identical float chain in day order), anomalies are
    # residuals outside the 2-sigma warning band.
    from pyspark.sql import Window

    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count(F.lit(1)).cast("double").alias("x"))
    )
    wo = Window.partitionBy("event_type").orderBy("day")
    daily = daily.withColumn("i", F.row_number().over(wo))
    w_all = (
        Window.partitionBy("event_type")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ewma = (
        F.lit(0.3)
        * F.pow(F.lit(0.7), F.col("i"))
        * F.sum(F.col("x") * F.pow(F.lit(0.7), -F.col("i"))).over(w_all)
        + F.pow(F.lit(0.7), F.col("i")) * F.first("x").over(w_all)
    )
    ew = daily.withColumn("ewma", ewma)
    wg = Window.partitionBy("event_type")
    resid = ew.withColumn("r", F.col("x") - F.col("ewma")).withColumn(
        "sd", F.stddev_samp(F.col("x") - F.col("ewma")).over(wg)
    )
    return resid.select(
        "event_type",
        "day",
        F.col("x").cast("double").alias("x"),
        F.round("ewma", 6).alias("ewma"),
        (F.abs(F.col("r")) > 2 * F.col("sd")).alias("is_anomaly"),
    )


@register(
    "events_interval_coverage",
    # Oracle replays the same running-max window algebra on integer
    # epoch-microseconds; ROWS BETWEEN ... 1 PRECEDING excludes the
    # current row exactly like the engine's window frame.
    """
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s,
             epoch_us(ts) + CAST(floor(value * 60 * 1000000) AS BIGINT) AS e
      FROM events WHERE event_type IN ('click', 'view')
    ),
    scan AS (
      SELECT user_id, s, e,
             MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS pe
      FROM iv
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(CASE WHEN pe IS NULL OR s > pe THEN 1 ELSE 0 END) AS BIGINT)
             AS n_islands,
           ROUND(SUM(GREATEST(0, e - GREATEST(s, COALESCE(pe, s)))) / 1e6, 6)
             AS covered_s
    FROM scan GROUP BY user_id
    """,
)
def events_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Union length of overlapping activity intervals per user (uptime /
    # SLA coverage): each click/view opens a session of `value` minutes;
    # the rollup reports distinct covered seconds and island count.  One
    # keyed window + one keyed aggregate — no self-join, no explosion.
    from ..operators.temporal import interval_coverage

    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    iv = e.select(
        "user_id",
        F.col("ts").alias("s_ts"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            + F.floor(F.col("value") * 60 * 1e6).cast("long")
        ).alias("_e_us"),
    ).select(
        "user_id",
        "s_ts",
        F.timestamp_micros(F.col("_e_us")).alias("e_ts"),
    )
    return interval_coverage(iv, ["user_id"], "s_ts", "e_ts")


@register(
    "events_attribution_last_touch",
    # DuckDB native ASOF LEFT JOIN + the identical integer-microsecond
    # 7-day window is the oracle for the engine's union+window+tolerance
    # formulation; unmatched conversions land in the '(none)' bucket.
    """
    SELECT COALESCE(CASE WHEN q.ts IS NULL
                         OR epoch_us(t.ts) - epoch_us(q.ts) > 604800000000
                         THEN NULL ELSE q.event_type END,
                    '(none)') AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_conversions,
           ROUND(SUM(t.value), 2) AS revenue
    FROM (SELECT * FROM events WHERE event_type = 'purchase') t
    ASOF LEFT JOIN (SELECT user_id, ts, MAX(event_type) AS event_type
                    FROM events
                    WHERE event_type IN ('click', 'view', 'signup')
                    GROUP BY 1, 2) q
      ON t.user_id = q.user_id AND t.ts >= q.ts
    GROUP BY 1
    """,
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Last-touch conversion attribution: every purchase credits the most
    # recent prior click/view/signup of the same user within 7 days; the
    # explicit '(none)' bucket keeps totals reconciled.  One keyed
    # shuffle (the tolerance as-of join) + a channel rollup.
    from ..operators.temporal import last_touch_attribution

    e = load(spark, sf_dir, "events")
    conversions = e.filter(F.col("event_type") == "purchase")
    touches = e.filter(
        F.col("event_type").isin("click", "view", "signup")
    ).select("user_id", F.col("ts").alias("touch_ts"), "event_type")
    return last_touch_attribution(
        conversions,
        touches,
        on=["user_id"],
        conv_ts="ts",
        touch_ts="touch_ts",
        channel_col="event_type",
        value_col="value",
        window_seconds=7 * 86400,
    )


@register(
    "events_wilson_ci",
    """
    WITH g AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS BIGINT)
               AS successes
      FROM events GROUP BY 1
    )
    SELECT event_type, n, successes,
           ROUND(successes * 1.0 / n, 6) AS p,
           ROUND(((successes * 1.0 / n) + 1.96 * 1.96 / (2.0 * n))
                   / (1.0 + 1.96 * 1.96 / n)
                 - 1.96 * sqrt((successes * 1.0 / n) * (1.0 - successes * 1.0 / n) / n
                               + 1.96 * 1.96 / (4.0 * n * n))
                   / (1.0 + 1.96 * 1.96 / n), 6) AS ci_lo,
           ROUND(((successes * 1.0 / n) + 1.96 * 1.96 / (2.0 * n))
                   / (1.0 + 1.96 * 1.96 / n)
                 + 1.96 * sqrt((successes * 1.0 / n) * (1.0 - successes * 1.0 / n) / n
                               + 1.96 * 1.96 / (4.0 * n * n))
                   / (1.0 + 1.96 * 1.96 / n), 6) AS ci_hi
    FROM g
    """,
)
def events_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-type high-value-event rate with a Wilson score interval — the
    # experiment-readout aggregate: two longs per group cross the
    # shuffle, the interval is closed-form map-side arithmetic.
    from ..operators.quality import proportion_wilson_ci

    e = load(spark, sf_dir, "events")
    return proportion_wilson_ci(
        e, ["event_type"], F.col("value") > 50, z=1.96
    )


@register(
    "events_entry_exit_matrix",
    # Oracle replays the gap sessionization (LAG + running flag sum) and
    # picks entry/exit with ROW_NUMBER over the (ts, event_id) composite
    # — the same tiebreak as the engine's min_by/max_by struct.
    """
    WITH s AS (
      SELECT user_id, event_id, event_type, ts,
             SUM(CASE WHEN gap_s IS NULL OR gap_s > 1800 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM (
        SELECT user_id, event_id, event_type, ts,
               epoch(ts) - LAG(epoch(ts))
                 OVER (PARTITION BY user_id ORDER BY ts) AS gap_s
        FROM events
      )
    ),
    ranked AS (
      SELECT user_id, session_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                                ORDER BY ts ASC, event_id ASC) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM s
    ),
    per_session AS (
      SELECT user_id, session_id,
             MAX(CASE WHEN rn_a = 1 THEN event_type END) AS entry_type,
             MAX(CASE WHEN rn_d = 1 THEN event_type END) AS exit_type,
             COUNT(*) AS n_events
      FROM ranked GROUP BY 1, 2
    )
    SELECT entry_type, exit_type,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(n_events) AS BIGINT) AS n_events
    FROM per_session GROUP BY 1, 2
    """,
)
def events_entry_exit_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Entry/exit page matrix (web-analytics bounce/landing analysis):
    # gap-sessionize, take each session's first and last event type with
    # the min_by/max_by composite tiebreak, cross-tabulate.  Two keyed
    # aggregates after the sessionize window — the per-session rollup is
    # map-side combinable (min_by/max_by partials merge like MIN/MAX).
    e = load(spark, sf_dir, "events")
    s = sessionize(e, gap_minutes=30)
    key = F.struct(
        F.col("ts").cast("timestamp").alias("ts"), F.col("event_id").alias("eid")
    )
    per_session = s.groupBy("user_id", "session_id").agg(
        F.min_by(F.col("event_type"), key).alias("entry_type"),
        F.max_by(F.col("event_type"), key).alias("exit_type"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return per_session.groupBy("entry_type", "exit_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("n_events").cast("long").alias("n_events"),
    )


@register(
    "events_stickiness_dau_mau",
    # Integer day numbers keep the 30-day window arithmetic exact and
    # engine-portable; target days are restricted to observed days so
    # both engines emit the same row set.
    """
    WITH ud AS (
      SELECT DISTINCT user_id,
             datediff('day', DATE '1990-01-01',
                      CAST(date_trunc('day', ts) AS DATE)) AS dn
      FROM events
    ),
    fan AS (
      SELECT user_id, dn, unnest(generate_series(dn, dn + 29)) AS target
      FROM ud
    ),
    mau AS (
      SELECT f.target AS dn, COUNT(DISTINCT f.user_id) AS mau
      FROM fan f
      WHERE f.target IN (SELECT dn FROM ud)
      GROUP BY 1
    ),
    dau AS (SELECT dn, COUNT(*) AS dau FROM ud GROUP BY 1)
    SELECT CAST(DATE '1990-01-01' + INTERVAL (d.dn) DAY AS TIMESTAMP) AS day,
           CAST(d.dau AS BIGINT) AS dau,
           CAST(m.mau AS BIGINT) AS mau,
           ROUND(d.dau * 1.0 / m.mau, 6) AS stickiness
    FROM dau d JOIN mau m ON d.dn = m.dn
    """,
)
def events_stickiness_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DAU/MAU stickiness with an EXACT trailing-30-day distinct count:
    # each (user, day) fingerprint fans out to the 30 target days it
    # supports (bounded 30x blow-up of the DEDUPED fingerprint table,
    # never of raw events), then one distinct-count per target day —
    # the exact companion of events_sliding_hll_users (estimate path).
    e = load(spark, sf_dir, "events")
    ud = e.select(
        "user_id",
        F.datediff(
            F.to_date(F.date_trunc("day", F.col("ts"))), F.lit("1990-01-01").cast("date")
        ).alias("dn"),
    ).distinct()
    days = ud.select("dn").distinct()
    fan = ud.select(
        "user_id", F.explode(F.sequence(F.col("dn"), F.col("dn") + 29)).alias("target")
    )
    mau = (
        fan.join(days.select(F.col("dn").alias("target")), "target", "left_semi")
        .groupBy("target")
        .agg(F.countDistinct("user_id").cast("long").alias("mau"))
        .withColumnRenamed("target", "dn")
    )
    dau = ud.groupBy("dn").agg(F.count(F.lit(1)).cast("long").alias("dau"))
    return dau.join(mau, "dn").select(
        F.to_timestamp(
            F.date_add(F.lit("1990-01-01").cast("date"), F.col("dn"))
        ).alias("day"),
        "dau",
        "mau",
        F.round(F.col("dau").cast("double") / F.col("mau"), 6).alias("stickiness"),
    )


@register(
    "events_stl_decompose",
    # Additive STL-lite: 7-day centered moving-average trend (average of
    # the rows present in the +/-3 frame, identical partial-edge rule in
    # both engines), day-of-week seasonal means of the detrended series,
    # residual = detrended - seasonal.
    """
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    tr AS (
      SELECT event_type, day, n,
             AVG(n * 1.0) OVER (PARTITION BY event_type ORDER BY day
                                ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
               AS trend
      FROM daily
    ),
    se AS (
      SELECT event_type, day, n, trend, n - trend AS detrended,
             AVG(n - trend) OVER (PARTITION BY event_type, dayofweek(day))
               AS seasonal
      FROM tr
    )
    SELECT event_type, CAST(day AS TIMESTAMP) AS day, n,
           ROUND(trend, 6) AS trend,
           ROUND(seasonal, 6) AS seasonal,
           ROUND(detrended - seasonal, 6) AS resid
    FROM se
    """,
)
def events_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Seasonal-trend decomposition (STL-lite, additive): per-type daily
    # counts -> centered 7-day MA trend -> day-of-week seasonal means ->
    # residual.  All windows partition on event_type (and weekday), so
    # the decomposition is a per-series sort, never a global one; the
    # raw-event reduce happens map-side before any window sees a row.
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    w_tr = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    )
    tr = daily.withColumn("trend", F.avg(F.col("n").cast("double")).over(w_tr))
    detrended = F.col("n") - F.col("trend")
    w_se = Window.partitionBy("event_type", F.dayofweek("day"))
    se = tr.withColumn("seasonal", F.avg(detrended).over(w_se))
    return se.select(
        "event_type",
        F.to_timestamp("day").alias("day"),
        "n",
        F.round("trend", 6).alias("trend"),
        F.round("seasonal", 6).alias("seasonal"),
        F.round(detrended - F.col("seasonal"), 6).alias("resid"),
    )


def _halflife_sql() -> str:
    from . import ORACLE

    # r11 flake-audit fix: ln(retention) quantizes to integer micro-units
    # per point (retention is already a 6-dp-rounded exact-integer ratio,
    # so the input double is engine-identical), the per-cohort OLS moments
    # are EXACT BIGINT sums, and slope/half-life come from one final
    # fixed-order double expression — order-proof vs regr_slope's running
    # co-moments.  y is ln*1e6, so the natural slope divides back by 1e6;
    # the decay test (slope < 0) becomes the exact integer test num < 0.
    return f"""
    WITH m AS ({ORACLE["events_retention_cohorts"]}),
    pts AS (
      SELECT cohort, day_offset, retention FROM m
      WHERE day_offset >= 1 AND retention > 0
    ),
    q AS (
      SELECT cohort, CAST(day_offset AS BIGINT) AS x,
             CAST(floor(ln(retention) * 1e6 + 0.5) AS BIGINT) AS y
      FROM pts
    ),
    mo AS (
      SELECT cohort, CAST(COUNT(*) AS BIGINT) AS nn,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM q GROUP BY 1 HAVING COUNT(*) >= 3
    ),
    d AS (
      SELECT cohort, nn, nn * sxy - sx * sy AS num, nn * sxx - sx * sx AS dx
      FROM mo
    )
    SELECT cohort, nn AS n_points,
           CASE WHEN dx <> 0 THEN
             ROUND(CAST(num AS DOUBLE) / CAST(dx AS DOUBLE) / 1e6, 6)
           END AS slope,
           CASE WHEN dx <> 0 AND num < 0 THEN
             ROUND(-ln(2) / (CAST(num AS DOUBLE) / CAST(dx AS DOUBLE) / 1e6), 6)
           END AS half_life_days
    FROM d
    """


@register("events_retention_halflife", _halflife_sql())
def events_retention_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Retention half-life per cohort: exponential-decay fit by
    # log-linear OLS over the retention matrix — micro-quantized ln +
    # exact integer moment sums (map-side combinable, five numbers per
    # cohort cross the shuffle; see _halflife_sql for the order-proof
    # contract), half-life = -ln 2 / slope.  The growth-team summary
    # number on top of events_retention_cohorts.
    from . import QUERIES

    m = QUERIES["events_retention_cohorts"](spark, sf_dir)
    pts = m.filter((F.col("day_offset") >= 1) & (F.col("retention") > 0))
    q = pts.select(
        "cohort",
        F.col("day_offset").cast("long").alias("x"),
        F.floor(F.log("retention") * 1e6 + F.lit(0.5)).cast("long").alias("y"),
    )
    mo = (
        q.groupBy("cohort")
        .agg(
            F.count(F.lit(1)).cast("long").alias("nn"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        )
        .filter(F.col("nn") >= 3)
    )
    d = mo.select(
        "cohort",
        "nn",
        (F.col("nn") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
        (F.col("nn") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("dx"),
    )
    slope = F.col("num").cast("double") / F.col("dx").cast("double") / 1e6
    return d.select(
        "cohort",
        F.col("nn").alias("n_points"),
        F.when(F.col("dx") != 0, F.round(slope, 6)).alias("slope"),
        F.when(
            (F.col("dx") != 0) & (F.col("num") < 0),
            F.round(-F.log(F.lit(2.0)) / slope, 6),
        ).alias("half_life_days"),
    )


@register(
    "events_growth_accounting",
    # Classic growth accounting over weekly activity: per (user, week)
    # fingerprints, LAG + running MIN windows classify each active week
    # as new / retained / resurrected, and churned is last week's
    # actives minus this week's retained.  Integer week numbers keep
    # the "previous period" arithmetic exact (weekly, so the synthetic
    # month of data exercises every state).
    """
    WITH um AS (
      SELECT DISTINCT user_id,
             CAST(floor(datediff('day', DATE '1990-01-01',
                                 CAST(date_trunc('day', ts) AS DATE)) / 7)
                  AS BIGINT) AS m
      FROM events
    ),
    lagged AS (
      SELECT user_id, m,
             LAG(m) OVER (PARTITION BY user_id ORDER BY m) AS prev_m,
             MIN(m) OVER (PARTITION BY user_id) AS first_m
      FROM um
    ),
    cls AS (
      SELECT m,
             CASE WHEN m = first_m THEN 'new'
                  WHEN prev_m = m - 1 THEN 'retained'
                  ELSE 'resurrected' END AS state
      FROM lagged
    ),
    act AS (
      SELECT m,
             CAST(SUM(CASE WHEN state = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
             CAST(SUM(CASE WHEN state = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS retained,
             CAST(SUM(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS resurrected,
             CAST(COUNT(*) AS BIGINT) AS active_users
      FROM cls GROUP BY m
    )
    SELECT a.m AS week_num, a.new_users, a.retained, a.resurrected,
           a.active_users,
           CAST(COALESCE(p.active_users - a.retained, 0) AS BIGINT) AS churned
    FROM act a LEFT JOIN act p ON p.m = a.m - 1
    """,
)
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Growth accounting (the canonical new/retained/resurrected/churned
    # monthly decomposition): (user, month) fingerprints dedup first, so
    # every window and aggregate runs on user-months, never raw events;
    # churned = previous month's actives who didn't retain, via one
    # self-join on the month-level table (metadata-sized).
    e = load(spark, sf_dir, "events")
    um = e.select(
        "user_id",
        F.floor(
            F.datediff(
                F.to_date(F.date_trunc("day", F.col("ts"))),
                F.lit("1990-01-01").cast("date"),
            )
            / 7
        )
        .cast("long")
        .alias("m"),
    ).distinct()
    w_lag = Window.partitionBy("user_id").orderBy("m")
    w_min = Window.partitionBy("user_id")
    lagged = um.select(
        "m",
        F.lag("m").over(w_lag).alias("prev_m"),
        F.min("m").over(w_min).alias("first_m"),
    )
    cls = lagged.select(
        "m",
        F.when(F.col("m") == F.col("first_m"), "new")
        .when(F.col("prev_m") == F.col("m") - 1, "retained")
        .otherwise("resurrected")
        .alias("state"),
    )
    act = cls.groupBy("m").agg(
        F.sum(F.when(F.col("state") == "new", 1).otherwise(0)).cast("long").alias("new_users"),
        F.sum(F.when(F.col("state") == "retained", 1).otherwise(0)).cast("long").alias("retained"),
        F.sum(F.when(F.col("state") == "resurrected", 1).otherwise(0)).cast("long").alias("resurrected"),
        F.count(F.lit(1)).cast("long").alias("active_users"),
    )
    prev = act.select(
        (F.col("m") + 1).alias("m"), F.col("active_users").alias("_prev_active")
    )
    return act.join(prev, "m", "left").select(
        F.col("m").alias("week_num"),
        "new_users",
        "retained",
        "resurrected",
        "active_users",
        F.coalesce(F.col("_prev_active") - F.col("retained"), F.lit(0))
        .cast("long")
        .alias("churned"),
    )


@register(
    "events_pareto_deciles",
    # Lorenz/Pareto concentration table: users binned into volume
    # deciles by the no-sort percentile-cutpoint pattern (ties share a
    # bin — the scale-safe NTILE alternative), each decile's share of
    # total event volume.  Companion of agg_gini_concentration: the
    # gini is the number, this is the curve.
    """
    WITH u AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1
    ),
    cuts AS (
      SELECT quantile_cont(n_events, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
               AS qs
      FROM u
    ),
    binned AS (
      SELECT u.user_id, u.n_events,
             CAST(len(list_filter(c.qs, q -> u.n_events >= q)) AS INT) AS decile
      FROM u CROSS JOIN cuts c
    ),
    tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS t,
                   CAST(COUNT(*) AS BIGINT) AS nu FROM u)
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           ROUND(SUM(n_events) * 1.0 / tot.t, 6) AS volume_share,
           ROUND(COUNT(*) * 1.0 / tot.nu, 6) AS user_share
    FROM binned CROSS JOIN tot
    GROUP BY decile, tot.t, tot.nu
    """,
)
def events_pareto_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    ps = ", ".join(f"{i / 10!r}D" for i in range(1, 10))
    cuts = u.agg(F.expr(f"percentile(n_events, array({ps}))").alias("_qs"))
    binned = u.crossJoin(F.broadcast(cuts)).select(
        "user_id",
        "n_events",
        F.aggregate(
            "_qs",
            F.lit(0),
            lambda acc, q: acc + F.when(F.col("n_events") >= q, 1).otherwise(0),
        ).cast("int").alias("decile"),
    )
    tot = u.agg(
        F.sum("n_events").cast("long").alias("_t"),
        F.count(F.lit(1)).cast("long").alias("_nu"),
    )
    return (
        binned.groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("n_events").cast("long").alias("n_events"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_users",
            "n_events",
            F.round(F.col("n_events").cast("double") / F.col("_t"), 6).alias("volume_share"),
            F.round(F.col("n_users").cast("double") / F.col("_nu"), 6).alias("user_share"),
        )
    )


def _stl_resid_sql() -> str:
    from . import ORACLE

    return f"""
    WITH s AS ({ORACLE["events_stl_decompose"]}),
    mad AS (
      SELECT event_type,
             quantile_cont(resid, 0.5) AS med,
             quantile_cont(abs(resid - (SELECT quantile_cont(resid, 0.5)
                                        FROM s s2
                                        WHERE s2.event_type = s.event_type)),
                           0.5) AS mad
      FROM s GROUP BY event_type
    )
    SELECT s.event_type, s.day, s.n, s.resid,
           ROUND((s.resid - m.med) / (1.4826 * m.mad), 6) AS robust_z
    FROM s JOIN mad m ON s.event_type = m.event_type
    WHERE m.mad > 0
      AND ABS(ROUND((s.resid - m.med) / (1.4826 * m.mad), 6)) > 2.5
    """


@register("events_stl_anomalies", _stl_resid_sql())
def events_stl_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Seasonality-aware anomaly detection: STL-lite residuals scored by
    # the per-type robust z (median/MAD — outliers can't inflate their
    # own threshold), flagging days whose count deviates beyond trend
    # AND weekday pattern.  The composition every ops dashboard wants:
    # decompose -> robust-score residuals -> flag.  The MAD aggregate
    # runs on the per-type daily table (metadata-sized).
    from . import QUERIES

    s = QUERIES["events_stl_decompose"](spark, sf_dir)
    med = s.groupBy("event_type").agg(
        F.expr("percentile(resid, 0.5)").alias("_med")
    )
    dev = s.join(F.broadcast(med), "event_type").withColumn(
        "_adev", F.abs(F.col("resid") - F.col("_med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.max("_med").alias("_med"),
        F.expr("percentile(_adev, 0.5)").alias("_mad"),
    )
    z = (F.col("resid") - F.col("_med")) / (F.lit(1.4826) * F.col("_mad"))
    # MAD == 0 (a majority of residuals equal the median) would make z a
    # NULL in Spark but +/-inf in DuckDB's IEEE division — exclude the
    # degenerate series explicitly so both engines agree by construction.
    return (
        s.join(F.broadcast(mad), "event_type")
        .filter((F.col("_mad") > 0) & (F.abs(F.round(z, 6)) > 2.5))
        .select("event_type", "day", "n", "resid", F.round(z, 6).alias("robust_z"))
    )


@register(
    "events_concurrency_peak",
    # Sweep-line concurrency: each session interval contributes +1 at
    # start and -1 at end; the running sum ordered by (time, delta,
    # event_id) IS the number of concurrent sessions.  Ends sort before
    # starts at the same instant (delta asc), so back-to-back sessions
    # never double-count.  Partitioned per day — the window sort is
    # per-partition; sessions crossing midnight count toward the day
    # they start in (documented boundary rule, identical both engines).
    """
    WITH iv AS (
      SELECT event_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             epoch_us(ts) AS s,
             epoch_us(ts) + CAST(floor(value * 60 * 1000000) AS BIGINT) AS e
      FROM events WHERE event_type IN ('click', 'view')
    ),
    pts AS (
      SELECT day, s AS t, 1 AS delta, event_id FROM iv
      UNION ALL
      SELECT day, e AS t, -1 AS delta, event_id FROM iv
    ),
    run AS (
      SELECT day,
             SUM(delta) OVER (PARTITION BY day ORDER BY t, delta, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS conc
      FROM pts
    )
    SELECT CAST(day AS TIMESTAMP) AS day,
           CAST(MAX(conc) AS BIGINT) AS peak_concurrency
    FROM run GROUP BY day
    """,
)
def events_concurrency_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Peak concurrent sessions per day — the capacity-planning number:
    # classic sweep line as a keyed window (one shuffle on day, one
    # per-day sort), no interval self-join, no minute-grid explosion.
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    iv = e.select(
        "event_id",
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("s"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            + F.floor(F.col("value") * 60 * 1e6).cast("long")
        ).alias("e"),
    )
    pts = iv.select(
        "day", F.col("s").alias("t"), F.lit(1).alias("delta"), "event_id"
    ).unionByName(
        iv.select("day", F.col("e").alias("t"), F.lit(-1).alias("delta"), "event_id")
    )
    w = (
        Window.partitionBy("day")
        .orderBy("t", "delta", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = pts.select("day", F.sum("delta").over(w).alias("conc"))
    return run.groupBy("day").agg(
        F.max("conc").cast("long").alias("peak_concurrency")
    ).select(F.to_timestamp("day").alias("day"), "peak_concurrency")


@register(
    "events_backtest_seasonal_naive",
    # Forecast backtest: for every day with a 7-days-earlier observation,
    # seasonal-naive predicts last week's same-weekday count and naive-1
    # predicts yesterday's; per-type MAE/MAPE for both — the sanity
    # baseline every forecasting deployment must beat.  LAG windows on
    # the per-type daily table.
    """
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    lagged AS (
      SELECT event_type, day, n,
             LAG(n, 7) OVER (PARTITION BY event_type ORDER BY day) AS pred_seasonal,
             LAG(n, 1) OVER (PARTITION BY event_type ORDER BY day) AS pred_naive
      FROM daily
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(AVG(ABS(n - pred_seasonal) * 1.0), 6) AS mae_seasonal,
           ROUND(AVG(ABS(n - pred_naive) * 1.0), 6) AS mae_naive,
           ROUND(CAST(SUM(CAST(floor(ABS(n - pred_seasonal) * 1.0 / n * 1e9 + 0.5)
                      AS BIGINT)) AS DOUBLE) / COUNT(*) / 1e9, 6) AS mape_seasonal,
           ROUND(CAST(SUM(CAST(floor(ABS(n - pred_naive) * 1.0 / n * 1e9 + 0.5)
                      AS BIGINT)) AS DOUBLE) / COUNT(*) / 1e9, 6) AS mape_naive
    FROM lagged
    WHERE pred_seasonal IS NOT NULL AND pred_naive IS NOT NULL
    GROUP BY event_type
    """,
)
def events_backtest_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "n",
        F.lag("n", 7).over(w).alias("pred_seasonal"),
        F.lag("n", 1).over(w).alias("pred_naive"),
    ).filter(F.col("pred_seasonal").isNotNull() & F.col("pred_naive").isNotNull())
    ae_s = F.abs(F.col("n") - F.col("pred_seasonal")).cast("double")
    ae_n = F.abs(F.col("n") - F.col("pred_naive")).cast("double")
    return lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(F.avg(ae_s), 6).alias("mae_seasonal"),
        F.round(F.avg(ae_n), 6).alias("mae_naive"),
        F.round(
            F.sum(F.floor(ae_s / F.col("n") * 1e9 + F.lit(0.5)).cast("long"))
            .cast("double")
            / F.count(F.lit(1))
            / 1e9,
            6,
        ).alias("mape_seasonal"),
        F.round(
            F.sum(F.floor(ae_n / F.col("n") * 1e9 + F.lit(0.5)).cast("long"))
            .cast("double")
            / F.count(F.lit(1))
            / 1e9,
            6,
        ).alias("mape_naive"),
    )


@register(
    "ml_time_split_report",
    # Temporal holdout with a leakage audit: train = first 80% of days,
    # test = rest; report sizes AND the user-overlap rate — the entity
    # leakage an entity-aware split (llm_leakage_safe_split) would
    # remove, quantified.  Cut day from one tiny (min, max) broadcast.
    """
    WITH rng AS (
      SELECT MIN(CAST(date_trunc('day', ts) AS DATE)) AS lo,
             MAX(CAST(date_trunc('day', ts) AS DATE)) AS hi
      FROM events
    ),
    tagged AS (
      SELECT user_id, event_id,
             CASE WHEN datediff('day', rng.lo, CAST(date_trunc('day', ts) AS DATE))
                       < 0.8 * (datediff('day', rng.lo, rng.hi) + 1)
                  THEN 1 ELSE 0 END AS in_train
      FROM events CROSS JOIN rng
    ),
    sizes AS (
      SELECT CAST(SUM(in_train) AS BIGINT) AS n_train,
             CAST(SUM(1 - in_train) AS BIGINT) AS n_test
      FROM tagged
    ),
    u AS (
      SELECT user_id, MAX(in_train) AS in_tr, MIN(in_train) AS all_tr
      FROM tagged GROUP BY 1
    ),
    ov AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(CASE WHEN in_tr = 1 AND all_tr = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_overlap_users
      FROM u
    )
    SELECT s.n_train, s.n_test,
           ROUND(s.n_train * 1.0 / (s.n_train + s.n_test), 6) AS train_frac,
           o.n_users, o.n_overlap_users,
           ROUND(o.n_overlap_users * 1.0 / o.n_users, 6) AS user_overlap_rate
    FROM sizes s CROSS JOIN ov o
    """,
)
def ml_time_split_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    rng = e.agg(
        F.min(F.to_date(F.date_trunc("day", F.col("ts")))).alias("_lo"),
        F.max(F.to_date(F.date_trunc("day", F.col("ts")))).alias("_hi"),
    )
    tagged = e.crossJoin(F.broadcast(rng)).select(
        "user_id",
        F.when(
            F.datediff(F.to_date(F.date_trunc("day", F.col("ts"))), F.col("_lo"))
            < 0.8 * (F.datediff("_hi", "_lo") + 1),
            1,
        )
        .otherwise(0)
        .alias("in_train"),
    )
    # two-level aggregation: the global sizes roll up from the SAME
    # per-user aggregate the overlap check needs, so `tagged` (and the
    # events scan under it) is read once instead of twice.  Per-user sums
    # and counts are exact integers — the rollup is bit-equal.
    u = tagged.groupBy("user_id").agg(
        F.max("in_train").alias("_in_tr"),
        F.min("in_train").alias("_all_tr"),
        F.sum("in_train").cast("long").alias("_n_tr"),
        F.count(F.lit(1)).cast("long").alias("_n"),
    )
    roll = u.agg(
        F.sum("_n_tr").cast("long").alias("n_train"),
        F.sum(F.col("_n") - F.col("_n_tr")).cast("long").alias("n_test"),
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(
            F.when((F.col("_in_tr") == 1) & (F.col("_all_tr") == 0), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_overlap_users"),
    )
    return roll.select(
        "n_train",
        "n_test",
        F.round(
            F.col("n_train").cast("double") / (F.col("n_train") + F.col("n_test")), 6
        ).alias("train_frac"),
        "n_users",
        "n_overlap_users",
        F.round(F.col("n_overlap_users").cast("double") / F.col("n_users"), 6).alias(
            "user_overlap_rate"
        ),
    )


@register(
    "events_attribution_linear",
    # Multi-touch LINEAR attribution: every touch within the 7-day
    # window before a conversion shares the credit equally (1/k).
    # Unattributed conversions keep full weight in '(none)' so channel
    # credits sum EXACTLY to the conversion count.
    """
    WITH conv AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase'
    ),
    touch AS (
      SELECT user_id, ts AS tts, event_type AS channel FROM events
      WHERE event_type IN ('click', 'view', 'signup')
    ),
    matched AS (
      SELECT c.event_id, c.value, t.channel
      FROM conv c JOIN touch t
        ON c.user_id = t.user_id
       AND t.tts <= c.ts
       AND epoch_us(c.ts) - epoch_us(t.tts) <= 604800000000
    ),
    k AS (
      SELECT event_id, CAST(COUNT(*) AS BIGINT) AS n_touches
      FROM matched GROUP BY 1
    ),
    credited AS (
      SELECT m.channel,
             CAST(floor(1.0 / k.n_touches * 1e9 + 0.5) AS BIGINT) AS credit_n,
             CAST(floor(m.value / k.n_touches * 1e6 + 0.5) AS BIGINT) AS rev_u
      FROM matched m JOIN k ON m.event_id = k.event_id
      UNION ALL
      SELECT '(none)', CAST(1000000000 AS BIGINT),
             CAST(floor(c.value * 1e6 + 0.5) AS BIGINT)
      FROM conv c WHERE NOT EXISTS
        (SELECT 1 FROM matched m WHERE m.event_id = c.event_id)
    )
    SELECT channel,
           ROUND(CAST(SUM(credit_n) AS HUGEINT) / 1e9, 6) AS credited_conversions,
           ROUND(CAST(SUM(rev_u) AS HUGEINT) / 1e6, 2) AS credited_revenue
    FROM credited GROUP BY channel
    """,
)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Linear multi-touch attribution, the companion of
    # events_attribution_last_touch: the conversions x touches join is
    # user-keyed with a time-range residual — per-key volume is bounded
    # by each user's own touch x conversion product, never |L| x |R| —
    # and the credit split is one count join back on the conversion id.
    e = load(spark, sf_dir, "events")
    conv = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    touch = e.filter(F.col("event_type").isin("click", "view", "signup")).select(
        F.col("user_id").alias("t_uid"),
        F.col("ts").alias("tts"),
        F.col("event_type").alias("channel"),
    )
    age_us = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        F.col("tts").cast("timestamp")
    )
    # r13: ONE left join replaces the inner join + count join-back + anti-
    # join trio — the old shape referenced the matched-pairs subtree three
    # times and conv twice (7 events scans in the initial plan, 0 reuse).
    # The range residual rides the ON clause, so a conversion with zero
    # in-window touches surfaces as its single null-extended row (exactly
    # the old anti-join leg); n_touches = count of non-null channels over
    # the conversion-id window (bit-equal to the old per-event_id count,
    # since a matched conversion has no null rows and vice versa), and the
    # per-row credit arithmetic is unchanged.  Events scanned twice (conv
    # + touch legs), never per-reference.
    j = conv.join(
        touch,
        (F.col("user_id") == F.col("t_uid"))
        & (F.col("tts") <= F.col("ts"))
        & (age_us <= 604800000000),
        "left",
    )
    n_touches = F.count("channel").over(Window.partitionBy("event_id"))
    credited = j.select(
        F.coalesce(F.col("channel"), F.lit("(none)")).alias("channel"),
        F.when(
            F.col("channel").isNotNull(),
            F.floor(F.lit(1.0) / n_touches * 1e9 + F.lit(0.5)).cast("long"),
        )
        .otherwise(F.lit(1000000000).cast("long"))
        .alias("credit_n"),
        F.when(
            F.col("channel").isNotNull(),
            F.floor(F.col("value") / n_touches * 1e6 + F.lit(0.5)).cast("long"),
        )
        .otherwise(F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("long"))
        .alias("rev_u"),
    )
    dec = "decimal(38,0)"
    return credited.groupBy("channel").agg(
        F.round(F.sum(F.col("credit_n").cast(dec)).cast("double") / 1e9, 6).alias(
            "credited_conversions"
        ),
        F.round(F.sum(F.col("rev_u").cast(dec)).cast("double") / 1e6, 2).alias(
            "credited_revenue"
        ),
    )


@register(
    "events_error_budget_burn",
    # SLO burn-rate: daily error share vs a 2% budget, plus the
    # cumulative fraction of the month's budget consumed — the SRE
    # error-budget readout.  One conditional daily aggregate + one
    # running-sum window over the day table.
    """
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_errors
      FROM events GROUP BY 1
    ),
    tot AS (SELECT SUM(n_events) AS te FROM daily)
    SELECT CAST(day AS TIMESTAMP) AS day, n_events, n_errors,
           ROUND(n_errors * 1.0 / n_events, 6) AS error_rate,
           ROUND((n_errors * 1.0 / n_events) / 0.02, 6) AS burn_rate,
           (n_errors * 1.0 / n_events) / 0.02 > 1.0 AS over_budget,
           ROUND(SUM(n_errors) OVER (ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 / (0.02 * tot.te), 6) AS budget_consumed
    FROM daily CROSS JOIN tot
    """,
)
def events_error_budget_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The day-level window is a ~30-row table — the ORDER BY day running
    # sum is metadata-scale work after the map-side daily reduce.
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("n_errors"),
    )
    tot = daily.agg(F.sum("n_events").alias("_te"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    rate = F.col("n_errors").cast("double") / F.col("n_events")
    return daily.crossJoin(F.broadcast(tot)).select(
        F.to_timestamp("day").alias("day"),
        "n_events",
        "n_errors",
        F.round(rate, 6).alias("error_rate"),
        F.round(rate / 0.02, 6).alias("burn_rate"),
        (rate / 0.02 > 1.0).alias("over_budget"),
        F.round(
            F.sum("n_errors").over(w) / (F.lit(0.02) * F.col("_te")), 6
        ).alias("budget_consumed"),
    )


@register(
    "events_session_depth_histogram",
    # Session-depth distribution: gap-sessionize, count events per
    # session, histogram the depths — the engagement-shape metric next
    # to the entry/exit matrix.  Two keyed aggregates after the
    # sessionize window.
    """
    WITH s AS (
      SELECT user_id,
             SUM(CASE WHEN gap_s IS NULL OR gap_s > 1800 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM (
        SELECT user_id, ts,
               epoch(ts) - LAG(epoch(ts))
                 OVER (PARTITION BY user_id ORDER BY ts) AS gap_s
        FROM events
      )
    ),
    per AS (
      SELECT user_id, session_id, CAST(COUNT(*) AS BIGINT) AS depth
      FROM s GROUP BY 1, 2
    )
    SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM per GROUP BY depth
    """,
)
def events_session_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    s = sessionize(e, gap_minutes=30)
    per = s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).cast("long").alias("depth")
    )
    return per.groupBy("depth").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions")
    )


@register(
    "events_cuped",
    # CUPED variance reduction (Deng et al., WSDM'13): adjust each user's
    # post-period metric by theta * (pre - mean_pre) with the POOLED
    # theta = cov(pre, post)/var(pre); report per-variant means and the
    # variance reduction.  Everything reduces to per-user sums, then one
    # pooled moment row (broadcast) and one per-variant aggregate — the
    # experimentation readout at any scale.
    """
    WITH u AS (
      SELECT user_id,
             CASE WHEN CAST('0x' || substr(md5('ab|' || CAST(user_id AS VARCHAR)), 1, 8)
                        AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
             SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN value ELSE 0 END) AS pre,
             SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN value ELSE 0 END) AS post
      FROM events GROUP BY 1
    ),
    s AS (
      SELECT covar_pop(pre, post) / NULLIF(var_pop(pre), 0) AS theta,
             AVG(pre) AS mean_pre
      FROM u
    )
    SELECT u.variant, CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(AVG(u.post), 2) AS mean_post,
           ROUND(AVG(u.post - s.theta * (u.pre - s.mean_pre)), 2) AS mean_adjusted,
           ROUND(var_pop(u.post), 2) AS var_post,
           ROUND(var_pop(u.post - s.theta * (u.pre - s.mean_pre)), 2) AS var_adjusted
    FROM u CROSS JOIN s
    GROUP BY 1
    """,
)
def events_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    parity = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ab|"), F.col("user_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    cutoff = F.lit("2024-01-16").cast("timestamp")
    u = (
        e.withColumn("variant", F.when(parity == 0, "A").otherwise("B"))
        .groupBy("user_id", "variant")
        .agg(
            F.sum(F.when(F.col("ts").cast("timestamp") < cutoff, F.col("value")).otherwise(0)).alias("pre"),
            F.sum(F.when(F.col("ts").cast("timestamp") >= cutoff, F.col("value")).otherwise(0)).alias("post"),
        )
    )
    s = u.agg(
        (F.covar_pop("pre", "post") / F.nullif(F.var_pop("pre"), F.lit(0.0))).alias("theta"),
        F.avg("pre").alias("mean_pre"),
    )
    adj = F.col("post") - F.col("theta") * (F.col("pre") - F.col("mean_pre"))
    return (
        u.crossJoin(F.broadcast(s))
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            # 2dp, not 6: these are means/variances of per-user double
            # SUMS (values O(1e3-1e6)) — engine accumulation order differs
            # by ~1e-9 absolute, which flakes a 6dp boundary
            F.round(F.avg("post"), 2).alias("mean_post"),
            F.round(F.avg(adj), 2).alias("mean_adjusted"),
            F.round(F.var_pop("post"), 2).alias("var_post"),
            F.round(F.var_pop(adj), 2).alias("var_adjusted"),
        )
    )


@register(
    "events_survival_km",
    # Kaplan-Meier survival of "days from first view to first purchase",
    # right-censoring never-converting users at their last observed event.
    # The per-user observation table reduces map-side (two MINs + one MAX),
    # the KM product runs on the DURATION-VOCABULARY-sized table (a few
    # thousand rows however large the corpus), and the cumulative factor is
    # an integer nano-log sum — order-independent and engine-exact (same
    # quantization contract as char_entropy / decayed_counts).  A duration
    # where everyone still at risk converts drives survival to exactly 0
    # from then on (the ln(0) guard).
    """
    WITH u AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MAX(ts) AS t_last
      FROM events GROUP BY 1
    ),
    conv AS (
      SELECT e.user_id, MIN(e.ts) AS t_conv
      FROM events e JOIN u ON e.user_id = u.user_id
      WHERE e.event_type = 'purchase' AND e.ts > u.t_view
      GROUP BY 1
    ),
    obs AS (
      SELECT CASE WHEN c.t_conv IS NOT NULL
                  THEN datediff('day', u.t_view, c.t_conv)
                  ELSE datediff('day', u.t_view, u.t_last) END AS dur,
             CASE WHEN c.t_conv IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM u LEFT JOIN conv c ON u.user_id = c.user_id
      WHERE u.t_view IS NOT NULL
    ),
    g AS (
      SELECT dur, CAST(SUM(ev) AS BIGINT) AS d,
             CAST(COUNT(*) - SUM(ev) AS BIGINT) AS censored,
             CAST(COUNT(*) AS BIGINT) AS m
      FROM obs GROUP BY 1
    ),
    r AS (
      SELECT dur, d, censored,
             SUM(m) OVER (ORDER BY dur DESC ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS n_risk
      FROM g
    ),
    k AS (
      SELECT dur, d, censored, n_risk,
             SUM(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
               OVER (ORDER BY dur ASC ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS hit_zero,
             SUM(CASE WHEN d > 0 AND d < n_risk
                      THEN CAST(floor(ln(1.0 - CAST(d AS DOUBLE) / n_risk)
                                      * 1e9 + 0.5) AS BIGINT)
                      ELSE 0 END)
               OVER (ORDER BY dur ASC ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS ln_nano
      FROM r
    )
    SELECT CAST(dur AS BIGINT) AS dur_days, d AS n_events, censored,
           CAST(n_risk AS BIGINT) AS n_risk,
           CASE WHEN hit_zero > 0 THEN 0.0
                ELSE ROUND(exp(CAST(ln_nano AS DOUBLE) / 1e9), 6) END AS survival
    FROM k
    """,
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.max("ts").alias("t_last"),
    )
    conv = (
        e.filter(F.col("event_type") == "purchase")
        .join(u.select("user_id", "t_view"), on="user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_conv"))
    )
    obs = (
        u.filter(F.col("t_view").isNotNull())
        .join(conv, on="user_id", how="left")
        .select(
            F.when(
                F.col("t_conv").isNotNull(),
                F.datediff(F.col("t_conv").cast("date"), F.col("t_view").cast("date")),
            )
            .otherwise(
                F.datediff(F.col("t_last").cast("date"), F.col("t_view").cast("date"))
            )
            .alias("dur"),
            F.when(F.col("t_conv").isNotNull(), 1).otherwise(0).alias("ev"),
        )
    )
    g = obs.groupBy("dur").agg(
        F.sum("ev").cast("long").alias("d"),
        (F.count(F.lit(1)) - F.sum("ev")).cast("long").alias("censored"),
        F.count(F.lit(1)).cast("long").alias("m"),
    )
    # both windows run on the duration-vocabulary table (thousands of rows
    # at any corpus size): global single-partition windows are in-contract
    # AFTER the reduction, per the plan-quality invariant
    w_desc = Window.orderBy(F.col("dur").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = g.select(
        "dur", "d", "censored", F.sum("m").over(w_desc).alias("n_risk")
    )
    w_asc = Window.orderBy(F.col("dur").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ln_term = F.when(
        (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
        F.floor(
            F.log(F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk")) * 1e9
            + F.lit(0.5)
        ).cast("long"),
    ).otherwise(F.lit(0))
    zero_flag = F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0)
    k = r.select(
        "dur",
        "d",
        "censored",
        "n_risk",
        F.sum(zero_flag).over(w_asc).alias("hit_zero"),
        F.sum(ln_term).over(w_asc).alias("ln_nano"),
    )
    return k.select(
        F.col("dur").cast("long").alias("dur_days"),
        F.col("d").alias("n_events"),
        "censored",
        F.col("n_risk").cast("long").alias("n_risk"),
        F.when(F.col("hit_zero") > 0, F.lit(0.0))
        .otherwise(F.round(F.exp(F.col("ln_nano").cast("double") / 1e9), 6))
        .alias("survival"),
    )


@register(
    "events_markov_2step",
    # Two-step transition probabilities: the SQUARE of the first-order
    # Markov matrix, computed as a sparse matrix product — a self-join of
    # the (state, next_state, p) edge list on the middle state plus one
    # rollup.  Both inputs are type-vocabulary-sized, so the product is a
    # broadcast join however large the event log; each product term
    # quantizes to integer picounits before the sum, making the rollup
    # order-independent and engine-exact.
    """
    WITH s AS (
      SELECT event_type AS state,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_state
      FROM events
    ),
    p AS (
      SELECT state, next_state, CAST(COUNT(*) AS BIGINT) AS n
      FROM s WHERE next_state IS NOT NULL GROUP BY 1, 2
    ),
    t AS (SELECT state, CAST(SUM(n) AS BIGINT) AS n_from FROM p GROUP BY state),
    e AS (
      SELECT p.state, p.next_state,
             CAST(p.n AS DOUBLE) / t.n_from AS pr
      FROM p JOIN t USING (state)
    ),
    q AS (
      SELECT a.state, b.next_state,
             CAST(floor(a.pr * b.pr * 1e12 + 0.5) AS BIGINT) AS term_pico
      FROM e a JOIN e b ON a.next_state = b.state
    )
    SELECT state, next_state,
           ROUND(CAST(SUM(term_pico) AS DOUBLE) / 1e12, 6) AS p2
    FROM q GROUP BY 1, 2
    """,
)
def events_markov_2step(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import transition_matrix

    # the edge list is type-vocabulary-sized; lazily localCheckpoint it so
    # BOTH sides of the self-join share ONE materialization of the
    # LEAD-window fact scan instead of recomputing it per join side
    edges = transition_matrix(
        load(spark, sf_dir, "events"), "user_id", "event_type", "ts",
        tiebreak_cols=["event_id"],
    ).select(
        "state",
        "next_state",
        (F.col("n").cast("double") / F.col("n_from")).alias("pr"),
    ).transform(shared)
    a = edges.select(
        F.col("state"), F.col("next_state").alias("_mid"), F.col("pr").alias("_pa")
    )
    b = edges.select(
        F.col("state").alias("_mid"), F.col("next_state"), F.col("pr").alias("_pb")
    )
    return (
        a.join(F.broadcast(b), on="_mid")
        .select(
            "state",
            "next_state",
            F.floor(F.col("_pa") * F.col("_pb") * 1e12 + F.lit(0.5))
            .cast("long")
            .alias("_term"),
        )
        .groupBy("state", "next_state")
        .agg(F.round(F.sum("_term").cast("double") / 1e12, 6).alias("p2"))
    )

"""Relational composite operators: windows, reshapes, dedup, sampling.

All are thin, plan-transparent compositions — Catalyst sees straight through
them (no UDFs), so pushdown/pruning/AQE behave as if written inline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..cache import shared
from ..functions.hashing import deterministic_split_flag, md5_hex


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition ONLY when the input has fewer partitions than the
    cluster's parallelism — protects compute-heavy stages (shingling, model
    scoring) from single-file/single-row-group inputs without adding a
    shuffle on already-parallel data.  At 100 TB inputs arrive with
    thousands of partitions and this is a no-op."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def top_k_per_group(
    df: DataFrame, group_cols: list[str], order_col: Column, k: int, tiebreak: list[str] | None = None
) -> DataFrame:
    """W1 — top-k rows per group by score
    (ref: /root/reference/src/models/text_kpi_infer.py:267-274, top_k=4).

    Tiebreak columns make the result deterministic under any partitioning.
    Window ranking shuffles once on the group keys; at scale prefer k small
    (rank predicate becomes a partial top-k under AQE).
    """
    order = [order_col.desc()] + [F.col(c).asc() for c in (tiebreak or [])]
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k).drop("rn")


def argmax_per_group(df: DataFrame, group_cols: list[str], order_col: Column, tiebreak: list[str] | None = None) -> DataFrame:
    """W3 — single best row per group (ref: table_curator.py:191 argmax)."""
    return top_k_per_group(df, group_cols, order_col, 1, tiebreak)


def melt(df: DataFrame, id_vars: list[str], value_vars: list[str], var_name: str = "variable", value_name: str = "value") -> DataFrame:
    """U4 — wide→long (ref: text_kpi_infer.py:235-243 pd.melt of rank_* cols).

    Implemented with the built-in ``stack`` expression — one pass, no shuffle.
    """
    pairs = ", ".join(f"'{c}', `{c}`" for c in value_vars)
    stack_expr = f"stack({len(value_vars)}, {pairs}) as (`{var_name}`, `{value_name}`)"
    return df.select(*id_vars, F.expr(stack_expr))


def dedup_keep_first(df: DataFrame, subset: list[str], order_by: list[str]) -> DataFrame:
    """P8/A1 — subset dedup with a deterministic winner
    (ref: kpi_inference_curator.py:399-404 drop_duplicates;
    text_curator.py:101 groupby().first()).

    pandas keeps the first row in file order; under distribution "first" is
    meaningless, so the winner is the minimum of explicit order columns —
    reproducible under any partitioning.
    """
    w = Window.partitionBy(*subset).orderBy(*[F.col(c).asc() for c in order_by])
    return df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")


def train_dev_split(df: DataFrame, key: Column, train_frac: float = 0.8, salt: str = "split") -> tuple[DataFrame, DataFrame]:
    """O3 — hash-based split (ref: farm_trainer.py:75-77 train_test_split).

    Content-hash split instead of randomSplit: stable under repartitioning
    and incremental reprocessing (a document never migrates between splits).
    """
    flagged = df.withColumn("is_train", deterministic_split_flag(key, train_frac, salt))
    return flagged.filter("is_train").drop("is_train"), flagged.filter("NOT is_train").drop("is_train")


def deterministic_sample(df: DataFrame, key_cols: list[str], n: int) -> DataFrame:
    """O2/O4 — reproducible pseudo-random sample: order by content hash, take
    n.  Replaces seeded shuffle/choice loops (text_curator.py:211-246)."""
    return (
        df.withColumn("shuffle_key", md5_hex(*[F.col(c) for c in key_cols]))
        .orderBy("shuffle_key")
        .limit(n)
        .drop("shuffle_key")
    )


def skip_processed(df: DataFrame, processed: DataFrame, on: list[str]) -> DataFrame:
    """P10 — incremental recompute: anti-join against the sink's ledger of
    already-processed keys (ref: pdf_text_extractor.py:129-139 existence
    checks; relevance_infer.py:79-92).  At scale the ledger is a parquet
    listing, broadcast when small."""
    return df.join(processed.select(*on).distinct(), on=on, how="left_anti")


def scd2_from_changelog(
    changes: DataFrame,
    key_cols: list[str],
    ts_col: str,
    attr_cols: list[str],
    tiebreak_cols: list[str] | None = None,
    open_end_ts: str | None = None,
) -> DataFrame:
    """SCD2 dimension historization — the validity-interval companion to
    ``upsert_latest``'s latest-wins merge: collapse a change log into one
    row per ATTRIBUTE CHANGE with ``[valid_from, valid_to)`` ranges and an
    ``is_current`` flag (the classic slowly-changing-dimension type 2
    layout warehouse joins expect).

    No-op changes (consecutive rows with identical attributes) are
    collapsed via a lag comparison before validity is assigned, so
    re-delivered duplicates never split an interval.

    Scale: both windows partition on the key — Catalyst reuses ONE
    exchange for the lag and the lead (asserted in
    test_scd2_windows_share_one_shuffle); rows carry keys + attrs only.
    ``tiebreak_cols`` (default: the attribute columns) break exact
    ``ts`` ties deterministically.  ``open_end_ts`` (e.g.
    '2100-01-01 00:00:00') replaces the open interval's NULL valid_to with
    a sentinel — the usual warehouse convention, and what keeps the column
    null-free for engines/comparators with awkward null-timestamp
    semantics (pandas datetime64[ns] also caps at year 2262, so the
    classic 9999-12-31 sentinel does not survive a toPandas round-trip).
    """
    order = [F.col(ts_col).asc()] + [
        F.col(c).asc() for c in (tiebreak_cols or attr_cols)
    ]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    attr = F.struct(*[F.col(c) for c in attr_cols])
    prev = F.lag(attr).over(w)
    extras = [
        c
        for c in (tiebreak_cols or [])
        if c not in {*key_cols, ts_col, *attr_cols}
    ]
    collapsed = (
        changes.select(*key_cols, ts_col, *attr_cols, *extras)
        .withColumn("_chg", prev.isNull() | (attr != prev))
        .filter(F.col("_chg"))
        .drop("_chg")
    )
    w2 = Window.partitionBy(*key_cols).orderBy(*order)
    out = (
        collapsed.withColumn("valid_to", F.lead(F.col(ts_col)).over(w2))
        .withColumnRenamed(ts_col, "valid_from")
        .withColumn("is_current", F.col("valid_to").isNull())
    )
    if open_end_ts is not None:
        # cast the sentinel to the INPUT ts column's type — a fixed
        # timestamp_ntz cast against a TIMESTAMP(ltz) ts_col would make the
        # coalesce branches disagree (AnalysisException or silent coercion
        # depending on Spark version)
        out = out.withColumn(
            "valid_to",
            F.coalesce(
                F.col("valid_to"),
                F.lit(open_end_ts).cast(changes.schema[ts_col].dataType),
            ),
        )
    return out.select(*key_cols, *attr_cols, "valid_from", "valid_to", "is_current")


def apply_cdc(
    snapshot: DataFrame,
    changelog: DataFrame,
    key_cols: list[str],
    ts_col: str,
    op_col: str = "op",
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Apply a Debezium-style I/U/D change log to a snapshot: per key the
    latest change wins and keys whose latest operation is a delete
    disappear — the full lakehouse ``MERGE WHEN MATCHED DELETE`` shape,
    completing ``upsert_latest`` (no deletes) and ``scd2_from_changelog``
    (history, no compaction).

    The snapshot participates as an op='I' row with a NULL timestamp that
    sorts AFTER every real change (``desc_nulls_last``), so a key with any
    change never falls back to its snapshot value.  Exact-``ts`` ties
    among changes break deterministically on ``tiebreak_cols`` (default:
    ``op_col`` — 'U' sorts after 'D' descending, so an equal-ts
    update+delete resolves to the update; pass explicit columns for
    domain-specific resolution).

    Scale: one union + ONE window shuffle on the key columns — identical
    cost to ``upsert_latest``; the delete filter is a post-window map.
    Output columns = snapshot columns.
    """
    tiebreaks = tiebreak_cols or [op_col]
    out_cols = snapshot.columns
    tagged = snapshot.withColumn(
        op_col, F.lit("I")
    ).withColumn("_cdc_ts", F.lit(None).cast(changelog.schema[ts_col].dataType)).unionByName(
        changelog.withColumnRenamed(ts_col, "_cdc_ts"), allowMissingColumns=False
    )
    order = [F.col("_cdc_ts").desc_nulls_last()] + [F.col(c).desc() for c in tiebreaks]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        tagged.withColumn("_rk", F.row_number().over(w))
        .filter((F.col("_rk") == 1) & (F.col(op_col) != "D"))
        .select(*out_cols)
    )


def upsert_latest(
    existing: DataFrame, updates: DataFrame, key_cols: list[str], version_col: str
) -> DataFrame:
    """CDC-style latest-wins merge: union the current table with an update
    batch and keep the highest-``version_col`` row per key (updates win
    version ties).  One window over the key partitioning — the lakehouse
    MERGE shape without a table-format dependency; at scale the union sides
    co-partition on the key and the window is the only shuffle."""
    tagged = existing.withColumn("_src", F.lit(0)).unionByName(
        updates.withColumn("_src", F.lit(1))
    )
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(version_col).desc(), F.col("_src").desc()
    )
    return (
        tagged.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk", "_src")
    )


def merge_agg_state(
    state: DataFrame,
    delta: DataFrame,
    key_cols: list[str],
    sum_cols: list[str],
) -> DataFrame:
    """Incremental aggregate maintenance (materialized-view delta merge):
    fold a delta batch's PARTIAL aggregate into a persisted aggregate
    state without rescanning the base data — union the two (key → sums)
    tables and re-sum per key.  Because counts and sums are commutative
    monoids, state ⊕ partial(delta) == full recompute, which is exactly
    the oracle check.

    This is the batch face of what streaming aggregation state does
    per micro-batch; at 100 TB it is the difference between touching the
    DELTA (gigabytes) and the BASE (the 100 TB) on every refresh.  Both
    inputs are aggregate-sized; the union re-aggregate shuffles only
    state rows.  Retractions arrive as negative deltas (a CDC 'D' emits
    -1/-value rows), so the same fold handles updates and deletes.
    """
    return (
        state.select(*key_cols, *sum_cols)
        .unionByName(delta.select(*key_cols, *sum_cols))
        .groupBy(*key_cols)
        .agg(*[F.sum(c).alias(c) for c in sum_cols])
    )


def merge_join_state(
    m_old: DataFrame,
    a_old: DataFrame,
    b_old: DataFrame,
    d_a: DataFrame,
    d_b: DataFrame,
    on: list[str],
) -> DataFrame:
    """Incremental maintenance of a materialized INNER equi-join view
    M = A ⋈ B under insert-only deltas — the classic Δ-rule of
    incremental view maintenance:

        ΔM = (ΔA ⋈ B) ∪ (A ⋈ ΔB) ∪ (ΔA ⋈ ΔB),   M' = M ∪ ΔM

    The join companion of :func:`merge_agg_state`: every term touches at
    least one DELTA side, so a refresh costs delta-proportional work —
    at 100 TB the difference between joining gigabytes against the base
    (with the delta side broadcastable when small) and re-running the
    full base⋈base shuffle.  The three delta joins shuffle (or
    broadcast) only delta rows plus the matched base rows; ``m_old`` is
    appended to, never rescanned.

    Correctness contract (the oracle check): with A' = A ∪ ΔA and
    B' = B ∪ ΔB, ``merge_join_state(...) == A' ⋈ B'`` exactly, because
    inner-join distributes over union.  Insert-only by design —
    retractions need differential dataflow's signed multiplicities;
    pair with :func:`apply_cdc` upstream to compact updates first.
    """
    dm = (
        d_a.join(b_old, on)
        .unionByName(a_old.join(d_b, on))
        .unionByName(d_a.join(d_b, on))
    )
    return m_old.unionByName(dm)


def table_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Snapshot reconciliation (the data-eng regression test): classify
    every key as added / removed / changed / unchanged between two table
    versions via ONE full-outer join on the key.  Change detection
    md5-hashes the compared columns (null-tagged, so NULL vs 'null'
    strings differ) — at 100 TB the hash keeps the shuffle narrow
    regardless of row width.

    Output: (status, n_keys) — the four-row summary a pipeline diff gate
    asserts on before promoting a rebuild.
    """
    from ..functions.hashing import md5_hex

    cmp_cols = compare_cols or [c for c in old.columns if c not in key_cols]
    def fingerprint(df: DataFrame, alias: str) -> DataFrame:
        return df.select(
            *key_cols,
            md5_hex(
                *[
                    F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
                    for c in cmp_cols
                ]
            ).alias(alias),
        )
    o = fingerprint(old, "_old_fp")
    n = fingerprint(new, "_new_fp")
    joined = o.join(n, on=key_cols, how="full_outer")
    status = (
        F.when(F.col("_old_fp").isNull(), F.lit("added"))
        .when(F.col("_new_fp").isNull(), F.lit("removed"))
        .when(F.col("_old_fp") != F.col("_new_fp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        joined.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_keys"))
    )


def cooccurrence_lift(
    df: DataFrame, entity_col: str, item_col: str
) -> DataFrame:
    """Pairwise item co-occurrence with lift (market-basket association):
    for every unordered item pair, how many entities saw both, and
    lift = P(a,b) / (P(a)·P(b)) — >1 means the items travel together,
    <1 means they repel.  The cross-sell / event-affinity / error-
    cooccurrence analysis shape.

    Shape: dedup to (entity, item), self-join on the entity key with
    ``item_a < item_b`` — candidate volume is Σ_e d_e², bounded by the
    per-entity distinct-item count d_e (the item vocabulary, NOT the
    event count), so a power-user with a million events still
    contributes at most |items|² pairs.  Lift is formed from integer
    numerators with one division: (n_ab·N) / (n_a·n_b).

    Output: (item_a, item_b, n_a, n_b, n_both, lift) per co-occurring
    pair, with N = distinct entity count.
    """
    u = (
        df.select(F.col(entity_col).alias("_e"), F.col(item_col).alias("_i"))
        .distinct()
        # u feeds FIVE references (totals, per_item, both self-join arms);
        # each re-expanded the source scan + distinct.  The deduped
        # (entity, item) frame is bounded by entities x item vocabulary —
        # far below the event count — so materialize it once (lazily;
        # integer counts downstream, no rounding-order concern).
        .transform(shared)
    )
    totals = u.agg(F.countDistinct("_e").cast("long").alias("_n_entities"))
    per_item = u.groupBy("_i").agg(F.count(F.lit(1)).cast("long").alias("_n"))
    pairs = (
        u.select("_e", F.col("_i").alias("item_a"))
        .join(u.select("_e", F.col("_i").alias("item_b")), "_e")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    return (
        pairs.join(
            F.broadcast(per_item.select(F.col("_i").alias("item_a"), F.col("_n").alias("n_a"))),
            "item_a",
        )
        .join(
            F.broadcast(per_item.select(F.col("_i").alias("item_b"), F.col("_n").alias("n_b"))),
            "item_b",
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "item_a",
            "item_b",
            "n_a",
            "n_b",
            "n_both",
            F.round(
                (F.col("n_both") * F.col("_n_entities")).cast("double")
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )


def percentile_bins(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    n_bins: int = 10,
    bin_col: str = "bin",
    approx: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """Equi-depth bin assignment by percentile CUTPOINTS — the corpus-scale
    alternative to NTILE documented on ``window_ntile_deciles``.

    NTILE(n) is a full sort per PARTITION KEY: with few groups the whole
    table funnels through a handful of reducers, and the 10x curve measures
    it near-linear per row (0.49x — see SCALE.md).  When tile populations
    only need to be equal UP TO TIES (every reporting/bucketing use), bin by
    the group's n-1 interior percentile cutpoints instead:

      1. one combine-friendly aggregate computes exact interpolated
         percentiles per group (map-side partials, ≤ |groups| rows out),
      2. the tiny cut table is BROADCAST back and each row counts the
         cutpoints ≤ its value — a map-side fold, no sort, no extra shuffle.

    Rows equal to a cutpoint all land in the same (upper) bin, so ties never
    split across bins — the one semantic difference from NTILE, and the
    reason this scales: exact equal populations require global ranking,
    tie-stable populations don't.  bin ∈ [0, n_bins-1]; deterministic (both
    engines use linear interpolation for exact percentiles, and cutpoint
    comparison is exact when the cut falls on a data value).
    """
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    # approx=True is the 100 TB form: approx_percentile cutpoints
    # (mergeable bounded-size sketch per group, rank error <= 1/accuracy)
    # instead of exact buffered percentiles — bin populations shift only
    # by the rank tolerance.  Exact stays the default for oracle checks.
    ps = ", ".join(f"{i / n_bins!r}D" for i in range(1, n_bins))
    if approx:
        cut_expr = (
            f"cast(approx_percentile({value_col}, array({ps}), {accuracy})"
            " as array<double>)"
        )
    else:
        cut_expr = f"percentile({value_col}, array({ps}))"
    cuts = df.groupBy(*key_cols).agg(F.expr(cut_expr).alias("_cuts"))
    # count cutpoints <= value with a STATIC sum of n_bins-1 comparisons:
    # n_bins is a Python constant, so unrolling keeps the per-row fold in
    # whole-stage codegen — the F.aggregate lambda form ran interpreted on
    # every row (guide: higher-order lambdas eject codegen).  NULL cut
    # arrays (all-NULL group) keep the fold's NULL-bin semantics.
    terms = [
        F.when(F.col(value_col) >= F.element_at("_cuts", i), 1).otherwise(0)
        for i in range(1, n_bins)
    ]
    bin_sum = terms[0]
    for t in terms[1:]:
        bin_sum = bin_sum + t
    binned = df.join(F.broadcast(cuts), on=list(key_cols)).withColumn(
        bin_col,
        F.when(F.col("_cuts").isNull(), F.lit(None).cast("int")).otherwise(bin_sum),
    )
    return binned.drop("_cuts")


def group_regression(
    df: DataFrame,
    group_cols: list[str],
    y: Column,
    x: Column,
    quantize_scale: int | None = None,
) -> DataFrame:
    """Per-group ordinary-least-squares fit of ``y ~ x`` via moment-sum
    regression aggregates — grouped model fitting WITHOUT applyInPandas:
    each aggregate is a map-side-combinable moment sum (Σx, Σy, Σxy,
    Σx², n), so 100 TB of observations reduce per-partition and only five
    numbers per group cross the shuffle.  The applyInPandas formulation
    ships every row of every group to one executor; this ships none.

    ``quantize_scale``: for fixed-point inputs (cents, integral
    quantities), quantize per-row to ``floor(v*scale+0.5)`` BIGINT and
    reduce EXACT integer moments (DECIMAL(38,0)); slope/intercept/r² come
    from one final fixed-order double expression.  Order-proof, unlike
    the builtin ``regr_*`` running co-moments whose low bits depend on
    partition order (the llm_heaps_law r10 flake class).  slope and r²
    are invariant under the common scale; intercept divides back once.
    """
    if quantize_scale is None:
        # n is the PAIR count (both x and y non-null — regr_count), and r2
        # is NULL when the y-variance is 0, matching the quantized path and
        # the DuckDB oracle (r12 advice: the two paths of one API must
        # agree on null-bearing input; builtin regr_r2 alone returns 1.0
        # when syy=0).
        return df.groupBy(*group_cols).agg(
            F.regr_count(y, x).cast("long").alias("n"),
            F.round(F.regr_slope(y, x), 6).alias("slope"),
            F.round(F.regr_intercept(y, x), 6).alias("intercept"),
            F.when(
                (F.regr_sxx(y, x) != 0) & (F.regr_syy(y, x) != 0),
                F.round(F.regr_r2(y, x), 6),
            ).alias("r2"),
        )

    dec = "decimal(38,0)"
    both = x.isNotNull() & y.isNotNull()
    xi = F.when(both, F.floor(x * quantize_scale + F.lit(0.5)).cast("long"))
    yi = F.when(both, F.floor(y * quantize_scale + F.lit(0.5)).cast("long"))
    m = df.groupBy(*group_cols).agg(
        F.count(xi).cast("long").alias("nm"),
        F.coalesce(F.sum(xi.cast(dec)), F.lit(0).cast(dec)).alias("sx"),
        F.coalesce(F.sum(yi.cast(dec)), F.lit(0).cast(dec)).alias("sy"),
        F.coalesce(F.sum((xi * xi).cast(dec)), F.lit(0).cast(dec)).alias("sxx"),
        F.coalesce(F.sum((yi * yi).cast(dec)), F.lit(0).cast(dec)).alias("syy"),
        F.coalesce(F.sum((xi * yi).cast(dec)), F.lit(0).cast(dec)).alias("sxy"),
    )
    nm = F.col("nm").cast(dec)
    d = m.select(
        *group_cols,
        "nm",
        "sx",
        "sy",
        (nm * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
        (nm * F.col("sxx") - F.col("sx") * F.col("sx")).alias("dx"),
        (nm * F.col("syy") - F.col("sy") * F.col("sy")).alias("dy"),
    )
    slope = F.col("num").cast("double") / F.col("dx").cast("double")
    return d.select(
        *group_cols,
        # n = PAIR count (both non-null), matching the builtin path's
        # regr_count and the oracle's WHERE-filtered COUNT(*)
        F.col("nm").cast("long").alias("n"),
        F.when(F.col("dx") != 0, F.round(slope, 6)).alias("slope"),
        F.when(
            F.col("dx") != 0,
            F.round(
                (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
                / F.col("nm").cast("double")
                / quantize_scale,
                6,
            ),
        ).alias("intercept"),
        F.when(
            (F.col("dx") != 0) & (F.col("dy") != 0),
            F.round(
                slope * (F.col("num").cast("double") / F.col("dy").cast("double")), 6
            ),
        ).alias("r2"),
    )


def weighted_quantiles(
    df: DataFrame,
    group_cols: list[str],
    value: Column,
    weight: Column,
    qs: list[float],
    n_bins: int | None = 1024,
) -> DataFrame:
    """Exact weighted quantiles per group: the q-quantile is the smallest
    value whose cumulative weight reaches q * total_weight (Type-1 /
    lower weighted quantile).  No builtin covers this -- percentile
    aggregates are unweighted, and repeating rows weight-many times
    explodes the input.

    Default path (``n_bins`` set): two-pass binned exact resolve --
    1. ONE map-side-combined histogram: per (group, value-bin) weight
       sums; cumulative/total run on the tiny bin table;
    2. the cut bin per q is the first whose cumulative reaches
       q * total; only rows IN cut bins are re-scanned, and a window
       over those few rows resolves the exact cut value.
    Nothing sorts whole groups: the first pass is aggregate-only and the
    second sorts ~n/n_bins rows per cut, so 100 TB of observations cost
    two scans + a bin-sized shuffle.  Bin boundaries never affect the
    answer (equal values share a bin, and pass 2 is exact within the
    bin), so any n_bins returns the identical result.

    ``n_bins=None`` falls back to the one-window form (running
    cumulative weight over value order, every q answered by conditional
    MINs) -- simpler plan, but it sorts each whole group, the NTILE-class
    cost; use it only for small inputs or many-group data.  Ties need no
    tiebreak in either path: permuting equal values only permutes
    cumulative weights among rows whose value is identical, so the MIN
    qualifying value is invariant.  Prefer integral weights: running
    sums stay exact, so both paths and any replay agree bitwise.
    """
    base = df.select(
        *group_cols, value.cast("double").alias("_v"), weight.cast("double").alias("_w")
    )
    if n_bins is None:
        out = _weighted_quantiles_window(base, group_cols, qs)
    else:
        out = _weighted_quantiles_binned(base, group_cols, qs, n_bins)
    return out.select(
        *group_cols, "q", F.round(F.col("wq_value").cast("double"), 6).alias("wq_value")
    )


def _weighted_quantiles_window(
    base: DataFrame, group_cols: list[str], qs: list[float]
) -> DataFrame:
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(F.col("_v").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wg = Window.partitionBy(*group_cols)
    cum = base.withColumn("_cw", F.sum("_w").over(w)).withColumn(
        "_tw", F.sum("_w").over(wg)
    )
    wide = cum.groupBy(*group_cols).agg(
        *[
            F.min(
                F.when(F.col("_cw") >= F.lit(float(q)) * F.col("_tw"), F.col("_v"))
            ).alias(f"q{q}")
            for q in qs
        ]
    )
    structs = F.array(
        *[
            F.struct(
                F.lit(float(q)).alias("q"), F.col(f"`q{q}`").alias("wq_value")
            )
            for q in qs
        ]
    )
    return wide.select(*group_cols, F.explode(structs).alias("p")).select(
        *group_cols, "p.*"
    )


def _weighted_quantiles_binned(
    base: DataFrame, group_cols: list[str], qs: list[float], n_bins: int
) -> DataFrame:
    rng = base.groupBy(*group_cols).agg(
        F.min("_v").alias("_lo"), F.max("_v").alias("_hi")
    )
    binned = base.join(F.broadcast(rng), on=group_cols).withColumn(
        "_bin",
        F.when(F.col("_hi") == F.col("_lo"), F.lit(0))
        .otherwise(
            F.least(
                F.floor(
                    (F.col("_v") - F.col("_lo"))
                    / ((F.col("_hi") - F.col("_lo")) / n_bins)
                ),
                F.lit(n_bins - 1),
            )
        )
        .cast("long"),
    )
    hist = binned.groupBy(*group_cols, "_bin").agg(F.sum("_w").alias("_bw"))
    hist = hist.withColumn(
        "_cum",
        F.sum("_bw").over(
            Window.partitionBy(*group_cols)
            .orderBy("_bin")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).withColumn("_tw", F.sum("_bw").over(Window.partitionBy(*group_cols)))
    # every q's cut bin from ONE pass over the tiny histogram: min-struct
    # (ordered by _bin first) of the qualifying bins per q
    spec_wide = hist.groupBy(*group_cols).agg(
        *[
            F.min(
                F.when(
                    F.col("_cum") >= F.lit(float(q)) * F.col("_tw"),
                    F.struct(
                        F.col("_bin").alias("_qbin"),
                        (F.col("_cum") - F.col("_bw")).alias("_cum_before"),
                        F.col("_tw").alias("_qtw"),
                    ),
                )
            ).alias(f"s{q}")
            for q in qs
        ]
    )
    spec = spec_wide.select(
        *group_cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(float(q)).alias("q"), F.col(f"`s{q}`").alias("s")
                    )
                    for q in qs
                ]
            )
        ).alias("p"),
    ).select(
        *group_cols, "p.q", "p.s._qbin", "p.s._cum_before", "p.s._qtw"
    )
    b, s = binned.alias("b"), spec.alias("s")
    cond = F.col("b._bin") == F.col("s._qbin")
    for c in group_cols:
        cond = cond & (F.col(f"b.{c}") == F.col(f"s.{c}"))
    cand = b.join(F.broadcast(s), cond).select(
        *[F.col(f"b.{c}") for c in group_cols],
        F.col("s.q").alias("q"),
        F.col("b._v").alias("_v"),
        F.col("b._w").alias("_w"),
        F.col("s._cum_before").alias("_cum_before"),
        F.col("s._qtw").alias("_qtw"),
    )
    wq = (
        Window.partitionBy(*group_cols, "q")
        .orderBy(F.col("_v").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    resolved = cand.withColumn("_cw", F.col("_cum_before") + F.sum("_w").over(wq))
    return resolved.groupBy(*group_cols, "q").agg(
        F.min(
            F.when(F.col("_cw") >= F.col("q") * F.col("_qtw"), F.col("_v"))
        ).alias("wq_value")
    )

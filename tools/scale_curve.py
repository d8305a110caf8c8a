"""Scale-curve harness: measure the headline operator families at 1x / 3x /
10x the sf0.1 data volume and record sec-vs-rows curves (SCALE.md).

The driver ships only sf{0.001,0.01,0.1}, so larger inputs are
self-generated from sf0.1 by replica expansion with per-replica
perturbations chosen so the DATA statistics scale linearly and the
measurement isolates ENGINE scaling:

- documents: every 3rd word gets a per-replica suffix, so every word
  3-gram shingle differs across replicas — replicas are NOT near-dups of
  each other (a verbatim self-union would multiply the duplicate-cluster
  sizes and the LSH candidate volume quadratically in the multiplier,
  measuring a data artifact, not the engine).  ~2/3 of words stay
  natural so language/stopword/quality statistics stay representative.
- embeddings: arrays rotated by `replica` positions (norm-preserving,
  direction-changing) under re-keyed vec_ids — no artificial exact-dup
  vectors, neighbor structure per replica preserved.
- events: user_ids re-keyed per replica and timestamps shifted by
  `replica` days — sessions/windows per user stay the same shape, so
  the sessionize/window state scales with rows, not pathologically.
- orders/lineitem/customer: keys offset per replica with FK relations
  preserved (o_orderkey/l_orderkey move together, o_custkey/c_custkey
  move together); part/supplier/nation/region stay fixed (dimensions).

Usage:
    python tools/scale_curve.py [mults...]        # default: 1 3 10
    SCALE_QUERIES=q1,q2 python tools/scale_curve.py 1 10   # subset
Generated data lands under /tmp/spark_graft_scale/x{mult}; results print
as a markdown table + one JSON line.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"
OUT_ROOT = "/tmp/spark_graft_scale"

# Representative subset: one per operator family whose scaling story
# SCALE.md argues (scan+agg, shuffle join, window, map-only text, event
# sessionization, exact/minhash/simhash/prefix dedup, BM25, brute +
# banded ANN, PQ/ADC, the chained curation pipeline, connected components).
QUERIES = [
    "agg_pricing_summary",
    "join_multiway_revenue_by_nation",
    "window_topk_per_group",
    "text_clean_curator",
    "events_sessionize",
    "events_windowed_counts",
    "llm_exact_dedup",
    "llm_minhash_lsh_pairs",
    "llm_simhash_fingerprints",
    "llm_prefix_jaccard_join",
    "llm_bm25_topk",
    "llm_cosine_topk",
    "llm_ann_lsh_topk",
    "llm_pq_adc_topk",
    "llm_semantic_dedup",
    "pipeline_llm_curation",
    # r6 additions / rewrites
    "text_lang_id_trigram",
    "llm_sq_codes",
    "llm_vocab_coverage",
    "llm_bpe_pair_counts",
    "llm_leakage_safe_split",
    # late-r6 additions
    "llm_semdedup",
    "llm_knn_graph",
    "llm_dsir_resample",
    "multimodal_phash_dedup",
    "llm_c4_rules",
    # final-r6 additions: two-stage PQ refine, iterative BPE train/apply,
    # TF-IDF keywords (vocabulary-shuffle join), Morton-code layout key
    "llm_pq_refine_topk",
    "llm_bpe_merge_loop",
    "llm_bpe_encode",
    "llm_tfidf_keywords",
    "layout_zorder_key",
    # last-r6 additions: CDC apply, expectations audit, MV delta merge,
    # column stats, skew diagnosis
    "incremental_apply_cdc",
    "quality_expectations",
    "incremental_agg_maintenance",
    "layout_column_stats",
    "diag_skew_report",
]

DOC_OFF = 10_000_000
VEC_OFF = 10_000_000
EVENT_OFF = 1_000_000_000
USER_OFF = 10_000_000
ORDER_OFF = 100_000_000
CUST_OFF = 10_000_000


def _union_replicas(frames):
    return functools.reduce(lambda a, b: a.unionByName(b), frames)


def generate(spark, mult: int) -> str:
    """Write an {mult}x replica-expanded copy of sf0.1 under OUT_ROOT."""
    from pyspark.sql import functions as F

    from aicoe_osc_demo_spark.sources.tables import load_table

    out = os.path.join(OUT_ROOT, f"x{mult}")
    marker = os.path.join(out, "_DONE")
    if os.path.exists(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)

    docs = load_table(spark, SRC, "documents")
    doc_reps = []
    for i in range(mult):
        if i == 0:
            doc_reps.append(docs)
            continue
        words = F.split(F.col("text"), " ")
        # suffix every 3rd word: every 3-consecutive-word window contains a
        # replica-specific token, so no word-3-gram shingle survives across
        # replicas (no synthetic near-dup clusters), while most words stay
        # natural for the language/quality statistics
        tagged = F.transform(
            words,
            lambda w, p: F.when(p % 3 == 0, F.concat(w, F.lit(f"_{i}"))).otherwise(w),
        )
        text2 = F.array_join(tagged, " ")
        doc_reps.append(
            docs.select(
                (F.col("doc_id") + F.lit(i * DOC_OFF)).alias("doc_id"),
                text2.alias("text"),
                "lang",
                "source",
                F.length(text2).alias("n_chars"),
            )
        )
    _union_replicas(doc_reps).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )

    emb = load_table(spark, SRC, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    emb_reps = []
    for i in range(mult):
        rot = i % dim
        if rot == 0:
            e = F.col("embedding")
        else:
            e = F.concat(
                F.slice(F.col("embedding"), rot + 1, dim - rot),
                F.slice(F.col("embedding"), 1, rot),
            )
        emb_reps.append(
            emb.select(
                (F.col("vec_id") + F.lit(i * VEC_OFF)).alias("vec_id"),
                e.alias("embedding"),
                "label",
            )
        )
    _union_replicas(emb_reps).write.mode("overwrite").parquet(
        os.path.join(out, "embeddings.parquet")
    )

    events = load_table(spark, SRC, "events")
    ev_reps = []
    for i in range(mult):
        ev_reps.append(
            events.select(
                (F.col("event_id") + F.lit(i * EVENT_OFF)).alias("event_id"),
                (F.col("ts") + F.expr(f"INTERVAL {i} DAYS")).alias("ts"),
                (F.col("user_id") + F.lit(i * USER_OFF)).alias("user_id"),
                "event_type",
                "value",
                "props",
            )
        )
    _union_replicas(ev_reps).write.mode("overwrite").parquet(
        os.path.join(out, "events.parquet")
    )

    orders = load_table(spark, SRC, "orders")
    o_reps = []
    for i in range(mult):
        o_reps.append(
            orders.select(
                (F.col("o_orderkey") + F.lit(i * ORDER_OFF)).alias("o_orderkey"),
                (F.col("o_custkey") + F.lit(i * CUST_OFF)).alias("o_custkey"),
                "o_orderstatus",
                "o_totalprice",
                "o_orderdate",
                "o_orderpriority",
            )
        )
    _union_replicas(o_reps).write.mode("overwrite").parquet(
        os.path.join(out, "orders.parquet")
    )

    li = load_table(spark, SRC, "lineitem")
    li_reps = []
    for i in range(mult):
        li_reps.append(
            li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * ORDER_OFF))
        )
    _union_replicas(li_reps).write.mode("overwrite").parquet(
        os.path.join(out, "lineitem.parquet")
    )

    cust = load_table(spark, SRC, "customer")
    c_reps = []
    for i in range(mult):
        c_reps.append(
            cust.withColumn("c_custkey", F.col("c_custkey") + F.lit(i * CUST_OFF))
        )
    _union_replicas(c_reps).write.mode("overwrite").parquet(
        os.path.join(out, "customer.parquet")
    )

    for dim_t in ("region", "nation", "supplier", "part"):
        load_table(spark, SRC, dim_t).write.mode("overwrite").parquet(
            os.path.join(out, f"{dim_t}.parquet")
        )

    open(marker, "w").close()
    return out


# the ONE materializer both harnesses share — a local copy here once let
# scale-curve timings drift from bench timings (different materializer =
# non-comparable numbers, the r4 adjudication trap)
from bench import checksum_materialize  # noqa: E402


def main() -> None:
    mults = [int(m) for m in sys.argv[1:]] or [1, 3, 10]
    global QUERIES
    if os.environ.get("SCALE_QUERIES"):
        QUERIES = [q for q in os.environ["SCALE_QUERIES"].split(",") if q]

    from aicoe_osc_demo_spark.plans import QUERIES as CATALOG
    from aicoe_osc_demo_spark.session import get_spark

    spark = get_spark("scale-curve")
    spark.sparkContext.setLogLevel("ERROR")

    dirs: dict[int, str] = {}
    for m in mults:
        t0 = time.time()
        dirs[m] = SRC if m == 1 else generate(spark, m)
        if m != 1:
            print(f"# generated x{m} in {time.time() - t0:.1f}s -> {dirs[m]}", file=sys.stderr)

    # warm JVM + python worker pool once
    CATALOG["proj_select_columns"](spark, SRC).count()
    spark.range(0, 32, 1, 32).mapInPandas(
        lambda it: (pdf for pdf in it), schema="id long"
    ).count()

    results: dict[str, dict[int, float]] = {q: {} for q in QUERIES}
    rowcounts: dict[str, dict[int, int]] = {q: {} for q in QUERIES}
    failed: set[str] = set()
    for m in mults:
        for q in QUERIES:
            if q in failed:
                continue
            best, n = None, 0
            try:
                for _ in range(2):
                    t0 = time.time()
                    n = checksum_materialize(CATALOG[q](spark, dirs[m]))
                    dt = time.time() - t0
                    best = dt if best is None else min(best, dt)
            except Exception as e:  # noqa: BLE001 - batch runs must survive one bad entry
                failed.add(q)
                print(f"# x{m} {q}: FAILED {type(e).__name__}: {str(e)[:120]}",
                      file=sys.stderr)
                spark.catalog.clearCache()
                continue
            spark.catalog.clearCache()
            results[q][m] = round(best, 3)
            rowcounts[q][m] = n
            print(f"# x{m} {q}: {n} rows in {best:.2f}s", file=sys.stderr)
    for q in failed:
        results.pop(q, None)
        rowcounts.pop(q, None)
    QUERIES = [q for q in QUERIES if q not in failed]

    base = mults[0]
    header = "| query | " + " | ".join(
        f"x{m} sec" for m in mults
    ) + " | " + " | ".join(f"x{m}/x{base} per-row" for m in mults[1:]) + " | out rows @max |"
    sep = "|" + "---|" * (1 + len(mults) + (len(mults) - 1) + 1)
    lines = [header, sep]
    for q in QUERIES:
        ratios = [
            f"{(results[q][m] / results[q][base]) / (m / base):.2f}x" for m in mults[1:]
        ]
        lines.append(
            f"| {q} | "
            + " | ".join(f"{results[q][m]:.2f}" for m in mults)
            + " | "
            + " | ".join(ratios)
            + f" | {rowcounts[q][mults[-1]]} |"
        )
    print("\n".join(lines))
    print(
        json.dumps(
            {
                "metric": "scale_curve",
                "mults": mults,
                "queries": results,
                "rows": rowcounts,
                "loadavg": [round(x, 2) for x in os.getloadavg()],
            }
        )
    )


if __name__ == "__main__":
    main()

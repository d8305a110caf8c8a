"""Adjudicate the two SimHash formulations (re-run r6 under CHECKSUM
materialization — the r4 run of this tool materialized with .count(),
which let ColumnPruning delete the map-only HOF form entirely, so its
"0.87 s short / 0.81 s long" numbers were parquet row-count timings, not
SimHash.  The r6 checksum re-measurement reverses the r4 verdict.)

Form A ("map-side HOF"): per-row hash array, 32 interpreted F.aggregate
higher-order passes, no shuffle.
Form B ("exploded"): explode shingle hashes, 32 branchless vote sums in
one codegen'd groupBy with map-side partial combine (explode keeps a
doc's shingles in one partition, so partials collapse to ~1 row/doc
before any shuffle).

Measured on (1) the real sf0.1 documents table (short sentence-ish docs)
and (2) a long-document fixture (each doc repeated to ~page size),
best-of-3 after warmup, materialized via count + bit_xor(xxhash64(*)) so
neither form can be pruned.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

from aicoe_osc_demo_spark.operators.dedup import word_ngrams
from aicoe_osc_demo_spark.session import get_spark
from aicoe_osc_demo_spark.sources.tables import load_table


def simhash_mapside(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32) -> DataFrame:
    # same ensure_parallelism guard as the shipped operator: single-row-group
    # fixtures otherwise scan as ONE task and serialize the hashing stage,
    # timing the input layout instead of the formulation under test
    from aicoe_osc_demo_spark.operators.relational import ensure_parallelism

    df = ensure_parallelism(df)
    hashed = df.select(
        F.col(id_col).alias("doc_id"),
        F.transform(
            word_ngrams(F.col(text_col), 3),
            lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long"),
        ).alias("hs"),
    )

    def voter(j: int):
        mask = F.lit(1 << j)
        return lambda acc, h: acc + F.when(h.bitwiseAND(mask) != 0, F.lit(1)).otherwise(F.lit(-1))

    fp = None
    for j in range(bits):
        vote = F.aggregate(F.col("hs"), F.lit(0), voter(j))
        term = F.when(vote > 0, F.lit(1 << j)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return hashed.select("doc_id", fp.cast("long").alias("simhash"))


def simhash_exploded(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32) -> DataFrame:
    from aicoe_osc_demo_spark.operators.relational import ensure_parallelism

    df = ensure_parallelism(df)
    ex = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_ngrams(F.col(text_col), 3)).alias("g"),
    ).select(
        "doc_id",
        F.conv(F.substring(F.md5(F.col("g")), 1, 8), 16, 10).cast("long").alias("h"),
    )
    votes = ex.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.col("h").bitwiseAND(F.lit(1 << j)) != 0, 1).otherwise(-1)
            ).alias(f"v{j}")
            for j in range(bits)
        ]
    )
    fp = None
    for j in range(bits):
        term = F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return votes.select("doc_id", fp.cast("long").alias("simhash"))


def checksum(df: DataFrame) -> int:
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])).alias("chk"),
    ).collect()[0]["n"]


def best_of(fn, runs=3):
    best = None
    for _ in range(runs):
        t0 = time.time()
        fn()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    return best


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench-simhash")
    spark.sparkContext.setLogLevel("ERROR")

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    avg_len = docs.select(F.avg(F.length("text"))).first()[0]
    print(f"short fixture: {n} docs, avg {avg_len:.0f} chars")

    long_docs = docs.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.array(*[F.concat(F.col("text"), F.lit(f" v{i}")) for i in range(20)]),
        ).alias("text"),
    ).localCheckpoint()
    avg_long = long_docs.select(F.avg(F.length("text"))).first()[0]
    print(f"long fixture: {n} docs, avg {avg_long:.0f} chars")

    # the two forms must agree exactly before timing means anything — and
    # both must agree with the SHIPPED operator, so this tool's verdict
    # (cited in SCALE.md) can never describe code that no longer ships
    from aicoe_osc_demo_spark.operators.dedup import simhash as simhash_shipped

    a_rows = {r.doc_id: r.simhash for r in simhash_mapside(docs).collect()}
    b_rows = {r.doc_id: r.simhash for r in simhash_exploded(docs).collect()}
    s_rows = {r.doc_id: r.simhash for r in simhash_shipped(docs).collect()}
    assert a_rows == b_rows, "forms diverge"
    assert b_rows == s_rows, "local exploded form diverges from shipped simhash"

    for label, data in (("short", docs), ("long", long_docs)):
        checksum(simhash_mapside(data))
        checksum(simhash_exploded(data))
        a = best_of(lambda: checksum(simhash_mapside(data)))
        b = best_of(lambda: checksum(simhash_exploded(data)))
        print(f"{label}: mapside-HOF {a:.3f}s   exploded {b:.3f}s   load {os.getloadavg()}")


if __name__ == "__main__":
    main()

"""Deduplication operators for corpus-scale training-data pipelines.

Generalizes the reference's row dedup (P8: drop_duplicates in
farm_trainer.py:73, kpi_inference_curator.py:399-404) into the family a
100 TB text pipeline needs: exact content dedup, MinHash+LSH near-dedup,
SimHash near-dedup, n-gram Jaccard verification.

Scale design:
- Exact dedup is a hash-groupBy — one shuffle on a 32-hex-char key, never on
  the document text itself.
- MinHash signatures are computed from EXPLODED (doc, token) pairs with a
  partial aggregate (map-side combine) per (doc, seed); LSH banding turns
  near-dup discovery into an equi-join on (band, band_key) — no all-pairs
  comparison anywhere, no CartesianProduct in any plan.
- All hashes are md5-derived → bit-identical in Spark, DuckDB and Python, so
  every stage is oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import CacheScope, round_cut, shared
from ..functions.analysis import doc_fingerprint


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact near-duplicate groups: md5 of normalized text → keep the minimum
    id as the canonical representative, count the clones."""
    return (
        df.select(F.col(id_col), doc_fingerprint(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).cast("long").alias("canonical_id"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
        )
    )


def _tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Distinct unigram shingles per document (long form)."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("w"),
    )


def positional_word_ngrams(text_col, n: int):
    """All positional word n-grams of a text column (NON-distinct, in
    document order) — the shared shingle builder for the whole dedup /
    quality family.

    Formulation note (r6): the original form iterated a position sequence
    with ``slice(split(text), i, n)`` in the lambda body.  Higher-order
    functions are interpreted (no codegen) and get NO common-subexpression
    elimination inside the lambda, so ``split(text)`` was re-parsed for
    EVERY position — O(words²·len) shingling, a measured order-of-magnitude
    cliff on page-sized documents (r6 A/B, recorded in SCALE.md).  This
    form zips the words array with its n-1 shifted copies instead: every
    expression that references the row evaluates once per ROW, and the
    lambda touches only its own argument.  Output is element-for-element
    identical (pinned by test_word_ngrams_zip_form_matches_slice_form):
    count = greatest(size - (n-1), 1); for documents shorter than n words
    the trailing zip slots hold nulls exactly where the original slice ran
    short, and concat_ws skips nulls just as array_join did."""
    words = F.split(text_col, " ")
    if n == 1:
        return words
    zipped = F.arrays_zip(
        *[F.slice(words, k + 1, F.size(words)).alias(f"w{k}") for k in range(n)]
    )
    return F.transform(
        F.slice(zipped, 1, F.greatest(F.size(words) - (n - 1), F.lit(1))),
        lambda s: F.concat_ws(" ", *[s[f"w{k}"] for k in range(n)]),
    )


def word_ngrams(text_col, n: int = 3):
    """Distinct word n-gram shingles of a text column.  N-grams (not
    unigrams) are what make MinHash discriminative on corpora with small
    vocabularies — unigram sets collapse to the vocabulary itself and LSH
    candidates go quadratic."""
    return F.array_distinct(positional_word_ngrams(text_col, n))


def _shingles(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document (long form).  The input is
    spread to cluster parallelism first — shingling is the compute-heavy
    stage and must not be serialized by a single-file input."""
    from .relational import ensure_parallelism

    return ensure_parallelism(df.select(F.col(id_col).alias("doc_id"), F.col(text_col))).select(
        "doc_id",
        F.explode(word_ngrams(F.col(text_col), n)).alias("w"),
    )


# Affine MinHash family: h_i(x) = (A_i * x + B_i) mod 2^32 over the 32-bit
# md5-prefix token hash.  One md5 per token; the 8 signature values are cheap
# integer ops folded into ONE wide aggregate (no seed-explosion).  Odd 31-bit
# multipliers keep A_i * x < 2^63 (no BIGINT overflow in Spark or DuckDB).
MINHASH_COEFFS: list[tuple[int, int]] = [
    (1, 0),
    (1431655765, 1000003),
    (858993459, 49979687),
    (1717986917, 1299709),
    (1252698795, 15485863),
    (1076902265, 32452843),
    (2021161081, 67867967),
    (1840700269, 86028121),
]
_MOD = 2**32


def _token_hash():
    return F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long")


def minhash_signatures_wide(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Wide MinHash signature: (doc_id, mh0..mh{n-1}).

    Shape: explode shingles (one md5 per shingle), then ONE groupBy(doc_id)
    whose n min-aggregates get map-side partial combine — the shuffle
    carries one (doc_id, n longs) row per doc per partition.  A fully
    array-expression variant (array_min over transform) avoids the explode
    but re-evaluates the hash array once per coefficient — higher-order
    functions are interpreted without common-subexpression elimination — and
    measured ~40% slower; the exploded partial-agg form wins and scales
    (shuffle volume is proportional to docs, not shingles).
    """
    toks = _shingles(df, text_col, id_col, shingle_n).withColumn("h", _token_hash())
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(_MOD)).alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_COEFFS[:n_hashes])
    ]
    return toks.groupBy("doc_id").agg(*aggs)


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n_hashes: int = 8
) -> DataFrame:
    """Long-form MinHash signature (doc_id, i, mh) — stacked from the wide
    aggregate (the wide form is the execution shape; this is the exchange
    format)."""
    wide = minhash_signatures_wide(df, text_col, id_col, n_hashes)
    pairs = ", ".join(f"{i}, mh{i}" for i in range(n_hashes))
    return wide.select(
        "doc_id", F.expr(f"stack({n_hashes}, {pairs}) as (i, mh)")
    )


def minhash_corpus_similarity(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    n_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Corpus-pair resemblance from per-corpus MinHash signatures — Broder
    1997's estimator lifted from documents to whole corpora: the min of
    ``h_i`` over a corpus's shingle UNION is the min over all its rows'
    shingles, so each corpus compresses to ``n_hashes`` longs and the
    pairwise resemblance estimate is the fraction of matching signature
    positions.  The sketch companion of ``corpus_overlap`` (HLL
    inclusion–exclusion): HLL estimates overlap CARDINALITY, this
    estimates overlap FRACTION (Jaccard of the shingle unions) — the
    "how much of source A is re-used in source B" number a mixture
    designer reads before deduplicating across sources.

    Scale shape: identical to ``minhash_signatures_wide`` keyed by corpus
    — one md5 per shingle, ONE map-side-combined groupBy whose state is
    ``n_hashes`` longs per corpus regardless of corpus size (mins merge
    associatively, so this also works as a streaming/partitioned sketch).
    The pairwise stage is a broadcast self-comparison of a
    |corpora|-sized table — corpora are a dimension, never data-scale.

    Output: (src1, src2, n_match, resemblance) for src1 < src2.
    """
    toks = _shingles(df, text_col, group_col, shingle_n).withColumn("h", _token_hash())
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(_MOD)).alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_COEFFS[:n_hashes])
    ]
    sig = toks.groupBy("doc_id").agg(*aggs).withColumnRenamed("doc_id", "corpus")
    a, b = sig.alias("a"), sig.alias("b")
    n_match = None
    for i in range(n_hashes):
        t = F.when(F.col(f"a.mh{i}") == F.col(f"b.mh{i}"), 1).otherwise(0)
        n_match = t if n_match is None else n_match + t
    return (
        a.join(F.broadcast(b), F.col("a.corpus") < F.col("b.corpus"))
        .select(
            F.col("a.corpus").alias("src1"),
            F.col("b.corpus").alias("src2"),
            n_match.cast("long").alias("n_match"),
            F.round(
                n_match.cast("double") / F.lit(float(n_hashes)), 6
            ).alias("resemblance"),
        )
    )


def _band_stack_expr(n_hashes: int, bands: int) -> str:
    """stack() expression banding a wide signature into (band, bkey) rows;
    bkey = md5 of the band INDEX plus the band's signature slice.  Baking
    the index into the hash makes bkey alone a sufficient join key: a
    bkey-only equi-join (the bucketed-ledger path, which must not add
    ``band`` to the join or Spark abandons bucket co-location) produces
    exactly the (band, bkey) candidate set — without the index, a band-0
    slice equal to some other doc's band-2 slice would collide across
    bands and feed spurious candidates into the thresholded-estimator
    rejection, making acceptance depend on which ledger layout the caller
    persisted."""
    rows_per_band = n_hashes // bands
    band_rows = []
    for band in range(bands):
        cols = [f"mh{band * rows_per_band + j}" for j in range(rows_per_band)]
        band_rows.append(f"{band}, md5(concat_ws('|', {band}, {', '.join(cols)}))")
    return f"stack({bands}, {', '.join(band_rows)}) as (band, bkey)"


def lsh_candidate_pairs(
    sigs_wide: DataFrame, n_hashes: int = 8, bands: int = 4
) -> DataFrame:
    """Band the wide signature (rows_per_band = n_hashes/bands): band key =
    md5 of the concatenated signature slice; candidates come from an
    equi-join on (band, bkey).  Returns candidate pairs (d1 < d2), distinct."""
    banded = sigs_wide.select("doc_id", F.expr(_band_stack_expr(n_hashes, bands)))
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, on=["band", "bkey"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
    prune_candidates: bool = False,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: signatures → banded candidates →
    exact token-set Jaccard verification on candidates only.

    ``prune_candidates=True`` restricts the 3-gram verify pass to documents
    that appear in a banded collision (a semi-join on the candidate id set
    before the gram walk — value-neutral, the verify join is inner on
    d1/d2).  Worth it when candidates ≪ corpus, i.e. at production scale;
    at bench scale the extra semi-join + checkpoint jobs cost a measured
    ~0.25 s constant and save almost nothing, so the default keeps the
    single-pass form.

    Output: (d1, d2, jaccard) for pairs above the threshold.
    """
    from .relational import ensure_parallelism

    sigs = minhash_signatures_wide(df, text_col, id_col, n_hashes)
    cands = lsh_candidate_pairs(sigs, n_hashes, bands)
    # the token-set side of the verify join is referenced twice (ws1/ws2);
    # as two Column trees the 3-gram HOF over the corpus would execute
    # twice (same-session A/B: one materialized pass 1.07 s vs 1.01 s for
    # the double pass at sf0.1 — a wash locally, one corpus gram pass
    # instead of two at scale).  Lazy localCheckpoint materializes it the
    # first time either side needs it, inside the job.
    toksets = ensure_parallelism(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col))
    )
    if prune_candidates:
        # pair-sized; checkpointed because the id-set union below expands
        # the candidate chain once per union arm otherwise (measured
        # 1.34 → 1.96 s as plain Column trees)
        cands = shared(cands)
        cand_ids = (
            cands.select(F.col("d1").alias("doc_id"))
            .unionByName(cands.select(F.col("d2").alias("doc_id")))
            .distinct()
        )
        toksets = toksets.join(cand_ids, "doc_id", "left_semi")
    toksets = toksets.select(
        "doc_id", word_ngrams(F.col(text_col), 3).alias("ws")
    ).transform(shared)
    return (
        cands.join(toksets.withColumnRenamed("doc_id", "d1").withColumnRenamed("ws", "ws1"), "d1")
        .join(toksets.withColumnRenamed("doc_id", "d2").withColumnRenamed("ws", "ws2"), "d2")
        .withColumn(
            "_jac",
            F.size(F.array_intersect("ws1", "ws2")).cast("double")
            / F.size(F.array_union("ws1", "ws2")).cast("double"),
        )
        # threshold on the RAW ratio, round only the output (catalog
        # convention: the oracle's WHERE uses the unrounded value, so a
        # rounded filter would admit [thr - 5e-7, thr) boundary pairs)
        .filter(F.col("_jac") >= jaccard_threshold)
        .select("d1", "d2", F.round(F.col("_jac"), 6).alias("jaccard"))
    )


def incremental_dedup(
    new_docs: DataFrame,
    known_fingerprints: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental exact dedup: keep only new documents whose normalized
    fingerprint is not in the historical corpus.  The ledger side is a
    fingerprint column (32 hex chars/doc) — at 10⁹ known docs that is a
    ~40 GB bloom-filterable anti-join, never a text comparison."""
    fp = new_docs.select(
        F.col(id_col), F.col(text_col), doc_fingerprint(F.col(text_col)).alias("fingerprint")
    )
    return fp.join(
        known_fingerprints.select("fingerprint").distinct(), on="fingerprint", how="left_anti"
    ).select(id_col, text_col)


def banded_signature_ledger(
    sigs_wide: DataFrame, n_hashes: int = 8, bands: int = 4
) -> DataFrame:
    """Explode a wide MinHash signature ledger (doc_id, mh0..mh{n-1}) into
    its banded LSH layout (doc_id, mh*, band, bkey) — the form to PERSIST
    BUCKETED by ``bkey`` (``write_bucketed_table(df, name, "bkey")``) so
    every incremental batch's candidate join against the accepted corpus
    is co-located: the ledger side — the big side, re-joined on every
    batch — is read pre-hashed into its buckets with no Exchange (the
    same layout lever as the bucketed BM25 postings).  ``bands`` rows per
    ledger document, each 8 longs + 32 hex chars — still no text.
    """
    mh_cols = [f"mh{i}" for i in range(n_hashes)]
    return sigs_wide.select(
        "doc_id", *mh_cols, F.expr(_band_stack_expr(n_hashes, bands))
    )


def incremental_near_dedup(
    new_docs: DataFrame,
    ledger_sigs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental MinHash NEAR-dedup against a signature ledger (the
    near-dup counterpart of ``incremental_dedup``'s exact anti-join).

    ``ledger_sigs`` holds wide signatures (doc_id, mh0..mh{n-1}) of the
    accepted corpus — 8 longs per document, never text.  A new document is
    rejected when its estimated Jaccard (fraction of equal signature
    components, the unbiased MinHash estimator) against any banded LSH
    candidate reaches ``threshold`` — either a ledger doc or ANY
    earlier-id doc in the same batch, including docs that are themselves
    rejected (so rejection can over-propagate transitively: if A~B and
    B~C but A!~C, both B and C are dropped).  This single-pass batch rule
    is deliberately cheaper than true greedy acceptance, which would need
    an iterative within-batch pass; at near-dup thresholds the transitive
    over-rejection it adds is the conservative direction for corpus
    cleaning.

    Returns the accepted documents' signatures (the rows the caller appends
    to the ledger); join back on id for the full rows.  Candidate volume is
    band-bounded: the shuffle carries (band, 32-hex key) rows, so the shape
    is the same banded equi-join that scales in ``minhash_dedup_pairs``.

    Ledger layouts: ``ledger_sigs`` is either the WIDE form
    (doc_id, mh0..mh{n-1}) — banded here at join time — or the PRE-BANDED
    form produced by ``banded_signature_ledger`` (doc_id, mh*, band, bkey).
    The pre-banded form is the repeated-join scale path: persist it
    bucketed by ``bkey`` (``write_bucketed_table(..., "bkey")``) and every
    future batch's candidate join reads the ledger co-located — NO
    Exchange on the ledger side (the ledger is the 100 TB side; the batch
    is the small side, and re-shuffling the whole accepted corpus per
    micro-batch is exactly the cost bucketing exists to delete).  The
    pre-banded candidate join keys on ``bkey`` alone so it rides the
    bucketing (a (band, bkey) join defeats Spark's bucket co-location);
    because the band index is baked into the bkey hash
    (``_band_stack_expr``), the bkey-only join yields exactly the
    (band, bkey) candidate set, so both ledger layouts produce identical
    acceptance decisions.
    """
    sigs = minhash_signatures_wide(new_docs, text_col, id_col, n_hashes)
    band_expr = _band_stack_expr(n_hashes, bands)
    mh_cols = [f"mh{i}" for i in range(n_hashes)]

    def est_jac(a: str, b: str):
        eq = sum(
            F.when(F.col(f"{a}.mh{i}") == F.col(f"{b}.mh{i}"), 1).otherwise(0)
            for i in range(n_hashes)
        )
        return eq.cast("double") / F.lit(float(n_hashes))

    new_banded = sigs.select("doc_id", *mh_cols, F.expr(band_expr))
    if "bkey" in ledger_sigs.columns:
        led_banded = ledger_sigs.select(
            F.col("doc_id").alias("led_id"),
            *[F.col(c).alias(f"led_{c}") for c in mh_cols],
            "bkey",
        )
        led_join_keys = ["bkey"]
    else:
        led_banded = ledger_sigs.select(
            F.col("doc_id").alias("led_id"),
            *[F.col(c).alias(f"led_{c}") for c in mh_cols],
            F.expr(band_expr),
        )
        led_join_keys = ["band", "bkey"]
    cand = new_banded.alias("n").join(led_banded.alias("l"), on=led_join_keys)
    eq = sum(
        F.when(F.col(f"n.mh{i}") == F.col(f"l.led_mh{i}"), 1).otherwise(0)
        for i in range(n_hashes)
    )
    dup_vs_ledger = (
        cand.filter(eq.cast("double") / F.lit(float(n_hashes)) >= threshold)
        .select(F.col("n.doc_id").alias("doc_id"))
        .distinct()
    )
    # within-batch: banded self-join, drop the larger id of any near pair
    a, b = new_banded.alias("a"), new_banded.alias("b")
    within = (
        a.join(b, on=["band", "bkey"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(est_jac("a", "b") >= threshold)
        .select(F.col("b.doc_id").alias("doc_id"))
        .distinct()
    )
    rejected = dup_vs_ledger.unionByName(within).distinct()
    return sigs.join(rejected, on="doc_id", how="left_anti")


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any word
    n-gram with a benchmark set.

    Shape: inverted-index equi-join, NOT a nested loop.  The benchmark side
    explodes to (gram, bench_id) — tiny — and is broadcast; the corpus side
    explodes map-side to (doc_id, gram) and probes the broadcast hash table
    at O(1) per gram.  Only actual (doc, benchmark) hits survive into the
    groupBy, so the shuffle carries contaminated docs only.  This replaces
    an earlier BroadcastNestedLoopJoin over arrays_overlap that evaluated
    every (doc, benchmark-row) pair — at 1e9 docs x 1e4 benchmark rows that
    was 1e13 array comparisons; the equi-join does corpus-grams hash probes
    total."""
    bench_grams = (
        benchmark.select(
            F.col(id_col).alias("bench_id"), F.explode(word_ngrams(F.col(text_col), n)).alias("g")
        )
        .distinct()
    )
    doc_grams = corpus.select(
        F.col(id_col).alias("doc_id"), F.explode(word_ngrams(F.col(text_col), n)).alias("g")
    )
    hits = doc_grams.join(F.broadcast(bench_grams), on="g")
    return hits.groupBy("doc_id").agg(
        F.countDistinct("bench_id").cast("long").alias("n_benchmarks_hit")
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32) -> DataFrame:
    """32-bit SimHash over word-3-gram shingles: each distinct shingle hashes
    to a 32-bit int (md5 prefix); bit j of the fingerprint is the sign of the
    sum of (+1/-1) votes across shingles.

    Shape: explode the distinct-shingle hashes, 32 branchless ±1 vote sums
    in ONE codegen'd hash aggregate.  The explode keeps a document's
    shingles inside their partition, so map-side partial combine collapses
    to ~1 row per doc BEFORE the shuffle — shuffle volume is docs × 33
    longs, never tokens.

    Form adjudication, corrected r6 (A/B recorded in SCALE.md): the r4
    run of that tool materialized with ``.count()``, which let
    ColumnPruning delete the map-only HOF form entirely — its "0.87 s
    short / 0.81 s long" numbers were parquet row-count timings, and the
    r4 switch to the HOF form was made on that fiction.  Re-measured under
    checksum materialization (count + bit_xor(xxhash64(*)) so neither form
    can be pruned): exploded 1.23 s vs HOF 1.84 s on the real ~300-char
    sf0.1 docs and a tie (7.4 s both) on a ~6 KB-doc fixture — the 32
    interpreted ``F.aggregate`` passes walk the hash array per bit with no
    codegen, while the exploded sums stay inside whole-stage codegen.
    Semantics of the two forms are identical (vote > 0 ⟺ 2*popcount_j > n;
    asserted by the tool before timing)."""
    from .relational import ensure_parallelism

    ex = ensure_parallelism(df.select(F.col(id_col).alias("doc_id"), F.col(text_col))).select(
        "doc_id",
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


def simhash_dedup_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 32-bit fingerprint into 4 bytes;
    by pigeonhole, any pair within hamming distance 3 shares at least one
    exact byte → equi-join per byte-band, then exact hamming check.  No
    all-pairs scan."""
    # the banded SELF-join references the fingerprint table on both sides,
    # and Column trees re-expand per reference: with the old 4-arm union
    # form the gram+md5+vote fingerprint pass appeared 8x in the plan
    # (4 band arms x 2 join sides) and executed 8x — zero ReusedExchange,
    # the hll_overlap_pairs finding.  The (doc_id, simhash) table is
    # doc-sized and 2 longs wide: materialize it once (lazily — the
    # caller's single action runs it), and band via ONE posexplode over
    # the 4 byte keys (pos IS the band index) so the checkpoint is the
    # only upstream.  Row set identical to the union form.
    fps = simhash(df, text_col, id_col).transform(shared)
    banded = fps.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), byte * 8).bitwiseAND(
                        F.lit(255)
                    )
                    for byte in range(4)
                ]
            )
        ).alias("band", "bkey"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(b, on=["band", "bkey"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.col("a.simhash").alias("s1"),
            F.col("b.simhash").alias("s2"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))
    return (
        pairs.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("d1", "d2", "hamming")
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme, Schleimer et al.
    SIGMOD'03): positional word k-gram hashes → sliding-window minima →
    distinct minima per document.  Any shared run of ``window + k - 1``
    tokens between two documents is guaranteed to share a fingerprint, at
    ~2/(window+1) the storage of full shingling.

    Shape: posexplode grams (md5 computed ONCE per gram, codegen'd), one
    keyed window for the sliding min, groupBy(doc_id) reusing the same
    partitioning — one shuffle total.  A nested-HOF Column version
    (transform over slice over transform) measured ~20x slower at sf0.01
    because HOFs get no CSE: the hash array was re-evaluated per window.

    Returns (doc_id, fingerprints: array<long> sorted).
    """
    from pyspark.sql import Window

    from .relational import ensure_parallelism

    grams = positional_word_ngrams(F.col(text_col), k)
    g = ensure_parallelism(df.select(F.col(id_col).alias("doc_id"), grams.alias("grams")))
    hashed = g.select("doc_id", F.posexplode("grams").alias("pos", "gram")).select(
        "doc_id", "pos", F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10).cast("long").alias("h")
    )
    by_doc = Window.partitionBy("doc_id")
    sliding = by_doc.orderBy("pos").rowsBetween(0, window - 1)
    return (
        hashed.select(
            "doc_id",
            "pos",
            F.min("h").over(sliding).alias("m"),
            F.count(F.lit(1)).over(by_doc).alias("cnt"),
        )
        # valid window starts only (0-based): pos <= cnt-window, or the
        # single truncated window at pos 0 for docs shorter than `window`
        .filter((F.col("pos") <= F.col("cnt") - window) | (F.col("pos") == 0))
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("m")).alias("fingerprints"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    block_col: str | None = None,
    threshold: float = 0.3,
    allow_all_pairs: bool = False,
) -> DataFrame:
    """Word n-gram Jaccard similarity between documents sharing a blocking
    key (e.g. language, length bucket) — candidate pruning via equi-join.

    ``block_col`` is required: without it the self-join degrades to an
    all-pairs comparison (a single block holding the whole corpus), which is
    quadratic and must never run at scale.  Pass ``allow_all_pairs=True``
    explicitly for small, bounded inputs (tests, spot checks).
    """
    if block_col is None and not allow_all_pairs:
        raise ValueError(
            "ngram_jaccard_pairs without block_col is an all-pairs self-join; "
            "pass a blocking column (e.g. language or a length bucket) or set "
            "allow_all_pairs=True for small bounded inputs"
        )
    grams = word_ngrams(F.col(text_col), n)
    block = F.col(block_col) if block_col else F.lit(1)
    docs = df.select(F.col(id_col).alias("doc_id"), block.alias("blk"), grams.alias("gs"))
    a, b = docs.alias("a"), docs.alias("b")
    return (
        a.join(b, on=["blk"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            (
                F.size(F.array_intersect("a.gs", "b.gs")).cast("double")
                / F.size(F.array_union("a.gs", "b.gs")).cast("double")
            ).alias("_jac"),
        )
        # raw-ratio threshold, rounded output (catalog convention)
        .filter(F.col("_jac") >= threshold)
        .select("d1", "d2", F.round(F.col("_jac"), 6).alias("jaccard"))
    )


def prefix_jaccard_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    scope=None,
) -> DataFrame:
    """EXACT all-pairs shingle-Jaccard join with prefix filtering (the
    PPJoin family) — the exact-algorithm complement to the probabilistic
    MinHash/SimHash candidate generators: every pair with word-3-gram
    Jaccard >= ``threshold`` is found, no recall loss, yet no all-pairs
    product runs.

    Prefix-filter principle: order each document's distinct shingles
    canonically (ascending global document frequency, rarest first, ties
    by shingle) and keep only the first ``|x| - ceil(t*|x|) + 1`` as the
    document's PREFIX.  Any pair with J >= t must share a shingle inside
    BOTH prefixes (if x and y share none of x's prefix, their overlap is
    at most ceil(t*|x|) - 1 < t*|x|, and J >= t forces overlap >= t*|x|),
    so an equi-join of prefix shingles generates all candidates.  Set
    elements are word 3-GRAMS, not unigrams, for the same reason the
    MinHash shingles are (measured: unigram sets on this small-vocabulary
    corpus make even the rarest element of a doc common to hundreds of
    docs — the prefix join went quadratic and timed out at sf0.1, while
    gram prefixes are near-unique and selective).

    Scale shape: every wide thing stays narrow as long as possible.  The
    prefix is selected per doc with a window row_number over (df, gram) —
    no per-doc array re-collect; the candidate equi-join carries ONLY
    (doc_id, gram) rows and is distinct'd down to unique (d1, d2) id
    pairs BEFORE the shingle arrays are fetched, so each surviving pair
    pays for exactly one array intersection (measured 4.35 s → 3.33 s at
    sf0.1 vs the form that shuffled both full arrays through the
    candidate join and re-scored every duplicate candidate occurrence;
    the spread-first repartition was most of that win — the remaining
    cost is stage count, not any wide row).  No cartesian anywhere.
    """
    from pyspark.sql import Window

    from .relational import ensure_parallelism

    grams = word_ngrams(F.col(text_col), 3)
    # spread FIRST: the shingle HOF is the compute-heavy stage and the
    # input may be a single row-group (one task) — same contract as
    # _shingles
    base = ensure_parallelism(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col).alias("doc_id"), grams.alias("ts")
    )
    # base feeds three branches (prefix selection + both verify sides);
    # without a persist the gram HOF recomputes 3x over the raw text.
    # MEMORY_AND_DISK: at scale the (id, grams) frame is ~the tokenized
    # corpus — spilling it still beats three text scans.  Lifetime
    # (cache.py contract): by default the above-threshold pair result is
    # pinned and this persist released before returning; pass
    # scope=CacheScope() to keep the plan lazy and release via the scope.
    s = CacheScope.of(scope)
    base = s.keep(base)
    toks = base.select("doc_id", F.size("ts").alias("n"), F.explode("ts").alias("w"))
    dfreq = toks.groupBy("w").agg(F.count(F.lit(1)).alias("dfc"))
    plen = (F.col("n") - F.ceil(F.lit(float(threshold)) * F.col("n")) + 1).cast("int")
    # canonical order = (global document frequency asc, gram) — rarest
    # first minimizes candidate collisions; row_number matches the
    # lexicographic struct(dfc, w) sort exactly (w is distinct per doc)
    pref = (
        toks.join(dfreq, on="w")
        .withColumn("rn", F.row_number().over(Window.partitionBy("doc_id").orderBy("dfc", "w")))
        .filter(F.col("rn") <= plen)
        # n rides along for the length filter below
        .select("doc_id", "w", "n")
    )
    cand = (
        pref.alias("a")
        .join(pref.alias("b"), on="w")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        # PPJoin length filter: J is maximized at full containment, where
        # it equals least(n1,n2)/greatest(n1,n2) — computed as the SAME
        # double division of the same ints as the verify step's o=min
        # case, so every pruned pair would provably fail the final
        # threshold.  Prunes candidates BEFORE the distinct and the two
        # array-fetch joins (measured at sf0.1: wins every rep).
        .filter(
            F.least(F.col("a.n"), F.col("b.n")).cast("double")
            / F.greatest(F.col("a.n"), F.col("b.n")).cast("double")
            >= F.lit(float(threshold))
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    t1 = base.select(F.col("doc_id").alias("d1"), F.col("ts").alias("ts1"))
    t2 = base.select(F.col("doc_id").alias("d2"), F.col("ts").alias("ts2"))
    o = F.size(F.array_intersect("ts1", "ts2")).cast("double")
    j = o / (F.size("ts1") + F.size("ts2") - o).cast("double")
    res = (
        cand.join(t1, on="d1")
        .join(t2, on="d2")
        # raw-ratio threshold, rounded output (catalog convention)
        .select("d1", "d2", j.alias("_jac"))
        .filter(F.col("_jac") >= threshold)
        .select("d1", "d2", F.round(F.col("_jac"), 6).alias("jaccard"))
    )
    return s.result(res)


def duplicate_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span: int = 10,
) -> DataFrame:
    """Exact duplicate-SPAN statistics — the substring-level dedup signal of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better"), which removes repeated spans rather than whole near-duplicate
    documents.  For every position in every document, the ``span``-token
    window starting there is hashed; a span is *duplicated* when the same
    hash occurs at two or more positions anywhere in the corpus (other
    documents or a repeat inside the same one).  Output per document:
    total spans, duplicated spans, and the duplicated fraction — the
    curation signal used to trim boilerplate-heavy documents.

    Scale shape: positional spans are hashed to md5 BEFORE the explode
    leaves the row, so the shuffle key is 32 hex chars, never a 10-token
    string; the occurrence count is one hash-groupBy with map-side combine;
    the join back to positions is an equi-join on the hash; the per-doc
    rollup is a second combine-friendly aggregate.  No all-pairs stage —
    cost is O(total tokens), the same asymptotic as the suffix-array
    approach the paper uses single-node, but expressed as two shuffles.
    """
    from .relational import ensure_parallelism

    # positional (NOT distinct) span hashes — repetition inside a document
    # is exactly what this operator must see; md5 in a second transform
    # touches only the lambda variable (no per-element row references)
    grams = F.transform(positional_word_ngrams(F.col(text_col), span), F.md5)
    spans = ensure_parallelism(df.select(F.col(id_col).alias("doc_id"), F.col(text_col))).select(
        "doc_id", F.explode(grams).alias("g")
    )
    # occurrence count as a window over the SAME span stream, not a
    # groupBy + join-back: the join form referenced `spans` twice and the
    # positional-gram md5 explode ran twice (2 corpus scans).  The window
    # rides one exchange on the hash key; counts are exact integers so
    # the rollup is bit-equal (measured at sf0.1: wins every rep).
    from pyspark.sql import Window
    with_occ = spans.withColumn(
        "occ", F.count(F.lit(1)).over(Window.partitionBy("g"))
    )
    return (
        with_occ
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("occ") > 1, 1).otherwise(0)).alias("n_dup_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            F.round(F.col("n_dup_spans") / F.col("n_spans"), 6).alias("dup_frac"),
        )
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    block_col: str | None = None,
    threshold: float = 0.3,
    allow_all_pairs: bool = False,
) -> DataFrame:
    """Asymmetric n-gram containment between documents sharing a blocking
    key: c(A in B) = |grams(A) ∩ grams(B)| / |grams(A)|.

    Containment catches subset duplication (one document quoting or
    wholly embedding another) that symmetric Jaccard under-scores when the
    two documents differ greatly in length — the MinHash/Jaccard blind
    spot in quote-heavy web corpora.  Same blocking contract as
    ``ngram_jaccard_pairs``: ``block_col`` required unless
    ``allow_all_pairs=True``; pairs survive when either direction reaches
    ``threshold``.
    """
    if block_col is None and not allow_all_pairs:
        raise ValueError(
            "containment_pairs without block_col is an all-pairs self-join; "
            "pass a blocking column or set allow_all_pairs=True for small "
            "bounded inputs"
        )
    grams = word_ngrams(F.col(text_col), n)
    block = F.col(block_col) if block_col else F.lit(1)
    docs = df.select(F.col(id_col).alias("doc_id"), block.alias("blk"), grams.alias("gs"))
    a, b = docs.alias("a"), docs.alias("b")
    inter = F.size(F.array_intersect("a.gs", "b.gs")).cast("double")
    c12 = F.round(inter / F.size("a.gs").cast("double"), 6)
    c21 = F.round(inter / F.size("b.gs").cast("double"), 6)
    return (
        a.join(b, on=["blk"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            c12.alias("c_d1_in_d2"),
            c21.alias("c_d2_in_d1"),
        )
        .filter(F.greatest(F.col("c_d1_in_d2"), F.col("c_d2_in_d1")) >= threshold)
    )


def dedup_clusters(
    pairs: DataFrame, d1: str = "d1", d2: str = "d2", max_iter: int = 15
) -> DataFrame:
    """Connected components over a near-dup pair list: every document in a
    transitively-connected group gets ``cluster_id`` = the minimum doc id in
    its component (the canonical survivor a dedup pipeline keeps).

    Iterative min-label propagation with pointer jumping: each round a
    node takes the minimum of its own label, its neighbors' labels, and its
    label's label (path halving) — convergence in O(log diameter) rounds,
    bounded by ``max_iter``.  Each round is two self-equi-joins on ids (no
    text moves) and ``localCheckpoint`` truncates the lineage so plans stay
    O(1) per round.  This is the alternating-star construction from the
    MapReduce connected-components literature, expressed as DataFrame
    joins; near-dup clusters have tiny diameters in practice, so rounds
    stay in single digits.
    """
    # Eager cuts: lazy per-round checkpoints were A/B'd (r14) expecting the
    # k_core/label_propagation lazy win, and it does NOT transfer — lazy
    # LOSES on llm_keep_canonical (4/4 reps) and llm_leakage_safe_split
    # (3/4) and washes elsewhere, because each round references `labels`
    # three times (two jump-join sides + neighbor leg) and a lazy
    # checkpoint defers materialization into a job that then runs those
    # references against a not-yet-truncated lineage.
    edges = pairs.select(F.col(d1).alias("a"), F.col(d2).alias("b"))
    edges = (
        edges.unionByName(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .transform(round_cut)
    )
    # Round 1 unrolled (r13): the initial labeling is label == node, so the
    # jump join is the identity and min over neighbors' LABELS is min over
    # neighbor IDS — the whole first round collapses to one groupBy + one
    # left join (two joins and one eager checkpoint job fewer per call,
    # bit-identical labels after the round).
    neigh1 = edges.groupBy("a").agg(F.min("b").alias("nbr_label")).withColumnRenamed(
        "a", "node"
    )
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .join(neigh1, on="node", how="left")
        .select(
            "node",
            F.least(F.col("node"), F.coalesce(F.col("nbr_label"), F.col("node"))).alias(
                "label"
            ),
        )
        .transform(round_cut)
    )
    for it in range(1, max_iter):
        neigh = (
            edges.join(labels, edges["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("label").alias("nbr_label"))
            .withColumnRenamed("a", "node")
        )
        jump = labels.join(
            labels.select(F.col("node").alias("l_node"), F.col("label").alias("jump_label")),
            F.col("label") == F.col("l_node"),
            "left",
        )
        merged = (
            jump.join(neigh, on="node", how="left")
            .select(
                "node",
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("jump_label"), F.col("label")),
                    F.coalesce(F.col("nbr_label"), F.col("label")),
                ).alias("label"),
            )
            .transform(round_cut)
        )
        prev = labels
        labels = merged
        # convergence probe every 2nd round (and on the final one): halves
        # the driver-side actions; the propagate+jump step is idempotent on
        # a converged labeling, so the extra round is a no-op join pass
        if it % 2 == 1 or it == max_iter - 1:
            changed = (
                merged.alias("m")
                .join(prev.alias("o"), on="node")
                .filter(F.col("m.label") != F.col("o.label"))
                .limit(1)
                .count()
            )
            if changed == 0:
                break
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def corpus_segment_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    words_per_segment: int = 8,
    max_doc_freq: int = 1,
    delimiter: str | None = None,
) -> DataFrame:
    """CCNet-style corpus-level passage dedup: drop every segment that
    occurs in more than ``max_doc_freq`` distinct documents, then reassemble
    each document from its surviving segments (in original order).

    This is the paragraph-hash dedup step of CCNet / RefinedWeb-style
    curation, generalized past the reference's whole-row dedup (P8,
    ``farm_trainer.py:73``): boilerplate (cookie banners, navigation,
    license headers) repeats across documents and survives document-level
    near-dedup, so it must be removed at segment granularity.

    Segmentation: ``delimiter`` (e.g. ``"\\n"`` for real corpora) splits on
    a separator; with ``delimiter=None`` the text is cut into fixed
    non-overlapping windows of ``words_per_segment`` words — the mode used
    on the driver tables, whose synthetic documents are single-line.

    Scale shape: explode → md5(segment) group-count (map-side combine,
    32-hex shuffle key) → hash equi-join back → per-doc re-aggregate.  No
    CartesianProduct; the segment text crosses the wire once (inside the
    posexplode output), and the frequency side of the join carries only
    (hash, df) pairs.  At 100 TB the frequency table can additionally be
    Bloom-prefiltered (see ``operators/sketch.py``) so only segments whose
    hash *might* repeat pay the join.
    """
    if delimiter is not None:
        segments = F.split(F.col(text_col), delimiter)
    else:
        words = F.split(F.col(text_col), " ")
        n_segs = F.greatest(
            F.ceil(F.size(words) / F.lit(float(words_per_segment))).cast("int"), F.lit(1)
        )
        segments = F.transform(
            F.sequence(F.lit(0), n_segs - F.lit(1)),
            lambda i: F.array_join(
                F.slice(words, i * words_per_segment + 1, words_per_segment), " "
            ),
        )
    segs = df.select(
        F.col(id_col).alias("doc_id"), F.posexplode(segments).alias("seg_no", "seg")
    )
    freq = (
        segs.select(F.md5("seg").alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    kept = F.when(F.col("df") <= max_doc_freq, F.col("seg"))
    return (
        segs.withColumn("h", F.md5("seg"))
        .join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum((F.col("df") <= max_doc_freq).cast("long")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("seg_no").alias("p"), kept.alias("s")))
                    ),
                    lambda st: st["s"],
                ),
                " ",
            ).alias("cleaned_text"),
        )
    )


def leakage_safe_split(
    docs: DataFrame,
    train_frac: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
    salt: str = "split",
    labels: DataFrame | None = None,
) -> DataFrame:
    """Near-dup-aware train/eval split: documents that are near-duplicates
    of each other NEVER straddle the split boundary.  A plain per-row hash
    split leaks training text into the eval set through its near-copies
    (the contamination mode Lee et al. 2022 measured inflating eval
    scores); splitting on the dedup CLUSTER id instead of the doc id
    closes it.

    Composition of already-verified stages: MinHash+LSH near-dup pairs →
    min-label connected components → singletons keep themselves as
    cluster_id → the deterministic md5 split flag applied to cluster_id,
    so every member of a cluster lands on the same side.  Cost over a
    plain split is the dedup pass a curation pipeline runs anyway; the
    split itself stays a pure hash (reproducible under repartitioning,
    retries, and incremental reruns).

    Output: (doc_id, cluster_id, split) with split in {'train', 'eval'}.

    Pass ``labels`` (a ``(doc_id, cluster_id)`` frame, e.g. from
    ``read_dedup_labels``) to serve the split from a persisted cluster
    artifact instead of re-running the MinHash+LSH+components chain --
    the build-once/serve-many pattern shared with ``write_knn_graph``.
    """
    from ..functions.hashing import deterministic_split_flag

    if labels is None:
        pairs = minhash_dedup_pairs(
            docs, text_col, id_col, n_hashes, bands, jaccard_threshold
        )
        labels = dedup_clusters(pairs)
    singles = (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(labels, on="doc_id", how="left_anti")
        .select("doc_id", F.col("doc_id").alias("cluster_id"))
    )
    members = labels.select("doc_id", "cluster_id").unionByName(singles)
    return members.select(
        "doc_id",
        "cluster_id",
        F.when(
            deterministic_split_flag(F.col("cluster_id"), train_frac, salt),
            F.lit("train"),
        )
        .otherwise(F.lit("eval"))
        .alias("split"),
    )


def ngram_novelty(
    docs: DataFrame,
    reference: DataFrame | None,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    reference_flag=None,
) -> DataFrame:
    """Per-document novelty against a reference corpus: the fraction of
    the document's DISTINCT word ``n``-grams that never occur in the
    reference — the memorization / freshness audit run when deciding
    whether a new crawl snapshot adds anything beyond what the training
    set already contains (the complement of ``contamination_check``,
    which flags overlap; this scores non-overlap).

    Shape for 100 TB: both sides reduce to narrow ``(id, 16-hex gram
    hash)`` rows before anything shuffles — the join carries ~24 bytes
    per distinct gram regardless of document size, the reference side is
    ``distinct``-ed first (its dedup shuffle happens once and is reused
    by AQE for the equi-join), and there is no broadcast assumption: a
    trillion-gram reference set still equi-joins hash-partitioned.

    ``reference_flag`` (r14): when the reference IS a row-local slice of
    ``docs`` (the common "previous snapshot" audit — here a per-row
    predicate over the same frame), pass the predicate Column instead of
    a ``reference`` frame.  A gram is in the reference iff SOME flagged
    document contains it, so ref-membership rides a same-key window —
    ``max(flag) OVER (PARTITION BY g)`` — on the ONE shingle pass: the
    second tokenize+md5 corpus pass, the reference distinct exchange and
    the join all disappear (one exchange of the gram table instead;
    guide §2.4).  Counts are exact integers either way — bit-equal
    (same-box interleaved A/B at sf0.1 wins all 5 paired reps,
    1.48 -> 1.16 s best).

    Output: one row per document (id, n_grams, n_novel, novelty_pct).
    """
    if reference_flag is not None:
        from pyspark.sql import Window

        # same shingle pass as _shingles, with the membership flag carried
        # through the explode
        from .relational import ensure_parallelism

        flagged = ensure_parallelism(
            docs.select(
                F.col(id_col).alias("doc_id"),
                F.col(text_col),
                reference_flag.cast("int").alias("_ref"),
            )
        ).select(
            "doc_id", "_ref", F.explode(word_ngrams(F.col(text_col), n)).alias("w")
        ).select(
            "doc_id", "_ref", F.substring(F.md5("w"), 1, 16).alias("g")
        )
        seen = F.max("_ref").over(Window.partitionBy("g"))
        return (
            flagged.withColumn("_seen", seen)
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_grams"),
                F.sum(F.when(F.col("_seen") == 0, 1).otherwise(0))
                .cast("long")
                .alias("n_novel"),
            )
            .select(
                F.col("doc_id").alias(id_col),
                "n_grams",
                "n_novel",
                F.round(
                    F.col("n_novel").cast("double") / F.col("n_grams") * 100, 6
                ).alias("novelty_pct"),
            )
        )
    g = _shingles(docs, text_col, id_col, n).select(
        "doc_id", F.substring(F.md5("w"), 1, 16).alias("g")
    )
    ref = (
        _shingles(reference, text_col, id_col, n)
        .select(F.substring(F.md5("w"), 1, 16).alias("g"))
        .distinct()
        .withColumn("_seen", F.lit(1))
    )
    return (
        g.join(ref, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.when(F.col("_seen").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            F.col("doc_id").alias(id_col),
            "n_grams",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double") / F.col("n_grams") * 100, 6
            ).alias("novelty_pct"),
        )
    )


def keep_canonical(
    df: DataFrame,
    labels: DataFrame,
    id_col: str = "doc_id",
    score_col: str | None = None,
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Collapse near-dup clusters to one surviving row each — the final
    step of a near-dedup pipeline (pairs → ``dedup_clusters`` → THIS).

    Unlike the min-id convention baked into ``dedup_clusters``'s label
    choice, the survivor here is chosen by QUALITY: the cluster member with
    the highest ``score_col`` (ties broken by ascending ``id_col``), which
    is what production curation does — when a document has near-duplicates,
    keep the longest / highest-quality copy, not an arbitrary one.  With
    ``score_col=None`` the minimum-id member survives (the reference's
    keep-first convention, P8 ``farm_trainer.py:73``).

    ``labels`` is ``(id_col, cluster_col)`` as produced by
    ``dedup_clusters``; documents absent from it are singletons and survive
    unconditionally (their ``cluster_col`` is backfilled with their own id,
    so the output is a total partition of the corpus into survivors).

    Scale shape: one left equi-join on the id (labels carries two ids per
    clustered doc — tiny next to the corpus, and broadcast-able since the
    pair list is output-bounded), then one hash shuffle on ``cluster_col``
    for the row_number window.  Cluster sizes are near-dup group sizes
    (single digits in practice), so no partition skew; document text moves
    through exactly one exchange.
    """
    from pyspark.sql import Window

    labeled = df.join(labels, on=id_col, how="left").withColumn(
        cluster_col, F.coalesce(F.col(cluster_col), F.col(id_col))
    )
    order = (
        [F.col(score_col).desc(), F.col(id_col).asc()]
        if score_col
        else [F.col(id_col).asc()]
    )
    w = Window.partitionBy(cluster_col).orderBy(*order)
    return (
        labeled.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


def write_dedup_labels(
    pairs: DataFrame,
    path: str,
    d1: str = "d1",
    d2: str = "d2",
    max_iter: int = 15,
    mode: str = "overwrite",
) -> None:
    """Persist the near-dup cluster label artifact (``(doc_id,
    cluster_id)`` parquet) -- the build-once/serve-many pattern shared
    with ``write_knn_graph``/``write_ivfpq_index``, for the dedup
    family's shared output: survivor selection (``keep_canonical``),
    leakage-safe splitting, dedup-rate reporting and incremental
    near-dedup ledgers all consume the same component labels, and the
    pairs->pointer-jumping chain is the dominant cost of each.  Cluster
    once, read the labels per consumer.
    """
    dedup_clusters(pairs, d1=d1, d2=d2, max_iter=max_iter).write.mode(
        mode
    ).parquet(path)


def read_dedup_labels(spark, path: str) -> DataFrame:
    """Read a ``write_dedup_labels`` artifact: a plain columnar label scan
    -- every cluster consumer downstream starts from a parquet read
    instead of the LSH self-join + components chain."""
    return spark.read.parquet(path)

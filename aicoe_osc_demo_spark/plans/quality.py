"""Corpus-curation quality queries: Gopher-style repetition filters, PII
scrubbing, URL normalization, and quality-weighted resampling.

The PII and URL queries operate on deterministic fixture columns built from
``documents`` attributes inside the query itself (both the Spark plan and
the DuckDB oracle construct the identical string) — the synthetic tables
contain no natural emails/URLs, and this keeps the regex scrub genuinely
exercised AND oracle-verifiable on the driver's own data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import shared
from ..functions.analysis import (
    EMAIL_RE,
    IPV4_RE,
    PHONE_RE,
    doc_fingerprint,
    lang_id,
    pii_counts,
    pii_redact,
    quality_score,
    url_host,
    url_normalize,
)
from ..operators.dedup import containment_pairs, dedup_clusters, ngram_jaccard_pairs
from ..operators.quality import (
    cap_per_group,
    mixture_sample,
    repetition_stats,
    resample_by_quality,
)
from . import QUERIES, load, register

_REP_SQL = """
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), grams AS (
      SELECT doc_id,
             len(w) AS n_words,
             len(list_distinct(w)) AS n_distinct_words,
             unnest(list_transform(range(1, greatest(len(w) - 1, 1) + 1),
                    i -> array_to_string(list_slice(w, i, i + 1), ' '))) AS g
      FROM base
    ), per_gram AS (
      SELECT doc_id, n_words, n_distinct_words, g, COUNT(*) AS cnt
      FROM grams GROUP BY 1, 2, 3, 4
    )
    SELECT doc_id,
           CAST(n_words AS INT) AS n_words,
           ROUND(1.0 - n_distinct_words / CAST(n_words AS DOUBLE), 6) AS dup_word_frac,
           ROUND(1.0 - COUNT(*) / CAST(SUM(cnt) AS DOUBLE), 6) AS dup_ngram_frac,
           ROUND(MAX(cnt) / CAST(SUM(cnt) AS DOUBLE), 6) AS top_ngram_frac
    FROM per_gram
    GROUP BY doc_id, n_words, n_distinct_words
"""


@register("llm_repetition_stats", _REP_SQL)
def llm_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gopher repetition family: duplicate-word fraction, duplicate-2-gram
    # fraction, top-2-gram share.  Exploded two-level aggregate — map-side
    # combine, shuffle carries (doc_id, gram, count), never text.
    return repetition_stats(load(spark, sf_dir, "documents"))


# Deterministic PII fixture: "reach <source><id>@ex<id%5>.com or
# 10.<id%256>.0.<id%100> call 555-<100+id%900>-0199 :: <text>".
_PII_SPARK = lambda: F.concat(  # noqa: E731
    F.lit("reach "),
    F.col("source"),
    F.col("doc_id").cast("string"),
    F.lit("@ex"),
    (F.col("doc_id") % 5).cast("string"),
    F.lit(".com or 10."),
    (F.col("doc_id") % 256).cast("string"),
    F.lit(".0."),
    (F.col("doc_id") % 100).cast("string"),
    F.lit(" call 555-"),
    (F.lit(100) + F.col("doc_id") % 900).cast("string"),
    F.lit("-0199 :: "),
    F.col("text"),
)

_PII_DUCK = (
    "'reach ' || source || CAST(doc_id AS VARCHAR) || '@ex' ||"
    " CAST(doc_id % 5 AS VARCHAR) || '.com or 10.' ||"
    " CAST(doc_id % 256 AS VARCHAR) || '.0.' ||"
    " CAST(doc_id % 100 AS VARCHAR) || ' call 555-' ||"
    " CAST(100 + doc_id % 900 AS VARCHAR) || '-0199 :: ' || text"
)

_PII_SQL = f"""
    WITH p AS (SELECT doc_id, {_PII_DUCK} AS pii_text FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(pii_text, '{EMAIL_RE}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(pii_text, '{IPV4_RE}')) AS INT) AS n_ipv4,
           CAST(len(regexp_extract_all(pii_text, '{PHONE_RE}')) AS INT) AS n_phones,
           regexp_replace(regexp_replace(regexp_replace(pii_text,
               '{EMAIL_RE}', '[EMAIL]', 'g'),
               '{IPV4_RE}', '[IP]', 'g'),
               '{PHONE_RE}', '[PHONE]', 'g') AS redacted
    FROM p
"""


@register("llm_pii_scrub", _PII_SQL)
def llm_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    # PII scrub over the fixture column: count + redact emails, IPv4,
    # phone numbers.  Pure regex Column expressions, zero shuffle added
    # at scale — the ensure_parallelism guard only spreads single-file
    # inputs so the 6-regex chain isn't serialized onto one task.
    from ..operators.relational import ensure_parallelism

    d = ensure_parallelism(load(spark, sf_dir, "documents")).withColumn(
        "pii_text", _PII_SPARK()
    )
    return d.select("doc_id", *pii_counts(F.col("pii_text")), pii_redact(F.col("pii_text")))


# URL fixture: mixed-case host + tracking params + fragment, so
# normalization and host extraction both do real work.
_URL_SPARK = lambda: F.concat(  # noqa: E731
    F.lit("https://WWW."),
    F.col("source"),
    (F.col("doc_id") % 20).cast("string"),
    F.lit(".Example.COM/d/"),
    F.col("doc_id").cast("string"),
    F.lit("?utm_source=feed&page="),
    (F.col("doc_id") % 3).cast("string"),
    F.lit("#frag"),
)

_URL_DUCK = (
    "'https://WWW.' || source || CAST(doc_id % 20 AS VARCHAR) ||"
    " '.Example.COM/d/' || CAST(doc_id AS VARCHAR) ||"
    " '?utm_source=feed&page=' || CAST(doc_id % 3 AS VARCHAR) || '#frag'"
)

_URL_SQL = f"""
    WITH u AS (SELECT doc_id, {_URL_DUCK} AS url FROM documents),
    norm AS (
      SELECT doc_id,
             lower(regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#:]+)', 1)) AS host,
             regexp_replace(regexp_replace(regexp_replace(url,
                 '#.*$', ''),
                 '(utm_[a-z]+|fbclid|gclid)=[^&#]*&?', '', 'g'),
                 '[?&]$', '') AS url_norm
      FROM u
    )
    SELECT host,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT url_norm) AS BIGINT) AS n_urls
    FROM norm GROUP BY host
"""


@register("llm_url_host_stats", _URL_SQL)
def llm_url_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Host-level corpus stats over normalized URLs — the per-domain
    # accounting step of web-corpus curation (host allow/deny lists,
    # per-domain caps).  One hash aggregate on a short host key.
    d = load(spark, sf_dir, "documents").withColumn("url", _URL_SPARK())
    return (
        d.select(url_host(F.col("url")), url_normalize(F.col("url")))
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("url_norm").alias("n_urls"),
        )
    )


_N_BUCKETS = 5
_THRESH = [format(((b + 1) * (1 << 32)) // _N_BUCKETS - 1, "08x") for b in range(_N_BUCKETS)]
_THRESH_CASE = "CASE bucket " + " ".join(
    f"WHEN {b} THEN '{t}'" for b, t in enumerate(_THRESH)
) + " END"

# Quality expression — identical arithmetic to functions.analysis.quality_score,
# rounded to 6dp on BOTH sides before bucketing so the floor() boundary is
# taken on the same value.
_Q_DUCK = """ROUND((least(CAST(greatest(len(string_split(text,' ')),1) AS DOUBLE) / 100.0, 1.0)
        + (CASE WHEN CAST(greatest(length(text),1) AS DOUBLE) / CAST(greatest(len(string_split(text,' ')),1) AS DOUBLE) BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END)
        + (CASE WHEN CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / CAST(greatest(length(text),1) AS DOUBLE) <= 0.1 THEN 1.0
                ELSE greatest(0.0, 1.0 - CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / CAST(greatest(length(text),1) AS DOUBLE)) END)
      ) / 3.0, 6)"""

_RESAMPLE_SQL = f"""
    WITH b AS (
      SELECT doc_id,
             least(CAST(floor({_Q_DUCK} * {_N_BUCKETS}) AS INT), {_N_BUCKETS - 1}) AS bucket,
             substr(md5('resample|' || CAST(doc_id AS VARCHAR)), 1, 8) AS hex8
      FROM documents
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN hex8 <= {_THRESH_CASE} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM b GROUP BY bucket
"""


_CAP_SQL = f"""
    WITH u AS (
      SELECT doc_id,
             lower(regexp_extract({_URL_DUCK}, '^[a-z][a-z0-9+.-]*://([^/?#:]+)', 1)) AS host
      FROM documents
    ), r AS (
      SELECT doc_id, host,
             ROW_NUMBER() OVER (
               PARTITION BY host
               ORDER BY md5('cap|' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM u
    )
    SELECT host, doc_id FROM r WHERE rk <= 20
"""


@register("llm_per_host_cap", _CAP_SQL)
def llm_per_host_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-domain document cap (no host dominates the mixture): at most 20
    # docs per host, hash-rank selected — deterministic under retries.
    d = load(spark, sf_dir, "documents").withColumn("url", _URL_SPARK())
    capped = cap_per_group(
        d.select("doc_id", url_host(F.col("url"))), ["host"], n=20
    )
    return capped.select("host", "doc_id")


_MIX_SQL = """
    WITH c AS (
      SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source
    ), t AS (
      SELECT CAST(SUM(n_s) AS DOUBLE) AS n_total,
             SUM(sqrt(CAST(n_s AS DOUBLE))) AS z
      FROM c
    ), r AS (
      SELECT source,
             ROUND(least(1.0, 0.5 * t.n_total * sqrt(CAST(n_s AS DOUBLE)) / t.z
                              / CAST(n_s AS DOUBLE)), 6) AS rate
      FROM c CROSS JOIN t
    ), k AS (
      SELECT d.source, r.rate,
             CASE WHEN CAST('0x' || substr(md5('mix|' || CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                       / 4294967296.0 < r.rate
                  THEN 1 ELSE 0 END AS kept
      FROM documents d JOIN r ON d.source = r.source
    )
    SELECT source, rate,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(kept) AS BIGINT) AS n_kept
    FROM k GROUP BY source, rate
"""


@register("llm_mixture_sample", _MIX_SQL)
def llm_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Temperature (alpha=0.5) source rebalancing at half budget: rare
    # sources keep a larger fraction, dominant sources are downsampled.
    d = load(spark, sf_dir, "documents")
    out = mixture_sample(d, "source", alpha=0.5, budget_frac=0.5)
    return out.groupBy("source", "rate").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("kept").cast("int")).cast("long").alias("n_kept"),
    )


# Containment fixture: snippet docs (first 12 words of docs 0-49, ids
# +10000) unioned with the corpus — snippet⊂parent pairs score
# containment ≈ 1.0 while their symmetric Jaccard stays low, which is
# exactly the asymmetry this operator exists to catch.
_CONTAIN_SQL = """
    WITH base AS (
      SELECT doc_id, lang, text FROM documents WHERE doc_id < 200
    ), snip AS (
      SELECT doc_id + 10000 AS doc_id, lang,
             array_to_string(list_slice(string_split(text, ' '), 1, 12), ' ') AS text
      FROM base WHERE doc_id < 50
    ), corpus AS (
      SELECT * FROM base UNION ALL SELECT * FROM snip
    ), grams AS (
      SELECT doc_id, lang AS blk,
             list_distinct(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
               i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')
             )) AS gs
      FROM corpus
    )
    SELECT * FROM (
      SELECT a.doc_id AS d1, b.doc_id AS d2,
             ROUND(CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
                   / CAST(len(a.gs) AS DOUBLE), 6) AS c_d1_in_d2,
             ROUND(CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
                   / CAST(len(b.gs) AS DOUBLE), 6) AS c_d2_in_d1
      FROM grams a JOIN grams b ON a.blk = b.blk
      WHERE a.doc_id < b.doc_id
    ) WHERE greatest(c_d1_in_d2, c_d2_in_d1) >= 0.5
"""


@register("llm_containment_pairs", _CONTAIN_SQL)
def llm_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Asymmetric containment pairs (quote/subset duplication) — the
    # MinHash/Jaccard blind spot for length-skewed duplicates.  Blocked on
    # language; snippet fixtures guarantee true positives.
    base = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "lang", "text")
    )
    snip = base.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        "lang",
        F.array_join(F.slice(F.split(F.col("text"), " "), 1, 12), " ").alias("text"),
    )
    return containment_pairs(base.unionByName(snip), block_col="lang", threshold=0.5)


# Cluster fixture: each parent doc (0-49) gets a prefix variant (words
# 1-20, id+10000) and a mid variant (words 9-28, id+20000).  A and B
# overlap the parent and each other, so {parent, A, B} form one transitive
# component — including pairs the threshold may drop, which is exactly what
# cluster formation must recover.
_CLUSTER_SQL = """
    WITH RECURSIVE base AS (
      SELECT doc_id, lang, text FROM documents WHERE doc_id < 50
    ), va AS (
      SELECT doc_id + 10000 AS doc_id, lang,
             array_to_string(list_slice(string_split(text, ' '), 1, 20), ' ') AS text
      FROM base
    ), vb AS (
      SELECT doc_id + 20000 AS doc_id, lang,
             array_to_string(list_slice(string_split(text, ' '), 9, 28), ' ') AS text
      FROM base
    ), corpus AS (
      SELECT * FROM base UNION ALL SELECT * FROM va UNION ALL SELECT * FROM vb
    ), grams AS (
      SELECT doc_id, lang AS blk,
             list_distinct(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
               i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')
             )) AS gs
      FROM corpus
    ), pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2
      FROM grams a JOIN grams b ON a.blk = b.blk
      WHERE a.doc_id < b.doc_id
        AND ROUND(CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
                  / CAST(len(list_distinct(list_concat(a.gs, b.gs))) AS DOUBLE), 6) >= 0.2
    ), edges AS (
      SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs
    ), reach AS (
      SELECT a AS node, a AS r FROM edges
      UNION
      SELECT e.a, reach.r FROM edges e JOIN reach ON reach.node = e.b
    )
    SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node
"""


@register("llm_dedup_clusters", _CLUSTER_SQL)
def llm_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Near-dup cluster formation: jaccard pairs (blocked on lang) →
    # connected components → canonical id = min doc id per component.
    base = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 50)
        .select("doc_id", "lang", "text")
    )
    words = F.split(F.col("text"), " ")
    va = base.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        "lang",
        F.array_join(F.slice(words, 1, 20), " ").alias("text"),
    )
    vb = base.select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        "lang",
        F.array_join(F.slice(words, 9, 20), " ").alias("text"),
    )
    corpus = base.unionByName(va).unionByName(vb)
    pairs = ngram_jaccard_pairs(corpus, block_col="lang", threshold=0.2)
    return dedup_clusters(pairs)


_LM_SQL = """
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    bg AS (
      SELECT doc_id, u.p[1] AS w1, u.p[2] AS w2
      FROM (SELECT doc_id, unnest(list_zip(l, l[2:])) AS p FROM d) u
      WHERE u.p[2] IS NOT NULL
    ),
    cb AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS nb FROM bg GROUP BY 1, 2),
    cu AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS nu FROM bg GROUP BY 1),
    v AS (
      SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS vs
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
    ),
    scored AS (
      SELECT bg.doc_id,
             CAST(floor(ln((CAST(nb AS DOUBLE) + CAST(1 AS DOUBLE))
                / (CAST(nu AS DOUBLE) + CAST(1 AS DOUBLE) * CAST(vs AS DOUBLE)))
                * 1e6 + 0.5) AS BIGINT) AS lp_u
      FROM bg JOIN cb USING (w1, w2) JOIN cu USING (w1) CROSS JOIN v
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(CAST(SUM(lp_u) AS DOUBLE) / COUNT(*) / 1e6, 6) AS avg_logp
    FROM scored GROUP BY doc_id
    """


_KN_SQL = """
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    bg AS (
      SELECT doc_id, u.p[1] AS w1, u.p[2] AS w2
      FROM (SELECT doc_id, unnest(list_zip(l, l[2:])) AS p FROM d) u
      WHERE u.p[2] IS NOT NULL
    ),
    tb AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS nb FROM bg GROUP BY 1, 2),
    tbs AS (
      SELECT w1, w2, nb,
             SUM(nb) OVER (PARTITION BY w1) AS nu,
             COUNT(*) OVER (PARTITION BY w1) AS n1p,
             COUNT(*) OVER (PARTITION BY w2) AS n1pc
      FROM tb
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n1pt FROM tb),
    scored AS (
      SELECT bg.doc_id,
             CAST(floor(ln(
               greatest(CAST(nb AS DOUBLE) - 0.75, 0.0) / CAST(nu AS DOUBLE)
               + (0.75 * CAST(n1p AS DOUBLE) / CAST(nu AS DOUBLE))
                 * (CAST(n1pc AS DOUBLE) / CAST(n1pt AS DOUBLE))
             ) * 1e6 + 0.5) AS BIGINT) AS lp_u
      FROM bg JOIN tbs USING (w1, w2) CROSS JOIN tot
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(CAST(SUM(lp_u) AS DOUBLE) / COUNT(*) / 1e6, 6) AS avg_logp
    FROM scored GROUP BY doc_id
    """


@register("llm_kn_perplexity", _KN_SQL)
def llm_kn_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Interpolated Kneser-Ney bigram perplexity — the KenLM/CCNet smoothing
    # (absolute discount + continuation-count redistribution), value-checked
    # end-to-end: all counts are exact BIGINTs off the distinct-bigram
    # table, P is one fixed-order double chain, ln quantizes to micro units
    # before the per-doc integer fold (the r11 flake-audit pattern).
    from ..operators.quality import kn_perplexity_scores

    return kn_perplexity_scores(load(spark, sf_dir, "documents"))


@register("llm_lm_perplexity", _LM_SQL)
def llm_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CCNet-style LM quality score: mean bigram log-probability per doc
    # under an add-1-smoothed LM trained on the corpus itself — the
    # perplexity filter of web-scale curation, value-checked end-to-end
    # (md5-free: counts and one ln per distinct ratio are engine-portable).
    from ..operators.quality import lm_perplexity_scores

    return lm_perplexity_scores(load(spark, sf_dir, "documents"))


_PPL_BUCKETS_SQL = f"""
    WITH ppl AS (
      SELECT p.doc_id, p.avg_logp, d2.lang
      FROM ({_LM_SQL}) p JOIN documents d2 ON p.doc_id = d2.doc_id
    ),
    cuts AS (
      SELECT lang,
             quantile_cont(avg_logp,
                           [0.3333333333333333, 0.6666666666666666]) AS qs
      FROM ppl GROUP BY 1
    )
    SELECT p.lang,
           CASE len(list_filter(c.qs, q -> p.avg_logp >= q))
             WHEN 2 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(MIN(p.avg_logp), 6) AS lo,
           ROUND(MAX(p.avg_logp), 6) AS hi
    FROM ppl p JOIN cuts c ON p.lang = c.lang
    GROUP BY 1, 2
"""


@register("llm_perplexity_buckets", _PPL_BUCKETS_SQL)
def llm_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CCNet's head/middle/tail split (Wenzek et al. 2020): per-language
    # perplexity TERCILES partition the corpus into quality tiers —
    # training mixtures upsample the head, audit the tail.  Composes the
    # self-trained bigram LM score with the no-sort percentile_bins
    # cutpoint binning (one combine-friendly percentile aggregate +
    # broadcast fold; NTILE's global sort never appears).
    from ..operators.quality import lm_perplexity_scores
    from ..operators.relational import percentile_bins

    docs = load(spark, sf_dir, "documents")
    scores = lm_perplexity_scores(docs).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    # percentile_bins references scores twice (cutpoint aggregate + bin
    # join) and Column trees re-expand per reference: the whole bigram
    # LM chain (explode + two count windows + vocab aggregate) ran twice.
    # scores is doc-sized and 3 columns wide — materialize it once
    # (lazily; the caller's action runs it).  Measured at sf0.1: wins
    # every interleaved rep; corpus passes 2 -> 1.
    scores = shared(scores)
    binned = percentile_bins(scores, ["lang"], "avg_logp", 3)
    bucket = (
        F.when(F.col("bin") == 2, F.lit("head"))
        .when(F.col("bin") == 1, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return binned.groupBy("lang", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.min("avg_logp"), 6).alias("lo"),
        F.round(F.max("avg_logp"), 6).alias("hi"),
    )


@register("llm_quality_resample", _RESAMPLE_SQL)
def llm_quality_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Quality-weighted subsampling: keep rate (bucket+1)/5 via md5 threshold
    # — deterministic, shuffle-free row decisions; one small aggregate on
    # top for the driver check.
    d = load(spark, sf_dir, "documents")
    sampled = resample_by_quality(
        d, F.round(quality_score(F.col("text")), 6), n_buckets=_N_BUCKETS
    )
    return sampled.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.col("kept").cast("int")).cast("long").alias("n_kept"),
    )


_SW = "('the','a','an','and','of','to','in','is','for','on')"

# End-to-end curation pipeline, every stage the oracle can replay:
# lang gate -> quality gate -> repetition gate -> PII redact -> exact dedup
# (keep min id per fingerprint) -> temperature mixture sample.
_PIPE_SQL = f"""
    WITH l AS (
      SELECT doc_id, source, text, {_Q_DUCK} AS q
      FROM documents
      WHERE CAST(len(list_filter(string_split(text, ' '), w -> w IN {_SW})) AS DOUBLE)
            / CAST(greatest(len(string_split(text, ' ')), 1) AS DOUBLE) >= 0.05
    ), ql AS (
      SELECT * FROM l WHERE q >= 0.6
    ), per_gram AS (
      SELECT doc_id, g, COUNT(*) AS cnt
      FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, greatest(len(string_split(text, ' ')) - 1, 1) + 1),
                 i -> array_to_string(list_slice(string_split(text, ' '), i, i + 1), ' ')
               )) AS g
        FROM ql
      ) GROUP BY doc_id, g
    ), rep AS (
      SELECT doc_id, ROUND(MAX(cnt) / CAST(SUM(cnt) AS DOUBLE), 6) AS top_f
      FROM per_gram GROUP BY doc_id
    ), rq AS (
      SELECT ql.* FROM ql JOIN rep USING (doc_id) WHERE rep.top_f <= 0.3
    ), fp AS (
      SELECT doc_id, source, q,
             md5(lower(trim(regexp_replace(
               regexp_replace(regexp_replace(regexp_replace(text,
                 '{EMAIL_RE}', '[EMAIL]', 'g'),
                 '{IPV4_RE}', '[IP]', 'g'),
                 '{PHONE_RE}', '[PHONE]', 'g'),
               '\\s+', ' ', 'g')))) AS fingerprint
      FROM rq
    ), dd AS (
      SELECT * FROM fp
      QUALIFY ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1
    ), c AS (
      SELECT source, COUNT(*) AS n_s FROM dd GROUP BY source
    ), t AS (
      SELECT CAST(SUM(n_s) AS DOUBLE) AS n_total,
             SUM(sqrt(CAST(n_s AS DOUBLE))) AS z
      FROM c
    ), r AS (
      SELECT source,
             ROUND(least(1.0, 0.5 * t.n_total * sqrt(CAST(n_s AS DOUBLE)) / t.z
                              / CAST(n_s AS DOUBLE)), 6) AS rate
      FROM c CROSS JOIN t
    )
    SELECT dd.doc_id, dd.source, dd.q, dd.fingerprint
    FROM dd JOIN r ON dd.source = r.source
    WHERE CAST('0x' || substr(md5('mix|' || CAST(dd.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
          / 4294967296.0 < r.rate
"""


@register("pipeline_llm_curation", _PIPE_SQL)
def pipeline_llm_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The whole curation funnel as one plan: the narrow gates (lang,
    # quality, PII) fuse into the scan stage; the only shuffles are the
    # repetition aggregate, the fingerprint window, and the tiny mixture
    # rate broadcast.
    from pyspark.sql import Window

    from ..operators.relational import ensure_parallelism

    # the narrow gates (lang/quality scoring) are the compute-heavy scan
    # stage and the gated subtree feeds two branches — spread the
    # single-row-group input so both evaluations parallelize (no-op at
    # scale)
    d = ensure_parallelism(load(spark, sf_dir, "documents"))
    # r14 scan audit (6 documents scans): the funnel tail was referenced
    # ~3x by mixture_sample (source counts, totals, rate join-back) and the
    # gated frame twice more by the repetition join-back — the whole
    # lang/quality/PII/fingerprint chain re-executed per reference.  Two
    # lazy checkpoints fix both: the gated frame (the filtered corpus —
    # the standard CCNet-style inter-stage materialization; strictly
    # smaller than the input, cluster deployments swap to persist/
    # CacheScope per cache.py) and a NARROW (doc_id, source, q,
    # fingerprint) projection of the deduped tail (text dropped before
    # materializing).  Documents is scanned once; interleaved A/B wins
    # every rep (2.71 -> 1.83 s best; v1=tail-only 2.37).  Values
    # bit-identical (1554 rows, oracle x2 scales).
    gated = (
        d.filter(lang_id(F.col("text")) == "en")
        .withColumn("q", F.round(quality_score(F.col("text")), 6))
        .filter(F.col("q") >= 0.6)
    ).transform(shared)
    rep = repetition_stats(gated.select("doc_id", "text"))
    gated = gated.join(rep.select("doc_id", "top_ngram_frac"), on="doc_id").filter(
        F.col("top_ngram_frac") <= 0.3
    )
    gated = gated.withColumn("redacted", pii_redact(F.col("text"))).withColumn(
        "fingerprint", doc_fingerprint(F.col("redacted"))
    )
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    deduped = (
        gated.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1).drop("rk")
    )
    deduped = deduped.select("doc_id", "source", "q", "fingerprint").transform(shared)
    sampled = mixture_sample(deduped, "source").filter(F.col("kept"))
    return sampled.select("doc_id", "source", "q", "fingerprint")


# CCNet-style segment dedup — the oracle rebuilds the identical fixed
# word-window segmentation (8-word non-overlapping slices), counts each
# segment's corpus-wide document frequency, and reassembles documents from
# the segments seen in exactly one document.
_SEGDEDUP_SQL = """
    WITH exploded AS (
      SELECT doc_id,
             unnest(list_transform(
               range(0, greatest(CAST(ceil(len(w) / 8.0) AS INT), 1)),
               i -> struct_pack(
                 seg_no := i,
                 seg := array_to_string(list_slice(w, i * 8 + 1, i * 8 + 8), ' ')
               ))) AS u
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    ), segs AS (
      SELECT doc_id, u.seg_no AS seg_no, u.seg AS seg FROM exploded
    ), freq AS (
      SELECT md5(seg) AS h, COUNT(DISTINCT doc_id) AS df FROM segs GROUP BY 1
    )
    SELECT s.doc_id AS doc_id,
           COUNT(*) AS n_segments,
           COUNT(*) FILTER (WHERE f.df <= 1) AS n_kept,
           COALESCE(array_to_string(
             list(s.seg ORDER BY s.seg_no) FILTER (WHERE f.df <= 1), ' '), '')
             AS cleaned_text
    FROM segs s JOIN freq f ON md5(s.seg) = f.h
    GROUP BY s.doc_id
"""


@register("llm_segment_dedup", _SEGDEDUP_SQL)
def llm_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Corpus-level boilerplate removal: segments repeating across documents
    # are dropped, documents reassembled from the unique remainder.  Explode
    # → 32-hex group-count → hash equi-join → per-doc rebuild; no text in
    # any shuffle key, no CartesianProduct.
    from ..operators.dedup import corpus_segment_dedup

    return corpus_segment_dedup(load(spark, sf_dir, "documents"))


_Q_DUCK_UNGROUPED = _Q_DUCK  # rounded per-row quality, bit-identical across engines

_CORPUS_REPORT_SQL = f"""
    WITH rows_ AS (
      SELECT source, n_chars,
             CAST(round({_Q_DUCK_UNGROUPED} * 1e6) AS BIGINT) AS qi,
             (CAST(len(list_filter(string_split(text, ' '), w -> w IN {{sw}})) AS DOUBLE)
              / CAST(greatest(len(string_split(text, ' ')), 1) AS DOUBLE)) >= 0.05 AS en,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6) AS avg_chars,
           ROUND(CAST(SUM(qi) AS DOUBLE) / COUNT(*) / 1e6, 6) AS avg_quality,
           ROUND(AVG(CASE WHEN en THEN 1.0 ELSE 0.0 END), 6) AS en_share,
           CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS n_dup_docs
    FROM rows_ GROUP BY source
""".replace("{sw}", "('the','a','an','and','of','to','in','is','for','on')")


@register("llm_corpus_report", _CORPUS_REPORT_SQL)
def llm_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-source corpus report card — the summary table a curation
    # pipeline publishes per ingest: volume, mean length, mean quality
    # score, language share, exact-dup count.  Composes the
    # already-verified per-row fragments (quality_score, stopword lang
    # gate, dedup fingerprint) into ONE map-side-combined aggregate;
    # per-row doubles are quantized to exact integer micro-units before
    # summing so the means are summation-order-free and hash-match.
    from ..functions.analysis import doc_fingerprint, lang_id, quality_score

    d = load(spark, sf_dir, "documents")
    q6 = F.round(quality_score(F.col("text")), 6)
    rows = d.select(
        "source",
        "n_chars",
        F.round(q6 * F.lit(1e6)).cast("long").alias("qi"),
        (lang_id(F.col("text")) == "en").alias("en"),
        doc_fingerprint(F.col("text")).alias("fp"),
    )
    n = F.count(F.lit(1))
    return rows.groupBy("source").agg(
        n.alias("n_docs"),
        F.round(F.sum("n_chars").cast("double") / n, 6).alias("avg_chars"),
        F.round(F.sum("qi").cast("double") / n / F.lit(1e6), 6).alias("avg_quality"),
        F.round(F.avg(F.when(F.col("en"), 1.0).otherwise(0.0)), 6).alias("en_share"),
        (n - F.countDistinct("fp")).alias("n_dup_docs"),
    )


# --- DSIR importance resampling (Xie et al. 2023, NeurIPS) -------------------
# Bigram builder identical to operators.dedup.positional_word_ngrams(_, 2):
# count = greatest(W-1, 1); a 1-word doc yields its word (concat_ws skips
# the null zip slot, array_to_string skips the short slice).
_DSIR_BIGRAMS = """list_transform(
      range(1, greatest(len(string_split(text, ' ')) - 1, 1) + 1),
      i -> array_to_string(list_slice(string_split(text, ' '), i, i + 1), ' '))"""
_DSIR_SQL = f"""
    WITH tf AS (
      SELECT CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % 256 AS b
      FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents WHERE lang = 'en'
        UNION ALL
        SELECT unnest({_DSIR_BIGRAMS}) AS w FROM documents WHERE lang = 'en'
      )
    ), rf AS (
      SELECT doc_id, CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % 256 AS b
      FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        UNION ALL
        SELECT doc_id, unnest({_DSIR_BIGRAMS}) AS w FROM documents
      )
    ), tc AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS np FROM tf GROUP BY b),
    rc AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS nq FROM rf GROUP BY b),
    tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot_p FROM tf),
    rt AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot_q FROM rf),
    lam AS (
      SELECT s.b AS b,
             CAST(floor((ln(CAST(COALESCE(np, 0) + 1 AS DOUBLE)
                            / CAST(tot_p + 256 AS DOUBLE))
                       - ln(CAST(COALESCE(nq, 0) + 1 AS DOUBLE)
                            / CAST(tot_q + 256 AS DOUBLE))) * 1e9 + 0.5) AS BIGINT)
               AS lam_ni
      FROM range(256) s(b)
      LEFT JOIN tc ON s.b = tc.b
      LEFT JOIN rc ON s.b = rc.b
      CROSS JOIN tt CROSS JOIN rt
    ), dc AS (
      SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS c FROM rf GROUP BY doc_id, b
    ), scored AS (
      SELECT doc_id,
             CAST(SUM(c * lam_ni) AS BIGINT) AS logw_ni,
             CAST(SUM(c) AS BIGINT) AS n_feats
      FROM dc JOIN lam USING (b)
      GROUP BY doc_id
    ), g AS (
      SELECT doc_id, n_feats, logw_ni,
             logw_ni + CAST(floor(-ln(-ln(
                 (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                  + 0.5) / 4294967296.0)) * 1e9 + 0.5) AS BIGINT) AS score_ni
      FROM scored
    )
    SELECT doc_id, n_feats,
           ROUND(CAST(logw_ni AS DOUBLE) / 1e9, 6) AS logw,
           ROUND(CAST(score_ni AS DOUBLE) / 1e9, 6) AS score
    FROM g ORDER BY score_ni DESC, doc_id LIMIT 50
"""


@register("llm_dsir_resample", _DSIR_SQL)
def llm_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DSIR: pick the 50 raw docs most target-like (target = the corpus's
    # English slice) by hashed-bigram importance weight + deterministic
    # Gumbel top-k.  Integer nano-unit lambdas make every aggregate an
    # exact long sum, so the selection replays bit-identically in DuckDB.
    from ..operators.quality import dsir_resample

    docs = load(spark, sf_dir, "documents")
    # target = the English slice OF THE RAW CORPUS, so pass it as a
    # membership flag: one featurization scan (flag carried through the
    # explode) instead of two, identical counts (operator docstring)
    return dsir_resample(
        docs, None, buckets=256, k=50, target_flag=F.col("lang") == "en"
    )


@register(
    "llm_c4_rules",
    # The synthetic documents are single-line, so (PII/URL-query convention)
    # the page fixture is built identically in plan and oracle: 3 lines
    # sliced from the doc's words — an 8-word terminal-punct line, a 4-word
    # line (fails min_words), an 8-word line whose terminal punct is dropped
    # for doc_id%3==0 — plus a "lorem ipsum" line for %17 pages and a
    # curly-brace code line for %13 pages (page-level drops).
    """
    WITH pages AS (
      SELECT doc_id,
             array_to_string(list_slice(w, 1, 8), ' ') || '.' AS l1,
             array_to_string(list_slice(w, 9, 12), ' ') || '.' AS l2,
             array_to_string(list_slice(w, 13, 20), ' ')
               || CASE WHEN doc_id % 3 = 0 THEN '' ELSE '.' END AS l3
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    ), built AS (
      SELECT doc_id,
             CASE WHEN doc_id % 17 = 0
                  THEN l1 || chr(10) || l2 || chr(10) || l3
                       || chr(10) || 'lorem ipsum dolor sit amet.'
                  WHEN doc_id % 13 = 0
                  THEN l1 || chr(10) || l2 || chr(10) || l3
                       || chr(10) || 'if (x) { return; }'
                  ELSE l1 || chr(10) || l2 || chr(10) || l3 END AS page
      FROM pages
    ), kept AS (
      SELECT doc_id, page,
             list_filter(string_split(page, chr(10)),
               s -> len(string_split(trim(s), ' ')) >= 5
                    AND substr(trim(s), -1, 1) IN ('.', '!', '?', '"')) AS kl
      FROM built
    )
    SELECT doc_id, CAST(len(kl) AS INT) AS n_lines,
           array_to_string(kl, chr(10)) AS clean_text
    FROM kept
    WHERE len(kl) >= 2
      AND NOT contains(lower(page), 'lorem ipsum')
      AND NOT contains(page, '{')
    """,
)
def llm_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    # C4 heuristic cleaning (Raffel et al. 2020 §2.2): terminal-punctuation
    # + min-word line filter, lorem-ipsum / curly-brace page drops —
    # pure-Column, codegen'd, shuffle-free.
    from ..operators.quality import c4_rule_filter

    docs = load(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    l1 = F.concat(F.array_join(F.slice(w, 1, 8), " "), F.lit("."))
    l2 = F.concat(F.array_join(F.slice(w, 9, 4), " "), F.lit("."))
    l3 = F.concat(
        F.array_join(F.slice(w, 13, 8), " "),
        F.when(F.col("doc_id") % 3 == 0, F.lit("")).otherwise(F.lit(".")),
    )
    page = F.concat_ws("\n", l1, l2, l3)
    page = (
        F.when(
            F.col("doc_id") % 17 == 0,
            F.concat(page, F.lit("\nlorem ipsum dolor sit amet.")),
        )
        .when(
            F.col("doc_id") % 13 == 0,
            F.concat(page, F.lit("\nif (x) { return; }")),
        )
        .otherwise(page)
    )
    fixture = docs.select("doc_id", page.alias("text"))
    return c4_rule_filter(fixture, min_words=5, min_lines=2)


@register(
    "llm_token_budget_plan",
    """
    WITH counts AS (
      SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
             CAST(floor(sqrt(CAST(SUM(len(string_split(text, ' '))) AS DOUBLE)) * 1e9 + 0.5)
                  AS BIGINT) AS sqrt_ni
      FROM documents GROUP BY source
    ), tot AS (SELECT CAST(SUM(sqrt_ni) AS BIGINT) AS z_ni FROM counts)
    SELECT source, n_tokens,
           ROUND(CAST(sqrt_ni AS DOUBLE) / CAST(z_ni AS DOUBLE), 6) AS share,
           CAST(floor(CAST(sqrt_ni AS DOUBLE) / CAST(z_ni AS DOUBLE) * 1000000.0 + 0.5)
                AS BIGINT) AS target_tokens,
           ROUND(CAST(floor(CAST(sqrt_ni AS DOUBLE) / CAST(z_ni AS DOUBLE) * 1000000.0 + 0.5)
                      AS BIGINT) / CAST(n_tokens AS DOUBLE), 6) AS epochs
    FROM counts CROSS JOIN tot
    """,
)
def llm_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Temperature-mixture planning table: sqrt-share token targets and
    # per-source epoch counts for a 1M-token training budget.
    from ..operators.quality import token_budget_plan

    return token_budget_plan(load(spark, sf_dir, "documents"), budget_tokens=1_000_000)


@register(
    "quality_expectations",
    """
    SELECT 'nonnull:l_orderkey' AS rule,
           CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
    FROM lineitem
    UNION ALL
    SELECT 'range:l_tax in [0,0.08]',
           CAST(SUM(CASE WHEN l_tax >= 0.0 AND l_tax <= 0.08 THEN 0 ELSE 1 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'range:l_discount <= 0.05',
           CAST(SUM(CASE WHEN l_discount <= 0.05 THEN 0 ELSE 1 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'range:l_quantity <= 30',
           CAST(SUM(CASE WHEN l_quantity <= 30 THEN 0 ELSE 1 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'unique:l_orderkey,l_linenumber',
           CAST(COALESCE(SUM(n - 1), 0) AS BIGINT)
    FROM (SELECT COUNT(*) AS n FROM lineitem GROUP BY l_orderkey, l_linenumber)
    UNION ALL
    SELECT 'fk:l_orderkey->orders', CAST(COUNT(*) AS BIGINT)
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    """,
)
def quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Constraint audit (the dbt-test / Deequ surface): four row-local
    # expectations counted in ONE scan, a uniqueness check, and an FK
    # referential-integrity anti-join — the table-health report a warehouse
    # runs after every load.  The range rules are deliberately strict
    # enough to have real violations (non-vacuous hash).
    from ..operators.quality import check_expectations, fk_violations, unique_violations

    li = load(spark, sf_dir, "lineitem")
    rowlocal = check_expectations(
        li,
        [
            ("nonnull:l_orderkey", F.col("l_orderkey").isNotNull()),
            ("range:l_tax in [0,0.08]", (F.col("l_tax") >= 0.0) & (F.col("l_tax") <= 0.08)),
            ("range:l_discount <= 0.05", F.col("l_discount") <= 0.05),
            ("range:l_quantity <= 30", F.col("l_quantity") <= 30),
        ],
    )
    uniq = unique_violations(li, ["l_orderkey", "l_linenumber"])
    fk = fk_violations(li, load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey")
    ), on=["l_orderkey"], rule="fk:l_orderkey->orders")
    return rowlocal.unionByName(uniq).unionByName(fk)


@register(
    "privacy_k_anonymity",
    """
    WITH classes AS (
      SELECT c_mktsegment, c_nationkey, COUNT(*) AS _n
      FROM customer GROUP BY c_mktsegment, c_nationkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(CASE WHEN _n < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_below_k,
           CAST(SUM(CASE WHEN _n < 10 THEN _n ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
           CAST(MIN(_n) AS BIGINT) AS min_class_size
    FROM classes
    """,
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # k-anonymity release gate over the (segment, nation) quasi-identifier
    # pair: equivalence classes below k=10 are the re-identification risk
    # the privacy review reads (k=10 keeps the risk branch non-vacuous at
    # the driver's check scale: 35 of 125 classes).  Governance companion
    # of llm_pii_scrub.
    from ..operators.quality import k_anonymity_report

    return k_anonymity_report(
        load(spark, sf_dir, "customer"), ["c_mktsegment", "c_nationkey"], k=10
    )


@register(
    "quality_krippendorff_alpha",
    # ONE panel-wide agreement number for the same three keep/drop raters
    # the kappa entry compares pairwise — Krippendorff's alpha (nominal,
    # binary) from exact integer coincidence sums: c_u = per-unit 'true'
    # count, Σdis = Σ c_u(3-c_u), alpha = 1 - (n-1)Σdis / ((R-1) n0 n1),
    # one division, bit-portable.
    """
    WITH c AS (
      SELECT (CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END
            + CASE WHEN len(string_split(text, ' ')) >= 55 THEN 1 ELSE 0 END
            + CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS cu
      FROM documents
    ),
    a AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nu,
             CAST(SUM(cu) AS BIGINT) AS n1,
             CAST(SUM(cu * (3 - cu)) AS BIGINT) AS sdis
      FROM c
    )
    SELECT nu AS n_units, CAST(3 * nu AS BIGINT) AS n_ratings,
           ROUND(1.0 - CAST((3 * nu - 1) * sdis AS DOUBLE)
                 / NULLIF(CAST(2 * (3 * nu - n1) * n1 AS DOUBLE), 0), 6) AS alpha
    FROM a
    """,
)
def quality_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quality import krippendorff_alpha

    docs = load(spark, sf_dir, "documents")
    return krippendorff_alpha(
        docs,
        {
            "len_ok": F.col("n_chars") >= 300,
            "words_ok": F.size(F.split(F.col("text"), " ")) >= 55,
            "english": F.col("lang") == "en",
        },
    )


@register(
    "quality_rater_kappa",
    """
    WITH f AS (
      SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS len_ok,
             CASE WHEN len(string_split(text, ' ')) >= 55 THEN 1 ELSE 0 END
               AS words_ok,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS english
      FROM documents
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(len_ok) AS BIGINT) AS s_len,
             CAST(SUM(words_ok) AS BIGINT) AS s_words,
             CAST(SUM(english) AS BIGINT) AS s_en,
             CAST(SUM(len_ok * words_ok) AS BIGINT) AS s_len_words,
             CAST(SUM(len_ok * english) AS BIGINT) AS s_len_en,
             CAST(SUM(words_ok * english) AS BIGINT) AS s_words_en
      FROM f
    ),
    p AS (
      SELECT 'len_ok' AS rater_a, 'words_ok' AS rater_b, n,
             s_len AS sa, s_words AS sb, s_len_words AS sab FROM s
      UNION ALL
      SELECT 'len_ok', 'english', n, s_len, s_en, s_len_en FROM s
      UNION ALL
      SELECT 'words_ok', 'english', n, s_words, s_en, s_words_en FROM s
    )
    SELECT rater_a, rater_b, n,
           ROUND(CAST(2 * sab + n - sa - sb AS DOUBLE) / NULLIF(n, 0), 6) AS po,
           ROUND(CAST(sa * sb + (n - sa) * (n - sb) AS DOUBLE) / NULLIF(n * n, 0), 6)
             AS pe,
           ROUND(CAST((2 * sab + n - sa - sb) * n
                      - (sa * sb + (n - sa) * (n - sb)) AS DOUBLE)
                 / NULLIF(n * n - (sa * sb + (n - sa) * (n - sb)), 0), 6) AS kappa
    FROM p
    """,
)
def quality_rater_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Chance-corrected agreement between three real keep/drop signals
    # (length rater, word-count rater, language rater) — the audit that
    # says whether two quality filters are interchangeable or measuring
    # different things.  One map-side-combined aggregate; kappa from
    # integer numerators with exactly one division per ratio.
    from ..operators.quality import rater_agreement

    docs = load(spark, sf_dir, "documents")
    return rater_agreement(
        docs,
        {
            "len_ok": F.col("n_chars") >= 300,
            "words_ok": F.size(F.split(F.col("text"), " ")) >= 55,
            "english": F.col("lang") == "en",
        },
    )


@register(
    "llm_weighted_sample",
    """
    WITH g AS (
      SELECT lang, doc_id, CAST(n_chars AS DOUBLE) AS weight,
             CAST(floor(ln(CAST(n_chars AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)
             + CAST(floor(-ln(-ln(
                 (CAST('0x' || substr(md5('wsample|' || CAST(doc_id AS VARCHAR)), 1, 8)
                       AS BIGINT) + 0.5) / 4294967296.0)) * 1e9 + 0.5) AS BIGINT)
               AS score_ni
      FROM documents
    )
    SELECT lang, doc_id, weight,
           ROUND(CAST(score_ni AS DOUBLE) / 1e9, 6) AS score,
           CAST(rn AS BIGINT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                   ORDER BY score_ni DESC, doc_id) AS rn
      FROM g
    ) WHERE rn <= 20
    """,
)
def llm_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact-size weighted sampling without replacement (Gumbel top-k /
    # Efraimidis-Spirakis): 20 docs per language, selection probability
    # proportional to length — the fixed-budget sampler the Bernoulli
    # family can't provide.  Deterministic md5 Gumbel keys in integer
    # nanos make the "random" subset replayable.
    from ..operators.quality import weighted_sample_topk

    docs = load(spark, sf_dir, "documents")
    return weighted_sample_topk(docs, F.col("n_chars"), k=20, strata_cols=["lang"])


@register(
    "privacy_dp_counts",
    # Identical deterministic Laplace chain: md5-seeded uniform in
    # (-0.5, 0.5), inverse CDF at scale 1/eps, quantized to integer nanos.
    """
    WITH g AS (
      SELECT c_mktsegment, c_nationkey, COUNT(*) AS n,
             (CAST('0x' || substr(md5('dp|' || c_mktsegment || '|'
                                       || CAST(c_nationkey AS VARCHAR)), 1, 8)
                   AS BIGINT) + 0.5) / 4294967296.0 - 0.5 AS u
      FROM customer GROUP BY 1, 2
    )
    SELECT c_mktsegment, c_nationkey, CAST(1.0 AS DOUBLE) AS epsilon,
           ROUND(CAST(n AS DOUBLE)
                 + CAST(floor((-sign(u) * ln(1.0 - 2.0 * abs(u)) / 1.0) * 1e9 + 0.5)
                        AS BIGINT) / 1e9, 6) AS noisy_count
    FROM g
    """,
)
def privacy_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ε-DP noisy release of the (segment, nation) contingency table —
    # the privacy-preserving publication path next to the k-anonymity /
    # l-diversity gates.  Laplace(1/ε) per cell, seeded from the cell key
    # so the release replays bit-identically; true counts never leave the
    # aggregate.
    from ..operators.quality import dp_noisy_counts

    return dp_noisy_counts(
        load(spark, sf_dir, "customer"),
        ["c_mktsegment", "c_nationkey"],
        epsilon=1.0,
    )


@register(
    "privacy_l_diversity",
    """
    SELECT c_mktsegment, c_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT floor(c_acctbal / 1000.0)) AS BIGINT) AS l_distinct,
           COUNT(DISTINCT floor(c_acctbal / 1000.0)) < 8 AS at_risk
    FROM customer GROUP BY 1, 2
    """,
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # l-diversity audit over the same quasi-identifier pair as
    # privacy_k_anonymity, sensitive attribute = account-balance band: a
    # class can be k-anonymous yet carry a single sensitive value — this
    # distinct-count gate is what catches it.  One keyed aggregate,
    # partial-combined COUNT DISTINCT.
    from ..operators.quality import l_diversity_report

    return l_diversity_report(
        load(spark, sf_dir, "customer"),
        ["c_mktsegment", "c_nationkey"],
        sensitive=F.floor(F.col("c_acctbal") / F.lit(1000.0)),
        l_threshold=8,
    )


_QN_GRID = 100
_QN_PCTS = ", ".join(str(i / _QN_GRID) for i in range(_QN_GRID + 1))


@register(
    "quality_quantile_normalize",
    # Same chain: within-source percent_rank -> pooled exact-percentile
    # grid (linear interpolation both engines) -> grid lookup.
    f"""
    WITH r AS (
      SELECT doc_id, source, n_chars,
             percent_rank() OVER (PARTITION BY source ORDER BY n_chars) AS pct
      FROM documents
    ), g AS (
      SELECT quantile_cont(n_chars, [{_QN_PCTS}]) AS grid FROM documents
    )
    SELECT doc_id, source, n_chars,
           ROUND(pct, 6) AS pct_in_group,
           ROUND(list_extract(grid, CAST(floor(pct * {_QN_GRID}) AS INT) + 1), 6)
             AS norm_score
    FROM r, g
    """,
)
def quality_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cross-source score calibration: each doc's length score is replaced
    # by the pooled distribution's value at the doc's within-source
    # percentile -- after which one global threshold treats all 20
    # sources fairly.  One window shuffle + one broadcast percentile
    # grid; the lookup is map-side.
    from ..operators.quality import quantile_normalize

    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return quantile_normalize(docs, "source", F.col("n_chars"), grid=_QN_GRID)


@register(
    "quality_benford_audit",
    """
    WITH c AS (
      SELECT CAST(floor(l_extendedprice
                        / power(10, floor(log10(l_extendedprice)))) AS INT) AS digit,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem WHERE l_extendedprice > 0 GROUP BY 1
    ), t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM c)
    SELECT digit, n,
           ROUND(n / CAST(tot AS DOUBLE), 6) AS observed_p,
           ROUND(log10(1.0 + 1.0 / digit), 6) AS expected_p,
           ROUND(tot * (n / CAST(tot AS DOUBLE) - log10(1.0 + 1.0 / digit))
                     * (n / CAST(tot AS DOUBLE) - log10(1.0 + 1.0 / digit))
                 / log10(1.0 + 1.0 / digit), 6) AS chi2_term
    FROM c, t
    """,
)
def quality_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # First-digit distribution of extended prices vs Benford's law -- the
    # fabricated-data screen.  One map-side-combined 9-group count; the
    # digit is a codegen'd log10/pow expression.
    from ..operators.quality import benford_audit

    return benford_audit(load(spark, sf_dir, "lineitem"), F.col("l_extendedprice"))


@register(
    "quality_psi_drift",
    # Oracle replays the identical equal-width binning + Laplace
    # smoothing; bins observed in neither slice never exist as rows in
    # either engine.
    """
    WITH rng AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM events),
    binned AS (
      SELECT event_type,
             LEAST(9, GREATEST(0, CAST(floor((value - rng.lo)
                 / (CASE WHEN rng.hi > rng.lo THEN rng.hi - rng.lo ELSE 1.0 END)
                 * 10) AS INT))) AS bin,
             CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END AS isb
      FROM events CROSS JOIN rng
    ),
    per_bin AS (
      SELECT event_type, bin, SUM(isb) AS nb, SUM(1 - isb) AS nc
      FROM binned GROUP BY 1, 2
    ),
    sm AS (
      SELECT event_type, nb, nc,
             SUM(nb) OVER (PARTITION BY event_type) AS tb,
             SUM(nc) OVER (PARTITION BY event_type) AS tc,
             COUNT(*) OVER (PARTITION BY event_type) AS k
      FROM per_bin
    )
    SELECT event_type,
           CAST(MAX(tb) AS BIGINT) AS n_baseline,
           CAST(MAX(tc) AS BIGINT) AS n_current,
           CAST(COUNT(*) AS BIGINT) AS n_bins_used,
           ROUND(CAST(SUM(CAST(floor(
                     ((nc + 0.5) / (tc + 0.5 * k) - (nb + 0.5) / (tb + 0.5 * k))
                     * ln(((nc + 0.5) / (tc + 0.5 * k))
                          / ((nb + 0.5) / (tb + 0.5 * k)))
                     * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12, 6) AS psi
    FROM sm GROUP BY event_type
    """,
)
def quality_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Population Stability Index per event type between the first half of
    # the month (baseline) and the rest — the standard model-feature
    # drift gate.  One global (min,max) broadcast, one keyed bin
    # aggregate, one rollup; no sort, no join explosion.
    from ..operators.quality import psi_drift

    e = load(spark, sf_dir, "events")
    return psi_drift(
        e,
        ["event_type"],
        F.col("value"),
        F.dayofmonth(F.col("ts").cast("timestamp")) <= 15,
        n_bins=10,
    )


@register(
    "quality_jsd_drift",
    # Jensen-Shannon drift per event type over the same halves/binning as
    # quality_psi_drift: symmetric, BOUNDED (ln 2 for disjoint supports),
    # no smoothing constant.  p/q are exact-integer-count ratios; each
    # bin's p·ln(p/m)+q·ln(q/m) term pico-quantizes via one fixed double
    # expression (0·ln0 := 0 through integer-count CASE guards) and the
    # rollup is an exact integer sum — order-proof.
    """
    WITH rng AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM events),
    binned AS (
      SELECT event_type,
             LEAST(9, GREATEST(0, CAST(floor((value - rng.lo)
                 / (CASE WHEN rng.hi > rng.lo THEN rng.hi - rng.lo ELSE 1.0 END)
                 * 10) AS INT))) AS bin,
             CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END AS isb
      FROM events CROSS JOIN rng
    ),
    per_bin AS (
      SELECT event_type, bin, SUM(isb) AS nb, SUM(1 - isb) AS nc
      FROM binned GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, nb, nc,
             SUM(nb) OVER (PARTITION BY event_type) AS tb,
             SUM(nc) OVER (PARTITION BY event_type) AS tc
      FROM per_bin
    ),
    pq AS (
      SELECT event_type, nb, nc, tb, tc,
             CASE WHEN nb > 0 THEN nb * 1.0 / tb ELSE 0.0 END AS p,
             CASE WHEN nc > 0 THEN nc * 1.0 / tc ELSE 0.0 END AS q
      FROM tot
    ),
    terms AS (
      SELECT event_type, nb, nc, tb, tc,
             (CASE WHEN nb > 0 THEN p * ln(p / ((p + q) / 2)) ELSE 0.0 END
              + CASE WHEN nc > 0 THEN q * ln(q / ((p + q) / 2)) ELSE 0.0 END) AS t
      FROM pq
    )
    SELECT event_type,
           CAST(MAX(tb) AS BIGINT) AS n_baseline,
           CAST(MAX(tc) AS BIGINT) AS n_current,
           CAST(COUNT(*) AS BIGINT) AS n_bins_used,
           ROUND(0.5 * (CAST(SUM(CAST(floor(t * 1e12 + 0.5) AS BIGINT)) AS DOUBLE)
                        / 1e12), 6) AS jsd
    FROM terms GROUP BY event_type
    """,
)
def quality_jsd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Bounded drift gate next to PSI: JSD compares cleanly across features
    # with very different bin occupancies (no Laplace constant to dominate
    # sparse bins) and saturates at ln 2 for disjoint halves.  Same
    # one-broadcast + one-keyed-aggregate + rollup shape as PSI.
    from ..operators.quality import jsd_drift

    e = load(spark, sf_dir, "events")
    return jsd_drift(
        e,
        ["event_type"],
        F.col("value"),
        F.dayofmonth(F.col("ts").cast("timestamp")) <= 15,
        n_bins=10,
    )


@register(
    "privacy_t_closeness",
    # Oracle replays the present-values identity
    # sum_all |pc-pg| = sum_present (|pc-pg| - pg) + 1 so absent
    # sensitive values never materialize in either engine.
    """
    WITH cv AS (
      SELECT c_mktsegment, c_nationkey, floor(c_acctbal / 1000.0) AS v
      FROM customer
    ),
    g AS (SELECT v, COUNT(*) AS ngv FROM cv GROUP BY 1),
    n AS (SELECT COUNT(*) AS nt FROM cv),
    cvc AS (
      SELECT c_mktsegment, c_nationkey, v, COUNT(*) AS ncv
      FROM cv GROUP BY 1, 2, 3
    ),
    cls AS (
      SELECT c_mktsegment, c_nationkey, SUM(ncv) AS nclass
      FROM cvc GROUP BY 1, 2
    )
    SELECT c.c_mktsegment, c.c_nationkey,
           CAST(MAX(cls.nclass) AS BIGINT) AS n,
           ROUND(0.5 * (CAST(SUM(CAST(floor(
                     (ABS(c.ncv * 1.0 / cls.nclass - g.ngv * 1.0 / n.nt)
                      - g.ngv * 1.0 / n.nt) * 1e12 + 0.5) AS BIGINT)) AS DOUBLE)
                     / 1e12 + 1.0), 6) AS t,
           ROUND(0.5 * (CAST(SUM(CAST(floor(
                     (ABS(c.ncv * 1.0 / cls.nclass - g.ngv * 1.0 / n.nt)
                      - g.ngv * 1.0 / n.nt) * 1e12 + 0.5) AS BIGINT)) AS DOUBLE)
                     / 1e12 + 1.0), 6) > 0.35 AS at_risk
    FROM cvc c
    JOIN cls ON c.c_mktsegment = cls.c_mktsegment
            AND c.c_nationkey = cls.c_nationkey
    JOIN g ON c.v = g.v
    CROSS JOIN n
    GROUP BY c.c_mktsegment, c.c_nationkey
    """,
)
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    # t-closeness audit over the same (segment, nation) quasi-identifier
    # as privacy_k_anonymity / privacy_l_diversity: total-variation
    # distance between each class's balance-band distribution and the
    # corpus-wide one — catches classes that are k-anonymous AND
    # l-diverse yet skewed toward one sensitive value.
    from ..operators.quality import t_closeness_report

    return t_closeness_report(
        load(spark, sf_dir, "customer"),
        ["c_mktsegment", "c_nationkey"],
        F.floor(F.col("c_acctbal") / F.lit(1000.0)),
        t_threshold=0.35,
    )


@register(
    "llm_dedup_cluster_sizes",
    _CLUSTER_SQL.replace(
        "SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node",
        """
    , clusters AS (SELECT node AS doc_id, MIN(r) AS cluster_id
                 FROM reach GROUP BY node),
    sizes AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
              FROM clusters GROUP BY 1)
    SELECT cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(cluster_size) AS BIGINT) AS n_docs,
           CAST(SUM(cluster_size - 1) AS BIGINT) AS n_removable
    FROM sizes GROUP BY 1
    """,
    ),
)
def llm_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cluster-size histogram over the near-dup components — the dedup
    # IMPACT report: n_removable = docs beyond each cluster's canonical
    # survivor, i.e. exactly what a keep-one policy deletes.  Singleton
    # (unpaired) docs never enter the pair list and are absent by
    # construction in both engines.  Metadata-scale rollup on top of the
    # pointer-jumping components.
    clusters = QUERIES["llm_dedup_clusters"](spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("cluster_size").cast("long").alias("n_docs"),
        F.sum(F.col("cluster_size") - 1).cast("long").alias("n_removable"),
    )


@register(
    "llm_filter_funnel",
    # Oracle replays the one-pass conditional-sum funnel from the same
    # 1-row aggregate, staged via UNION ALL.
    """
    WITH f AS (
      SELECT CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS c1,
             CASE WHEN len(string_split(text, ' ')) >= 40 THEN 1 ELSE 0 END AS c2,
             CASE WHEN len(list_distinct(string_split(text, ' '))) * 1.0
                       / len(string_split(text, ' ')) >= 0.3
                  THEN 1 ELSE 0 END AS c3,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS c4
      FROM documents
    ),
    a AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n0,
             CAST(SUM(c1) AS BIGINT) AS n1,
             CAST(SUM(c1 * c2) AS BIGINT) AS n2,
             CAST(SUM(c1 * c2 * c3) AS BIGINT) AS n3,
             CAST(SUM(c1 * c2 * c3 * c4) AS BIGINT) AS n4
      FROM f
    )
    SELECT 0 AS stage, 'all' AS rule, n0 AS n_pass,
           ROUND(n0 * 1.0 / NULLIF(n0, 0), 6) AS rate FROM a
    UNION ALL SELECT 1, 'min_chars_200', n1, ROUND(n1 * 1.0 / NULLIF(n0, 0), 6) FROM a
    UNION ALL SELECT 2, '+min_words_40', n2, ROUND(n2 * 1.0 / NULLIF(n0, 0), 6) FROM a
    UNION ALL SELECT 3, '+distinct_ratio_030', n3, ROUND(n3 * 1.0 / NULLIF(n0, 0), 6) FROM a
    UNION ALL SELECT 4, '+lang_en', n4, ROUND(n4 * 1.0 / NULLIF(n0, 0), 6) FROM a
    """,
)
def llm_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Curation funnel report — per-stage survivor counts for the chained
    # quality rules (length -> word count -> repetition -> language),
    # the first chart of every corpus-curation writeup.  ONE map-side
    # pass computes every cumulative stage as a conditional sum; the
    # stage table is exploded from the 1-row aggregate (no re-scan per
    # stage, no shuffle beyond the single partial-agg exchange).
    d = load(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    c1 = (F.col("n_chars") >= 200).cast("int")
    c2 = (F.size(words) >= 40).cast("int")
    c3 = (
        F.size(F.array_distinct(words)).cast("double") / F.size(words) >= 0.3
    ).cast("int")
    c4 = (F.col("lang") == "en").cast("int")
    a = d.agg(
        F.count(F.lit(1)).cast("long").alias("n0"),
        F.sum(c1).cast("long").alias("n1"),
        F.sum(c1 * c2).cast("long").alias("n2"),
        F.sum(c1 * c2 * c3).cast("long").alias("n3"),
        F.sum(c1 * c2 * c3 * c4).cast("long").alias("n4"),
    )
    stages = a.select(
        F.array(
            F.struct(F.lit(0).alias("stage"), F.lit("all").alias("rule"),
                     F.col("n0").alias("n_pass")),
            F.struct(F.lit(1).alias("stage"), F.lit("min_chars_200").alias("rule"),
                     F.col("n1").alias("n_pass")),
            F.struct(F.lit(2).alias("stage"), F.lit("+min_words_40").alias("rule"),
                     F.col("n2").alias("n_pass")),
            F.struct(F.lit(3).alias("stage"), F.lit("+distinct_ratio_030").alias("rule"),
                     F.col("n3").alias("n_pass")),
            F.struct(F.lit(4).alias("stage"), F.lit("+lang_en").alias("rule"),
                     F.col("n4").alias("n_pass")),
        ).alias("_s"),
        "n0",
    )
    return stages.select(F.explode("_s").alias("s"), "n0").select(
        F.col("s.stage").alias("stage"),
        F.col("s.rule").alias("rule"),
        F.col("s.n_pass").alias("n_pass"),
        # NULLIF guard: an empty corpus makes n0 = 0 and ANSI division
        # would throw — both engines emit NULL rates instead
        F.round(
            F.col("s.n_pass").cast("double") / F.nullif(F.col("n0"), F.lit(0)), 6
        ).alias("rate"),
    )


@register(
    "quality_ks_test",
    # Two-sample Kolmogorov-Smirnov over document lengths: is the 'en'
    # length distribution the same as the rest of the corpus?  D = max
    # |ECDF_a - ECDF_b| evaluated at the pooled DISTINCT values — raw
    # rows reduce to (value, side) counts first, so the ordered window
    # runs on the value-vocabulary table, and every ratio is an integer
    # cumsum over an integer total (exact in both engines).
    """
    WITH c AS (
      SELECT n_chars AS v,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS cb
      FROM documents WHERE n_chars IS NOT NULL GROUP BY 1
    ),
    t AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM c),
    e AS (
      SELECT v,
             SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
             SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
      FROM c
    )
    SELECT CAST(t.na AS BIGINT) AS n_a, CAST(t.nb AS BIGINT) AS n_b,
           ROUND(MAX(ABS(CAST(e.cuma AS DOUBLE) / NULLIF(t.na, 0)
                         - CAST(e.cumb AS DOUBLE) / NULLIF(t.nb, 0))), 6) AS ks_d,
           ROUND(1.358 * sqrt(CAST(t.na + t.nb AS DOUBLE) / NULLIF(t.na * t.nb, 0)), 6)
             AS critical_05,
           MAX(ABS(CAST(e.cuma AS DOUBLE) / NULLIF(t.na, 0)
                   - CAST(e.cumb AS DOUBLE) / NULLIF(t.nb, 0)))
             > 1.358 * sqrt(CAST(t.na + t.nb AS DOUBLE) / NULLIF(t.na * t.nb, 0))
             AS reject_05
    FROM e CROSS JOIN t
    GROUP BY t.na, t.nb
    """,
)
def quality_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    # a NULL length has no place on the ECDF axis: drop it BEFORE the
    # cumulative window — Spark orders NULLS FIRST ascending, DuckDB NULLS
    # LAST, so a NULL value key would shift every cumulative count
    c = d.filter(F.col("n_chars").isNotNull()).groupBy(F.col("n_chars").alias("v")).agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).cast("long").alias("ca"),
        F.sum(F.when(F.col("lang") == "en", 0).otherwise(1)).cast("long").alias("cb"),
    )
    t = c.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e = c.select(
        "v", F.sum("ca").over(w).alias("cuma"), F.sum("cb").over(w).alias("cumb")
    )
    # NULLIF guards: a one-sided corpus (every doc in/not-in the 'en'
    # class) makes a sample size 0 — the test is undefined, emit NULLs
    diff = F.abs(
        F.col("cuma").cast("double") / F.nullif(F.col("na"), F.lit(0))
        - F.col("cumb").cast("double") / F.nullif(F.col("nb"), F.lit(0))
    )
    crit = F.lit(1.358) * F.sqrt(
        (F.col("na") + F.col("nb")).cast("double")
        / F.nullif(F.col("na") * F.col("nb"), F.lit(0))
    )
    return (
        e.crossJoin(F.broadcast(t))
        .groupBy("na", "nb")
        .agg(F.max(diff).alias("_d"), F.max(crit).alias("_c"))
        .select(
            F.col("na").cast("long").alias("n_a"),
            F.col("nb").cast("long").alias("n_b"),
            F.round(F.col("_d"), 6).alias("ks_d"),
            F.round(F.col("_c"), 6).alias("critical_05"),
            (F.col("_d") > F.col("_c")).alias("reject_05"),
        )
    )


@register(
    "quality_chi2_independence",
    # Pearson chi-square test of independence between document source and
    # language — the categorical drift/contamination check next to PSI and
    # KS.  The contingency table builds in ONE vocabulary-sized rollup,
    # the full grid (including zero cells, which still contribute their
    # expected mass) is the cross join of the two marginal tables — both
    # broadcast-sized — and each cell's (O-E)^2/E term quantizes to
    # integer micro-units before the sum, so the statistic is
    # accumulation-order-proof and engine-exact.
    """
    WITH obs AS (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS o
      FROM documents
      WHERE source IS NOT NULL AND lang IS NOT NULL
      GROUP BY 1, 2
    ),
    rt AS (SELECT source, CAST(SUM(o) AS BIGINT) AS r_tot FROM obs GROUP BY 1),
    ct AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS c_tot FROM obs GROUP BY 1),
    n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
    grid AS (
      SELECT rt.source, ct.lang, rt.r_tot, ct.c_tot, n.n,
             COALESCE(obs.o, 0) AS o
      FROM rt CROSS JOIN ct CROSS JOIN n
      LEFT JOIN obs ON obs.source = rt.source AND obs.lang = ct.lang
    ),
    terms AS (
      SELECT CAST(floor(
               pow(o - CAST(r_tot AS DOUBLE) * c_tot / n, 2)
                 / (CAST(r_tot AS DOUBLE) * c_tot / n) * 1e6 + 0.5)
             AS BIGINT) AS t_micro,
             source, lang
      FROM grid
    )
    SELECT CAST(nr AS BIGINT) AS n_rows, CAST(nc AS BIGINT) AS n_cols,
           CASE WHEN nr > 0 AND nc > 0
                THEN CAST((nr - 1) * (nc - 1) AS BIGINT) END AS dof,
           CASE WHEN nr > 1 AND nc > 1
                THEN ROUND(CAST(SUM(t_micro) AS DOUBLE) / 1e6, 6) END AS chi2,
           CASE WHEN nr > 1 AND nc > 1
                THEN ROUND(sqrt((CAST(SUM(t_micro) AS DOUBLE) / 1e6)
                           / (nn * least(nr - 1, nc - 1))), 6) END AS cramers_v
    FROM terms
    CROSS JOIN (SELECT (SELECT COUNT(*) FROM rt) AS nr,
                       (SELECT COUNT(*) FROM ct) AS nc,
                       (SELECT SUM(o) FROM obs) AS nn)
    GROUP BY nr, nc, nn
    """,
)
def quality_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull() & F.col("lang").isNotNull()
    )
    # r14 (VERDICT r13 Next #4): the bounded source x lang cell table fed
    # 5 references (rt, ct, n, the grid's left join, and the dims rollup
    # via rt/ct/n again) — SEVEN documents aggregates in the initial plan,
    # zero reuse.  One lazy localCheckpoint leaves a single corpus
    # aggregate — the 100 TB term — GATED on real input width (the
    # ensure_parallelism / routed-Lloyd gate): on the single-row-group
    # bench input the seven re-aggregations of a tiny table cost less
    # than the checkpoint's constant job overhead (r13 measured
    # +0.2-0.3 s; contended r14 A/Bs straddled the same line), so below
    # the gate the r13 shape is kept byte-identical.  Values are
    # identical on both sides (parity pinned by
    # test_chi2_obs_checkpoint_gate_parity).
    obs = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    # gate probe: len(inputFiles) is file-listing metadata (~10 ms) where
    # .rdd.getNumPartitions() pays a full plan->RDD conversion (~50-150 ms,
    # visible on this 0.4 s entry); a multi-file corpus engages, the
    # single-file bench input keeps the r13 shape byte-identical
    if len(d.inputFiles()) >= spark.sparkContext.defaultParallelism:
        obs = shared(obs)
    rt = obs.groupBy("source").agg(F.sum("o").cast("long").alias("r_tot"))
    ct = obs.groupBy("lang").agg(F.sum("o").cast("long").alias("c_tot"))
    n = obs.agg(F.sum("o").cast("long").alias("n"))
    grid = (
        rt.crossJoin(F.broadcast(ct))
        .crossJoin(F.broadcast(n))
        .join(F.broadcast(obs), on=["source", "lang"], how="left")
        .withColumn("o", F.coalesce(F.col("o"), F.lit(0)))
    )
    e = F.col("r_tot").cast("double") * F.col("c_tot") / F.col("n")
    t_micro = F.floor(F.pow(F.col("o") - e, 2) / e * 1e6 + F.lit(0.5)).cast("long")
    terms = grid.select(t_micro.alias("t_micro"))
    dims = (
        rt.agg(F.count(F.lit(1)).alias("nr"))
        .crossJoin(ct.agg(F.count(F.lit(1)).alias("nc")))
        .crossJoin(n.select(F.col("n").alias("nn")))
    )
    # empty corpus -> zero output rows (no grid cells to aggregate);
    # a 1xC or Rx1 table has dof 0 and NO independence test -> chi2 NULL
    chi2_exact = F.col("chi2_micro").cast("double") / 1e6
    defined = (F.col("nr") > 1) & (F.col("nc") > 1)
    return (
        terms.crossJoin(F.broadcast(dims))
        .groupBy("nr", "nc", "nn")
        .agg(F.sum("t_micro").alias("chi2_micro"))
        .select(
            F.col("nr").cast("long").alias("n_rows"),
            F.col("nc").cast("long").alias("n_cols"),
            F.when(
                (F.col("nr") > 0) & (F.col("nc") > 0),
                ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long"),
            ).alias("dof"),
            F.when(defined, F.round(chi2_exact, 6)).alias("chi2"),
            # Cramér's V effect size off the same quantized statistic:
            # sqrt of an identical double is identical cross-engine
            F.when(
                defined,
                F.round(
                    F.sqrt(
                        chi2_exact
                        / (F.col("nn") * F.least(F.col("nr") - 1, F.col("nc") - 1))
                    ),
                    6,
                ),
            ).alias("cramers_v"),
        )
    )


@register(
    "quality_anova_f",
    # One-way ANOVA F across sources on document length — the k-group
    # mean-difference test next to the two-sample KS.  All moments are
    # EXACT BIGINT sums (count / sum / sum-of-squares per group, map-side
    # combined); the per-group s²/m terms quantize via an IDENTICAL
    # fixed-order double expression (floor(s*s/m*1e6+0.5)) in both engines
    # before the between/within sums — identical-double-then-floor (the
    # _lloyd_quantized justification), not exact integer arithmetic: past
    # 2^53 in s*s the double rounds, but both engines round the same way,
    # so the k-row reduction stays accumulation-order-proof.  F NULL when
    # k < 2 or the within-group variance is zero (no test).
    """
    WITH g AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(n_chars) AS BIGINT) AS s,
             CAST(SUM(n_chars * n_chars) AS BIGINT) AS q
      FROM documents
      WHERE source IS NOT NULL AND n_chars IS NOT NULL
      GROUP BY 1
    ),
    t AS (
      SELECT CAST(floor(CAST(s AS DOUBLE) * s / m * 1e6 + 0.5) AS BIGINT)
               AS ssm_micro, m, s, q
      FROM g
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(m) AS BIGINT) AS n,
             CAST(SUM(s) AS BIGINT) AS ts, CAST(SUM(q) AS BIGINT) AS tq,
             CAST(SUM(ssm_micro) AS BIGINT) AS ssm_micro
      FROM t
    )
    SELECT k AS n_groups, n AS n_docs,
           CASE WHEN k > 1 AND n > k THEN
             ROUND((CAST(ssm_micro AS DOUBLE) / 1e6
                    - CAST(ts AS DOUBLE) * ts / n) / (k - 1), 6) END AS ms_between,
           CASE WHEN k > 1 AND n > k THEN
             ROUND((tq - CAST(ssm_micro AS DOUBLE) / 1e6) / (n - k), 6) END AS ms_within,
           CASE WHEN k > 1 AND n > k
                 AND (tq - CAST(ssm_micro AS DOUBLE) / 1e6) > 0 THEN
             ROUND(((CAST(ssm_micro AS DOUBLE) / 1e6
                     - CAST(ts AS DOUBLE) * ts / n) / (k - 1))
                   / ((tq - CAST(ssm_micro AS DOUBLE) / 1e6) / (n - k)), 6)
           END AS f_stat
    FROM agg
    """,
)
def quality_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull() & F.col("n_chars").isNotNull()
    )
    g = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("n_chars").cast("long").alias("s"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("long").alias("q"),
    )
    t = g.select(
        F.floor(F.col("s").cast("double") * F.col("s") / F.col("m") * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("ssm_micro"),
        "m",
        "s",
        "q",
    )
    agg = t.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("m").cast("long").alias("n"),
        F.sum("s").cast("long").alias("ts"),
        F.sum("q").cast("long").alias("tq"),
        F.sum("ssm_micro").cast("long").alias("ssm_micro"),
    )
    ssm = F.col("ssm_micro").cast("double") / 1e6
    ssb = ssm - F.col("ts").cast("double") * F.col("ts") / F.col("n")
    ssw = F.col("tq") - ssm
    ok = (F.col("k") > 1) & (F.col("n") > F.col("k"))
    msb = ssb / (F.col("k") - 1)
    msw = ssw / (F.col("n") - F.col("k"))
    return agg.select(
        F.col("k").alias("n_groups"),
        F.col("n").alias("n_docs"),
        F.when(ok, F.round(msb, 6)).alias("ms_between"),
        F.when(ok, F.round(msw, 6)).alias("ms_within"),
        F.when(ok & (ssw > 0), F.round(msb / msw, 6)).alias("f_stat"),
    )


@register(
    "quality_mann_kendall",
    # Mann-Kendall monotonic-trend test on each type's daily count series —
    # the SIGNIFICANCE companion to events_theil_sen_trend's slope.  The S
    # statistic is a pure integer pairwise sign sum over the
    # day-vocabulary-sized series (a per-type self-join of the daily
    # rollup, never of raw rows); the tie-corrected variance is exact
    # integer arithmetic scaled by 18, so Z forms from exact integers and
    # one sqrt.  NULL Z when the series is shorter than 2 days or the
    # variance is zero (all counts tied).
    """
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT a.event_type,
             CAST(SUM(CASE WHEN b.y > a.y THEN 1
                           WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND b.d > a.d
      GROUP BY 1
    ),
    nd AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM daily GROUP BY 1
    ),
    ties AS (
      SELECT event_type,
             CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie18
      FROM (SELECT event_type, y, CAST(COUNT(*) AS BIGINT) AS t
            FROM daily GROUP BY 1, 2)
      GROUP BY 1
    )
    SELECT nd.event_type, nd.n AS n_days,
           CAST(COALESCE(s.s_stat, 0) AS BIGINT) AS s_stat,
           CAST(nd.n * (nd.n - 1) * (2 * nd.n + 5)
                - COALESCE(ties.tie18, 0) AS BIGINT) AS var18,
           CASE WHEN nd.n >= 2
                 AND nd.n * (nd.n - 1) * (2 * nd.n + 5)
                     - COALESCE(ties.tie18, 0) > 0 THEN
             ROUND((COALESCE(s.s_stat, 0)
                    - CASE WHEN COALESCE(s.s_stat, 0) > 0 THEN 1
                           WHEN COALESCE(s.s_stat, 0) < 0 THEN -1 ELSE 0 END)
                   / sqrt((nd.n * (nd.n - 1) * (2 * nd.n + 5)
                           - COALESCE(ties.tie18, 0)) / 18.0), 6)
           END AS z
    FROM nd
    LEFT JOIN s ON nd.event_type = s.event_type
    LEFT JOIN ties ON nd.event_type = ties.event_type
    """,
)
def quality_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    daily = (
        e.groupBy("event_type", F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
        # daily feeds FOUR references (both S-statistic join arms, the
        # n count, the tie correction); each re-expanded the events scan
        # + aggregate.  The table is (event_type x day)-bounded:
        # materialize once (lazily), events passes 4 -> 1.
        .transform(shared)
    )
    a = daily.select("event_type", F.col("d").alias("_da"), F.col("y").alias("_ya"))
    b = daily.select("event_type", F.col("d").alias("_db"), F.col("y").alias("_yb"))
    s = (
        a.join(b, on="event_type")
        .filter(F.col("_db") > F.col("_da"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("_yb") > F.col("_ya"), 1)
                .when(F.col("_yb") < F.col("_ya"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_stat")
        )
    )
    nd = daily.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n"))
    ties = (
        daily.groupBy("event_type", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5))
            .cast("long")
            .alias("tie18")
        )
    )
    var18 = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
        - F.coalesce(F.col("tie18"), F.lit(0))
    ).cast("long")
    sgn = (
        F.when(F.col("s_stat") > 0, 1).when(F.col("s_stat") < 0, -1).otherwise(0)
    )
    return (
        nd.join(s, on="event_type", how="left")
        .join(ties, on="event_type", how="left")
        .withColumn("s_stat", F.coalesce(F.col("s_stat"), F.lit(0)).cast("long"))
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            "s_stat",
            var18.alias("var18"),
            F.when(
                (F.col("n") >= 2) & (var18 > 0),
                F.round(
                    (F.col("s_stat") - sgn) / F.sqrt(var18.cast("double") / 18.0), 6
                ),
            ).alias("z"),
        )
    )

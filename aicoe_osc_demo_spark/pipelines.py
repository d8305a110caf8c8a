"""End-to-end pipeline compositions mirroring the reference DAGs (SURVEY §3).

Each reference pipeline was N notebook pods exchanging state through S3
prefixes; here each is ONE lazy DataFrame DAG — Catalyst plans the whole
thing, stage boundaries replace pod boundaries, and intermediate
materialization becomes optional checkpoints.

- demo1 (§3.2): CSV/parquet → snakify → tables → LEFT JOIN CTAS → aggregate
  (ref: notebooks/demo1[depracated]/demo1-create-tables.ipynb,
  demo1-join-tables.ipynb).
- inference (§3.1): binary docs → extract → question fan-out → relevance,
  threshold, QA answers → ranked results table
  (ref: notebooks/demo2/inference.pipeline).  On a folder with at least
  one file per core and no two files of the same name, extraction,
  fan-out, scoring and ranking are ONE mapInPandas pass per document, and
  its rows go to the results table with no shuffle; otherwise the folder
  is extracted, repartitioned so every core works, and scored in a second
  pass, and the scored pairs are ranked relationally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cache import shared
from .functions.schema import snakify_columns
from .functions.text import (
    clean_paragraph,
    clean_text,
    get_pdf_name_right,
    year_in_question,
)
from .operators.curation import farm_zero_shift, find_answer_start_udf, negative_sample
from .operators.inference import (
    RESULT_GROUP,
    RESULT_TIEBREAK,
    extract_and_score,
    rank_answers,
    score_pairs,
)
from .operators.relational import dedup_keep_first, train_dev_split
from .operators.reshape import explode_paragraphs, nest_to_squad
from .sources.extraction import extract_text, select_documents
from .sources.files import write_table


def demo1_pipeline(
    spark: SparkSession,
    emissions_1: DataFrame,
    emissions_2: DataFrame,
    key: str = "isin",
    joined_table: str | None = None,
) -> DataFrame:
    """§3.2 — demo1: snakify both inputs, left-join on the key (the
    reference's SHOW COLUMNS projection surgery disappears — join(on=key)
    emits one key column), optionally CTAS the result."""
    t1 = snakify_columns(emissions_1)
    t2 = snakify_columns(emissions_2)
    joined = t2.join(t1, on=key, how="left")
    if joined_table:
        write_table(joined, joined_table)
    return joined


def text_curation_pipeline(
    spark: SparkSession,
    annotations: DataFrame,
    paragraphs: DataFrame,
    kpi_mapping: DataFrame,
    excluded_companies: list[str] | None = None,
    neg_pos_ratio: int = 1,
) -> DataFrame:
    """§3.3 step 2 — the TEXT curator
    (ref: /root/reference/src/components/preprocessing/text_curator.py:62-108)
    as one DataFrame DAG:

    P2 filter → F6 filename repair → F9 paragraph-list parse → U6 explode
    (with F18 page shift) → F1 clean → J2 broadcast KPI-question join (+F17
    year rewrite) → positives; J8 anti-join + J11 hash-ranked negative
    sampling → negatives; A1 dedup.

    ``annotations`` columns: company, source_file, kpi_id, year, data_type,
    source_page (array<int>, 1-based), relevant_paragraphs (raw string).
    ``paragraphs``: (pdf_name, page, paragraph) from extraction (0-based).
    ``kpi_mapping``: (kpi_id, question, add_year).
    Output: (question, context, label) with label 1/0.
    """
    excluded = excluded_companies or []
    ann = annotations.filter(
        (F.col("data_type") == "TEXT")
        & F.col("relevant_paragraphs").isNotNull()
        & ~F.col("company").isin(excluded)
    )
    ann = ann.withColumn("source_file", get_pdf_name_right(F.col("source_file")))
    # annotation pages are 1-based, extraction 0-based (F18 — exact)
    ann = ann.withColumn(
        "source_page", F.transform(F.col("source_page"), lambda p: p.cast("int") - 1)
    )
    ann = ann.withColumn("relevant_paragraphs", clean_paragraph(F.col("relevant_paragraphs")))
    ann = ann.filter(F.col("relevant_paragraphs").isNotNull())
    exploded = explode_paragraphs(ann, "source_page", "relevant_paragraphs")
    exploded = exploded.withColumn("context", clean_text(F.col("relevant_paragraph")))

    with_q = exploded.join(F.broadcast(kpi_mapping), on="kpi_id").withColumn(
        "question",
        year_in_question(F.col("question"), F.col("year"), F.col("add_year")),
    ).filter(F.col("question").isNotNull())

    # positives feeds the pos-page anti-join, the dataset union AND the
    # negative sampler's group list; as Column trees each reference
    # re-expands the annotation chain (documents + KPI scans).  The table
    # is annotation-scale (bounded) — materialize once, lazily (r13).
    positives = with_q.select(
        "source_file", F.col("source_page").alias("page"), "question", "context"
    ).withColumn("label", F.lit(1)).transform(shared)

    # negative pool: extracted paragraphs not on any positive (pdf, page) — J8
    pos_pages = positives.select(
        F.col("source_file").alias("pdf_name"), F.col("page")
    ).distinct()
    pool = (
        paragraphs.join(pos_pages, on=["pdf_name", "page"], how="left_anti")
        .withColumn("context", clean_text(F.col("paragraph")))
        .withColumn("pool_id", F.concat_ws(":", "pdf_name", "page", "context"))
    )
    k = neg_pos_ratio
    negatives = (
        negative_sample(
            positives.select("question").distinct(),
            pool.select("pool_id", "context"),
            group_cols=["question"],
            pool_id="pool_id",
            k=k,
            salt="textneg",
        )
        .select("question", "context")
        .withColumn("label", F.lit(0))
    )

    dataset = positives.select("question", "context", "label").unionByName(negatives)
    # A1 — dedup on (question, context), deterministic winner (keep positive:
    # rank by negated label so label=1 sorts first)
    dataset = dataset.withColumn("neg_label", F.lit(1) - F.col("label"))
    return dedup_keep_first(
        dataset, subset=["question", "context"], order_by=["neg_label"]
    ).select("question", "context", F.when(F.col("label") == 1, 1).otherwise(0).alias("label"))


def squad_curation_pipeline(
    spark: SparkSession,
    examples: DataFrame,
    train_frac: float = 0.8,
) -> tuple[DataFrame, DataFrame]:
    """§3.3 step 5 — the KPI/SQuAD curator tail
    (ref: kpi_inference_curator.py:353-420, base_kpi_inference_curator.py:60-186):
    J6 answer-offset search → FARM 0-shift → answerable filter → U8 SQuAD
    nesting → O3 paragraph-granularity hash split.

    ``examples``: (source_file, context, question, example_id, answer).
    Returns (train_squad, dev_squad) nested DataFrames.
    """
    with_offsets = examples.withColumn(
        "answer_start", find_answer_start_udf(F.col("answer"), F.col("context"))
    )
    shifted = farm_zero_shift(with_offsets, "context", "answer_start")
    answerable = shifted.filter(F.size("answer_start") > 0)
    # split at paragraph granularity: hash the context key, then nest
    train, dev = train_dev_split(answerable, F.col("context"), train_frac, salt="squad")
    return nest_to_squad(train), nest_to_squad(dev)


def table_curation_pipeline(
    spark: SparkSession,
    annotations: DataFrame,
    tables: DataFrame,
    neg_pos_ratio: int = 1,
) -> DataFrame:
    """§3.3 — the TABLE curator
    (ref: /root/reference/src/components/preprocessing/table_curator.py:128-191,229-277):
    filter TABLE annotations → repair filenames → candidate-prune table
    candidates to the annotated (pdf, page) → fuzzy-score table text against
    the answer → keep the argmax per annotation (J4) → hash-ranked negative
    tables (J11).

    ``annotations``: (company, source_file, source_page (1-based int),
    kpi_id, answer, data_type).  ``tables``: (pdf_name, page, table_index,
    cells array<array<string>>).
    Output: (source_file, kpi_id, answer, table_text, label).
    """
    from .operators.fuzzy import fuzzy_ratio_udf
    from .operators.relational import argmax_per_group
    from .operators.reshape import gather_table_text

    ann = (
        annotations.filter(F.col("data_type") == "TABLE")
        .withColumn("source_file", get_pdf_name_right(F.col("source_file")))
        .withColumn("page", F.col("source_page").cast("int") - 1)
    )
    tbl = gather_table_text(tables, "cells").withColumnRenamed("pdf_name", "source_file")
    cand = ann.join(tbl, on=["source_file", "page"]).withColumn(
        "match_score", fuzzy_ratio_udf(F.col("table_text"), F.col("answer"))
    )
    positives = argmax_per_group(
        cand, ["source_file", "kpi_id", "answer"], F.col("match_score"), tiebreak=["table_index"]
    ).select("source_file", "kpi_id", "answer", "table_text", F.lit(1).alias("label"))

    pos_tables = positives.select("source_file", "table_text").distinct()
    pool = (
        tbl.join(pos_tables, on=["source_file", "table_text"], how="left_anti")
        .withColumn("pool_id", F.concat_ws(":", "source_file", "page", "table_index"))
    )
    negatives = (
        negative_sample(
            positives.select("source_file", "kpi_id", "answer").distinct(),
            pool.select("pool_id", "table_text"),
            group_cols=["source_file", "kpi_id", "answer"],
            pool_id="pool_id",
            k=neg_pos_ratio,
            salt="tabneg",
        )
        .select("source_file", "kpi_id", "answer", "table_text")
        .withColumn("label", F.lit(0))
    )
    return positives.unionByName(negatives)


def nq_curation_pipeline(
    spark: SparkSession,
    nq: DataFrame,
    text_section: tuple[int, int] = (0, 60),
    min_tokens: int = 10,
) -> DataFrame:
    """§3.3 — the NQ curator
    (ref: /root/reference/src/components/preprocessing/nq_extractor.py:51-135,
    nq_curator.py:153-196, src/components/utils/nq_utils.py): drop
    table-containing documents (F14), strip HTML (F13), slice the answer
    section (F12), length-gate (P6), then balance: keep only questions with
    both labels present (A3 HAVING) after pairing each positive with a
    hash-shuffled negative from another question (J11-NQ).

    ``nq``: (question, doc, label) line-JSON rows (label 1 = has long
    answer).  Output: (question, context, label) balanced.
    """
    from .functions.text import contains_table, get_text_section, is_not_short, remove_html_tags
    from .operators.relational import dedup_keep_first

    cleaned = (
        nq.filter(~contains_table(F.col("doc")))
        .withColumn("context", remove_html_tags(F.col("doc")))
        .withColumn("context", get_text_section(F.col("context"), *text_section))
        .filter(is_not_short(F.col("context"), min_tokens))
    )
    positives = cleaned.filter(F.col("label") == 1).select("question", "context").withColumn(
        "label", F.lit(1)
    )
    # negatives: re-key contexts to a DIFFERENT question, hash-shuffled
    pool = cleaned.select(F.col("question").alias("src_q"), "context")
    negatives = (
        negative_sample(
            positives.select("question").distinct(),
            pool,
            group_cols=["question"],
            pool_id="context",
            k=1,
            salt="nqneg",
        )
        .filter(F.col("src_q") != F.col("question"))
        .select("question", "context")
        .withColumn("label", F.lit(0))
    )
    data = positives.unionByName(negatives)
    # A3 — keep question groups containing BOTH labels
    both = (
        data.groupBy("question")
        .agg(F.countDistinct("label").alias("nl"))
        .filter(F.col("nl") == 2)
        .select("question")
    )
    balanced = data.join(F.broadcast(both), on="question", how="left_semi")
    return dedup_keep_first(balanced, subset=["question", "context"], order_by=["label"])


# Dispatch registries — the Spark mirror of the reference's
# NAME_CLASS_MAPPING extractor dispatch (extractor.py:8-67) and Curator
# dispatch (curator.py:13-57): callers select stages by name.
CURATORS = {
    "text": text_curation_pipeline,
    "table": table_curation_pipeline,
    "squad": squad_curation_pipeline,
    "nq": nq_curation_pipeline,
}


def inference_pipeline(
    spark: SparkSession,
    pdf_dir: str,
    questions: DataFrame,
    processed: DataFrame | None = None,
    relevance_threshold: float = 0.5,
    top_k: int = 4,
    results_table: str | None = None,
    model: str = "stub",
) -> DataFrame:
    """§3.1 — the full PDF→results-table DAG as one lazy plan:
    binaryFile scan → extract (S1) → question fan-out (J3) → relevance
    (M1), threshold, QA (M2) → no-answer boost (F19) → top-k (W1).  The
    reference ran this as 4 Kubeflow pods over 29.3 h for 144 PDFs on one
    node; here every stage parallelizes per document and building the plan
    starts no Spark job.

    A folder with at least ``defaultParallelism`` files, no two of them
    with the same name, runs S1 through W1 as one Python stage
    (``extract_and_score``): one task per document batch, each document
    ranked on its own as the reference ranks each PDF, so the plan is scan
    → ledger anti-join → Python stage → write, with no shuffle.  Otherwise
    the paragraphs are spread over ``defaultParallelism`` partitions
    before they fan out over the broadcast questions, so every core
    scores; the pairs are scored with ``score_pairs`` and ranked
    relationally (``rank_answers``), because a (pdf_name, kpi_id) group
    may span documents.  Both paths rank by ``RESULT_GROUP``,
    ``RESULT_TIEBREAK`` and ``NO_ANS_BOOST`` and return the same rows.
    ``model`` is the scoring backend spec ("stub" or a checkpoint path),
    resolved once per worker."""
    docs, narrow, unique_names = select_documents(spark, pdf_dir, processed=processed)
    if narrow or not unique_names:
        paragraphs = extract_text(docs).repartition(spark.sparkContext.defaultParallelism)
        pairs = paragraphs.withColumnRenamed("paragraph", "text").crossJoin(
            F.broadcast(questions)
        ).select("pdf_name", "page", "kpi_id", "question", "text")
        answered = score_pairs(pairs, model=model, threshold=relevance_threshold, qa=True)
        ranked = rank_answers(
            answered, group_cols=RESULT_GROUP, top_k=top_k, tiebreak=RESULT_TIEBREAK
        )
    else:
        ranked = extract_and_score(
            docs, questions, threshold=relevance_threshold, top_k=top_k, model=model
        )
    # rounded in Spark: Python's round() rounds halves to even, Spark's up
    results = ranked.select(
        "pdf_name", "kpi_id", "question", "page", "final_answer", F.round("score", 6).alias("score")
    )
    if results_table:
        write_table(results, results_table, fmt="orc")
    return results

"""The inference DAG (pipelines.inference_pipeline): both of its branches
return exactly what the two-stage composition returns, the build starts no
Spark job, a folder with at least one file per core runs extraction and
scoring as one Python stage, a narrower one as two, and the width gate
repartitions only folders with fewer files than cores."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import duckdb
import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F

from aicoe_osc_demo_spark.operators.inference import (
    _extract_and_score_batches,
    qa_pipeline,
    relevance_pipeline,
)
from aicoe_osc_demo_spark.pipelines import inference_pipeline
from aicoe_osc_demo_spark.sources.extraction import run_folder

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from conftest import SF_DIR  # noqa: E402
from test_pdf_extraction import _pdf_bytes  # noqa: E402
from tools.check_correctness import compare  # noqa: E402

TOP_K = 2


def _write_reports(root: Path, n_docs: int) -> str:
    """``n_docs`` utf-8 reports (pages on form-feed, paragraphs on blank
    lines) whose paragraph lengths spread the stub scores over [0, 1)."""
    root.mkdir()
    for d in range(n_docs):
        pages = []
        for p in range(2):
            paras = [
                f"report {d} page {p} paragraph {i} on emissions "
                + "scope disclosure " * ((7 * d + 3 * p + i) % 9)
                for i in range(3)
            ]
            pages.append("\n\n".join(paras))
        (root / f"r{d:02d}.pdf").write_text("\f".join(pages))
    return str(root)


def _questions(spark):
    return spark.createDataFrame(
        [("k1", "What is the climate exposure?"), ("k2", "What is scope one?"),
         ("k3", "Net zero target year?")],
        ["kpi_id", "question"],
    )


def _two_stage(spark, pdf_dir, questions, threshold):
    """The pre-fusion composition: relevance stage, then QA stage."""
    paragraphs = run_folder(spark, pdf_dir).withColumnRenamed("paragraph", "text")
    relevant = relevance_pipeline(paragraphs, questions, threshold=threshold)
    ranked = qa_pipeline(
        relevant.select("pdf_name", "page", "kpi_id", "question", "text"),
        group_cols=["pdf_name", "kpi_id"],
        top_k=TOP_K,
        tiebreak=["page", "text"],
    )
    return ranked.select(
        "pdf_name", "kpi_id", "question", "page", "final_answer", F.round("score", 6).alias("score")
    )


def _executed_plan(df) -> str:
    """The plan the last action on ``df`` executed (the final adaptive
    plan, not its initial one)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return plan.treeString()


def _python_nodes(df) -> int:
    return _executed_plan(df).count("MapInPandas")


@pytest.mark.parametrize("threshold", [0.0, 0.5, 2.0])
@pytest.mark.parametrize("n_docs", [1, 3, 5])
def test_fused_scorer_matches_two_stage(spark, tmp_path, n_docs, threshold):
    # on local[4], 1 and 3 docs take the narrow (extract, repartition,
    # score) branch and 5 docs the one-stage branch; threshold 2.0 keeps no
    # pair, so every batch reaches QA empty
    pdf_dir = _write_reports(tmp_path / "reports", n_docs)
    questions = _questions(spark)
    fused = inference_pipeline(
        spark, pdf_dir, questions, relevance_threshold=threshold, top_k=TOP_K
    ).collect()
    staged = _two_stage(spark, pdf_dir, questions, threshold).collect()
    assert sorted(map(tuple, fused)) == sorted(map(tuple, staged))
    if threshold == 2.0:
        assert fused == []
    else:
        assert len({r.final_answer for r in fused}) > 1


@pytest.mark.parametrize(
    "name",
    ["ml_relevance_inference", "ml_qa_inference_topk", "ml_no_answer_aggregate",
     "llm_retrieve_rerank"],
)
def test_scoring_entries_match_oracle(spark, name):
    from aicoe_osc_demo_spark.plans import ORACLE, QUERIES

    con = duckdb.connect()
    for t in ("part", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    got = QUERIES[name](spark, SF_DIR).toPandas()
    assert len(got) > 0
    assert compare(got, con.execute(ORACLE[name]).fetchdf()) is None


def test_build_starts_no_job_and_plan_has_two_python_stages(spark, tmp_path):
    pdf_dir = _write_reports(tmp_path / "reports", 3)
    ledger = spark.createDataFrame([("r00.pdf",), ("r00.pdf",)], ["pdf_name"])
    sc = spark.sparkContext
    group = "inference-dag-build"
    sc.setJobGroup(group, group)
    try:
        out = inference_pipeline(spark, pdf_dir, _questions(spark), processed=ledger,
                                 relevance_threshold=0.0, top_k=TOP_K)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        rows = out.collect()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert {r.pdf_name for r in rows} == {"r01.pdf", "r02.pdf"}
    # a narrow folder: extraction, then the scorer
    assert _python_nodes(out) == 2


def test_build_starts_no_job_wide_folder_has_one_python_stage(spark, tmp_path):
    width = spark.sparkContext.defaultParallelism
    pdf_dir = _write_reports(tmp_path / "reports", width)
    ledger = spark.createDataFrame([("r00.pdf",), ("r00.pdf",)], ["pdf_name"])
    sc = spark.sparkContext
    group = "inference-dag-build-wide"
    sc.setJobGroup(group, group)
    try:
        out = inference_pipeline(spark, pdf_dir, _questions(spark), processed=ledger,
                                 relevance_threshold=0.0, top_k=TOP_K)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        rows = out.collect()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert {r.pdf_name for r in rows} == {f"r{d:02d}.pdf" for d in range(1, width)}
    # extraction, fan-out and scoring in one stage; no join fans out pairs
    assert _python_nodes(out) == 1
    assert "BroadcastNestedLoopJoin" not in _executed_plan(out)


def test_one_stage_scorer_chunks_at_max_records_per_batch(spark, tmp_path):
    width = spark.sparkContext.defaultParallelism
    pdf_dir = _write_reports(tmp_path / "reports", width)
    questions = _questions(spark)
    want = sorted(map(tuple, inference_pipeline(
        spark, pdf_dir, questions, relevance_threshold=0.0, top_k=TOP_K).collect()))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        got = inference_pipeline(
            spark, pdf_dir, questions, relevance_threshold=0.0, top_k=TOP_K).collect()
        max_rows = int(spark.conf.get(key))
    finally:
        spark.conf.set(key, old)
    assert sorted(map(tuple, got)) == want
    # the stage body over one document: 6 paragraphs x 3 questions
    doc = spark.read.format("binaryFile").load(f"{pdf_dir}/r00.pdf").toPandas()
    doc["questions"] = [[r.asDict() for r in questions.collect()]]
    chunks = list(_extract_and_score_batches(
        iter([doc]), model="stub", min_len=30, threshold=0.0, max_rows=max_rows))
    assert len(chunks) > 1
    assert all(len(c) <= max_rows for c in chunks)
    assert sum(len(c) for c in chunks) == 18


def test_one_stage_scorer_on_real_pdf_files(spark, tmp_path):
    width = spark.sparkContext.defaultParallelism
    pdf_dir = tmp_path / "reports"
    pdf_dir.mkdir()
    for d in range(width):
        (pdf_dir / f"p{d:02d}.pdf").write_bytes(_pdf_bytes(compress=d % 2 == 1))
    questions = _questions(spark)
    fused = inference_pipeline(
        spark, str(pdf_dir), questions, relevance_threshold=0.0, top_k=TOP_K)
    rows = fused.collect()
    assert _python_nodes(fused) == 1
    staged = _two_stage(spark, str(pdf_dir), questions, 0.0).collect()
    assert len(rows) == width * 3 * TOP_K
    assert sorted(map(tuple, rows)) == sorted(map(tuple, staged))


@pytest.mark.parametrize("branch", ["narrow", "wide"])
def test_checkpoint_model_reaches_the_scorer(spark, tmp_path, branch):
    if importlib.util.find_spec("transformers") is not None:
        pytest.skip("transformers installed: the checkpoint would load")
    n_docs = 1 if branch == "narrow" else spark.sparkContext.defaultParallelism
    pdf_dir = _write_reports(tmp_path / "reports", n_docs)
    out = inference_pipeline(
        spark, pdf_dir, _questions(spark), model=str(tmp_path / "ckpt"))
    with pytest.raises(PythonException, match="cannot load checkpoint"):
        out.collect()


def test_width_gate_one_file_spreads_to_default_parallelism(spark, tmp_path):
    pdf_dir = _write_reports(tmp_path / "reports", 1)
    width = spark.sparkContext.defaultParallelism
    assert run_folder(spark, pdf_dir).rdd.getNumPartitions() == width
    out = inference_pipeline(spark, pdf_dir, _questions(spark), relevance_threshold=0.0)
    out.collect()
    assert f"RoundRobinPartitioning({width})" in out._jdf.queryExecution().executedPlan().toString()


def test_width_gate_wide_folder_adds_no_exchange(spark, tmp_path):
    width = spark.sparkContext.defaultParallelism
    pdf_dir = _write_reports(tmp_path / "reports", width)
    assert run_folder(spark, pdf_dir).rdd.getNumPartitions() == width
    out = inference_pipeline(spark, pdf_dir, _questions(spark), relevance_threshold=0.0)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the only exchanges are the top-k window's hash shuffle and the
    # question-list aggregate's gather to one partition (inside its scalar
    # subquery); nothing round-robins the extracted paragraphs
    assert "RoundRobinPartitioning" not in plan

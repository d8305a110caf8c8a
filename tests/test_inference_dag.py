"""The inference DAG (pipelines.inference_pipeline): both of its branches
return exactly what the two-stage composition returns, the build starts no
Spark job, a folder with at least one file per core runs extraction,
scoring and ranking as one Python stage with no shuffle after it, a
narrower one (or one whose file names repeat) ranks relationally, the
pandas ranker keeps the rows Spark's keeps, and the width gate
repartitions only folders with fewer files than cores."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import duckdb
import pandas as pd
import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F

from aicoe_osc_demo_spark.operators import inference
from aicoe_osc_demo_spark.operators.inference import (
    _extract_and_score_batches,
    qa_pipeline,
    rank_answers,
    rank_frame,
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


def _document_side(df) -> list[str]:
    """One line per node the documents flow through in the plan the last
    action on ``df`` executed: adaptive query stages unwrapped, without
    subqueries (the question list) and without the build side of
    broadcasts (the ledger's one row per document)."""
    nodes, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif cls in ("BroadcastQueryStageExec", "BroadcastExchangeExec"):
            continue
        elif cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        else:
            nodes.append(node.simpleString(100))
            children = node.children()
            todo.extend(children.apply(i) for i in range(children.size()))
    return nodes


def _assert_no_shuffle_after_scoring(df):
    """One Python stage, and nothing on the document side shuffles, sorts
    or windows: the ranking happened inside that stage."""
    nodes = _document_side(df)
    assert sum(n.startswith("MapInPandas") for n in nodes) == 1
    assert not [n for n in nodes if "hashpartitioning" in n]
    assert not [n for n in nodes if n.split(" ")[0] in ("Sort", "Window", "WindowGroupLimit")]


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
    # extraction, fan-out, scoring and ranking in one stage; no join fans
    # out pairs
    assert _python_nodes(out) == 1
    assert "BroadcastNestedLoopJoin" not in _executed_plan(out)
    _assert_no_shuffle_after_scoring(out)


def test_one_stage_scorer_chunks_at_max_records_per_batch(spark, tmp_path, monkeypatch):
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

    # the stage body over one document (6 paragraphs x 3 questions), with a
    # spy on the scorer that records what each call returns
    doc = spark.read.format("binaryFile").load(f"{pdf_dir}/r00.pdf").toPandas()
    doc["questions"] = [[r.asDict() for r in questions.collect()]]
    scored = []
    score_frame = inference._score_frame

    def spy(*args, **kwargs):
        scored.append(score_frame(*args, **kwargs))
        return scored[-1]

    monkeypatch.setattr(inference, "_score_frame", spy)

    def ranked(rows):
        scored.clear()
        out = pd.concat(list(_extract_and_score_batches(
            iter([doc]), model="stub", min_len=30, threshold=0.0, max_rows=rows,
            top_k=TOP_K)))
        return sorted(out.itertuples(index=False, name=None)), list(scored)

    whole, whole_chunks = ranked(0)
    chunked, chunks = ranked(max_rows)
    assert [len(c) for c in whole_chunks] == [18]
    assert len(chunks) > 1
    assert all(len(c) <= max_rows for c in chunks)
    assert sum(len(c) for c in chunks) == 18
    assert chunked == whole
    assert len(whole) == 3 * TOP_K
    # for some question, the document's top answers were scored in
    # different chunks, so the running top-k had to merge them
    spread = []
    for kpi in ("k1", "k2", "k3"):
        rows = [(-r.score, r.page, r.text, i) for i, c in enumerate(chunks)
                for r in c.itertuples() if r.kpi_id == kpi]
        spread.append(len({i for *_, i in sorted(rows)[:TOP_K]}))
    assert max(spread) > 1


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
    # the only exchange is the question-list aggregate's gather to one
    # partition, inside its scalar subquery; nothing round-robins the
    # documents, and the ranking needs no hash shuffle
    assert "RoundRobinPartitioning" not in plan
    _assert_no_shuffle_after_scoring(out)


def test_repeated_file_names_rank_across_documents(spark, tmp_path):
    # a glob over two folders that both hold r00.pdf: ranking per document
    # would keep TOP_K rows of each r00.pdf per question, so the pipeline
    # takes the staged path of a narrow folder and ranks over both of them
    width = spark.sparkContext.defaultParallelism
    root = tmp_path / "folders"
    root.mkdir()
    _write_reports(root / "a", width)
    (root / "b").mkdir()
    (root / "b" / "r00.pdf").write_text((root / "a" / "r01.pdf").read_text())
    pdf_dir = f"{root}/*"
    scanned = spark.read.format("binaryFile").load(pdf_dir).inputFiles()
    names = sorted(f.rsplit("/", 1)[-1] for f in scanned)
    assert names == sorted([f"r{d:02d}.pdf" for d in range(width)] + ["r00.pdf"])
    questions = _questions(spark)
    out = inference_pipeline(spark, pdf_dir, questions, relevance_threshold=0.0, top_k=TOP_K)
    rows = out.collect()
    staged = _two_stage(spark, pdf_dir, questions, 0.0).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, staged))
    assert sum(r.pdf_name == "r00.pdf" and r.kpi_id == "k1" for r in rows) == TOP_K
    assert _python_nodes(out) == 2
    assert [n for n in _document_side(out) if n.startswith("Window")]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert f"RoundRobinPartitioning({width})" in plan


_ANSWERED_SCHEMA = (
    "pdf_name string, kpi_id string, question string, page int, text string, "
    "answer string, score double, no_ans_score double"
)
NAN = float("nan")


def _answered_rows() -> pd.DataFrame:
    rows = [
        # score ties broken by page, then by text; a duplicate row; one
        # answer that the boosted no-answer score beats
        ("a.pdf", "k1", "q1", 0, "alpha", "ans a", 0.9, 0.1),
        ("a.pdf", "k1", "q1", 1, "alpha", "ans a", 0.9, 0.1),
        ("a.pdf", "k1", "q1", 0, "beta", "ans b", 0.9, 0.95),
        ("a.pdf", "k1", "q1", 0, "alpha", "ans a", 0.9, 0.1),
        ("a.pdf", "k1", "q1", 2, "gamma", "ans g", 0.3, 0.2),
        ("a.pdf", "k1", "q1", 2, "delta", "ans d", 0.3, 0.3149),
        # non-ASCII texts on one score and page: code-point order
        *(("a.pdf", "k2", "q2", 3, t, t[:3], 0.5, 0.0)
          for t in ["zeta", "Zeta", "émission", "Ωmega", "\ufffd sign", "😀 face",
                    "ärger", "Émission"]),
        # a group smaller than any top_k, and one with a null key
        ("b.pdf", "k1", "q1", 0, "solo", "ans s", 0.7, 0.9),
        ("b.pdf", None, "q0", 0, "keyless", "ans k", 0.6, 0.1),
        ("b.pdf", None, "q0", 1, "keyless", "ans k", 0.6, 0.1),
        # NaN scores and NaN no-answer scores
        ("b.pdf", "k2", "q2", 0, "nan score", "ans n", NAN, 0.1),
        ("b.pdf", "k2", "q2", 0, "nan no-answer", "ans m", 0.5, NAN),
        ("b.pdf", "k2", "q2", 1, "both nan", "ans b", NAN, NAN),
        ("b.pdf", "k2", "q2", 2, "low", "ans l", 0.2, 0.25),
        ("b.pdf", "k2", "q2", 3, "lowest", "ans o", -0.4, 0.0),
    ]
    cols = [f.split()[0] for f in _ANSWERED_SCHEMA.split(", ")]
    return pd.DataFrame(rows, columns=cols)


def _through_arrow(spark, frame: pd.DataFrame):
    """``frame`` as Spark rows, crossing Arrow the way scored pairs leave a
    Python stage."""
    return spark.range(1, numPartitions=1).mapInPandas(
        lambda batches: (frame for _ in batches), schema=_ANSWERED_SCHEMA
    )


def _rows(frame: pd.DataFrame) -> list[tuple]:
    return sorted(
        (tuple(None if isinstance(v, float) and v != v else v for v in r)
         for r in frame.itertuples(index=False, name=None)),
        key=repr,
    )


@pytest.mark.parametrize("top_k", [1, 2, 10])
@pytest.mark.parametrize("empty", [False, True])
def test_pandas_ranker_matches_rank_answers(spark, top_k, empty):
    frame = _answered_rows()
    if empty:
        frame = frame.iloc[:0]
    want = rank_answers(
        _through_arrow(spark, frame), ["pdf_name", "kpi_id"], top_k, tiebreak=["page", "text"])
    got = rank_frame(frame, top_k)
    assert list(got.columns) == want.columns
    assert _rows(got) == sorted(map(tuple, want.collect()), key=repr)
    if not empty:
        firsts = got.groupby(["pdf_name", "kpi_id"], dropna=False).head(1)
        assert set(firsts["text"]) >= {"alpha", "Zeta", "solo", "nan no-answer"}
        assert "no_answer" in set(got["final_answer"])


def test_nan_leaves_a_python_stage_as_null(spark):
    # why rank_frame treats NaN as Spark treats null: Spark never sees the
    # NaN the scorer returned
    counts = _through_arrow(spark, _answered_rows()).agg(
        F.sum(F.isnan("score").cast("int")), F.sum(F.isnull("score").cast("int")),
        F.sum(F.isnull("no_ans_score").cast("int")),
    ).first()
    assert tuple(counts) == (0, 2, 2)

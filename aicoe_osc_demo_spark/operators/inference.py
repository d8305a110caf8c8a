"""Model-inference stages (M1-M4 of SURVEY.md §2.9) as mapInPandas stages.

Reference behavior: FARM Inferencer loaded once per process, fed chunked
dicts of (question, paragraph) pairs, GPU batch 16
(ref: /root/reference/src/models/relevance_infer.py:54-60,95-143 and
text_kpi_infer.py:46-68,180-232).  The Spark shape:

- scoring = a ``mapInPandas`` stage with a per-executor model singleton
  (loaded lazily on first batch, cached in the worker process — the FARM
  ``num_processes`` pool and 1000-dict chunking both disappear: Arrow batch
  size is the chunk, executor cores are the pool).  One pass scores
  relevance (M1), QA (M2), or both: relevance, the threshold filter inside
  the batch, then QA on the rows that survive.  ``_score_frame`` is that
  per-batch body, shared by the two stages that run it:
  - ``score_pairs`` over (question, text) pairs that a plan has already
    fanned out (crossJoin(broadcast(questions)), J3); ``stub_relevance_scores``
    and ``stub_qa_answers`` are its two one-model forms;
  - ``extract_and_score`` over raw documents: extraction (S1), the question
    fan-out in pandas, both models, the no-answer boost (F19) and the
    top-k (W1) in ONE Python pass per document, so neither paragraphs nor
    scored pairs cross a Python boundary, and what leaves the task is
    already the results rows.  Every Python task pays a fixed worker-side
    start-up cost, so fewer Python stages is fewer tasks paying it.
- F19 + W1 have two forms that return the same rows: ``rank_answers``
  (relational: a window over a hash shuffle on the group keys) for pairs
  spread over partitions, as ``score_pairs`` and ``qa_pipeline`` leave
  them; ``rank_frame`` (pandas) for a frame that holds whole groups, as
  one document's pairs do inside ``extract_and_score``.  The no-answer
  aggregation (A2) stays relational.

Transformer weights are not available in this container, so the default
scorer is a DETERMINISTIC STUB — a pure arithmetic function of the input
lengths.  It exercises the exact production dataflow (schema, batching,
singleton lifecycle) while making every downstream stage oracle-checkable in
SQL.  The REAL loading path exists too: pass ``model="/path/to/checkpoint"``
to any scoring stage/pipeline and the executor-local ``_get_model`` loads a
HuggingFace checkpoint (tokenizer + task head) through
``load_hf_checkpoint`` — the Spark analogue of FARM's
``Inferencer.load(model_dir)`` (relevance_infer.py:54-60) — caching one
instance per worker process, with the stub only as the named ``"stub"``
spec, mirroring how ``sources/extraction.py`` treats pdfminer.
"""

from __future__ import annotations

import functools
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StringType, StructField, StructType

from ..sources.extraction import _doc_paragraphs
from .relational import top_k_per_group

# Per-executor model cache (S12): populated lazily inside the worker, reused
# across Arrow batches — the Spark analogue of the reference's per-process
# FARM Inferencer (relevance_infer.py:54-60).
_MODEL_CACHE: dict[str, object] = {}


class _StubModel:
    """Deterministic stand-in for the FARM classifier/QA model.

    relevance score  = ((31*len(text) + 17*len(question)) % 1000) / 1000
    no-answer score  = ((13*len(text)) % 1000) / 1000
    answer span      = first 8 whitespace tokens of the paragraph
    """

    def predict_relevance(self, question: pd.Series, text: pd.Series) -> pd.Series:
        return ((31 * text.str.len() + 17 * question.str.len()) % 1000) / 1000.0

    def predict_qa(self, question: pd.Series, text: pd.Series) -> pd.DataFrame:
        score = ((31 * text.str.len() + 17 * question.str.len()) % 1000) / 1000.0
        no_ans = ((13 * text.str.len()) % 1000) / 1000.0
        answer = text.str.split(" ").str[:8].str.join(" ")
        return pd.DataFrame({"answer": answer, "score": score, "no_ans_score": no_ans})


class ModelLoadError(RuntimeError):
    """A checkpoint path was given but no runtime can load it."""


class HFCheckpointModel:
    """Real inference backend: a HuggingFace checkpoint directory loaded
    once per executor process (S12).  Exposes the same predict_relevance /
    predict_qa surface as the stub so every pipeline stage is
    backend-agnostic.

    Mirrors the reference's FARM usage: sequence-classification head for
    relevance (relevance_infer.py:95-143), QA head with a CLS no-answer
    score for span extraction (text_kpi_infer.py:180-232).  Minibatches of
    ``batch_size`` inside each Arrow batch replicate FARM's GPU batch 16.
    """

    def __init__(self, path: str, batch_size: int = 16):
        import torch  # noqa: F401 — required by transformers inference
        from transformers import (
            AutoConfig,
            AutoModelForQuestionAnswering,
            AutoModelForSequenceClassification,
            AutoTokenizer,
        )

        self.tokenizer = AutoTokenizer.from_pretrained(path)
        config = AutoConfig.from_pretrained(path)
        archs = config.architectures or []
        self.is_qa = any("QuestionAnswering" in a for a in archs)
        cls = AutoModelForQuestionAnswering if self.is_qa else AutoModelForSequenceClassification
        self.model = cls.from_pretrained(path)
        self.model.eval()
        self.batch_size = batch_size

    def _minibatches(self, question: pd.Series, text: pd.Series):
        for lo in range(0, len(question), self.batch_size):
            yield question.iloc[lo : lo + self.batch_size], text.iloc[lo : lo + self.batch_size]

    def predict_relevance(self, question: pd.Series, text: pd.Series) -> pd.Series:
        import torch

        out = []
        with torch.no_grad():
            for q, t in self._minibatches(question, text):
                enc = self.tokenizer(
                    list(q), list(t), truncation=True, padding=True, return_tensors="pt"
                )
                logits = self.model(**enc).logits
                # positive-class probability (FARM relevance label order)
                out.extend(torch.softmax(logits, dim=-1)[:, -1].tolist())
        return pd.Series(out, index=question.index)

    def predict_qa(self, question: pd.Series, text: pd.Series) -> pd.DataFrame:
        import torch

        answers, scores, no_ans = [], [], []
        with torch.no_grad():
            for q, t in self._minibatches(question, text):
                enc = self.tokenizer(
                    list(q), list(t), truncation=True, padding=True, return_tensors="pt"
                )
                res = self.model(**enc)
                start, end = res.start_logits, res.end_logits
                for i in range(start.shape[0]):
                    s_idx = int(start[i].argmax())
                    e_idx = int(end[i, s_idx:].argmax()) + s_idx
                    toks = enc["input_ids"][i][s_idx : e_idx + 1]
                    answers.append(self.tokenizer.decode(toks, skip_special_tokens=True))
                    scores.append(float(start[i, s_idx] + end[i, e_idx]))
                    # CLS-position logits = FARM's no-answer score
                    no_ans.append(float(start[i, 0] + end[i, 0]))
        idx = question.index
        return pd.DataFrame(
            {
                "answer": pd.Series(answers, index=idx),
                "score": pd.Series(scores, index=idx),
                "no_ans_score": pd.Series(no_ans, index=idx),
            }
        )


def load_hf_checkpoint(path: str):
    """The real model-loading path (try-import gated like S1's pdfminer):
    resolve a checkpoint directory into a scoring backend.  Raises
    ModelLoadError with the actionable cause when the transformer runtime is
    absent (this container) — callers fall back to ``"stub"`` explicitly,
    never silently."""
    try:
        import transformers  # noqa: F401
    except ImportError as exc:  # pragma: no cover - runtime-dependent
        raise ModelLoadError(
            f"cannot load checkpoint {path!r}: the 'transformers' runtime is "
            "not installed in this environment; install transformers+torch "
            "on the executors or use model='stub'"
        ) from exc
    return HFCheckpointModel(path)


def _get_model(spec: str = "stub"):
    """Executor-local model singleton (S12).  ``spec`` is either the literal
    ``"stub"`` (deterministic arithmetic scorer, oracle-checkable) or a
    checkpoint path loaded through ``load_hf_checkpoint`` — one instance per
    spec per worker process, reused across Arrow batches."""
    if spec not in _MODEL_CACHE:
        _MODEL_CACHE[spec] = _StubModel() if spec == "stub" else load_hf_checkpoint(spec)
    return _MODEL_CACHE[spec]


_QA_FIELDS = [
    StructField("answer", StringType()),
    StructField("score", DoubleType()),
    StructField("no_ans_score", DoubleType()),
]


def _score_frame(
    backend,
    pdf: pd.DataFrame,
    question_col: str,
    text_col: str,
    relevance: bool,
    threshold: float | None,
    qa: bool,
    out_cols: list[str],
) -> pd.DataFrame:
    """Score one batch of (question, text) pairs: relevance, the threshold,
    then QA on the rows that pass (see ``score_pairs``)."""
    if relevance:
        pdf["score"] = backend.predict_relevance(pdf[question_col], pdf[text_col])
        if threshold is not None:
            pdf = pdf[pdf["score"] >= threshold]
    if qa:
        preds = backend.predict_qa(pdf[question_col], pdf[text_col])
        pdf = pdf.assign(**{c: preds[c] for c in preds.columns})
    return pdf[out_cols]


def score_pairs(
    pairs: DataFrame,
    question_col: str = "question",
    text_col: str = "text",
    model: str = "stub",
    relevance: bool = True,
    threshold: float | None = None,
    qa: bool = False,
) -> DataFrame:
    """The scoring stage over pairs: a single mapInPandas over (question,
    text) rows, with the backend resolved once per worker by ``_get_model``
    ("stub" or a checkpoint path).

    - ``relevance``: M1 — add the relevance ``score``; with ``threshold``
      set, keep only rows scoring at least that, inside the batch.
    - ``qa``: M2 — add (answer, score, no_ans_score) for the rows that
      reach it; the QA score replaces the relevance score.

    Both together are the fused relevance → QA scorer: one Arrow round trip
    per batch, and QA only runs on the pairs that pass the threshold.
    """
    cols = pairs.columns
    # Build the output schema without mutating pairs.schema (StructType.add
    # mutates in place and DataFrame.schema is cached).
    added = _QA_FIELDS if qa else [StructField("score", DoubleType())]
    out_schema = StructType(
        [StructField(f.name, f.dataType, f.nullable) for f in pairs.schema.fields] + added
    )
    out_cols = cols + [f.name for f in added]

    def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        backend = _get_model(model)
        for pdf in batches:
            yield _score_frame(
                backend, pdf, question_col, text_col, relevance, threshold, qa, out_cols
            )

    return pairs.mapInPandas(score_batches, schema=out_schema)


_PAIR_FIELDS = ["pdf_name", "page", "kpi_id", "question", "text"]
# The results table's ranking: top-k per (pdf_name, kpi_id), ties broken by
# page, then text.  Both branches of pipelines.inference_pipeline rank by it.
RESULT_GROUP = ["pdf_name", "kpi_id"]
RESULT_TIEBREAK = ["page", "text"]
# Added to no_ans_score before it is compared with the answer's score (F19);
# rank_frame and rank_answers both read it.
NO_ANS_BOOST = -0.015
_RESULT_FIELDS = ["pdf_name", "kpi_id", "question", "page", "final_answer", "score"]


def rank_frame(answered: pd.DataFrame, top_k: int) -> pd.DataFrame:
    """``rank_answers(answered, RESULT_GROUP, top_k, NO_ANS_BOOST,
    RESULT_TIEBREAK)`` over a pandas frame that holds whole groups: the
    no-answer boost (F19), ``final_answer``, and the top-k rows per
    (pdf_name, kpi_id) (W1) by ``score`` desc, then page and text asc.

    It keeps the rows, with the values, that ``rank_answers`` keeps once
    the same frame has crossed Arrow into Spark.  That crossing turns a NaN
    into null, so a NaN here follows Spark's null rules, not its NaN rules:
    a NaN ``score`` sorts last, and a comparison with NaN is false, which
    keeps the answer.  Strings sort by code point, the order of the UTF-8
    bytes Spark compares.  Page and text must hold no nulls (Spark sorts
    them first, this sort last); extracted paragraphs never do.
    """
    pure = answered["no_ans_score"] + NO_ANS_BOOST
    ranked = answered.assign(
        pure_no_ans_score=pure,
        final_answer=answered["answer"].mask(pure > answered["score"], "no_answer"),
    ).sort_values(
        ["score", *RESULT_TIEBREAK],
        ascending=[False] + [True] * len(RESULT_TIEBREAK),
        na_position="last",
        kind="stable",
    )
    return ranked.groupby(RESULT_GROUP, dropna=False, sort=False).head(top_k)


def _extract_and_score_batches(
    batches: Iterator[pd.DataFrame],
    model: str,
    min_len: int,
    threshold: float | None,
    max_rows: int,
    top_k: int,
) -> Iterator[pd.DataFrame]:
    """Body of ``extract_and_score``: per document, decode its paragraphs,
    fan them out over the question list, score the pairs in chunks of at
    most ``max_rows`` (no limit when ``max_rows`` is not positive) and fold
    each chunk into the document's running top-k; yield the document's
    ranked rows.  Next to the document's unscored pairs, a task holds one
    scored chunk plus at most ``top_k`` rows per question."""
    backend = _get_model(model)
    out_cols = _PAIR_FIELDS + [f.name for f in _QA_FIELDS]
    for pdf in batches:
        for path, content, qs in zip(pdf["path"], pdf["content"], pdf["questions"]):
            paras = pd.DataFrame(
                list(_doc_paragraphs(path, content, min_len)),
                columns=["pdf_name", "page", "text"],
            )
            questions = pd.DataFrame(list(qs), columns=["kpi_id", "question"])
            pairs = paras.merge(questions, how="cross")[_PAIR_FIELDS]
            step = max_rows if max_rows > 0 else max(len(pairs), 1)
            kept = None
            for lo in range(0, len(pairs), step):
                chunk = pairs.iloc[lo : lo + step].copy()
                scored = _score_frame(
                    backend, chunk, "question", "text",
                    relevance=True, threshold=threshold, qa=True, out_cols=out_cols,
                )
                if kept is not None:
                    scored = pd.concat([kept, scored], ignore_index=True)
                kept = rank_frame(scored, top_k)
            if kept is not None and len(kept):
                yield kept[_RESULT_FIELDS]


def extract_and_score(
    docs: DataFrame,
    questions: DataFrame,
    min_paragraph_length: int = 30,
    threshold: float | None = None,
    top_k: int = 4,
    model: str = "stub",
) -> DataFrame:
    """S1 → J3 → M1 → M2 → F19 → W1 as ONE mapInPandas over the documents:
    each task decodes a document's paragraphs, fans them out over the
    question list in pandas, scores relevance, applies ``threshold``, runs
    QA on the survivors and ranks the answers with ``rank_frame``.  It
    returns the (pdf_name, kpi_id, question, page, final_answer, score)
    columns of ``rank_answers(score_pairs(..., threshold, qa=True),
    RESULT_GROUP, top_k, tiebreak=RESULT_TIEBREAK)`` over
    ``extract_text(docs)`` × ``questions``, with ``score`` unrounded.

    Ranking inside the task is exact only when every row of a (pdf_name,
    kpi_id) group is in it, i.e. when no two documents in ``docs`` share a
    ``pdf_name`` (``select_documents`` reports whether they do).  Then the
    plan needs no shuffle, sort or window after the Python stage.

    ``docs`` has (path, content) rows as from ``select_documents``;
    ``questions`` has (kpi_id, question).  The question list reaches every
    document row as one scalar-subquery value
    (``collect_list(struct(kpi_id, question))``), so the plan has no join
    and neither paragraphs nor scored pairs cross a Python boundary.  Pairs
    are scored in chunks of at most
    ``spark.sql.execution.arrow.maxRecordsPerBatch``, and the top-k is kept
    across chunks, which bounds a task's memory like the Arrow batches of
    ``score_pairs``.
    """
    qlist = questions.agg(F.collect_list(F.struct("kpi_id", "question"))).scalar()
    q_fields = [questions.schema[c] for c in ("kpi_id", "question")]
    out_schema = StructType(
        [
            StructField("pdf_name", StringType()),
            *(StructField(f.name, f.dataType, f.nullable) for f in q_fields),
            StructField("page", IntegerType()),
            StructField("final_answer", StringType()),
            StructField("score", DoubleType()),
        ]
    )
    max_rows = int(docs.sparkSession.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    body = functools.partial(
        _extract_and_score_batches,
        model=model,
        min_len=min_paragraph_length,
        threshold=threshold,
        max_rows=max_rows,
        top_k=top_k,
    )
    return docs.select("path", "content", qlist.alias("questions")).mapInPandas(
        body, schema=out_schema
    )


def stub_relevance_scores(
    pairs: DataFrame,
    question_col: str = "question",
    text_col: str = "text",
    model: str = "stub",
) -> DataFrame:
    """M1 scoring stage: (question, text) pairs → + score."""
    return score_pairs(pairs, question_col, text_col, model)


def stub_qa_answers(
    pairs: DataFrame,
    question_col: str = "question",
    text_col: str = "text",
    model: str = "stub",
) -> DataFrame:
    """M2 scoring stage: → + (answer, score, no_ans_score)."""
    return score_pairs(pairs, question_col, text_col, model, relevance=False, qa=True)


def infer_single_pair(spark, text: str, question: str, model: str = "stub") -> dict:
    """M3 — single-pair ad-hoc inference (ref: relevance_infer.py:240-246
    run_text / text_kpi_infer.py:70-82 infer_on_dict): the same scoring stage
    applied to a 1-row DataFrame, with the same ``model`` spec."""
    df = spark.createDataFrame([(question, text)], ["question", "text"])
    row = stub_qa_answers(df, model=model).first()
    return {
        "answer": row.answer,
        "score": row.score,
        "no_ans_score": row.no_ans_score,
    }


def infer_from_squad(squad: DataFrame, top_k: int = 4) -> DataFrame:
    """M4 — SQuAD-file inference (ref: text_kpi_infer.py:84-105): flatten the
    nested SQuAD structure back to (context, question, id) rows, run the QA
    stage, rank per question id."""
    flat = (
        squad.select(F.col("title"), F.explode("paragraphs").alias("p"))
        .select("title", F.col("p.context").alias("text"), F.explode("p.qas").alias("qa"))
        .select(
            "title",
            "text",
            F.col("qa.question").alias("question"),
            F.col("qa.id").alias("example_id"),
        )
    )
    answered = stub_qa_answers(flat)
    return top_k_per_group(
        answered, ["example_id"], F.col("score"), top_k, tiebreak=["text"]
    ).select("example_id", "question", "answer", F.round("score", 6).alias("score"))


def relevance_pipeline(
    paragraphs: DataFrame, questions: DataFrame, threshold: float = 0.5, model: str = "stub"
) -> DataFrame:
    """M1 end-to-end (ref: relevance_infer.py:95-143,196-231): cartesian
    fan-out of questions × paragraphs (question side broadcast — it is a
    KPI-dictionary-sized dimension), score, keep positives.

    The paragraph side is repartitioned to the cluster's parallelism before
    the Python scoring stage: a single parquet file otherwise yields one
    partition and the model stage runs on one core — the shuffle of (id,
    text) rows is orders of magnitude cheaper than serializing inference.
    """
    from .relational import ensure_parallelism

    pairs = ensure_parallelism(paragraphs).crossJoin(F.broadcast(questions))
    scored = stub_relevance_scores(pairs, model=model)
    return scored.filter(F.col("score") >= threshold)


def rank_answers(
    answered: DataFrame,
    group_cols: list[str],
    top_k: int = 4,
    no_ans_boost: float = NO_ANS_BOOST,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """The QA tail over (answer, score, no_ans_score) rows: apply the
    no-answer boost (F19), pick ``final_answer``, and keep the top-k answers
    per group (W1).  ``rank_frame`` is the same tail over one pandas frame
    that holds whole groups."""
    answered = answered.withColumn(
        "pure_no_ans_score", F.col("no_ans_score") + F.lit(no_ans_boost)
    ).withColumn(
        "final_answer",
        F.when(F.col("pure_no_ans_score") > F.col("score"), F.lit("no_answer")).otherwise(
            F.col("answer")
        ),
    )
    return top_k_per_group(
        answered, group_cols, F.col("score"), top_k, tiebreak=tiebreak or ["final_answer"]
    )


def qa_pipeline(
    relevant: DataFrame,
    group_cols: list[str],
    top_k: int = 4,
    no_ans_boost: float = NO_ANS_BOOST,
    tiebreak: list[str] | None = None,
    model: str = "stub",
) -> DataFrame:
    """M2 end-to-end (ref: text_kpi_infer.py:180-274): QA-score each
    (question, paragraph), then ``rank_answers``.  The per-group
    all-no-answer aggregate (A2) is ``plans.ml.ml_no_answer_aggregate``."""
    return rank_answers(
        stub_qa_answers(relevant, model=model), group_cols, top_k, no_ans_boost, tiebreak
    )

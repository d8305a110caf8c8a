"""Document-extraction stages (S1-S4 of SURVEY.md §2.1) over the binaryFile
source.

Reference semantics being re-expressed:

- S1 ``extract_pdf_by_page``: pdfminer per-page text, paragraphs split on
  blank lines, paragraphs with fewer than ``min_paragraph_length`` (30)
  alphabetic chars dropped
  (ref: /root/reference/src/components/preprocessing/pdf_text_extractor.py:54-117;
  threshold notebooks/demo2/settings.yaml:13).
- S2 ``select_documents`` / ``run_folder``: rglob *.pdf, optional semi-join
  against the annotation workbooks' source_file column, skip-already-processed
  (ref: pdf_text_extractor.py:129-191).
- S3 table-detector scan: per-page bbox inference at threshold 0.85
  (ref: pdf_table_extractor.py:149-213, config notebooks/demo2/config.py:46-52).
- S4 table-area extraction: per-bbox cell grid; the reference's
  multiprocessing.Pool disappears — Spark partitioning IS the pool
  (ref: pdf_table_extractor.py:97-147,215-260).

Decoder ladder for S1 (per executor, chosen at import time / by content):

1. **pdfminer.six** when importable — full-fidelity layout analysis.
2. **stdlib PDF reader** for genuine ``%PDF`` bytes — parses content
   streams (uncompressed or FlateDecode via zlib), extracts Tj/TJ/' text
   operators per BT..ET block.  Covers the simple text PDFs the test suite
   generates, so the non-stub path is exercised in CI even without
   pdfminer.
3. **utf-8 stub** for anything else — pages on form-feed; keeps plumbing
   tests hermetic.

The S3 table detector mirrors M1/M2's backend design: ``model="stub"``
(deterministic content-hash pseudo-detector, oracle-checkable) or a
TorchScript checkpoint path loaded once per executor through
``load_detector_checkpoint`` (try-import gated; fails loud without torch).
Tabula-style cell extraction (S4) remains a deterministic stub; the Spark
plumbing — binaryFile scan, mapInPandas batching, schema, candidate-pruned
joins — is the production shape.
"""

from __future__ import annotations

import hashlib
import re
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

try:  # real extractor if the container has it
    from pdfminer.high_level import extract_text as _pdfminer_extract  # type: ignore

    HAVE_PDFMINER = True
except Exception:  # pragma: no cover
    HAVE_PDFMINER = False

PARAGRAPH_SCHEMA = StructType(
    [
        StructField("pdf_name", StringType()),
        StructField("page", IntegerType()),
        StructField("paragraph", StringType()),
    ]
)

BBOX_SCHEMA = StructType(
    [
        StructField("pdf_name", StringType()),
        StructField("page", IntegerType()),
        StructField("table_index", IntegerType()),
        StructField("x0", DoubleType()),
        StructField("y0", DoubleType()),
        StructField("x1", DoubleType()),
        StructField("y1", DoubleType()),
        StructField("score", DoubleType()),
    ]
)

CELLS_SCHEMA = StructType(
    [
        StructField("pdf_name", StringType()),
        StructField("page", IntegerType()),
        StructField("table_index", IntegerType()),
        StructField("cells", ArrayType(ArrayType(StringType()))),
    ]
)


# PDF literal string: ( ... ) with \-escapes; text-showing operators Tj, ',
# and array form TJ
_PDF_STR = r"\((?:\\.|[^\\()])*\)"
_PDF_TEXT_OP = re.compile(rf"({_PDF_STR})\s*(?:Tj|')|\[((?:{_PDF_STR}|[^\]])*)\]\s*TJ")
_PDF_STR_RE = re.compile(_PDF_STR)
_PDF_STREAM_RE = re.compile(rb"<<(.*?)>>\s*stream\r?\n(.*?)\r?\nendstream", re.DOTALL)
_PDF_ESCAPES = {"n": "\n", "r": "\r", "t": "\t", "b": "\b", "f": "\f", "(": "(", ")": ")", "\\": "\\"}


def _pdf_unescape(lit: str) -> str:
    """Decode a PDF literal string body (between parens)."""
    out, i = [], 0
    while i < len(lit):
        ch = lit[i]
        if ch == "\\" and i + 1 < len(lit):
            nxt = lit[i + 1]
            if nxt in _PDF_ESCAPES:
                out.append(_PDF_ESCAPES[nxt])
                i += 2
                continue
            if nxt.isdigit():  # octal \ddd
                oct_digits = lit[i + 1 : i + 4]
                span = 1
                while span < 3 and span < len(oct_digits) and oct_digits[:span + 1].isdigit():
                    span += 1
                out.append(chr(int(lit[i + 1 : i + 1 + span], 8)))
                i += 1 + span
                continue
            i += 1  # line continuation / unknown escape: drop the backslash
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def _pdf_stream_text(ops: str) -> str:
    """Text of one content stream: each Tj/' emits a line; a TJ array's
    strings concatenate into one line.  Lines join with newline, so an empty
    ``() Tj`` produces the blank-line paragraph separator."""
    lines = []
    for m in _PDF_TEXT_OP.finditer(ops):
        if m.group(1) is not None:
            lines.append(_pdf_unescape(m.group(1)[1:-1]))
        else:
            parts = [_pdf_unescape(s[1:-1]) for s in _PDF_STR_RE.findall(m.group(2))]
            lines.append("".join(parts))
    return "\n".join(lines)


def _decode_pdf_stdlib(content: bytes) -> list[str]:
    """Minimal PDF text extraction (S1 fallback between pdfminer and the
    utf-8 stub): every content stream containing a BT..ET text block is one
    page, in object order; FlateDecode streams inflate through zlib.  Real
    simple text PDFs only — layout analysis is pdfminer's job."""
    pages = []
    for dict_part, raw in _PDF_STREAM_RE.findall(content):
        if b"FlateDecode" in dict_part:
            try:
                raw = zlib.decompress(raw)
            except zlib.error:
                continue
        ops = raw.decode("latin-1", errors="replace")
        if "BT" in ops and "ET" in ops:
            text = _pdf_stream_text(ops)
            if text:
                pages.append(text)
    return pages or [""]


def _decode_pages(content: bytes) -> list[str]:
    """S1 decode ladder: pdfminer → stdlib PDF reader (for %PDF bytes) →
    utf-8 stub (pages on form-feed)."""
    if HAVE_PDFMINER:  # pragma: no cover - not in this container
        return _pdfminer_extract(content).split("\f")
    if content.startswith(b"%PDF"):
        return _decode_pdf_stdlib(content)
    return content.decode("utf-8", errors="replace").split("\f")


def _alpha_len(s: str) -> int:
    return sum(1 for ch in s if ch.isalpha())


def _doc_paragraphs(path: str, content, min_len: int) -> Iterator[tuple[str, int, str]]:
    """S1 for one document: (pdf_name, page, paragraph) rows.  Paragraphs
    split on blank lines; those with fewer than ``min_len`` alphabetic
    characters are dropped — exactly the reference filter
    (pdf_text_extractor.py:72-77)."""
    name = path.rsplit("/", 1)[-1]
    for pno, page_text in enumerate(_decode_pages(bytes(content))):
        for para in page_text.split("\n\n"):
            para = para.strip()
            if _alpha_len(para) >= min_len:
                yield name, pno, para


def extract_text(
    binary_df: DataFrame, min_paragraph_length: int = 30
) -> DataFrame:
    """S1 — binary documents → long (pdf_name, page, paragraph) DataFrame,
    one ``_doc_paragraphs`` call per document."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [
                row
                for path, content in zip(pdf["path"], pdf["content"])
                for row in _doc_paragraphs(path, content, min_paragraph_length)
            ]
            yield pd.DataFrame(rows, columns=PARAGRAPH_SCHEMA.fieldNames())

    return binary_df.select("path", "content").mapInPandas(batches, schema=PARAGRAPH_SCHEMA)


class DetectorLoadError(RuntimeError):
    """A detector checkpoint path was given but no runtime can load it."""


class _StubDetector:
    """Deterministic content-hash pseudo-detector: same interface as the
    real backend (per-page candidate boxes with confidence), output a pure
    function of the page content so the stage is oracle-checkable."""

    def detect(self, name: str, page: int, payload: str) -> list[tuple]:
        digest = hashlib.md5(f"{name}|{page}|{payload}".encode()).digest()
        score = digest[0] / 255.0
        return [
            (
                digest[1] % 3,
                float(digest[2]),
                float(digest[3]),
                float(digest[2]) + 100.0,
                float(digest[3]) + 50.0,
                score,
            )
        ]


class TorchScriptDetector:
    """Real detector backend: a TorchScript detection module (the public
    export format for CascadeTabNet-class models,
    pdf_table_extractor.py:149-186 analogue) loaded once per executor.
    Module contract: takes a 1-D uint8 tensor of the page payload (a
    production deployment rasterizes the page first) and returns an (N, 6)
    tensor of (table_index, x0, y0, x1, y1, score) rows."""

    def __init__(self, path: str):
        import torch

        self.torch = torch
        self.model = torch.jit.load(path)
        self.model.eval()

    def detect(self, name: str, page: int, payload: str) -> list[tuple]:
        x = self.torch.frombuffer(bytearray(payload.encode()), dtype=self.torch.uint8)
        with self.torch.no_grad():
            boxes = self.model(x)
        return [
            (int(b[0]), float(b[1]), float(b[2]), float(b[3]), float(b[4]), float(b[5]))
            for b in boxes
        ]


def load_detector_checkpoint(path: str):
    """Real table-detector loading path (try-import gated like S1's
    pdfminer and M1's transformers): raises DetectorLoadError with the
    actionable cause when torch is absent — callers fall back to ``"stub"``
    explicitly, never silently."""
    try:
        import torch  # noqa: F401
    except ImportError as exc:  # pragma: no cover - runtime-dependent
        raise DetectorLoadError(
            f"cannot load detector {path!r}: the 'torch' runtime is not "
            "installed in this environment; install torch on the executors "
            "or use model='stub'"
        ) from exc
    return TorchScriptDetector(path)


_DETECTOR_CACHE: dict = {}


def _get_detector(spec: str = "stub"):
    """Executor-local detector singleton: ``"stub"`` or a TorchScript
    checkpoint path — one instance per spec per worker, reused across
    Arrow batches."""
    if spec not in _DETECTOR_CACHE:
        _DETECTOR_CACHE[spec] = _StubDetector() if spec == "stub" else load_detector_checkpoint(spec)
    return _DETECTOR_CACHE[spec]


def detect_tables(
    paragraphs: DataFrame, score_threshold: float = 0.85, model: str = "stub"
) -> DataFrame:
    """S3 — table-detector scan: per-page candidate boxes with confidence,
    thresholded at 0.85 (pdf_table_extractor.py analogue).  ``model`` is
    the backend spec resolved executor-side by ``_get_detector`` ("stub" or
    a TorchScript checkpoint path)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        backend = _get_detector(model)
        for pdf in it:
            rows: dict[str, list] = {k.name: [] for k in BBOX_SCHEMA.fields}
            for name, page, para in zip(pdf["pdf_name"], pdf["page"], pdf["paragraph"]):
                for idx, x0, y0, x1, y1, score in backend.detect(name, page, para):
                    rows["pdf_name"].append(name)
                    rows["page"].append(page)
                    rows["table_index"].append(idx)
                    rows["x0"].append(x0)
                    rows["y0"].append(y0)
                    rows["x1"].append(x1)
                    rows["y1"].append(y1)
                    rows["score"].append(score)
            yield pd.DataFrame(rows)

    boxes = (
        paragraphs.groupBy("pdf_name", "page")
        .agg(F.concat_ws("\n\n", F.collect_list("paragraph")).alias("paragraph"))
        .mapInPandas(batches, schema=BBOX_SCHEMA)
    )
    return boxes.filter(F.col("score") >= score_threshold)


def extract_table_cells(paragraphs: DataFrame, bboxes: DataFrame) -> DataFrame:
    """S4 — per-bbox table-area extraction (tabula stub): the candidate join
    on (pdf_name, page) prunes the work; the cell grid is a deterministic
    2-column reshape of the page tokens.  The reference's
    multiprocessing.Pool(cpu_count()-1) is replaced by partitioning."""
    pages = paragraphs.groupBy("pdf_name", "page").agg(
        F.concat_ws(" ", F.collect_list("paragraph")).alias("page_text")
    )
    cand = bboxes.join(pages, on=["pdf_name", "page"])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {k.name: [] for k in CELLS_SCHEMA.fields}
            for name, page, ti, text in zip(
                pdf["pdf_name"], pdf["page"], pdf["table_index"], pdf["page_text"]
            ):
                toks = text.split(" ")[:8]
                cells = [toks[i : i + 2] for i in range(0, len(toks), 2)]
                out["pdf_name"].append(name)
                out["page"].append(page)
                out["table_index"].append(ti)
                out["cells"].append(cells)
            yield pd.DataFrame(out)

    return cand.select("pdf_name", "page", "table_index", "page_text").mapInPandas(
        batches, schema=CELLS_SCHEMA
    )


def select_documents(
    spark: SparkSession,
    input_dir: str,
    annotated_names: DataFrame | None = None,
    processed: DataFrame | None = None,
    glob: str = "*.pdf",
) -> tuple[DataFrame, bool, bool]:
    """S2 + P10 — the folder scan: binaryFile scan, optional left-semi join
    against annotation source_file names, anti-join against the processed
    ledger (pdf_text_extractor.py:129-191).  Returns
    ``(docs, narrow, unique_names)``.

    Both joins broadcast their (one row per document) side, so ``docs``
    keeps the scan's one-partition-per-file layout.  ``narrow`` is true
    when the scan has fewer files than ``defaultParallelism``;
    ``unique_names`` is true when no two scanned files share a base name,
    so ``pdf_name`` names one document (a glob over several folders may
    break that).  Both read the file list the scan's file index already
    holds, so no Spark job runs.
    """
    from .files import read_binary_docs

    docs = read_binary_docs(spark, input_dir, glob)
    names = [f.rsplit("/", 1)[-1] for f in docs.inputFiles()]
    narrow = len(names) < spark.sparkContext.defaultParallelism
    unique_names = len(set(names)) == len(names)
    docs = docs.withColumn("pdf_name", F.element_at(F.split(F.col("path"), "/"), -1))
    if annotated_names is not None:
        docs = docs.join(F.broadcast(annotated_names), on="pdf_name", how="left_semi")
    if processed is not None:
        ledger = processed.select("pdf_name").distinct()
        docs = docs.join(F.broadcast(ledger), on="pdf_name", how="left_anti")
    return docs, narrow, unique_names


def run_folder(
    spark: SparkSession,
    input_dir: str,
    annotated_names: DataFrame | None = None,
    processed: DataFrame | None = None,
    min_paragraph_length: int = 30,
    glob: str = "*.pdf",
) -> DataFrame:
    """S2 + S1 — ``select_documents``, then extraction.  A narrow folder's
    paragraphs are spread over ``defaultParallelism`` partitions, so a
    small batch still scores on every core downstream."""
    docs, narrow, _ = select_documents(spark, input_dir, annotated_names, processed, glob)
    paragraphs = extract_text(docs, min_paragraph_length)
    if narrow:
        return paragraphs.repartition(spark.sparkContext.defaultParallelism)
    return paragraphs

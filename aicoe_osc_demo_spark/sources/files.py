"""Format readers/writers (S1, S2, S5-S11 of SURVEY.md §2.1).

Reference behavior being re-expressed (WHAT, not HOW):

- S5 JSON sink/source per PDF  → ``spark.read/write.json``
  (ref: /root/reference/src/components/preprocessing/pdf_text_extractor.py:146-148)
- S6 Excel annotation source with column checks + ``annotator`` provenance
  (ref: /root/reference/src/components/preprocessing/text_curator.py:124-126,
  /root/reference/src/components/utils/qa_utils.py:10-42) → spark-excel is not
  available in this container, so workbooks are accepted as CSV exports; the
  provenance column comes from ``input_file_name()``.
- S7 CSV source/sink (ref: text_curator.py:103-108) → header+schema readers.
- S8/S9 Parquet/ORC sink + external SQL table (ref:
  notebooks/demo1[depracated]/demo1-create-tables.ipynb cells 14-19,
  notebooks/demo2/create_results_table.ipynb cells 10-15) → ``write_table``.
- S1/S2 binary PDF folder scan (ref: pdf_text_extractor.py:152-191) →
  ``binaryFile`` format; the per-file pdfminer decode is a mapInPandas stage
  in operators.inference (stubbed — pdfminer absent here).
- S11 NQ JSONL chunked scan (ref:
  /root/reference/src/components/preprocessing/nq_extractor.py:51-135) →
  line-json reader; "chunking" is partitioning.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_csv(spark: SparkSession, path: str, schema: StructType | str | None = None) -> DataFrame:
    reader = spark.read.option("header", "true")
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).option("header", "true").csv(path)


def read_json(spark: SparkSession, path: str, schema: StructType | str | None = None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def _file_set_signature(path: str) -> tuple[int, int] | None:
    """(latest mtime in ns, total bytes) over ``path`` and, for a directory,
    everything under it; None when ``path`` is missing.

    The path's own mtime catches a deleted part file; the contained files'
    mtimes catch a part file overwritten in place, which leaves the
    directory mtime unchanged; the byte total catches a rewrite that lands
    within the filesystem's timestamp granularity."""
    try:
        st = os.stat(path)
        latest, size = st.st_mtime_ns, st.st_size
        for root, dirs, files in os.walk(path):
            for name in dirs + files:
                st = os.stat(os.path.join(root, name))
                latest = max(latest, st.st_mtime_ns)
                size += st.st_size
    except OSError:
        return None
    return latest, size


# Confs that change the schema Spark infers from a parquet footer; their
# values are part of the schema memo's key.
_PARQUET_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)
# Bounded: past _SCHEMA_MEMO_MAX entries the oldest is dropped.
_SCHEMA_MEMO_MAX = 256
_PARQUET_SCHEMAS: dict[tuple, StructType] = {}
_PARQUET_SCHEMAS_LOCK = threading.Lock()


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan that infers the schema once per file set.

    ``spark.read.parquet(path)`` launches a one-task Spark job to read the
    footer while the plan is still being built.  This reader keeps, per
    process, the ``StructType`` that read inferred, keyed on the path, its
    ``_file_set_signature`` and the values of the parquet-inference confs.
    A miss does the inferring read and stores its schema; a hit returns
    ``spark.read.schema(memo).parquet(path)``, which starts no job.  Every
    call builds a new relation with fresh attribute ids, so self-joins
    resolve as with a plain read.

    Staleness: an entry goes stale only if the files under ``path`` are
    replaced without any mtime or the total size changing.

    Directories the engine rewrites in place (persisted indexes in
    ``operators/similarity.py`` and ``plans/llm.py``, streaming state in
    ``streaming/incremental.py``) keep their plain ``spark.read.parquet``
    reads.
    """
    key = (
        path,
        _file_set_signature(path),
        tuple(spark.conf.get(c) for c in _PARQUET_INFERENCE_CONFS),
    )
    schema = _PARQUET_SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    schema = df.schema
    with _PARQUET_SCHEMAS_LOCK:
        if len(_PARQUET_SCHEMAS) >= _SCHEMA_MEMO_MAX:
            del _PARQUET_SCHEMAS[next(iter(_PARQUET_SCHEMAS))]
        _PARQUET_SCHEMAS[key] = schema
    return df


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_table(
    df: DataFrame,
    name: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    path: str | None = None,
    partition_by: list[str] | None = None,
) -> None:
    """CTAS equivalent of the reference's Trino ``CREATE TABLE ... WITH
    (format='parquet'|'ORC', external_location=...)`` (S8/S9).

    ORC row-batched ``TrinoBatchInsert`` disappears — Spark writers are
    parallel by partition.
    """
    writer = df.write.mode(mode).format(fmt)
    if path:
        writer = writer.option("path", path)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.saveAsTable(name)


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed + sorted table sink — the co-located-join layout for 100 TB
    fact tables: two tables bucketed on the same key with the same bucket
    count join with NO exchange (and no sort when sort_col matches).  This
    is the Spark answer to the reference's repeated Trino joins over the
    same keys."""
    writer = df.write.mode(mode).format("parquet")
    if path:
        writer = writer.option("path", path)
    writer = writer.bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(name)


def read_binary_docs(spark: SparkSession, path: str, glob: str = "*.pdf") -> DataFrame:
    """S1/S2 folder scan: one row per document with its raw bytes.

    Returns (path, modificationTime, length, content: binary).  At 100 TB the
    scan parallelizes by file; downstream decode runs as mapInPandas so no
    bytes ever hit the driver.
    """
    return spark.read.format("binaryFile").option("pathGlobFilter", glob).load(path)


def read_jsonl_chunked(spark: SparkSession, path: str, schema: StructType | str | None = None) -> DataFrame:
    """S11: newline-delimited JSON; the reference's 10k-row CSV chunking
    (nq_extractor.py:75-135) is replaced by Spark partitioning."""
    return read_json(spark, path, schema)


def read_annotation_workbooks(
    spark: SparkSession,
    path: str,
    columns_to_read: list[str],
    schema: StructType | str | None = None,
    sheet_name: str | None = None,
) -> DataFrame:
    """S6: multi-workbook annotation ingest with required-column validation and
    per-file ``annotator`` provenance (qa_utils.py:10-42 semantics).

    Native .xlsx paths (the reference's actual ``data/annotations/`` files,
    text_curator.py:124-126) route through ``sources.excel`` — binaryFile +
    executor-side SpreadsheetML parse; anything else is read as CSV-exported
    workbooks."""
    if path.endswith(".xlsx") or sheet_name is not None:
        from .excel import read_excel_workbooks

        return read_excel_workbooks(spark, path, columns_to_read, sheet_name)
    df = read_csv(spark, path, schema)
    missing = [c for c in columns_to_read if c not in df.columns]
    if missing:
        raise ValueError(f"annotation source missing required columns: {missing}")
    return df.select(*columns_to_read).withColumn(
        "annotator", F.element_at(F.split(F.input_file_name(), "/"), -1)
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    budget_tokens: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
    shard_col: str | None = "source",
    mode: str = "overwrite",
) -> None:
    """Materialize a curated corpus as training shards: documents are laid
    end-to-end per shard in deterministic id order (``pack_offset_bins``),
    and the parquet output is PARTITIONED BY the resulting ``bin`` so a
    trainer's data loader reads exactly one fixed-token-budget bin per
    directory — sequential scans, partition pruning per training step, no
    row-level shuffling at load time.

    Within each partition the rows are sorted by ``start_offset`` so the
    concat-and-slice loader sees documents in layout order without a sort.

    Scale: the packing is one window cumsum per shard (see
    ``pack_offset_bins``); the write is Spark's parallel partitioned
    writer.  Bin directories are bounded at ``budget_tokens`` tokens of
    text each, so object-store listing and task planning stay uniform at
    any corpus size.
    """
    from ..operators.corpus import pack_offset_bins

    cols = [
        F.col(id_col).alias("doc_id"),
        F.size(F.split(F.col(text_col), " ")).alias("n_tokens"),
    ]
    if shard_col:
        cols.append(F.col(shard_col))
    packed = pack_offset_bins(
        df.select(*cols),
        token_col="n_tokens",
        budget=budget_tokens,
        shard_col=shard_col,
        allow_single_shard=shard_col is None,
    )
    # bin numbers restart per shard, so the directory key is (shard, bin).
    # Repartition on the directory key BEFORE the within-task sort: the
    # join leaves rows hash-partitioned by doc_id, which would scatter one
    # bin across many tasks — many small unordered files per directory.
    # After the repartition each (shard, bin) lands in one task, and the
    # (shard, bin, start_offset) sort makes every written file
    # offset-ordered even when a task holds several bins.
    keys = ["shard", "bin"]
    out = (
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
        .join(packed, "doc_id")
        .repartition(*keys)
        .sortWithinPartitions(*keys, "start_offset")
    )
    write_parquet(
        out, path, mode=mode, partition_by=keys if shard_col else ["bin"]
    )

"""Test-table loading for the driver's synthetic star schema (TESTDATA.md)."""

from __future__ import annotations

import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession

from .files import _file_set_signature, read_parquet

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Session confs the ``events`` read needs; ``session.session_confs`` sets
# both, so on ``get_spark`` sessions load_table never changes a conf.
_EVENTS_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan; Catalyst prunes columns / pushes filters into it.

    Reads go through ``files.read_parquet``, so only the first load of a
    table in a process infers its schema (a one-task footer job); later
    loads reuse the memoized ``StructType``, keyed on the path, its
    file-set signature (latest mtime and total size of the files) and the
    parquet-inference confs, and start no job while the plan is built.
    Rewriting the table's files invalidates the entry, unless the rewrite
    keeps every mtime and the total size.

    The ``events`` table is written with TIMESTAMP(NANOS) which Spark's
    vectorized reader rejects; read it as long nanos and truncate to
    microseconds (exactly what DuckDB/Arrow do when downcasting ns → µs).
    ``get_spark`` sessions already carry both confs it needs; other
    sessions get them set here once, on the first ``events`` load.
    """
    if name == "events":
        # timestamp_micros produces a session-TZ timestamp; pin UTC and cast
        # to NTZ so the wall-clock value equals the stored (naive) value on
        # any driver session — the other tables are already timestamp_ntz.
        for key, value in _EVENTS_CONFS.items():
            if spark.conf.get(key) != value:
                spark.conf.set(key, value)
        from pyspark.sql import functions as F

        df = read_parquet(spark, table_path(sf_dir, name))
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
            )
        return df
    return read_parquet(spark, table_path(sf_dir, name))


def table_rows(sf_dir: str, name: str) -> int:
    """Exact row count from the parquet FOOTER (a metadata read, not a Spark
    job).  Plan builders that size a parameter from the corpus cardinality
    (LSH plane count, k-means k) use this so constructing the plan stays
    lazy — no eager full-table count() scan per entry, and explain/audit
    paths never launch a job.  Keyed on the path's file-set signature (the
    same key as the schema memo), so a part file overwritten in place
    invalidates the count."""
    p = table_path(sf_dir, name)
    return _footer_rows(p, _file_set_signature(p))


@lru_cache(maxsize=256)
def _footer_rows(path: str, _signature: tuple[int, int] | None) -> int:
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        return sum(
            pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
            for f in sorted(os.listdir(path))
            if f.endswith(".parquet")
        )
    return pq.ParquetFile(path).metadata.num_rows


def tables_signature(sf_dir: str, names: tuple[str, ...]) -> tuple:
    """File-set signatures of ``names`` — cache-key component for
    process-scoped derived artifacts (bucketed tables, persisted indexes) so
    a regenerated dataset under the same sf_dir invalidates instead of
    silently serving stale data."""
    return tuple(_file_set_signature(table_path(sf_dir, n)) for n in names)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view for the SQL surface."""
    for name in TPCH_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)

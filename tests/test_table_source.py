"""The table reader (sources.files.read_parquet behind sources.tables.load_table):
a repeated load starts no Spark job, a memoized schema reads the same rows
as a fresh inferring read, and the memo key follows the files and the
parquet-inference confs."""

from __future__ import annotations

import itertools
import sys
from datetime import datetime
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from aicoe_osc_demo_spark.plans import ORACLE, QUERIES
from aicoe_osc_demo_spark.session import session_confs
from aicoe_osc_demo_spark.sources import files
from aicoe_osc_demo_spark.sources.tables import (
    _EVENTS_CONFS,
    TPCH_TABLES,
    load_table,
    table_path,
)

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from conftest import SF_DIR  # noqa: E402
from perfbench.workloads import CATALOG_MIX  # noqa: E402
from tools.check_correctness import compare  # noqa: E402

NANOS = "spark.sql.legacy.parquet.nanosAsLong"
_GROUPS = itertools.count()


@pytest.fixture
def table_session(spark):
    """The shared session with the confs ``get_spark`` gives the events
    read, and every table loaded once."""
    for key, value in _EVENTS_CONFS.items():
        assert session_confs()[key] == value
        spark.conf.set(key, value)
    for name in TPCH_TABLES:
        load_table(spark, SF_DIR, name)
    return spark


def _jobs_during(spark, fn) -> list[int]:
    """Ids of the Spark jobs ``fn()`` started, under a job group of its own
    (the status tracker keeps a group's jobs after it is cleared)."""
    sc = spark.sparkContext
    group = f"table-source-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        fn()
        return list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _sorted_rows(df) -> list[str]:
    return sorted(repr(tuple(r)) for r in df.collect())


def test_second_load_starts_no_job(table_session):
    spark = table_session
    assert _jobs_during(spark, lambda: [load_table(spark, SF_DIR, n) for n in TPCH_TABLES]) == []
    # an inferring read of the same file does start one
    path = table_path(SF_DIR, "lineitem")
    assert _jobs_during(spark, lambda: spark.read.parquet(path)) != []


def test_events_load_leaves_session_confs_alone(table_session, monkeypatch):
    from pyspark.sql.conf import RuntimeConfig

    set_keys = []
    real_set = RuntimeConfig.set
    monkeypatch.setattr(
        RuntimeConfig, "set", lambda self, k, v: (set_keys.append(k), real_set(self, k, v))
    )
    load_table(table_session, SF_DIR, "events")
    assert set_keys == []


@pytest.mark.parametrize("name", TPCH_TABLES)
def test_memoized_read_matches_fresh_read(table_session, name):
    spark = table_session
    got = load_table(spark, SF_DIR, name)
    want = spark.read.parquet(table_path(SF_DIR, name))
    assert got.schema == want.schema
    assert _sorted_rows(got) == _sorted_rows(want)


def test_nanos_events_table_loads_through_the_memo(spark, tmp_path):
    # events stored as TIMESTAMP(NANOS): read as long nanos, truncated to µs
    ns = np.array([1_700_000_000_123_456_789, 1_700_000_001_000_000_999], dtype="datetime64[ns]")
    pq.write_table(pa.table({"event_id": [1, 2], "ts": pa.array(ns)}), table_path(str(tmp_path), "events"))
    for key, value in _EVENTS_CONFS.items():
        spark.conf.set(key, value)
    load_table(spark, str(tmp_path), "events")
    loaded = []
    assert _jobs_during(spark, lambda: loaded.append(load_table(spark, str(tmp_path), "events"))) == []
    got = loaded[0].orderBy("event_id").collect()
    assert dict(loaded[0].dtypes)["ts"] == "timestamp_ntz"
    assert [r.ts for r in got] == [
        datetime(2023, 11, 14, 22, 13, 20, 123456),
        datetime(2023, 11, 14, 22, 13, 21, 0),
    ]


def _write(path: Path, as_dir: bool, spark, columns: dict[str, list]) -> None:
    if as_dir:
        spark.createDataFrame(list(zip(*columns.values())), list(columns)).write.mode(
            "overwrite"
        ).parquet(str(path))
    else:
        pq.write_table(pa.table(columns), str(path))


@pytest.mark.parametrize("as_dir", [False, True], ids=["file", "directory"])
def test_rewrite_under_same_path_invalidates_memo(spark, tmp_path, as_dir):
    path = tmp_path / "t.parquet"
    _write(path, as_dir, spark, {"a": [1, 2], "b": ["x", "y"]})
    assert files.read_parquet(spark, str(path)).columns == ["a", "b"]
    assert _jobs_during(spark, lambda: files.read_parquet(spark, str(path))) == []

    _write(path, as_dir, spark, {"a": [3, 4], "b": ["z", "w"], "c": [0.5, 1.5]})
    back = files.read_parquet(spark, str(path))
    assert back.columns == ["a", "b", "c"]
    assert sorted(map(tuple, back.collect())) == [(3, "z", 0.5), (4, "w", 1.5)]


def test_nanos_conf_is_part_of_the_memo_key(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    nanos_at = files._PARQUET_INFERENCE_CONFS.index(NANOS)
    before = spark.conf.get(NANOS)
    try:
        for value in ("false", "true"):
            spark.conf.set(NANOS, value)
            files.read_parquet(spark, path)
        keys = [k for k in files._PARQUET_SCHEMAS if k[0] == path]
        assert sorted(k[2][nanos_at] for k in keys) == ["false", "true"]
        # the entry for the current conf value is a hit
        assert _jobs_during(spark, lambda: files.read_parquet(spark, path)) == []
    finally:
        spark.conf.set(NANOS, before)


@pytest.mark.parametrize("name", CATALOG_MIX)
def test_catalog_mix_entries_match_oracle_through_the_memo(table_session, name):
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    spark = table_session
    built = []
    assert _jobs_during(spark, lambda: built.append(QUERIES[name](spark, SF_DIR))) == []
    got = built[0].toPandas()
    assert len(got) > 0
    assert compare(got, con.execute(ORACLE[name]).fetchdf()) is None

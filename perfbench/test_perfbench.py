"""Tests of the benchmark's own helpers.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import time
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from layers import parse_metric, parse_plan_graph  # noqa: E402
from measure import tail_percentile, tree_cpu_seconds, uncovered, union_length  # noqa: E402


# -- tail percentile -------------------------------------------------

def test_tail_needs_more_than_ten_samples():
    assert tail_percentile([1.0] * 10) is None
    assert tail_percentile([]) is None


def test_tail_leaves_exactly_ten_samples_beyond():
    samples = [float(i) for i in range(1, 101)]  # 1..100, shuffled below
    samples = samples[50:] + samples[:50]
    value, pct, n = tail_percentile(samples)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(s > value for s in samples) == 10


def test_tail_of_eleven_samples_is_the_smallest():
    value, pct, n = tail_percentile([5.0, 3.0, 9.0, 1.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0])
    assert (value, n) == (1.0, 11)
    assert pct == pytest.approx(100.0 / 11)


# -- job-interval union behind jobs.driver_gap_s ---------------------

def test_union_merges_overlaps_and_nesting():
    assert union_length([]) == 0.0
    assert union_length([(0.0, 2.0), (1.0, 3.0)]) == 3.0
    assert union_length([(0.0, 10.0), (2.0, 3.0), (4.0, 5.0)]) == 10.0
    assert union_length([(5.0, 6.0), (0.0, 1.0)]) == 2.0
    assert union_length([(0.0, 1.0), (1.0, 2.0)]) == 2.0


def test_uncovered_clips_jobs_to_the_query():
    # query 0..10; jobs 1..3 and 2..4 overlap, 9..12 runs past the end
    assert uncovered((0.0, 10.0), [(1.0, 3.0), (2.0, 4.0), (9.0, 12.0)]) == 10.0 - 3.0 - 1.0
    assert uncovered((0.0, 10.0), []) == 10.0
    assert uncovered((0.0, 10.0), [(-5.0, 20.0)]) == 0.0
    assert uncovered((0.0, 10.0), [(11.0, 12.0)]) == 10.0


# -- process-tree CPU ------------------------------------------------

_BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < {s}: pass\n"


def test_tree_cpu_counts_a_live_child():
    before = tree_cpu_seconds()
    child = subprocess.Popen([sys.executable, "-c", _BURN.format(s=0.4) + "time.sleep(30)"])
    try:
        deadline = time.time() + 20
        while tree_cpu_seconds() - before < 0.4 and time.time() < deadline:
            time.sleep(0.05)
        assert tree_cpu_seconds() - before >= 0.4
    finally:
        child.kill()
        child.wait()


def test_tree_cpu_keeps_a_reaped_grandchild():
    # the child runs a burning grandchild to completion and reaps it, then
    # idles: the grandchild's time must still count (as the child's cutime)
    code = (f"import subprocess, sys, time\n"
            f"subprocess.run([sys.executable, '-c', {_BURN.format(s=0.4)!r}])\n"
            f"print('done', flush=True)\ntime.sleep(30)\n")
    before = tree_cpu_seconds()
    child = subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "done"
        assert tree_cpu_seconds(os.getpid()) - before >= 0.4
    finally:
        child.kill()
        child.wait()
        child.stdout.close()


# -- SQL metric parsing for the Python and scan nodes ----------------

def test_parse_metric_units():
    assert parse_metric("1.5 KiB") == 1536.0
    assert parse_metric("2 ms") == pytest.approx(0.002)
    assert parse_metric("1,234") == 1234.0
    assert parse_metric("0.4 s") == pytest.approx(0.4)
    assert parse_metric("n/a") == 0.0


def test_parse_plan_graph_reads_totals_and_plain_values():
    dot = (
        'digraph G {\n'
        '  1 [id="node1" labelType="html" label="<br><b>MapInPandas</b><br><br>'
        'time to run Python workers total (min, med, max (stageId: taskId))<br>'
        '1.2 s (0.3 s, 0.3 s, 0.3 s (stage 1.0: task 2))<br>'
        'number of output rows: 40" tooltip="x"];\n'
        '  2 [id="node2" labelType="html" label="<b>Scan parquet </b><br><br>'
        'number of files read: 1" tooltip="y"];\n}'
    )
    nodes = parse_plan_graph(dot)
    assert nodes[0] == ("MapInPandas", {"time to run Python workers": 1.2,
                                        "number of output rows": 40.0})
    assert nodes[1] == ("Scan parquet", {"number of files read": 1.0})


# -- the copied materializer ------------------------------------------

@pytest.fixture(scope="module")
def spark():
    sys.path.insert(0, str(HERE.parent))
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    session = (SparkSession.builder.master("local[2]")
               .config("spark.ui.enabled", "false")
               .config("spark.sql.shuffle.partitions", "2").getOrCreate())
    yield session
    session.stop()


def test_materializer_matches_bench(spark):
    from bench import checksum_materialize
    from measure import checksum_frame, collect_checksum

    df = spark.createDataFrame(
        [(1, "a", 1.5, [1, 2], {"k": 1}), (2, None, -0.25, [], {}), (3, "c", None, None, None)],
        "id long, s string, x double, arr array<int>, m map<string,int>",
    )
    n, chk = collect_checksum(checksum_frame(df))
    assert n == checksum_materialize(df) == 3
    want = df.selectExpr(
        "xxhash64(id, s, x, cast(arr as string), cast(m as string)) as h"
    ).groupBy().agg({"h": "bit_xor"}).collect()[0][0]
    assert chk == want

"""Session factory configuration, including GPU resource scheduling."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from conftest import SF_DIR

from aicoe_osc_demo_spark.session import default_cpus, get_spark, session_confs

ROOT = Path(__file__).resolve().parents[1]


def test_default_confs_pin_determinism_and_aqe():
    confs = session_confs(cpus="8")
    assert confs["spark.sql.session.timeZone"] == "UTC"
    assert confs["spark.sql.adaptive.enabled"] == "true"
    assert confs["spark.sql.shuffle.partitions"] == "8"
    # the events read needs it; set once so no read flips it mid-session
    assert confs["spark.sql.legacy.parquet.nanosAsLong"] == "true"
    assert confs["spark.sql.codegen.cache.maxEntries"] == "8192"
    assert "spark.task.resource.gpu.amount" not in confs


def test_gpu_resource_confs_land():
    confs = session_confs(cpus="8", gpus_per_task=0.5, gpus_per_executor=4)
    assert confs["spark.task.resource.gpu.amount"] == "0.5"
    assert confs["spark.executor.resource.gpu.amount"] == "4"


def test_get_spark_applies_conf_map(spark):
    # get_spark reuses the live test session; SQL confs still land, which
    # proves the builder path applies session_confs verbatim
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        s = get_spark(cpus="8")
        assert s.conf.get("spark.sql.session.timeZone") == "UTC"
        assert s.conf.get("spark.sql.shuffle.partitions") == "8"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_default_cpus_follows_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == str(len(os.sched_getaffinity(0)))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == "3"


# Runs in its own interpreter: the codegen cache size is a static conf, so it
# only lands in a JVM that get_spark starts.  Prints the live cache size and
# the Janino compile count of each of three identical CATALOG_MIX sweeps.
_SWEEPS = """
import json, sys
from aicoe_osc_demo_spark.plans import QUERIES
from aicoe_osc_demo_spark.session import get_spark
from perfbench.workloads import CATALOG_MIX

spark = get_spark()
metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
compiles = []
for _ in range(3):
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    for name in CATALOG_MIX:
        QUERIES[name](spark, sys.argv[1]).collect()
    compiles.append(metrics.METRIC_COMPILATION_TIME().getCount() - before)
print(json.dumps({
    "max_entries": spark.conf.get("spark.sql.codegen.cache.maxEntries"),
    "compiles": compiles,
}))
spark.stop()
"""


def test_repeated_catalog_entries_reuse_compiled_code():
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g",
               PYTHONPATH=os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p))
    out = subprocess.run([sys.executable, "-c", _SWEEPS, SF_DIR], cwd=ROOT, env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["max_entries"] == "8192"
    # the first sweep compiles every class; repeats find them all cached
    assert result["compiles"][0] > 0
    assert result["compiles"][1:] == [0, 0], result["compiles"]

"""Session factory configuration, including GPU resource scheduling."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile
from pathlib import Path

import pyspark

from conftest import SF_DIR

from aicoe_osc_demo_spark.session import default_cpus, get_spark, session_confs
from aicoe_osc_demo_spark.worker_daemon import (
    archived_versions,
    archives_to_drop,
    installed_versions,
    spark_archives,
)

ROOT = Path(__file__).resolve().parents[1]


def test_default_confs_pin_determinism_and_aqe():
    confs = session_confs(cpus="8")
    assert confs["spark.sql.session.timeZone"] == "UTC"
    assert confs["spark.sql.adaptive.enabled"] == "true"
    assert confs["spark.sql.shuffle.partitions"] == "8"
    # the events read needs it; set once so no read flips it mid-session
    assert confs["spark.sql.legacy.parquet.nanosAsLong"] == "true"
    assert confs["spark.sql.codegen.cache.maxEntries"] == "8192"
    assert confs["spark.python.daemon.module"] == "aicoe_osc_demo_spark.worker_daemon"
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


ARCHIVES = [
    "/spark/python/lib/pyspark.zip",
    "/spark/python/lib/py4j-0.10.9.9-src.zip",
    "/spark/jars/spark-core_2.13-4.1.2.jar",
]
ARCHIVED = {"pyspark": "4.1.2", "py4j": "0.10.9.9"}


def test_archives_dropped_when_versions_match():
    assert archives_to_drop(ARCHIVES, ARCHIVED, dict(ARCHIVED)) == ARCHIVES


def test_archives_kept_when_versions_differ():
    assert archives_to_drop(ARCHIVES, ARCHIVED, {"pyspark": "4.0.1", "py4j": "0.10.9.9"}) == []
    assert archives_to_drop(ARCHIVES, ARCHIVED, {"pyspark": "4.1.2", "py4j": "0.10.9.7"}) == []


def test_archives_kept_without_site_packages_pyspark():
    assert archives_to_drop(ARCHIVES, ARCHIVED, {"pyspark": None, "py4j": "0.10.9.9"}) == []


def test_versions_read_without_importing(tmp_path):
    home = tmp_path / "spark"
    lib = home / "python" / "lib"
    lib.mkdir(parents=True)
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/__init__.py", "raise ImportError('imported')\n")
        z.writestr("pyspark/version.py", "__version__: str = '9.8.7'\n")
    (lib / "py4j-1.2.3-src.zip").write_bytes((lib / "pyspark.zip").read_bytes())
    site = tmp_path / "site"
    for package, text in (("pyspark", "__version__: str = '9.8.7'"), ("py4j", "__version__ = '1.2.3'")):
        (site / package).mkdir(parents=True)
        (site / package / "__init__.py").write_text("raise ImportError('imported')\n")
        (site / package / "version.py").write_text(text + "\n")
    path = [str(site), str(lib / "pyspark.zip"), str(lib / "py4j-1.2.3-src.zip"),
            str(tmp_path / "user.zip")]
    archives = spark_archives(path, str(home))
    assert archives == path[1:3]  # a zip outside SPARK_HOME stays
    assert archived_versions(archives) == {"pyspark": "9.8.7", "py4j": "1.2.3"}
    assert installed_versions([str(site)]) == {"pyspark": "9.8.7", "py4j": "1.2.3"}
    assert installed_versions([str(tmp_path)]) == {"pyspark": None, "py4j": None}
    assert spark_archives(path, None) == []


# Runs in its own interpreter: spark.python.daemon.module is a static conf,
# so it only lands in a JVM that get_spark starts.  A worker reports where it
# imported pyspark from and which archives its import system holds; then two
# modules shipped with addPyFile (a .py and a .zip) are imported in a UDF.
_WORKER = """
import json, os, sys, zipfile
import pandas as pd
from aicoe_osc_demo_spark.session import get_spark

def report(batches):
    import zipimport, pyspark
    for _ in batches:
        pass
    yield pd.DataFrame({"r": [json.dumps({
        "pyspark": pyspark.__file__,
        "archives": [p for p in sys.path if p.endswith((".zip", ".jar")) and os.path.isfile(p)],
        "zipimporters": [k for k, v in sys.path_importer_cache.items()
                         if isinstance(v, zipimport.zipimporter)],
    })]})

def shipped(batches):
    import shipped_py, shipped_zip
    for batch in batches:
        yield pd.DataFrame({"v": [shipped_py.VALUE + shipped_zip.VALUE] * len(batch)})

spark = get_spark(cpus="1")
worker = json.loads(spark.range(1).mapInPandas(report, "r string").first().r)
ship = sys.argv[1]
with open(os.path.join(ship, "shipped_py.py"), "w") as f:
    f.write("VALUE = 'py'\\n")
with zipfile.ZipFile(os.path.join(ship, "shipped.zip"), "w") as z:
    z.writestr("shipped_zip/__init__.py", "VALUE = 'zip'\\n")
spark.sparkContext.addPyFile(os.path.join(ship, "shipped_py.py"))
spark.sparkContext.addPyFile(os.path.join(ship, "shipped.zip"))
values = sorted({r.v for r in spark.range(3).mapInPandas(shipped, "v string").collect()})
print(json.dumps({"worker": worker, "shipped": values}))
spark.stop()
"""


def test_workers_import_pyspark_from_site_packages(tmp_path):
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g",
               PYTHONPATH=os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p))
    out = subprocess.run([sys.executable, "-c", _WORKER, str(tmp_path)], cwd=ROOT, env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    worker = result["worker"]
    # the same site-packages pyspark the driver imports, not SPARK_HOME's zip
    assert "site-packages" in worker["pyspark"], worker
    assert os.path.dirname(worker["pyspark"]) == os.path.dirname(pyspark.__file__), worker
    assert worker["archives"] == [], worker
    assert worker["zipimporters"] == [], worker
    # files shipped per task still import, from a .py and from a .zip
    assert result["shipped"] == ["pyzip"]

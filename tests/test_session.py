"""Session factory configuration, including GPU resource scheduling and the
driver JVM's garbage collector."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile
from pathlib import Path

import pyspark
import pytest

from conftest import SF_DIR

from aicoe_osc_demo_spark.session import (
    JAVA_OPTION_ENV,
    default_cpus,
    get_spark,
    parallel_gc_applies,
    session_confs,
)
from aicoe_osc_demo_spark.worker_daemon import (
    archived_versions,
    archives_to_drop,
    installed_versions,
    spark_archives,
)

ROOT = Path(__file__).resolve().parents[1]


def test_default_confs_pin_determinism_and_aqe(monkeypatch, tmp_path):
    for name in JAVA_OPTION_ENV:
        monkeypatch.delenv(name, raising=False)
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    confs = session_confs(cpus="8")
    assert confs["spark.sql.session.timeZone"] == "UTC"
    assert confs["spark.sql.adaptive.enabled"] == "true"
    assert confs["spark.sql.shuffle.partitions"] == "8"
    # the events read needs it; set once so no read flips it mid-session
    assert confs["spark.sql.legacy.parquet.nanosAsLong"] == "true"
    assert confs["spark.sql.codegen.cache.maxEntries"] == "8192"
    assert confs["spark.python.daemon.module"] == "aicoe_osc_demo_spark.worker_daemon"
    assert confs["spark.driver.defaultJavaOptions"] == "-XX:+UseParallelGC"
    assert "spark.task.resource.gpu.amount" not in confs
    # a collector the user's JVM options pick wins
    monkeypatch.setenv("JAVA_TOOL_OPTIONS", "-XX:+UseSerialGC")
    assert "spark.driver.defaultJavaOptions" not in session_confs(cpus="8")
    monkeypatch.delenv("JAVA_TOOL_OPTIONS")
    (tmp_path / "spark-defaults.conf").write_text("spark.driver.extraJavaOptions -XX:+UseZGC\n")
    assert "spark.driver.defaultJavaOptions" not in session_confs(cpus="8")


# perfbench's own submit arguments, which must leave the flag on
PERFBENCH_SUBMIT_ARGS = (
    "--conf spark.sql.warehouse.dir=/w/warehouse --conf spark.ui.showConsoleProgress=false "
    "--driver-java-options '-XX:-UsePerfData -Djava.io.tmpdir=/w/tmp' pyspark-shell"
)


def test_parallel_gc_applies_without_a_collector_choice():
    assert parallel_gc_applies({}, "")
    assert parallel_gc_applies({"PYSPARK_SUBMIT_ARGS": PERFBENCH_SUBMIT_ARGS}, "")
    assert parallel_gc_applies(
        {"SPARK_SUBMIT_OPTS": "-Divy.home=/ivy -Dspark.jars.ivy=/ivy",
         "JAVA_TOOL_OPTIONS": "-XX:+UseStringDeduplication -XX:-UseGCOverheadLimit"},
        "# spark.driver.defaultJavaOptions -XX:+UseG1GC\n"
        "spark.driver.extraJavaOptions -XX:-UsePerfData\n"
        "spark.executor.extraJavaOptions -XX:+UseG1GC\n"
        "spark.driver.memory 4g\n",
    )


@pytest.mark.parametrize("name", JAVA_OPTION_ENV)
def test_a_collector_in_the_environment_wins(name):
    for flag in ("-XX:+UseG1GC", "-XX:+UseSerialGC", "-XX:-UseParallelGC"):
        assert not parallel_gc_applies({name: f"-Xss4m {flag}"}, ""), flag


@pytest.mark.parametrize("text", [
    "spark.driver.extraJavaOptions -Xss4m -XX:+UseG1GC",
    "spark.driver.extraJavaOptions=-XX:+UseZGC",
    "spark.driver.defaultJavaOptions   -XX:+UseShenandoahGC",
    # get_spark's --conf would replace the user's defaults, collector or not
    "spark.driver.defaultJavaOptions -Dfoo=bar",
    "spark.driver.defaultJavaOptions: -Xss4m",
])
def test_spark_defaults_keep_the_users_options(text):
    assert not parallel_gc_applies({}, f"spark.master local[2]\n  {text}\n")
    assert not parallel_gc_applies({"PYSPARK_SUBMIT_ARGS": PERFBENCH_SUBMIT_ARGS}, text)


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


def child_env(**extra: str) -> dict[str, str]:
    """The environment of a child interpreter that starts get_spark's JVM."""
    return dict(os.environ, SPARK_DRIVER_MEMORY="1g", **extra,
                PYTHONPATH=os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p))


def run_child(script: str, *args: str, env: dict[str, str] | None = None) -> dict:
    """Run ``script`` in a fresh interpreter; the JSON of its last line."""
    out = subprocess.run([sys.executable, "-c", script, *args], cwd=ROOT, env=env or child_env(),
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


# The garbage collectors of the session's JVM, by MXBean name.
_COLLECTORS = ("[b.getName() for b in "
               "spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()]")

# Runs in its own interpreter: the codegen cache size and the driver's Java
# options are static confs, so they only land in a JVM that get_spark
# starts.  Prints the live cache size, the Janino compile count of each of
# three identical CATALOG_MIX sweeps and the JVM's collectors.
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
    "collectors": %s,
}))
spark.stop()
""" % _COLLECTORS


def test_repeated_catalog_entries_reuse_compiled_code():
    result = run_child(_SWEEPS, SF_DIR)
    assert result["max_entries"] == "8192"
    # the first sweep compiles every class; repeats find them all cached
    assert result["compiles"][0] > 0
    assert result["compiles"][1:] == [0, 0], result["compiles"]
    # get_spark's JVM runs the Parallel collector, not the default G1
    assert sorted(result["collectors"]) == ["PS MarkSweep", "PS Scavenge"], result["collectors"]


_STARTED = """
import json
from aicoe_osc_demo_spark.session import get_spark

spark = get_spark(cpus="1")
print(json.dumps({"rows": spark.range(3).count(), "collectors": %s}))
spark.stop()
""" % _COLLECTORS


def test_a_collector_in_the_submit_args_wins():
    # without the guard, the JVM would refuse two collectors and not start
    env = child_env(PYSPARK_SUBMIT_ARGS="--driver-java-options -XX:+UseG1GC pyspark-shell")
    result = run_child(_STARTED, env=env)
    assert result["rows"] == 3
    assert all(name.startswith("G1 ") for name in result["collectors"]), result["collectors"]


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
    result = run_child(_WORKER, str(tmp_path))
    worker = result["worker"]
    # the same site-packages pyspark the driver imports, not SPARK_HOME's zip
    assert "site-packages" in worker["pyspark"], worker
    assert os.path.dirname(worker["pyspark"]) == os.path.dirname(pyspark.__file__), worker
    assert worker["archives"] == [], worker
    assert worker["zipimporters"] == [], worker
    # files shipped per task still import, from a .py and from a .zip
    assert result["shipped"] == ["pyzip"]

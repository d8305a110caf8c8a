"""Session factory configuration, including GPU resource scheduling and the
driver JVM's garbage collector."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path
from types import SimpleNamespace

import pyspark
import pytest

from conftest import SF_DIR

from aicoe_osc_demo_spark.session import (
    JAVA_OPTION_ENV,
    archive_key,
    cds_applies,
    class_archive,
    default_cpus,
    get_spark,
    parallel_gc_applies,
    seen_before,
    session_confs,
    tidy_archives,
)
from aicoe_osc_demo_spark.worker_daemon import (
    archived_versions,
    archives_to_drop,
    installed_versions,
    spark_archives,
)

ROOT = Path(__file__).resolve().parents[1]


@pytest.fixture(autouse=True, scope="module")
def own_class_archives(tmp_path_factory):
    """Every JVM this module starts keeps its class archives in a cache dir
    of its own, deleted afterwards, not in the user's."""
    cache = tmp_path_factory.mktemp("xdg-cache")
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("XDG_CACHE_HOME", str(cache))
        yield
    shutil.rmtree(cache, ignore_errors=True)


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


def child_stdout(script: str, *args: str, env: dict[str, str] | None = None) -> str:
    """Run ``script`` in a fresh interpreter; its whole stdout."""
    out = subprocess.run([sys.executable, "-c", script, *args], cwd=ROOT, env=env or child_env(),
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    return out.stdout


def run_child(script: str, *args: str, env: dict[str, str] | None = None) -> dict:
    """Run ``script`` in a fresh interpreter; the JSON of its last line."""
    return json.loads(child_stdout(script, *args, env=env).strip().splitlines()[-1])


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


def test_a_collector_in_the_submit_args_wins(tmp_path):
    # without the guard, the JVM would refuse two collectors and not start;
    # its archive key differs, so it keeps its cache apart from the others
    env = child_env(XDG_CACHE_HOME=str(tmp_path),
                    PYSPARK_SUBMIT_ARGS="--driver-java-options -XX:+UseG1GC pyspark-shell")
    result = run_child(_STARTED, env=env)
    assert result["rows"] == 3
    assert all(name.startswith("G1 ") for name in result["collectors"]), result["collectors"]


# JVM options that already decide how the JVM shares classes
CDS_CHOICES = ["-Xshare:off", "-Xshare:auto", "-XX:SharedArchiveFile=/a.jsa",
               "-XX:ArchiveClassesAtExit=/b.jsa"]


def test_cds_applies_to_a_conf_dir_of_templates(tmp_path):
    assert cds_applies({}, str(tmp_path))
    assert cds_applies({}, str(tmp_path / "missing"))
    assert cds_applies({"PYSPARK_SUBMIT_ARGS": PERFBENCH_SUBMIT_ARGS}, str(tmp_path))
    (tmp_path / "spark-defaults.conf.template").write_text("spark.master local\n")
    (tmp_path / "log4j2.properties.template").write_text("")
    assert cds_applies({}, str(tmp_path))
    # a real conf file: launching under an empty conf dir would drop it
    (tmp_path / "log4j2.properties").write_text("")
    assert not cds_applies({}, str(tmp_path))


@pytest.mark.parametrize("name", JAVA_OPTION_ENV)
@pytest.mark.parametrize("flag", CDS_CHOICES)
def test_a_users_sharing_choice_wins(name, flag, tmp_path):
    assert not cds_applies({name: f"-Xss4m {flag}"}, str(tmp_path))


@pytest.mark.parametrize("name,value", [
    ("HADOOP_CONF_DIR", "/etc/hadoop"),
    ("YARN_CONF_DIR", "/etc/hadoop"),
    ("SPARK_DIST_CLASSPATH", "/etc/hadoop"),
    ("SPARK_PREPEND_CLASSES", "1"),
    ("PYSPARK_SUBMIT_ARGS", "--driver-class-path /opt/extra.jar pyspark-shell"),
    ("PYSPARK_SUBMIT_ARGS", "--conf spark.driver.extraClassPath=/etc/hadoop pyspark-shell"),
    ("PYSPARK_SUBMIT_ARGS", "--conf spark.driver.defaultExtraClassPath=/etc/hadoop pyspark-shell"),
])
def test_no_archive_beside_extra_classpath_entries(name, value, tmp_path):
    assert not cds_applies({name: value}, str(tmp_path))


def test_no_archive_when_the_jars_cannot_be_read(monkeypatch, tmp_path):
    # a Spark source build keeps its jars elsewhere: start without the archive
    for name in ("SPARK_CONF_DIR", *JAVA_OPTION_ENV):
        monkeypatch.delenv(name, raising=False)
    monkeypatch.setenv("SPARK_HOME", str(tmp_path / "spark"))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    assert class_archive("-XX:+UseParallelGC") is None


def test_archive_key_follows_the_jdk_the_jars_and_the_options(tmp_path):
    jdk, home = tmp_path / "jdk", tmp_path / "spark"
    (jdk / "bin").mkdir(parents=True)
    (home / "jars").mkdir(parents=True)
    java = str(jdk / "bin" / "java")
    (jdk / "release").write_text('JAVA_VERSION="17.0.20"\n')
    (home / "jars" / "a.jar").write_bytes(b"a")
    keys = [archive_key(java, str(home), "-XX:+UseParallelGC")]
    assert len(keys[0]) == 16 and keys[0] == archive_key(java, str(home), "-XX:+UseParallelGC")
    keys.append(archive_key(java, str(home), ""))
    (jdk / "release").write_text('JAVA_VERSION="17.0.21"\n')
    keys.append(archive_key(java, str(home), "-XX:+UseParallelGC"))
    (home / "jars" / "a.jar").write_bytes(b"ab")
    keys.append(archive_key(java, str(home), "-XX:+UseParallelGC"))
    (home / "jars" / "b.jar").write_bytes(b"b")
    keys.append(archive_key(java, str(home), "-XX:+UseParallelGC"))
    assert len(set(keys)) == len(keys), keys


def dead_pid() -> int:
    child = subprocess.run([sys.executable, "-c", "import os; print(os.getpid())"],
                           capture_output=True, text=True, check=True)
    return int(child.stdout)


# The first bytes of a finished dynamic archive (HotSpot writes them last).
FINISHED = (0xF00BABA8).to_bytes(4, sys.byteorder)


def test_tidy_archives_publishes_a_finished_dump_and_deletes_the_rest(tmp_path):
    dead, live = dead_pid(), os.getpid()
    files = {
        f"new.{dead}.tmp": FINISHED + b"new",  # published
        f"new.{live}.tmp": b"",  # still being written: kept
        f"old.{dead}.tmp": FINISHED,  # another key's dump
        "old.6.jsa": b"oldold",  # another key's archive, dropped on publish
        "old.seen": b"1",  # notes, no longer needed once an archive is published
        "new.seen": b"1",
    }
    for name, data in files.items():
        (tmp_path / name).write_bytes(data)
    archive = tidy_archives(tmp_path, "new")
    assert archive == tmp_path / "new.7.jsa"
    assert archive.read_bytes() == FINISHED + b"new"
    assert {p.name for p in tmp_path.iterdir()} == {"new.7.jsa", f"new.{live}.tmp"}
    # a dump cut short, and a second finished dump of a published key
    (tmp_path / f"new.{dead}.tmp").write_bytes(b"\0" * 8)
    (tmp_path / f"new.{dead_pid()}.tmp").write_bytes(FINISHED + b"two")
    assert tidy_archives(tmp_path, "new") == archive
    assert {p.name for p in tmp_path.iterdir()} == {"new.7.jsa", f"new.{live}.tmp"}


def test_only_a_cache_that_outlives_a_process_gets_a_dump(tmp_path):
    # the first look leaves a note; the same process looking again finds its own
    assert not seen_before(tmp_path, "key")
    assert (tmp_path / "key.seen").read_text() == str(os.getpid())
    assert not seen_before(tmp_path, "key")
    # a note another process left shows the cache outlived it
    (tmp_path / "key.seen").write_text(str(dead_pid()))
    assert seen_before(tmp_path, "key")


def test_tidy_archives_deletes_a_truncated_archive(tmp_path):
    # HotSpot 17 maps a truncated archive unchecked and dies of SIGBUS
    (tmp_path / "key.100.jsa").write_bytes(FINISHED)
    (tmp_path / "other.4.jsa").write_bytes(FINISHED)  # not published over: kept
    assert tidy_archives(tmp_path, "key") is None
    assert [p.name for p in tmp_path.iterdir()] == ["other.4.jsa"]


# Runs in its own interpreter: starts get_spark's JVM and prints a grouped
# count, the JVM's own input arguments and SPARK_CONF_DIR as the parent
# held it before and after get_spark and as the JVM saw it.
_LAUNCH = """
import json, os
from aicoe_osc_demo_spark.session import get_spark

before = os.environ.get("SPARK_CONF_DIR")
spark = get_spark(cpus="1")
jvm = spark._jvm
counts = spark.range(10).selectExpr("id % 3 AS k").groupBy("k").count().orderBy("k").collect()
print(json.dumps({
    "counts": [list(r) for r in counts],
    "args": list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
    "conf_dir": [before, os.environ.get("SPARK_CONF_DIR"), jvm.System.getenv("SPARK_CONF_DIR")],
}))
spark.stop()
"""
COUNTS = [[0, 4], [1, 3], [2, 3]]
CDS_OPTION = ("SharedArchiveFile", "ArchiveClassesAtExit", "-Xshare", "-Xlog:cds")


def launch(**env: str) -> tuple[dict, str]:
    """``_LAUNCH``'s JSON and its whole stdout, the JVM's included."""
    stdout = child_stdout(_LAUNCH, env=child_env(**env))
    # the JVM's own lines (a dump's come at exit) may follow the JSON
    return json.loads(next(line for line in reversed(stdout.splitlines())
                           if line.startswith("{"))), stdout


def archive_flags(result: dict) -> list[str]:
    return [a for a in result["args"] if any(o in a for o in CDS_OPTION)]


@pytest.fixture(scope="module")
def dumped(tmp_path_factory):
    """Two launches with one per-user cache, empty at first.  The second
    JVM writes its archive at exit: the dump's path, the launches' JSON,
    the files the first left, the second's stdout, and the dump's first
    bytes and size once the child has exited."""
    xdg = tmp_path_factory.mktemp("dump-cache")
    first, _ = launch(XDG_CACHE_HOME=str(xdg))
    left = {p.name for p in (xdg / "aicoe_osc_demo_spark").iterdir()}
    result, stdout = launch(XDG_CACHE_HOME=str(xdg))
    dumps = [a.partition("=")[2] for a in result["args"] if a.startswith("-XX:ArchiveClassesAtExit=")]
    assert len(dumps) == 1, result["args"]
    dump = Path(dumps[0])
    return SimpleNamespace(path=dump, first=first, left=left, result=result, stdout=stdout,
                           head=dump.read_bytes()[:4] if dump.exists() else b"",
                           size=dump.stat().st_size if dump.exists() else 0)


def published(dump: Path) -> Path | None:
    """The archive ``dump`` is published as (at most once)."""
    return tidy_archives(dump.parent, dump.name.split(".")[0])


def test_a_first_launch_only_leaves_a_note(dumped):
    # an empty cache may not outlive the process: launch as without an archive
    cache = dumped.path.parent
    assert dumped.first["counts"] == COUNTS
    assert archive_flags(dumped.first) == []
    assert dumped.first["conf_dir"][:2] == [None, None]
    assert not dumped.first["conf_dir"][2].startswith(str(cache))
    # its note is what let the second launch dump
    assert dumped.left == {"conf", dumped.path.name.split(".")[0] + ".seen"}


def test_a_launch_without_an_archive_writes_one(dumped):
    cache, result = dumped.path.parent, dumped.result
    assert result["counts"] == COUNTS
    # the JVM dumped its classes at exit, and none of its warnings reached stdout
    assert "[cds" not in dumped.stdout
    assert archive_flags(result) == [f"-XX:ArchiveClassesAtExit={dumped.path}", "-Xlog:cds*=off"]
    # the launcher ran under the empty conf dir; the parent's env is restored
    assert result["conf_dir"] == [None, None, str(cache / "conf")]
    assert list((cache / "conf").iterdir()) == []
    # the child waited for its JVM to finish the dump; the next get_spark
    # publishes it under the key and its length
    assert dumped.head == FINISHED
    key = dumped.path.name.split(".")[0]
    assert published(dumped.path) == cache / f"{key}.{dumped.size}.jsa"


def test_a_warm_archive_is_mapped(dumped, tmp_path):
    cache = dumped.path.parent
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("spark.master local\n")
    classes = tmp_path / "classes.log"
    result, _ = launch(
        XDG_CACHE_HOME=str(cache.parent), SPARK_CONF_DIR=str(conf),
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options -Xlog:class+load=info:file={classes} pyspark-shell")
    assert result["counts"] == COUNTS
    assert archive_flags(result) == [f"-XX:SharedArchiveFile={published(dumped.path)}",
                                     "-Xlog:cds*=off"]
    # Spark's own classes load from the dynamic archive, not from their jars
    log = classes.read_text()
    assert "org.apache.spark.SparkContext source: shared objects file (top)" in log
    assert log.count("shared objects file (top)") > 1000
    # a templates-only conf dir is the parent's again after get_spark
    assert result["conf_dir"] == [str(conf), str(conf), str(cache / "conf")]


@pytest.mark.parametrize("damage", ["stale", "corrupt"])
def test_a_stale_or_corrupt_archive_still_starts(dumped, damage, tmp_path):
    archive = published(dumped.path)
    cache = tmp_path / "aicoe_osc_demo_spark"
    cache.mkdir()
    if damage == "stale":
        # recorded with another conf dir on the classpath: CDS refuses it
        shutil.copy(archive, cache / archive.name)
    else:
        data = FINISHED + os.urandom(1 << 20)
        (cache / f"{archive.name.split('.')[0]}.{len(data)}.jsa").write_bytes(data)
    classes = tmp_path / "classes.log"
    result, _ = launch(
        XDG_CACHE_HOME=str(tmp_path),
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options -Xlog:class+load=info:file={classes} pyspark-shell")
    assert result["counts"] == COUNTS
    assert archive_flags(result)[0].startswith("-XX:SharedArchiveFile=")
    assert "shared objects file (top)" not in classes.read_text()


def test_a_real_spark_defaults_gets_no_archive(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.sql.shuffle.partitions 5\n")
    result, _ = launch(XDG_CACHE_HOME=str(tmp_path), SPARK_CONF_DIR=str(conf))
    assert result["counts"] == COUNTS
    assert archive_flags(result) == []
    assert result["conf_dir"] == [str(conf)] * 3
    assert not (tmp_path / "aicoe_osc_demo_spark").exists()


def test_a_users_xshare_off_gets_no_archive(tmp_path):
    result, _ = launch(XDG_CACHE_HOME=str(tmp_path),
                       PYSPARK_SUBMIT_ARGS="--driver-java-options -Xshare:off pyspark-shell")
    assert result["counts"] == COUNTS
    assert archive_flags(result) == ["-Xshare:off"]
    # the launcher's own default conf dir, not the empty one
    assert result["conf_dir"][:2] == [None, None]
    assert not result["conf_dir"][2].startswith(str(tmp_path))
    assert not (tmp_path / "aicoe_osc_demo_spark").exists()


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

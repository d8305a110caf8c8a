"""SparkSession factory tuned for the engine.

Defaults are chosen for correctness-reproducibility and for scale:

- AQE on (runtime coalescing, skew-join splitting) — at 100 TB the static
  shuffle-partition guess is always wrong; AQE re-plans from runtime stats.
- ``spark.sql.shuffle.partitions`` sized from cores locally; on a real
  cluster AQE coalesces down from a high initial number.
- Arrow execution for every pandas UDF / mapInPandas stage (vectorized
  transfer instead of pickled rows).
- Session timezone pinned to UTC so timestamp semantics match the parquet
  test data and the DuckDB oracle bit-for-bit.
- Broadcast threshold raised to 32 MB (Spark's default is 10 MB) —
  dimension tables (nation, region, kpi-mapping-sized) broadcast
  automatically; code additionally uses explicit ``F.broadcast`` where the
  dimension side is known small.
- Generated-code cache sized to 8192 classes
  (``spark.sql.codegen.cache.maxEntries``, a static conf).  Spark keeps each
  Janino-compiled class in a JVM-wide Guava cache of 100 entries by default.
  Guava's ``maximumSize`` evicts per segment, before the total reaches the
  limit, so the 90 classes of the benchmark's 12 ``catalog_mix`` entries
  already thrash it: a repeated sweep re-compiles up to half of them (0 to
  51 per sweep across six fresh JVMs), and HotSpot JIT-compiles each new
  copy again.  A sweep of the whole 318-entry registry compiles
  about 4,050 classes; 8192 is twice that, so repeated queries stay clear
  of the eviction cliff.  Cost after two full-registry sweeps at sf0.001
  and a full GC: heap 267 -> 399 MB, metaspace 222 -> 256 MB.
- Python workers import pyspark from site-packages
  (``spark.python.daemon.module`` = ``aicoe_osc_demo_spark.worker_daemon``,
  a static conf).  Spark puts ``SPARK_HOME``'s ``pyspark.zip`` (1,328
  entries), ``py4j-*-src.zip`` and ``jars/spark-core_*.jar`` (5,359 entries,
  no ``.py`` files) on the workers' ``sys.path``, and by default workers
  import pyspark from the zip, one zip importer per subpackage.  Before
  every task ``pyspark/worker_util.setup_spark_files`` calls
  ``importlib.invalidate_caches()``, and on Python 3.11 that makes every zip
  importer re-read its archive's whole directory: a worker holds 16 zip
  importers and one invalidation took 130-290 ms (the jar alone ~22 ms).
  The daemon module takes those archives off ``sys.path`` and out of
  ``sys.path_importer_cache`` before ``pyspark.daemon`` loads, so the
  daemon and the workers it forks import from site-packages and the
  invalidation only touches directory finders (0.1 ms).  A warm 1-task
  ``mapInPandas`` job went 0.17-0.24 -> 0.11 s (0.02-0.04 s without
  Python; 4 cores).
  Version guard: the archives are dropped only when the pyspark version in
  ``pyspark.zip``'s ``pyspark/version.py`` and the py4j version in the zip's
  name equal the versions importable without them; otherwise ``sys.path``
  is left as Spark built it.  Cluster story: executors import the daemon
  module from the engine package, as they already import it for every
  engine UDF; where they cannot, no Python worker starts, even for a UDF
  that uses no engine code.  Vanilla sessions (any built without
  ``get_spark``, such as ``tests/conftest.py``'s) keep ``pyspark.daemon``
  and its zip imports.
- The driver JVM runs the Parallel collector (``-XX:+UseParallelGC`` in
  ``spark.driver.defaultJavaOptions``, a static conf).  On ``local[N]``
  that JVM runs every task, and by default HotSpot picks G1.  Tungsten's
  memory pages are G1 humongous objects: at a 2 GB heap a page is 16 MB
  (``pageSizeBytes`` 16,777,200) against 1 MB G1 regions, and at the
  default 8 GB heap 64 MB against 4 MB regions.  So every aggregate, sort
  or shuffle task allocates humongous arrays, and those start G1
  concurrent cycles: in a seed-1 ``catalog_mix`` run 29 of G1's 71 pauses
  were ``Concurrent Start (G1 Humongous Allocation)``, against 36 pauses
  on Parallel, which has no humongous path.  Measured with perfbench (2 GB heap, 4 cores), medians
  of 10 interleaved pairs: ``esg_inference`` ``cpu_s`` 6.93 -> 5.31 s and
  ``pass_s`` 2.51 -> 2.09 s; ``catalog_mix`` ``cpu_s`` 7.13 -> 6.54 s,
  ``pass_s`` and latency within noise; JVM peak RSS not higher.  Per JVM
  thread over the timed passes (median of 5 runs, G1 -> Parallel): the
  collector's own threads 0.16 -> 0.03 s per ``catalog_mix`` pass and
  0.31 -> 0.05 s per ``esg_inference`` pass; C2 compiler threads
  3.97 -> 3.11 and 2.25 -> 2.02 s (cause not isolated); task threads
  0.68 -> 0.62 and 1.23 -> 1.02 s.  At 2 GB the
  page also drops to 8 MB (Parallel's ``maxMemory`` leaves out a survivor
  space); Parallel with 16 MB pages kept most of the saving.
  Guard (``parallel_gc_applies``): the flag is added only when no JVM
  option the launcher will see already picks a collector (HotSpot refuses
  two) and ``spark-defaults.conf`` sets no
  ``spark.driver.defaultJavaOptions`` (``get_spark``'s ``--conf`` would
  replace it).  Vanilla sessions (the driver's, ``tests/conftest.py``'s) keep G1.
"""

from __future__ import annotations

import os
import re
from collections.abc import Mapping
from pathlib import Path

from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# Environment variables whose JVM options reach the driver JVM that
# ``get_spark`` starts: pyspark's submit arguments, the launcher's own
# options, and the two variables HotSpot reads itself (plus its legacy
# ``_JAVA_OPTIONS``).
JAVA_OPTION_ENV = (
    "PYSPARK_SUBMIT_ARGS",
    "SPARK_SUBMIT_OPTS",
    "JAVA_TOOL_OPTIONS",
    "JDK_JAVA_OPTIONS",
    "_JAVA_OPTIONS",
)
# A HotSpot flag that picks (or rules out) a garbage collector.
_COLLECTOR_FLAG = re.compile(r"-XX:[+-]Use\w+GC\b")


def default_cpus() -> str:
    """Core count for ``local[N]``: ``SPARK_GRAFT_CPUS`` when set, else the
    cores this process may run on."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def parallel_gc_applies(env: Mapping[str, str], spark_defaults: str) -> bool:
    """Whether ``get_spark`` may start its JVM with ``-XX:+UseParallelGC``.

    ``env`` is the process environment and ``spark_defaults`` the text of
    the ``spark-defaults.conf`` the launcher reads.  False when a JVM option
    the launcher will pass already names a collector (HotSpot refuses to
    start with two), or when ``spark-defaults.conf`` sets
    ``spark.driver.defaultJavaOptions``, which ``get_spark``'s ``--conf``
    would replace."""
    if any(_COLLECTOR_FLAG.search(env.get(name, "")) for name in JAVA_OPTION_ENV):
        return False
    for line in spark_defaults.splitlines():
        line = line.strip()
        key = re.split(r"[\s=:]", line, maxsplit=1)[0]
        if key == "spark.driver.defaultJavaOptions":
            return False
        if (key.startswith("spark.driver.") and key.endswith("JavaOptions")
                and _COLLECTOR_FLAG.search(line)):
            return False
    return True


def spark_defaults_text() -> str:
    """The ``spark-defaults.conf`` the launcher will read (``SPARK_CONF_DIR``,
    else ``SPARK_HOME/conf``), or "" when there is none."""
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(_find_spark_home(), "conf")
    path = Path(conf_dir) / "spark-defaults.conf"
    return path.read_text() if path.is_file() else ""


def session_confs(
    cpus: str | None = None,
    gpus_per_task: float | None = None,
    gpus_per_executor: int | None = None,
) -> dict[str, str]:
    """The full config map ``get_spark`` applies — exposed as a pure
    function so tests can assert the exact confs (``getOrCreate`` against a
    live session silently drops non-SQL confs, making post-hoc assertion
    unreliable).

    Static confs such as ``spark.sql.codegen.cache.maxEntries``,
    ``spark.python.daemon.module``, ``spark.driver.memory`` and
    ``spark.driver.defaultJavaOptions`` only take effect when ``get_spark``
    starts the JVM; against a live session they are skipped."""
    cpus = cpus or default_cpus()
    confs = {
        "spark.sql.shuffle.partitions": str(max(int(cpus), 8)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # NOTE: the local test parquet files are single-row-group, so scans
        # cannot parallelize below one task regardless of
        # spark.sql.files.maxPartitionBytes (measured: lowering it only adds
        # empty tasks).  On a real cluster the default 128 MB split applies
        # across many files/row-groups.
        "spark.sql.session.timeZone": "UTC",
        # events.parquet stores TIMESTAMP(NANOS); sources.tables.load_table
        # reads it as long nanos.  Set here so no read flips it mid-session.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
        # 2x the whole registry's ~4,050 generated classes (module docstring)
        "spark.sql.codegen.cache.maxEntries": "8192",
        # workers import pyspark from site-packages (module docstring)
        "spark.python.daemon.module": "aicoe_osc_demo_spark.worker_daemon",
    }
    # the Parallel collector, unless the user's JVM options pick one
    # (module docstring)
    if parallel_gc_applies(os.environ, spark_defaults_text()):
        confs["spark.driver.defaultJavaOptions"] = "-XX:+UseParallelGC"
    if gpus_per_task is not None:
        confs["spark.task.resource.gpu.amount"] = str(gpus_per_task)
    if gpus_per_executor is not None:
        confs["spark.executor.resource.gpu.amount"] = str(gpus_per_executor)
    return confs


def get_spark(
    app_name: str = "aicoe-osc-demo-spark",
    cpus: str | None = None,
    gpus_per_task: float | None = None,
    gpus_per_executor: int | None = None,
) -> SparkSession:
    """Build the engine's SparkSession.

    ``gpus_per_task`` / ``gpus_per_executor`` wire Spark's standard GPU
    resource scheduling (``spark.task.resource.gpu.amount`` /
    ``spark.executor.resource.gpu.amount``) for the ML inference stages:
    with ``gpus_per_task=1`` Spark schedules one mapInPandas task per GPU
    and the executor-singleton model loader (operators/inference.py) picks
    up the assigned device via ``TaskContext.get().resources()["gpu"]``.
    On local mode the configs are accepted but only enforced when a
    resource-discovery script is configured, matching stock Spark behavior.
    """
    cpus = cpus or default_cpus()
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    for key, value in session_confs(cpus, gpus_per_task, gpus_per_executor).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()

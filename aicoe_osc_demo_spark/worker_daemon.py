"""Python-worker daemon for ``get_spark`` sessions (``spark.python.daemon.module``).

Run by Spark as ``python -m aicoe_osc_demo_spark.worker_daemon <worker module>``.
Before ``pyspark.daemon`` is imported, it takes ``SPARK_HOME``'s ``.zip`` and
``.jar`` entries off ``sys.path`` and out of ``sys.path_importer_cache``, so the
daemon and every worker it forks import pyspark and py4j from site-packages.
It does so only when site-packages holds the same pyspark and py4j versions
as the archives (``archives_to_drop``); otherwise the path is left as Spark
built it.  The ``session`` module docstring says why.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""__version__\s*(?::\s*str\s*)?=\s*["']([^"']+)["']""")
_PY4J_ZIP = re.compile(r"py4j-(.+)-src\.zip")


def spark_archives(path: list[str], spark_home: str | None) -> list[str]:
    """The ``.zip``/``.jar`` entries of ``path`` that live under ``spark_home``."""
    if not spark_home:
        return []
    home = os.path.join(os.path.realpath(spark_home), "")
    return [p for p in path
            if p.endswith((".zip", ".jar")) and os.path.realpath(p).startswith(home)]


def archives_to_drop(archives: list[str], archived: dict[str, str | None],
                     installed: dict[str, str | None]) -> list[str]:
    """``archives`` when the versions of pyspark and py4j they hold
    (``archived``) are known and equal those importable without them
    (``installed``, None when missing); else nothing."""
    for package in ("pyspark", "py4j"):
        if archived.get(package) is None or archived.get(package) != installed.get(package):
            return []
    return archives


def _version(source: str) -> str | None:
    match = _VERSION.search(source)
    return match.group(1) if match else None


def archived_versions(archives: list[str]) -> dict[str, str | None]:
    """pyspark's version from ``pyspark/version.py`` inside ``pyspark.zip``
    (read with ``zipfile``, not imported) and py4j's from its zip's name."""
    found: dict[str, str | None] = {}
    for archive in archives:
        name = os.path.basename(archive)
        if name == "pyspark.zip":
            try:
                with zipfile.ZipFile(archive) as z:
                    found["pyspark"] = _version(z.read("pyspark/version.py").decode())
            except (OSError, KeyError, zipfile.BadZipFile):
                found["pyspark"] = None
        elif match := _PY4J_ZIP.fullmatch(name):
            found["py4j"] = match.group(1)
    return found


def installed_versions(path: list[str]) -> dict[str, str | None]:
    """The versions of the pyspark and py4j packages an import would find
    on ``path``, read from their ``version.py`` without importing them."""
    found: dict[str, str | None] = {}
    for package in ("pyspark", "py4j"):
        spec = PathFinder.find_spec(package, path)
        location = next(iter(spec.submodule_search_locations or []), None) if spec else None
        found[package] = None
        if location:
            try:
                with open(os.path.join(location, "version.py"), encoding="utf-8") as f:
                    found[package] = _version(f.read())
            except OSError:
                pass
    return found


def drop_spark_archives() -> None:
    """Take the ``SPARK_HOME`` archives off ``sys.path`` and out of
    ``sys.path_importer_cache`` when ``archives_to_drop`` allows it."""
    archives = spark_archives(sys.path, os.environ.get("SPARK_HOME"))
    kept = [p for p in sys.path if p not in archives]
    dropped = archives_to_drop(archives, archived_versions(archives), installed_versions(kept))
    if dropped:
        sys.path[:] = kept
        for key in [k for k in sys.path_importer_cache
                    if any(k == a or k.startswith(a + os.sep) for a in dropped)]:
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    drop_spark_archives()
    from pyspark import daemon

    daemon.manager()

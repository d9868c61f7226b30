"""Python worker daemon that keeps Spark's own archives off the import path.

Spark starts Python workers with ``$SPARK_HOME/python/lib/pyspark.zip``, the
py4j zip and the spark-core jar at the front of ``PYTHONPATH``. Every task
then calls ``importlib.invalidate_caches()`` (pyspark's
``worker_util.setup_spark_files``), and on Python 3.11 that re-reads the
central directory of every archive that has a ``zipimporter`` in
``sys.path_importer_cache`` — 0.15–0.2 CPU s per task for the 1,328-entry
pyspark.zip and the 5,359-entry jar. When the interpreter already has the
same pyspark installed (and py4j), this daemon drops those archives before
handing off to ``pyspark.daemon``, so its forked workers never scan them.

``session.get_spark`` selects it with ``spark.python.daemon.module``. The
data-source planner workers (schema, read and write planning) do not honour
that conf: Spark's ``PythonPlannerRunner`` always launches
``pyspark.daemon``. The ``clickhouse_http`` data source covers them itself:
it calls ``drop_spark_archives`` when a planner worker builds or unpickles
it, and Spark reuses planner workers, so each pays the scan once instead
of on every planner call (``load()`` 0.16 → 0.04 CPU s on a 4-vCPU VM).
"""

from __future__ import annotations

import os
import re
import runpy
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""__version__\s*(?::\s*str\s*)?=\s*["']([^"']+)["']""")


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _archive_version(archive: str) -> str | None:
    try:
        with zipfile.ZipFile(archive) as z:
            return _version(z.read("pyspark/version.py").decode())
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _installed_version(dirs: list[str]) -> str | None:
    spec = PathFinder.find_spec("pyspark", dirs)
    if spec is None or not spec.submodule_search_locations:
        return None
    try:
        with open(os.path.join(spec.submodule_search_locations[0], "version.py")) as f:
            return _version(f.read())
    except OSError:
        return None


def kept_path(path: list[str], spark_home: str | None) -> list[str]:
    """``path`` without the archive files under ``realpath(spark_home)``, or
    ``path`` unchanged unless its remaining directories hold a pyspark of the
    archived version and a py4j. Entries outside ``spark_home`` always stay."""
    if not spark_home:
        return list(path)
    home = os.path.join(os.path.realpath(spark_home), "")
    archives = {
        p for p in path if os.path.isfile(p) and os.path.realpath(p).startswith(home)
    }
    kept = [p for p in path if p not in archives]
    dirs = [p or os.getcwd() for p in kept if os.path.isdir(p or ".")]
    archived = {_archive_version(a) for a in archives} - {None}
    if archived == {_installed_version(dirs)} and PathFinder.find_spec("py4j", dirs):
        return kept
    return list(path)


_dropped = False


def drop_spark_archives() -> None:
    """Apply ``kept_path`` to this process's ``sys.path``, once per process,
    and forget the zipimporters of the archives it dropped."""
    global _dropped
    if _dropped:
        return
    _dropped = True
    kept = kept_path(sys.path, os.environ.get("SPARK_HOME"))
    dropped = [p for p in sys.path if p not in kept]
    sys.path[:] = kept
    # imports from the archives already built zipimporters for them, and
    # invalidate_caches walks the importer cache, not sys.path
    for key in list(sys.path_importer_cache):
        if any(key == p or key.startswith(os.path.join(p, "")) for p in dropped):
            del sys.path_importer_cache[key]


def main() -> None:
    drop_spark_archives()
    runpy.run_module("pyspark.daemon", run_name="__main__")


if __name__ == "__main__":
    main()

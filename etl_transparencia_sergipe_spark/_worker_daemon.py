"""Spark's Python daemon, started on the installed pyspark.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module,
so Spark runs ``python -m etl_transparencia_sergipe_spark._worker_daemon``
where it would run ``python -m pyspark.daemon``, and every task-running
Python worker is forked from it.

Spark puts its own ``pyspark.zip``, the py4j zip and the ``spark-core`` jar
at the front of the daemon's ``PYTHONPATH``, so workers import pyspark from
the zip. PySpark's ``setup_spark_files`` calls ``importlib.invalidate_caches()``
at the start of every task, and Python 3.11 then re-reads the whole
directory of every ``zipimporter`` in ``sys.path_importer_cache``: 16 of
them for these three archives, about 27k entries, 0.10-0.13 s a task on
a 4-vCPU VM (the jar holds no ``.py`` file at all). Before it imports
``pyspark.daemon``, this module drops the three archives from ``sys.path``
and from the importer cache; forked workers then import pyspark from the
installed directory and the call takes under 0.1 ms.

The archives are dropped only when the directory pyspark can stand in for
them: it has the version of the zip's ``pyspark/version.py`` and py4j
imports from a directory. Otherwise ``sys.path`` stays as Spark set it.
Every other entry always stays: the worker's cwd, the ``userFiles``
directory and ``addPyFile`` zips, ``PYTHONPATH`` and the stdlib.

``python -m`` imports the package before this module runs, which is why
the package ``__init__`` must not import pyspark.
"""

from __future__ import annotations

import importlib.machinery
import importlib.metadata
import os
import re
import sys
import zipfile

# The basenames of what Spark's PythonUtils.sparkPythonPath puts on the
# path: $SPARK_HOME/python/lib/{pyspark.zip, py4j-*-src.zip} and the jar
# that holds PythonUtils.
_SPARK_ARCHIVE = re.compile(
    r"pyspark\.zip|py4j-.*-src\.zip|spark-core_.*\.jar")
_VERSION = re.compile(r"""__version__\s*(?::\s*str\s*)?=\s*['"]([^'"]+)['"]""")


def _zip_version(archive: str) -> str | None:
    """``__version__`` of the ``pyspark/version.py`` inside ``archive``."""
    try:
        with zipfile.ZipFile(archive) as z:
            src = z.read("pyspark/version.py").decode("utf-8")
    except (OSError, KeyError, zipfile.BadZipFile):
        return None
    m = _VERSION.search(src)
    return m.group(1) if m else None


def _imports_from_directory(name: str, path: list[str]) -> bool:
    spec = importlib.machinery.PathFinder.find_spec(name, path)
    return (spec is not None and spec.origin is not None
            and os.path.isfile(spec.origin))


def worker_path(path: list[str]) -> list[str]:
    """``path`` without Spark's pyspark, py4j and ``spark-core`` archives,
    when the pyspark installed in a directory on the rest of ``path`` has
    the archive's version and py4j imports from a directory; otherwise
    ``path`` itself."""
    archives = {p for p in path if os.path.isfile(p)
                and _SPARK_ARCHIVE.fullmatch(os.path.basename(p))}
    zips = [p for p in archives if os.path.basename(p) == "pyspark.zip"]
    kept = [p for p in path if p not in archives]
    if len(zips) != 1 or not _imports_from_directory("pyspark", kept) \
            or not _imports_from_directory("py4j", kept):
        return path
    installed = {d.version for d in importlib.metadata.distributions(
        name="pyspark", path=kept)}
    return kept if installed == {_zip_version(zips[0])} else path


def _drop_archives() -> None:
    """Apply :func:`worker_path` to ``sys.path`` and forget the importers
    of the dropped archives, so ``importlib.invalidate_caches()`` no
    longer re-reads them."""
    kept = worker_path(sys.path)
    dropped = [p for p in sys.path if p not in kept]
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in dropped):
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    _drop_archives()
    from pyspark import daemon

    daemon.manager()

"""Python workers fork from ``_worker_daemon``: they import pyspark from
its installed directory, with no importer left for Spark's archives, so
PySpark's per-task ``importlib.invalidate_caches()`` re-reads no zip.
``worker_path`` keeps Spark's path whenever the directory copy cannot
stand in for the archives, and always keeps every other entry."""

from __future__ import annotations

import os
import subprocess
import sys
import sysconfig
import textwrap
import zipfile
from pathlib import Path

import pytest

from etl_transparencia_sergipe_spark._worker_daemon import worker_path

ROOT = Path(__file__).resolve().parent.parent
STDLIB = [sysconfig.get_path("stdlib"), sysconfig.get_path("platstdlib")]


def test_workers_import_pyspark_from_its_directory(spark):
    def imports(_):
        import zipimport

        import pyspark

        yield pyspark.__file__, [
            k for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)]

    [(origin, zip_keys)] = spark.sparkContext.parallelize(
        [0], 1).mapPartitions(imports).collect()
    assert os.path.isfile(origin), origin
    assert not [k for k in zip_keys
                if any(name in k for name in ("pyspark.zip", "py4j-",
                                              "spark-core_"))], zip_keys


def test_add_py_file_module_imports_in_a_task(spark, tmp_path):
    # a worker that already ran tasks must still see a zip shipped later
    sc = spark.sparkContext
    sc.parallelize(range(4), 4).count()
    with zipfile.ZipFile(tmp_path / "shipped.zip", "w") as z:
        z.writestr("worker_daemon_shipped.py", "def f(x):\n    return x + 1\n")
    sc.addPyFile(str(tmp_path / "shipped.zip"))

    def bump(x):
        import worker_daemon_shipped

        return worker_daemon_shipped.f(x)

    assert sc.parallelize(range(4), 4).map(bump).collect() == [1, 2, 3, 4]


def test_driver_outside_repo_runs_pandas_udf(tmp_path):
    # started from a cwd without the package and with no PYTHONPATH, the
    # workers still find the daemon module
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(ROOT)!r})
        import pandas as pd
        from pyspark.sql.functions import pandas_udf
        from etl_transparencia_sergipe_spark import get_spark

        spark = get_spark("outside")

        @pandas_udf("long")
        def plus_one(s: pd.Series) -> pd.Series:
            return s + 1

        print(sorted(r[0] for r in
                     spark.range(4).select(plus_one("id")).collect()))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split("\n")[-2] == "[1, 2, 3, 4]"


# --- worker_path over a fake Spark layout; no Spark needed ---

def _zip(path: Path, files: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)
    return str(path)


def _package(site: Path, name: str, version: str | None = None) -> str:
    (site / name).mkdir(parents=True)
    (site / name / "__init__.py").write_text("")
    if version:
        info = site / f"{name}-{version}.dist-info"
        info.mkdir()
        (info / "METADATA").write_text(
            f"Metadata-Version: 2.1\nName: {name}\nVersion: {version}\n")
    return str(site)


@pytest.fixture
def layout(tmp_path):
    """Spark's three archives (the zip says 9.9.9), then the user's entries
    that a worker's path holds besides them."""
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    archives = [
        _zip(lib / "pyspark.zip",
             {"pyspark/__init__.py": "",
              "pyspark/version.py": "__version__: str = '9.9.9'\n"}),
        _zip(lib / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": ""}),
        _zip(tmp_path / "spark" / "spark-core_2.13-9.9.9.jar",
             {"org/apache/spark/api/python/PythonUtils.class": ""})]
    (tmp_path / "userFiles").mkdir()
    user = [str(tmp_path / "cwd"), str(tmp_path / "userFiles"),
            _zip(tmp_path / "userFiles" / "deps.zip", {"deps.py": ""})]
    return tmp_path, archives, user


def test_worker_path_drops_archives_the_directory_copy_replaces(layout):
    tmp, archives, user = layout
    site = _package(tmp / "site", "pyspark", "9.9.9")
    _package(tmp / "site", "py4j", "0.10.9.9")
    path = user[:1] + archives + user[1:] + STDLIB + [site]
    assert worker_path(path) == user + STDLIB + [site]


@pytest.mark.parametrize("case", ["version_mismatch", "no_dir_pyspark",
                                  "no_dir_py4j"])
def test_worker_path_keeps_spark_path(layout, case):
    tmp, archives, user = layout
    site = tmp / "site"
    site.mkdir()
    if case != "no_dir_pyspark":
        _package(site, "pyspark",
                 "9.9.8" if case == "version_mismatch" else "9.9.9")
    if case != "no_dir_py4j":
        _package(site, "py4j", "0.10.9.9")
    path = user[:1] + archives + user[1:] + STDLIB + [str(site)]
    assert worker_path(path) == path

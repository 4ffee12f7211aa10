"""The repository scripts that stay (no Spark session): the helpers the
benchmark imports from ``bench.py`` and ``tools/check_correctness.py``
resolve, every ``tools/<name>.py`` the docs cite exists, QUERIES.md is
what ``tools/gen_query_catalog.py`` renders from the registry, the
registry's order does not depend on import order, and importing the
package does not import pyspark."""

from __future__ import annotations

import ast
import importlib
import re
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent


@pytest.fixture
def tools_path(monkeypatch):
    # the import path perfbench/run.py sets up
    for p in (ROOT, ROOT / "tools"):
        monkeypatch.syspath_prepend(str(p))


def _perfbench_imports() -> dict[str, set[str]]:
    """{module: names} of perfbench's ``from bench/check_correctness
    import ...`` statements."""
    out: dict[str, set[str]] = {}
    for f in (ROOT / "perfbench").glob("*.py"):
        for node in ast.walk(ast.parse(f.read_text())):
            if isinstance(node, ast.ImportFrom) \
                    and node.module in ("bench", "check_correctness"):
                out.setdefault(node.module, set()).update(
                    a.name for a in node.names)
    return out


def test_perfbench_helper_imports_resolve(tools_path):
    wanted = _perfbench_imports()
    assert set(wanted) == {"bench", "check_correctness"}
    for module, names in wanted.items():
        mod = importlib.import_module(module)
        missing = sorted(n for n in names if not hasattr(mod, n))
        assert not missing, f"{module} lacks {missing}"


@pytest.mark.parametrize("doc", ["README.md", ".claude/skills/verify/SKILL.md",
                                 "PLANS.md"])
def test_cited_tools_exist(doc):
    cited = set(re.findall(r"tools/(\w+\.py)", (ROOT / doc).read_text()))
    assert cited
    assert sorted(n for n in cited if not (ROOT / "tools" / n).exists()) == []


def test_queries_md_matches_registry(tools_path):
    import gen_query_catalog as g

    above = (ROOT / "QUERIES.md").read_text().split(g.MARKER, 1)[0]
    assert above.rstrip("\n") == g.render_table().rstrip("\n")


def test_registry_order_ignores_import_order():
    # a fresh interpreter that imports a plan module before the registry
    # gets the extended tier in the same order as this process
    from etl_transparencia_sergipe_spark.plans.registry import queries

    out = subprocess.run(
        [sys.executable, "-c",
         "import etl_transparencia_sergipe_spark.plans.relational2; "
         "from etl_transparencia_sergipe_spark.plans.registry import "
         "queries; print(*queries(), sep=chr(10))"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
        check=True).stdout
    assert out.split() == list(queries())


def test_package_import_leaves_pyspark_out():
    # Spark's Python daemon imports the package before
    # ``_worker_daemon`` can take Spark's archives off the path
    out = subprocess.run(
        [sys.executable, "-c",
         "import sys, etl_transparencia_sergipe_spark; "
         "print('pyspark' in sys.modules); "
         "from etl_transparencia_sergipe_spark import get_spark; "
         "print(get_spark.__module__)"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
        check=True).stdout
    assert out.split() == ["False", "etl_transparencia_sergipe_spark.session"]

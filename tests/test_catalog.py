"""The catalog package: one leaf registry, one module per domain, one gate
order applied after every domain has registered."""

from __future__ import annotations

import ast
import pathlib
import subprocess
import sys

import pytest

from conftest import import_catalog_module_first

REPO = pathlib.Path(__file__).resolve().parents[1]
CATALOG = REPO / "hbase_taggregator_spark" / "catalog"
MODULES = sorted(p.stem for p in CATALOG.glob("*.py") if p.stem != "__init__")
DOMAINS = [m for m in MODULES if m != "registry"]


def _package_imports(path: pathlib.Path) -> list[str]:
    """Dotted targets of every package import in ``path`` (relative imports
    resolved against the catalog package)."""
    out = []
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            out += [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                base = "hbase_taggregator_spark.catalog" + (f".{base}" if base else "")
            out += [f"{base}.{a.name}" for a in node.names]
    return [n for n in out if n.startswith("hbase_taggregator_spark")]


@pytest.mark.parametrize("mod", MODULES)
def test_importing_any_catalog_module_first_loads_the_whole_catalog(mod):
    """Whichever catalog module a fresh interpreter imports first, it sees
    all 203 queries with the gate order first and an oracle for every one
    (the rows-only census is empty)."""
    import_catalog_module_first(mod)


@pytest.mark.parametrize("domain", DOMAINS)
def test_domain_modules_import_only_the_registry_and_the_engine(domain):
    bad = [
        n for n in _package_imports(CATALOG / f"{domain}.py")
        if n.startswith("hbase_taggregator_spark.catalog")
        and not n.startswith("hbase_taggregator_spark.catalog.registry.")
    ]
    assert not bad, bad


def test_registry_is_a_leaf():
    imports = _package_imports(CATALOG / "registry.py")
    assert not [n for n in imports if n.startswith("hbase_taggregator_spark.catalog")]


def test_engine_imports_load_no_catalog_module():
    """The engine surface (and so perfbench) stays free of the catalog."""
    code = (
        "import sys\n"
        "import hbase_taggregator_spark\n"
        "import hbase_taggregator_spark.operators, hbase_taggregator_spark.sources\n"
        "import hbase_taggregator_spark.streaming\n"
        "bad = [m for m in sys.modules if m.startswith('hbase_taggregator_spark.catalog')]\n"
        "assert not bad, bad\n"
    )
    subprocess.run([sys.executable, "-c", code], check=True, cwd=REPO)


def test_plan_frames_document_registered_queries():
    from hbase_taggregator_spark.catalog import PLAN_FRAMES, QUERIES

    assert PLAN_FRAMES
    assert set(PLAN_FRAMES) <= set(QUERIES)

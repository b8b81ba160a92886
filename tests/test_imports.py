"""Static hygiene checks over the package source, stdlib ``ast`` only.

1. Every top-level import in ``chrono_scraper_spark/`` is used by its
   module; a deliberate re-export says so with ``# noqa: F401``.
2. The ``__spark_entry__`` query registry is consistent: every oracle
   belongs to a query, and every perfbench headline query has an oracle.
"""

from __future__ import annotations

import ast
import importlib.util
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "chrono_scraper_spark"


def _unused_imports(path: Path) -> list[str]:
    src = path.read_text()
    lines = src.splitlines()
    tree = ast.parse(src)
    imported: dict[str, int] = {}
    for node in tree.body:
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if any("noqa: F401" in ln
               for ln in lines[node.lineno - 1:node.end_lineno]):
            continue
        for alias in node.names:
            if alias.name != "*":
                name = alias.asname or alias.name.split(".")[0]
                imported[name] = node.lineno
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    return [f"{path.relative_to(ROOT)}:{line}: {name}"
            for name, line in sorted(imported.items(), key=lambda kv: kv[1])
            if name not in used]


def test_no_unused_top_level_imports():
    unused = [u for p in sorted(PKG.rglob("*.py")) for u in _unused_imports(p)]
    assert not unused, "unused imports:\n" + "\n".join(unused)


def test_registry_is_consistent():
    from chrono_scraper_spark.entry_queries import ORACLES, QUERIES

    spec = importlib.util.spec_from_file_location(
        "perfbench_headline", ROOT / "perfbench" / "headline.py")
    headline = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(headline)

    assert set(ORACLES) <= set(QUERIES), sorted(set(ORACLES) - set(QUERIES))
    missing = set(headline.HEADLINE_QUERIES) - set(ORACLES)
    assert not missing, sorted(missing)

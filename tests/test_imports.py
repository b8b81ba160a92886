"""Static hygiene checks over the package source, stdlib ``ast`` only.

1. Every top-level import in ``chrono_scraper_spark/`` is used by its
   module; a deliberate re-export says so with ``# noqa: F401``.
2. Every module-level ``def``, ``class`` and assignment in
   ``chrono_scraper_spark/`` is reached from a root — ``__spark_entry__``,
   the registry (``entry_queries`` and ``queries/``), ``perfbench/`` or
   ``scripts/`` — through a chain of name references. ``tests/`` is not a
   root: code only a test calls is wired in or deleted. A short
   allow-list keeps the exceptions, each with its reason. Methods and
   keyword arguments are out of scope: the walk sees names only.
3. The ``__spark_entry__`` query registry is consistent: every oracle
   belongs to a query, every perfbench headline query has an oracle, and
   only the documented rows-only queries lack one.
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


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_ASSIGNS = (ast.Assign, ast.AnnAssign, ast.AugAssign)

# The roots: what a crawl round, the query registry, the benchmark and the
# scripts run. ``tests/`` is not a root.
_ROOTS = [ROOT / "__spark_entry__.py", PKG / "entry_queries.py",
          *sorted((PKG / "queries").glob("*.py")),
          *sorted((ROOT / "perfbench").glob("*.py")),
          *sorted((ROOT / "scripts").glob("*.py"))]

# Unreached code kept on purpose, with the reason. This list may only
# shrink: new code is reached from a root or not added. A key is a module
# path under the package (every definition in it) or ``module::name``.
_ALLOWED_UNREACHED = {
    "plans/router.py":
        "SURVEY T9 source fallback routing (IMMEDIATE / RETRY_THEN_FALLBACK"
        " / CIRCUIT_BREAKER), kept for live mode; tests/test_router.py",
    "plans/incremental.py":
        "SURVEY T2/T3 incremental window with overlap and coverage gaps, A4"
        " last-scraped watermark; tests/test_incremental.py",
    "functions/oracle_gen.py::winnow_fingerprints_sql":
        "DuckDB twin of textops.winnow_fingerprints that"
        " tests/test_textops.py compares against",
}


def _module_stmts(tree: ast.Module):
    """Module-level statements, looking inside module-level if/try."""
    for stmt in tree.body:
        if isinstance(stmt, (ast.If, ast.Try)):
            blocks = [stmt.body, stmt.orelse,
                      getattr(stmt, "finalbody", []),
                      *(h.body for h in getattr(stmt, "handlers", []))]
            yield from (s for block in blocks for s in block)
        else:
            yield stmt


def _bound_names(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, _DEFS):
        return [stmt.name]
    if isinstance(stmt, _ASSIGNS):
        targets = stmt.targets if isinstance(stmt, ast.Assign) \
            else [stmt.target]
        return [n.id for t in targets for n in ast.walk(t)
                if isinstance(n, ast.Name)]
    return []


def _mentions(node: ast.AST) -> set[tuple[bool, str]]:
    """(is_bare_name, name) for every name, attribute and import alias."""
    out: set[tuple[bool, str]] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add((True, n.id))
        elif isinstance(n, ast.Attribute):
            out.add((False, n.attr))
        elif isinstance(n, ast.alias):
            out.add((False, n.name.rsplit(".", 1)[-1]))
    return out


def _package_index():
    """Every module-level definition of the package, and the mentions that
    are roots: the root files, and the module-level statements of other
    package modules that bind nothing (calls, ``if`` tests, which run on
    import)."""
    defs: dict[tuple[Path, str], list[ast.stmt]] = {}
    roots = [(path, _mentions(ast.parse(path.read_text())))
             for path in _ROOTS]
    for path in sorted(PKG.rglob("*.py")):
        if path in _ROOTS:
            continue
        for stmt in _module_stmts(ast.parse(path.read_text())):
            names = _bound_names(stmt)
            for name in names:
                defs.setdefault((path, name), []).append(stmt)
            if not names and not isinstance(stmt,
                                            (ast.Import, ast.ImportFrom)):
                roots.append((path, _mentions(stmt)))
    return defs, roots


def _closure(defs, frontier) -> set[tuple[Path, str]]:
    """The definitions a chain of mentions reaches. A bare name inside a
    module that binds it resolves to that module's own binding; any other
    mention reaches every definition of the name."""
    by_name: dict[str, set[tuple[Path, str]]] = {}
    for key in defs:
        by_name.setdefault(key[1], set()).add(key)
    frontier = list(frontier)
    reached: set[tuple[Path, str]] = set()
    while frontier:
        path, mentions = frontier.pop()
        for bare, name in mentions:
            own = (path, name)
            for key in ({own} if bare and own in defs
                        else by_name.get(name, ())):
                if key not in reached:
                    reached.add(key)
                    frontier += [(key[0], _mentions(stmt))
                                 for stmt in defs[key]]
    return reached


def _allow_key(key: tuple[Path, str]) -> str | None:
    rel = key[0].relative_to(PKG).as_posix()
    return next((k for k in (rel, f"{rel}::{key[1]}")
                 if k in _ALLOWED_UNREACHED), None)


def test_no_unreferenced_top_level_definitions():
    defs, roots = _package_index()
    from_roots = _closure(defs, roots)
    allowed = [key for key in defs
               if key not in from_roots and _allow_key(key)]
    # what allow-listed code uses is kept with it
    kept = from_roots | _closure(defs, [
        (key[0], _mentions(stmt)) for key in allowed for stmt in defs[key]])
    dead = [f"{path.relative_to(ROOT)}:{stmts[0].lineno}: {name}"
            for (path, name), stmts in sorted(defs.items())
            if (path, name) not in kept and not _allow_key((path, name))
            and not (name.startswith("__") and name.endswith("__"))]
    assert not dead, (
        "module-level definitions that no crawl round, registry query,"
        " perfbench workload or script reaches (wire them in or delete"
        " them):\n" + "\n".join(dead))
    stale = sorted(set(_ALLOWED_UNREACHED)
                   - {_allow_key(key) for key in allowed})
    assert not stale, f"allow-list entries now reached or gone: {stale}"


def test_registry_is_consistent():
    from chrono_scraper_spark.entry_queries import ORACLES, QUERIES

    spec = importlib.util.spec_from_file_location(
        "perfbench_headline", ROOT / "perfbench" / "headline.py")
    headline = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(headline)

    assert set(ORACLES) <= set(QUERIES), sorted(set(ORACLES) - set(QUERIES))
    missing = set(headline.HEADLINE_QUERIES) - set(ORACLES)
    assert not missing, sorted(missing)
    assert set(QUERIES) - set(ORACLES) == {
        "bpe_merges", "compression_ratio"}

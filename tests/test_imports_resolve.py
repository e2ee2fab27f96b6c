"""Every import of the package names something that exists — checked
statically with ``ast``, no Spark session.

The registry and most tools import operators lazily (inside the query or
``main`` function), so a deleted or renamed operator would otherwise
surface only when that one query or tool is called. This walks every
``from oracle_to_snowflake_etl_spark… import name`` (absolute or
relative, at module level or nested in a function) and every
``import oracle_to_snowflake_etl_spark…`` and resolves it against the
source tree: the module must exist, and each imported name must be a
module-level binding of it or one of its submodules.
"""

from __future__ import annotations

import ast
from functools import cache
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "oracle_to_snowflake_etl_spark"


def _scanned_files() -> list[Path]:
    files = sorted((ROOT / PKG).rglob("*.py"))
    for d in ("tools", "tests", "perfbench"):
        files += sorted((ROOT / d).glob("*.py"))
    files += [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    return files


def _module_file(module: str) -> Path | None:
    base = ROOT.joinpath(*module.split("."))
    for cand in (base.with_suffix(".py"), base / "__init__.py"):
        if cand.is_file():
            return cand
    return None


def _bound_names(body: list[ast.stmt]) -> set[str]:
    """Names a module body binds, descending into module-level
    if/try/with/loop blocks but never into functions or classes."""
    names: set[str] = set()

    def targets(node: ast.expr) -> None:
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, (ast.Tuple, ast.List)):
            for elt in node.elts:
                targets(elt)
        elif isinstance(node, ast.Starred):
            targets(node.value)

    for stmt in body:
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            names.add(stmt.name)
        elif isinstance(stmt, ast.Assign):
            for t in stmt.targets:
                targets(t)
        elif isinstance(stmt, (ast.AnnAssign, ast.AugAssign)):
            targets(stmt.target)
        elif isinstance(stmt, (ast.Import, ast.ImportFrom)):
            for a in stmt.names:
                names.add(a.asname or a.name.split(".")[0])
        elif isinstance(stmt, (ast.For, ast.AsyncFor)):
            targets(stmt.target)
        elif isinstance(stmt, (ast.With, ast.AsyncWith)):
            for item in stmt.items:
                if item.optional_vars is not None:
                    targets(item.optional_vars)
        for field in ("body", "orelse", "finalbody"):
            block = getattr(stmt, field, None)
            if block and not isinstance(stmt, (ast.FunctionDef,
                                               ast.AsyncFunctionDef,
                                               ast.ClassDef)):
                names |= _bound_names(block)
        for handler in getattr(stmt, "handlers", ()):
            names |= _bound_names(handler.body)
    return names


@cache
def _module_names(module: str) -> frozenset[str]:
    path = _module_file(module)
    tree = ast.parse(path.read_text(), filename=str(path))
    return frozenset(_bound_names(tree.body))


def _absolute(node: ast.ImportFrom, path: Path) -> str | None:
    """The absolute module a (possibly relative) from-import names."""
    if not node.level:
        return node.module
    # a file's package is its directory (for __init__.py too)
    pkg = list(path.relative_to(ROOT).parent.parts)
    if not pkg or node.level - 1 > len(pkg):
        return None
    base = pkg[:len(pkg) - (node.level - 1)]
    return ".".join(base + ([node.module] if node.module else []))


def _unresolved(path: Path) -> tuple[list[str], int]:
    tree = ast.parse(path.read_text(), filename=str(path))
    rel = path.relative_to(ROOT)
    bad: list[str] = []
    checked = 0
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] != PKG:
                    continue
                checked += 1
                if _module_file(a.name) is None:
                    bad.append(f"{rel}:{node.lineno}: no module {a.name}")
        elif isinstance(node, ast.ImportFrom):
            module = _absolute(node, path)
            if module is None or module.split(".")[0] != PKG:
                continue
            if _module_file(module) is None:
                bad.append(f"{rel}:{node.lineno}: no module {module}")
                continue
            for a in node.names:
                checked += 1
                if a.name == "*":
                    continue
                if (a.name not in _module_names(module)
                        and _module_file(f"{module}.{a.name}") is None):
                    bad.append(f"{rel}:{node.lineno}: {module} has no "
                               f"name {a.name}")
    return bad, checked


def test_package_imports_resolve():
    bad: list[str] = []
    checked = 0
    for path in _scanned_files():
        b, n = _unresolved(path)
        bad += b
        checked += n
    assert not bad, "\n".join(bad)
    # the walk must actually see the lazy imports it exists for
    assert checked > 500, checked

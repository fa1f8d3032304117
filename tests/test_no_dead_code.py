"""Guard: no top-level name in the package that nothing references.

An AST scan, no Spark. A top-level ``def``, ``class`` or ``Name =``
assignment in ``cdc_example_spark/`` must be referenced somewhere in
the package, the tests, the scripts, the benchmark or the entry
points, other than by its own definition. Query functions registered
with ``@query`` are reached through the registry and dunders through
the interpreter, so both are exempt.

A reference is a loaded name, an attribute, an imported name, or an
identifier inside a string constant: ``monkeypatch.setattr(mod,
"NAME", ...)`` and ``getattr`` reach a module attribute that way, and
a docstring that points readers at a function (":func:`name`") keeps
it part of the documented surface. The scan covers plain ``Name =``
assignments; annotated ones (``NAME: T = ...``) are outside it.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "cdc_example_spark"
SCANNED = [
    PACKAGE,
    ROOT / "tests",
    ROOT / "scripts",
    ROOT / "perfbench",
    ROOT / "bench.py",
    ROOT / "bench_streaming.py",
    ROOT / "__spark_entry__.py",
]


_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _py_files(paths):
    for p in paths:
        if p.is_dir():
            yield from sorted(p.rglob("*.py"))
        elif p.exists():
            yield p


def _is_query(node) -> bool:
    for d in getattr(node, "decorator_list", []):
        f = d.func if isinstance(d, ast.Call) else d
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
        if name == "query":
            return True
    return False


def _definitions(tree: ast.Module):
    """(name, node) of every top-level def, class and ``Name =``
    assignment."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if not _is_query(node):
                yield node.name, node
        elif isinstance(node, ast.Assign):
            for t in node.targets:
                if isinstance(t, ast.Name):
                    yield t.id, node


def _references(tree: ast.Module) -> "set[str]":
    refs: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            refs.add(node.id)
        elif isinstance(node, ast.Attribute):
            refs.add(node.attr)
        elif isinstance(node, ast.alias):
            refs.add(node.name.rsplit(".", 1)[-1])
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            refs.update(_IDENT.findall(node.value))
    return refs


def unreferenced_names(package: Path = PACKAGE, scanned=SCANNED) -> "list[str]":
    """``module.name`` for each top-level definition nothing references."""
    refs: set[str] = set()
    for f in _py_files(scanned):
        refs |= _references(ast.parse(f.read_text(), filename=str(f)))
    dead = []
    for f in _py_files([package]):
        tree = ast.parse(f.read_text(), filename=str(f))
        for name, _ in _definitions(tree):
            if name.startswith("__") and name.endswith("__"):
                continue
            if name not in refs:
                mod = ".".join(f.relative_to(package.parent).with_suffix("").parts)
                dead.append(f"{mod}.{name}")
    return sorted(dead)


def test_no_unreferenced_top_level_names():
    dead = unreferenced_names()
    assert not dead, (
        "top-level names nothing references (delete them, or reference "
        f"them where they are used): {dead}"
    )


def test_guard_flags_an_orphan_and_spares_the_exempt(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "mod.py").write_text(
        "from reg import query\n"
        "USED = 1\n"
        "ORPHAN = 2\n"
        "__version__ = '1'\n"
        "def helper():\n    return USED\n"
        "def orphan_fn():\n    return 0\n"
        "class Orphan:\n    pass\n"
        "@query('q1')\ndef q1(spark, sf):\n    return helper()\n"
    )
    (tmp_path / "user.py").write_text(
        "import pkg.mod as m\nm.helper()\n"
    )
    got = unreferenced_names(pkg, [pkg, tmp_path / "user.py"])
    assert got == ["pkg.mod.ORPHAN", "pkg.mod.Orphan", "pkg.mod.orphan_fn"]

"""Every engine module must be reachable from a real entry point.

Walks ``import`` statements with :mod:`ast` (module level and inside
functions) from ``__spark_entry__.py``, the bench harnesses, the CLI
and the tools, following every import that resolves to a file in the
repository. A ``geoestate_etl_spark`` module that no walk reaches is
only exercised by its own tests, so it is dead code. The package loads
no module by a computed name (no ``importlib``/``__import__``), so the
static walk sees every edge.

``LIBRARY_ONLY`` names the unreached modules still allowed.

Run as a script to list the unreached modules::

    python tests/test_module_reachability.py
"""

from __future__ import annotations

import ast
import glob
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "geoestate_etl_spark"
ROOTS = (
    "__spark_entry__.py",
    "bench.py",
    f"{PACKAGE}/__main__.py",
    "perfbench/run.py",
    "perfbench/workloads.py",
    "tools/*.py",
)
# Library-only modules that only their own tests import, kept for now
# and listed on ROADMAP for removal. The guard fails on any other
# unreached module, and on an entry here that is gone or now reached,
# so the list can only shrink.
LIBRARY_ONLY = frozenset(
    {
        f"{PACKAGE}/operators/diff.py",
        f"{PACKAGE}/operators/entity_resolution.py",
        f"{PACKAGE}/operators/label_prop.py",
        f"{PACKAGE}/operators/walks.py",
        f"{PACKAGE}/sources/manifest.py",
        f"{PACKAGE}/sources/schema_evolution.py",
    }
)


def _module_file(root: str, name: str) -> str | None:
    """The repository file that ``import name`` loads, if any."""
    base = os.path.join(root, *name.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            return path
    return None


def _module_name(root: str, path: str) -> str:
    rel = os.path.relpath(path, root)[: -len(".py")].replace(os.sep, ".")
    return rel[: -len(".__init__")] if rel.endswith(".__init__") else rel


def _imported_names(root: str, path: str) -> set[str]:
    """Dotted names of every module ``path`` imports, with their parent
    packages (importing ``a.b.c`` runs ``a`` and ``a.b`` first)."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=path)
    is_pkg = os.path.basename(path) == "__init__.py"
    own = _module_name(root, path).split(".")
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                anchor = own if is_pkg else own[:-1]
                anchor = anchor[: len(anchor) - (node.level - 1)]
                base = ".".join(anchor + ([node.module] if node.module else []))
            else:
                base = node.module or ""
            names.add(base)
            # ``from pkg import mod`` imports the submodule ``pkg.mod``
            names.update(f"{base}.{a.name}" for a in node.names)
    out = set()
    for name in names:
        parts = name.split(".")
        out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return out


def reached_files(root: str = REPO, roots=ROOTS) -> set[str]:
    todo = [p for pat in roots for p in sorted(glob.glob(os.path.join(root, pat)))]
    seen: set[str] = set()
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        for name in _imported_names(root, path):
            target = _module_file(root, name)
            if target is not None and target not in seen:
                todo.append(target)
    return seen


def unreached_modules(root: str = REPO, roots=ROOTS) -> list[str]:
    pkg = os.path.join(root, PACKAGE)
    files = glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)
    reached = reached_files(root, roots)
    return sorted(
        os.path.relpath(f, root) for f in files if f not in reached
    )


def test_every_package_module_is_reached():
    assert sorted(set(unreached_modules()) - LIBRARY_ONLY) == []


def test_library_only_list_is_current():
    assert sorted(LIBRARY_ONLY - set(unreached_modules())) == []


def test_walk_reports_an_unimported_module(tmp_path):
    pkg = tmp_path / PACKAGE
    (pkg / "sub").mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "sub" / "__init__.py").write_text("")
    (pkg / "sub" / "used.py").write_text("from . import helper\n")
    (pkg / "sub" / "helper.py").write_text("")
    (pkg / "sub" / "stray.py").write_text("")
    (tmp_path / "main.py").write_text(
        f"def f():\n    from {PACKAGE}.sub import used\n"
    )
    assert unreached_modules(str(tmp_path), ("main.py",)) == [
        os.path.join(PACKAGE, "sub", "stray.py")
    ]


if __name__ == "__main__":
    missing = unreached_modules()
    print("\n".join(missing) or "all modules reached")
    sys.exit(1 if set(missing) - LIBRARY_ONLY else 0)

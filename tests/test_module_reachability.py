"""Every engine module and every engine def must be reachable from a
real entry point.

Module level: walks ``import`` statements with :mod:`ast` (module level
and inside functions) from ``__spark_entry__.py``, the bench harnesses,
the CLI and the tools, following every import that resolves to a file
in the repository. A ``geoestate_etl_spark`` module that no walk
reaches is only exercised by its own tests, so it is dead code. The
package loads no module by a computed name (no
``importlib``/``__import__``), so the static walk sees every edge.

Def level: every top-level ``def``, ``class`` and assigned name of a
package module, public or private, is a node, and so is every
non-dunder method of a top-level class, reached by its attribute name
(``path::Class.method``; a dunder stays part of its class). Its
references are the identifiers it uses
(names, attribute names, and identifier tokens inside string constants
other than docstrings, so a registry key or a SQL function name
counts). The walk starts from every reached file outside the package
and from the module-level statements of the reached package modules
(imports, docstrings and ``__all__`` excepted), and follows references
by name, through ``import ... as`` aliases. A def that nothing reached
refers to is dead, also when another dead def calls it. Matching by
name over-approximates (two defs with one name are reached together),
so a flagged def has no static caller at all.

``LIBRARY_ONLY_DEFS`` names the unreached defs still allowed;
``TEST_REFERENCES`` names the ones kept on purpose as slow or naive
references that tests compare live code against. Both may only shrink.

Run as a script to list every unreached def with its ``path:line``
and line count, sorted by file and line::

    python tests/test_module_reachability.py
"""

from __future__ import annotations

import ast
import glob
import os
import re
import sys
from dataclasses import dataclass

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
# Library-only defs that only tests (or other unreached defs) use, kept
# for now and listed on ROADMAP for removal. The guard fails on any
# other unreached def, and on an entry here that is gone or now
# reached, so the list can only shrink.
LIBRARY_ONLY_DEFS = frozenset(
    {
        f"{PACKAGE}/functions/cleaning.py::normalize_number_string",
        f"{PACKAGE}/functions/ngram_lm.py::ngram_logprob",
        f"{PACKAGE}/functions/validation.py::INTEGER_NUMBER",
        f"{PACKAGE}/functions/validation.py::YEAR_4DIGIT",
        f"{PACKAGE}/functions/vectors.py::cosine_int8",
        f"{PACKAGE}/functions/vectors.py::dequantize_int8",
        f"{PACKAGE}/functions/vectors.py::project",
        f"{PACKAGE}/functions/vectors.py::projection_matrix",
        f"{PACKAGE}/operators/h264.py::_annexb_nals",
        f"{PACKAGE}/operators/h264.py::h264_frames",
        f"{PACKAGE}/operators/h264.py::make_h264_annexb",
        f"{PACKAGE}/operators/merge.py::scd2_apply",
        f"{PACKAGE}/operators/pq.py::pq_adc_topk",
        f"{PACKAGE}/operators/pq.py::pq_bytes_per_vector",
        f"{PACKAGE}/operators/pq.py::pq_recall_table",
        f"{PACKAGE}/operators/topk.py::top_k_per_group_partial",
        f"{PACKAGE}/schema.py::TESTDATA_TABLES",
        f"{PACKAGE}/sources/binary_source.py::read_binary_files",
        f"{PACKAGE}/sources/jdbc_sink.py::read_jdbc_table",
        f"{PACKAGE}/sources/parquet_io.py::load_tables",
        f"{PACKAGE}/sources/shards.py::epoch_shuffle_col",
        f"{PACKAGE}/sources/shards.py::verify_shards",
        f"{PACKAGE}/sources/tar_shards.py::_MEMBER_SCHEMA",
        f"{PACKAGE}/sources/tar_shards.py::_explode_members",
        f"{PACKAGE}/sources/tar_shards.py::group_samples",
        f"{PACKAGE}/sources/tar_shards.py::read_tar_shards",
        f"{PACKAGE}/sources/tar_shards.py::stream_tar_shards",
    }
)
# Defs no entry point needs that stay as the naive or slow reference a
# test checks live code against (an exact top-k for the ANN paths, a
# fixture media encoder, the per-row n-gram repetition the SQL-native
# kernel is compared with).
TEST_REFERENCES = frozenset(
    {
        f"{PACKAGE}/operators/multimodal.py::make_mp4_mjpeg",
        f"{PACKAGE}/operators/repetition.py::ngram_repetition",
        f"{PACKAGE}/operators/similarity.py::brute_force_topk_batch",
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


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def _imported_names(root: str, path: str) -> set[str]:
    """Dotted names of every module ``path`` imports, with their parent
    packages (importing ``a.b.c`` runs ``a`` and ``a.b`` first)."""
    tree = _parse(path)
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


def _root_files(root: str, roots) -> list[str]:
    return [p for pat in roots for p in sorted(glob.glob(os.path.join(root, pat)))]


def reached_files(root: str = REPO, roots=ROOTS) -> set[str]:
    todo = _root_files(root, roots)
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


def _package_files(root: str) -> list[str]:
    pkg = os.path.join(root, PACKAGE)
    return sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True))


def unreached_modules(root: str = REPO, roots=ROOTS) -> list[str]:
    reached = reached_files(root, roots)
    return [
        os.path.relpath(f, root) for f in _package_files(root) if f not in reached
    ]


# --- def level ---------------------------------------------------------

_IDENT = re.compile(r"[A-Za-z_]\w*")
_DEF_NODES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


@dataclass(frozen=True)
class Def:
    path: str  # relative to the repository root
    name: str
    line: int
    lines: int

    @property
    def key(self) -> str:
        return f"{self.path}::{self.name}"


def _docstrings(tree: ast.AST) -> set[int]:
    """ids of the docstring constants of every module, class and def."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, *_DEF_NODES)) and node.body:
            first = node.body[0]
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                out.add(id(first.value))
    return out


def _references(nodes, skip: set[int]) -> set[str]:
    """Identifiers ``nodes`` use: names, attribute names, and identifier
    tokens of non-docstring string constants."""
    out: set[str] = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
            elif (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in skip
            ):
                out.update(_IDENT.findall(node.value))
    return out


def _aliases(tree: ast.AST) -> dict[str, set[str]]:
    out: dict[str, set[str]] = {}
    for node in ast.walk(tree):
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                if a.asname and a.asname != a.name:
                    out.setdefault(a.asname, set()).add(a.name.split(".")[-1])
    return out


def _methods(stmt: ast.stmt) -> list[ast.stmt]:
    """The non-dunder methods of a top-level class (none otherwise)."""
    if not isinstance(stmt, ast.ClassDef):
        return []
    return [
        m
        for m in stmt.body
        if isinstance(m, _DEF_NODES[:2]) and not m.name.startswith("__")
    ]


def _span(stmt: ast.stmt) -> tuple[int, int]:
    """First line (decorators included) and line count of a def."""
    decorators = getattr(stmt, "decorator_list", [])
    first = min([stmt.lineno] + [d.lineno for d in decorators])
    return first, stmt.end_lineno - first + 1


def _assigned_names(stmt: ast.stmt) -> list[str]:
    targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
    names = []
    for target in targets:
        elts = target.elts if isinstance(target, (ast.Tuple, ast.List)) else [target]
        names.extend(e.id for e in elts if isinstance(e, ast.Name))
    return names


def unreached_defs(root: str = REPO, roots=ROOTS) -> list[Def]:
    """Top-level package defs that no reference path from ``roots``
    reaches, sorted by path and line."""
    reached_mods = reached_files(root, roots)
    root_paths = set(_root_files(root, roots))
    package = set(_package_files(root))
    seeds: set[str] = set()
    aliases: dict[str, set[str]] = {}
    defs: dict[str, list[tuple[Def, set[str]]]] = {}
    for path in sorted(reached_mods | package):
        tree = _parse(path)
        skip = _docstrings(tree)
        for asname, names in _aliases(tree).items():
            aliases.setdefault(asname, set()).update(names)
        if path not in package or path in root_paths:
            seeds |= _references([tree], skip)
            continue
        rel = os.path.relpath(path, root)
        for stmt in tree.body:
            if isinstance(stmt, _DEF_NODES):
                names = [stmt.name]
            elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
                names = _assigned_names(stmt)
                if any(n.startswith("__") for n in names):
                    continue  # ``__all__`` and other dunders re-export only
            else:
                names = []
            if not names:
                if path in reached_mods and not isinstance(
                    stmt, (ast.Import, ast.ImportFrom)
                ):
                    seeds |= _references([stmt], skip)
                continue
            methods = _methods(stmt)
            body = [n for n in ast.iter_child_nodes(stmt) if n not in methods]
            refs = _references(body, skip)
            for name in names:
                d = Def(rel, name, *_span(stmt))
                defs.setdefault(name, []).append((d, refs))
            for m in methods:
                d = Def(rel, f"{stmt.name}.{m.name}", *_span(m))
                defs.setdefault(m.name, []).append((d, _references([m], skip)))
    seen: set[str] = set()
    todo = list(seeds)
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        todo.extend(aliases.get(name, ()))
        for _, refs in defs.get(name, ()):
            todo.extend(refs - seen)
    return sorted(
        (d for name, entries in defs.items() if name not in seen for d, _ in entries),
        key=lambda d: (d.path, d.line),
    )


def unreached_def_keys(root: str = REPO, roots=ROOTS) -> set[str]:
    return {d.key for d in unreached_defs(root, roots)}


def test_every_package_module_is_reached():
    assert unreached_modules() == []


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


def test_every_public_def_is_reached():
    # private defs too: a helper only a deleted def called is dead
    allowed = LIBRARY_ONLY_DEFS | TEST_REFERENCES
    assert sorted(unreached_def_keys() - allowed) == []


def test_def_allowlists_are_current():
    # an entry whose def was deleted or gained a real caller must go
    assert LIBRARY_ONLY_DEFS.isdisjoint(TEST_REFERENCES)
    stale = (LIBRARY_ONLY_DEFS | TEST_REFERENCES) - unreached_def_keys()
    assert sorted(stale) == []


def test_def_walk_flags_stray_and_transitively_dead_defs(tmp_path):
    pkg = tmp_path / PACKAGE
    pkg.mkdir()
    (pkg / "__init__.py").write_text(
        "from .ops import entry as go\n__all__ = ['stray', 'go']\n"
    )
    (pkg / "ops.py").write_text(
        '"""Mentions stray() in a docstring only."""\n'
        "LIMIT = 3\n"
        "def entry():\n"
        "    return _helper() + LIMIT + Result().used()\n"
        "def _helper():\n"
        "    return by_name('keyed')\n"
        "def by_name(k):\n"
        "    return {'keyed': 1}[k]\n"
        "def keyed():\n"
        "    return 1\n"
        "def stray():\n"
        "    return only_from_stray()\n"
        "def only_from_stray():\n"
        "    '''Called by stray, which nothing reaches.'''\n"
        "    return 2\n"
        "class _Private:\n"
        "    pass\n"
        "class Result:\n"
        "    def __repr__(self):\n"
        "        return 'r'\n"
        "    def used(self):\n"
        "        return 1\n"
        "    def stray_method(self):\n"
        "        return 2\n"
    )
    (tmp_path / "main.py").write_text(f"from {PACKAGE} import go\ngo()\n")
    dead = unreached_defs(str(tmp_path), ("main.py",))
    assert [(d.name, d.line, d.lines) for d in dead] == [
        ("stray", 11, 2),
        ("only_from_stray", 13, 3),
        ("_Private", 16, 2),
        ("Result.stray_method", 23, 2),
    ]
    assert unreached_def_keys(str(tmp_path), ("main.py",)) == {
        f"{PACKAGE}/ops.py::stray",
        f"{PACKAGE}/ops.py::only_from_stray",
        f"{PACKAGE}/ops.py::_Private",
        f"{PACKAGE}/ops.py::Result.stray_method",
    }


if __name__ == "__main__":
    modules = unreached_modules()
    dead = unreached_defs()
    for d in dead:
        tag = (
            " [test reference]" if d.key in TEST_REFERENCES
            else " [allowed]" if d.key in LIBRARY_ONLY_DEFS
            else ""
        )
        print(f"{d.path}:{d.line}\t{d.name}\t{d.lines} lines{tag}")
    print(f"{len(dead)} unreached defs, {sum(d.lines for d in dead)} lines")
    print("\n".join(f"unreached module: {m}" for m in modules))
    new = {d.key for d in dead} - LIBRARY_ONLY_DEFS - TEST_REFERENCES
    sys.exit(1 if modules or new else 0)

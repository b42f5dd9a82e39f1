"""Job labels and observed metrics have one implementation,
``geoestate_etl_spark/stage.py``. This guard fails when a package
module outside it calls ``setJobDescription`` or builds an
``Observation``, so hand-rolled copies cannot grow back.

It also fails when any package module writes the session conf at
query time (``conf.set``, ``conf.unset`` or ``sql("SET ...")``): the
conf is set once, by the builder in ``session.get_spark``, and no
operator may leave it mutated.

Run as a script to list the offending lines::

    python tests/test_stage_guard.py
"""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "geoestate_etl_spark"
OWNER = f"{PACKAGE}/stage.py"
FORBIDDEN = frozenset({"setJobDescription", "Observation"})


def offending_lines(source: str) -> list[tuple[int, str]]:
    """``(line, name)`` of every forbidden attribute use or call."""
    out = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Attribute) and node.attr == "setJobDescription":
            out.append((node.lineno, node.attr))
        elif isinstance(node, ast.Call):
            func = node.func
            name = func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", None)
            if name in FORBIDDEN:
                out.append((node.lineno, name))
    return out


def conf_writes(source: str) -> list[tuple[int, str]]:
    """``(line, call)`` of every session-conf write: ``<x>.conf.set``,
    ``<x>.conf.unset`` and ``<x>.sql`` on a literal ``SET`` statement."""
    out = []
    for node in ast.walk(ast.parse(source)):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        func = node.func
        if func.attr in ("set", "unset"):
            owner = func.value
            if isinstance(owner, ast.Attribute) and owner.attr == "conf":
                out.append((node.lineno, f"conf.{func.attr}"))
        elif func.attr == "sql" and node.args:
            arg = node.args[0]
            if (
                isinstance(arg, ast.Constant)
                and isinstance(arg.value, str)
                and arg.value.lstrip().upper().startswith("SET ")
            ):
                out.append((node.lineno, "sql SET"))
    return out


def _package_sources(root: str):
    for path in sorted(glob.glob(os.path.join(root, PACKAGE, "**", "*.py"), recursive=True)):
        with open(path, encoding="utf-8") as fh:
            yield os.path.relpath(path, root), fh.read()


def package_offenders(root: str = REPO) -> list[str]:
    found = []
    for rel, source in _package_sources(root):
        if rel == OWNER:
            continue
        for line, name in offending_lines(source):
            found.append(f"{rel}:{line}: {name}")
    return found


def package_conf_writes(root: str = REPO) -> list[str]:
    return [
        f"{rel}:{line}: {call}"
        for rel, source in _package_sources(root)
        for line, call in conf_writes(source)
    ]


def test_labels_and_observations_live_only_in_stage_module():
    assert package_offenders() == []


def test_guard_flags_hand_rolled_copies():
    src = (
        "_jd = spark.sparkContext.setJobDescription\n"
        "obs = Observation()\n"
        "df.observe(pyspark.sql.Observation('n'), c)\n"
    )
    assert [n for _, n in offending_lines(src)] == [
        "setJobDescription",
        "Observation",
        "Observation",
    ]


def test_no_package_module_writes_session_conf():
    assert package_conf_writes() == []


def test_conf_guard_flags_session_conf_writes():
    src = (
        "spark.conf.set('spark.sql.shuffle.partitions', '1')\n"
        "sess.conf.unset(key)\n"
        "df.sparkSession.conf.set(k, v)\n"
        "spark.sql('  set spark.sql.ansi.enabled=false')\n"
        "spark.conf.get(key)\n"
        "spark.sql('SELECT 1')\n"
        "builder.config(k, v)\n"
        "s = {1}; s.add(2); d.set(k, v)\n"
    )
    assert conf_writes(src) == [
        (1, "conf.set"),
        (2, "conf.unset"),
        (3, "conf.set"),
        (4, "sql SET"),
    ]


if __name__ == "__main__":
    print("\n".join(package_offenders() + package_conf_writes()) or "none")

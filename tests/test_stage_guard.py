"""Job labels and observed metrics have one implementation,
``geoestate_etl_spark/stage.py``. This guard fails when a package
module outside it calls ``setJobDescription`` or builds an
``Observation``, so hand-rolled copies cannot grow back.

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


def package_offenders(root: str = REPO) -> list[str]:
    found = []
    for path in sorted(glob.glob(os.path.join(root, PACKAGE, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, root)
        if rel == OWNER:
            continue
        with open(path, encoding="utf-8") as fh:
            for line, name in offending_lines(fh.read()):
                found.append(f"{rel}:{line}: {name}")
    return found


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


if __name__ == "__main__":
    print("\n".join(package_offenders()) or "none")

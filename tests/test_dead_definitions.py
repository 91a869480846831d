"""No dead top-level definitions in the package.

A top-level, undecorated function or class in a ``phenoxtract_spark``
module (``queries_*.py`` excepted: their functions are reached through the
``@q`` registry) is dead when its name appears nowhere else: in no other
``.py`` file of the repo, and only once (its ``def``/``class`` line) in its
own module.  Delete such a definition, or use it.
"""

import ast
import collections
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "phenoxtract_spark"


def _repo_py_files() -> list[Path]:
    files = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    for d in ("phenoxtract_spark", "tests", "tools", "cohortbench"):
        files += sorted((ROOT / d).rglob("*.py"))
    return [f for f in files if f.is_file()]


def _dead_definitions() -> list[str]:
    tokens = {
        f: collections.Counter(re.findall(r"\w+", f.read_text()))
        for f in _repo_py_files()
    }
    dead = []
    for mod in sorted(PACKAGE.rglob("*.py")):
        if mod.name.startswith("queries_"):
            continue
        for node in ast.parse(mod.read_text()).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or node.decorator_list:
                continue
            name = node.name
            if tokens[mod][name] == 1 and not any(
                counts[name] for f, counts in tokens.items() if f != mod
            ):
                dead.append(f"{mod.relative_to(ROOT)}:{name}")
    return dead


def test_no_dead_top_level_definitions():
    assert _dead_definitions() == []

"""Every repo path and ``<module>.py:<name>`` pointer named in code,
tests, scripts and the main docs exists.

Pure Python, no Spark session: scans the package, tests, scripts, the
README, SCALE.md and the skill notes for paths of the form
``scripts/…py``, ``tests/…py``, ``perfbench/…py``, ``bench*.py`` and
``plans/r<N>`` and asserts each one resolves in the checkout, so a
deleted file cannot stay named in a docstring or a doc. Pointers of the
form ``<module>.py:<name>`` (or a pytest id, ``<module>.py::<name>``) in
the package, tests, README and SCALE.md must name a ``def``, a
``class`` or a registered query of that module, so a deleted function
or query cannot stay named either.
"""

from __future__ import annotations

import ast
import glob
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SOURCES = (
    "smartpool_bigdata_spark/**/*.py",
    "tests/*.py",
    "scripts/*.py",
    "README.md",
    "SCALE.md",
    ".*/skills/*/SKILL.md",
)

# Not preceded by a path or word character, so absolute paths and
# names like ``perfbench`` or ``wl_bench.py`` are not taken apart.
PATH_RE = re.compile(
    r"(?<![\w/.-])("
    r"(?:scripts|tests|perfbench)/[\w/*-]+\.py"
    r"|bench\w*\.py"
    r"|plans/r\d+"
    r")"
)


def _named_paths() -> dict[str, set[str]]:
    found: dict[str, set[str]] = {}
    for pattern in SOURCES:
        for src in glob.glob(os.path.join(ROOT, pattern), recursive=True):
            with open(src, encoding="utf-8") as fh:
                text = fh.read()
            for path in PATH_RE.findall(text):
                found.setdefault(path, set()).add(os.path.relpath(src, ROOT))
    return found


def test_named_repo_paths_exist():
    named = _named_paths()
    assert "scripts/shuffle_audit.py" in named  # the scan sees real names
    dangling = {
        path: sorted(srcs)
        for path, srcs in named.items()
        if not glob.glob(os.path.join(ROOT, path))
    }
    assert not dangling, f"paths named but missing: {dangling}"


POINTER_SOURCES = (
    "smartpool_bigdata_spark/**/*.py",
    "tests/*.py",
    "README.md",
    "SCALE.md",
)

# ``<module>.py:<name>`` with the module relative to the repo or the
# package root (``ops/graph.py``), or a pytest id ``<test file>::<test>``;
# line-number pointers (``<file>.py:104-131``) are not names and do not
# match
POINTER_RE = re.compile(
    r"(?<![\w/.-])((?:[\w-]+/)*\w+\.py)::?([A-Za-z_]\w*)"
)


def _module_file(module: str) -> str | None:
    # package modules are named relative to the package root
    for base in (ROOT, os.path.join(ROOT, "smartpool_bigdata_spark")):
        path = os.path.join(base, module)
        if os.path.isfile(path):
            return path
    return None


def _defined_names(path: str) -> set[str]:
    """Every def and class in the module, plus the names its
    ``@query("name", ...)`` decorators register."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif (
            isinstance(node, ast.Call)
            and getattr(node.func, "id", None) == "query"
            and node.args
            and isinstance(node.args[0], ast.Constant)
        ):
            names.add(node.args[0].value)
    return names


def test_named_module_pointers_resolve():
    defined: dict[str, set[str]] = {}
    dangling: dict[str, set[str]] = {}
    n_checked = 0
    for pattern in POINTER_SOURCES:
        for src in glob.glob(os.path.join(ROOT, pattern), recursive=True):
            with open(src, encoding="utf-8") as fh:
                text = fh.read()
            for module, name in POINTER_RE.findall(text):
                path = _module_file(module)
                if path is None:
                    where = f"{module} (no such module)"
                else:
                    n_checked += 1
                    if path not in defined:
                        defined[path] = _defined_names(path)
                    if name in defined[path]:
                        continue
                    where = f"{module}:{name}"
                dangling.setdefault(where, set()).add(os.path.relpath(src, ROOT))
    assert n_checked > 100  # the scan sees the real pointers
    assert not dangling, f"pointers that name nothing: {dangling}"

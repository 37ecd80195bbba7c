"""Every repo path named in code, tests, scripts and the main docs exists.

Pure Python, no Spark session: scans the package, tests, scripts, the
README, SCALE.md and the skill notes for paths of the form
``scripts/…py``, ``tests/…py``, ``perfbench/…py``, ``bench*.py`` and
``plans/r<N>`` and asserts each one resolves in the checkout, so a
deleted file cannot stay named in a docstring or a doc.
"""

from __future__ import annotations

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

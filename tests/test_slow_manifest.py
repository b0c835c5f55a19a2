"""Every ``tests/slow_tests.txt`` entry names a test pytest collects.

conftest.py skips the manifest's node ids unless
SPARK_GRAFT_SLOW_TESTS=1; an entry that no longer resolves (the test
was renamed, moved or deleted) is silently ignored, and the test it
meant drops into the default tier. Resolution is checked statically:
pytest collects each top-level ``test_*`` function of a ``test_*.py``
module, so the manifest's ``file::function`` ids must name one.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
MANIFEST = ROOT / "tests" / "slow_tests.txt"


def _entries() -> list[str]:
    lines = (ln.strip() for ln in MANIFEST.read_text().splitlines())
    return [ln for ln in lines if ln and not ln.startswith("#")]


def _collected(path: pathlib.Path) -> set[str]:
    tree = ast.parse(path.read_text())
    return {
        node.name
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and node.name.startswith("test")
    }


def test_every_slow_entry_names_a_collected_test():
    by_file: dict[str, set[str]] = {}
    stale = []
    for entry in _entries():
        file, _, name = entry.partition("::")
        path = ROOT / file
        if not (path.name.startswith("test_") and path.is_file()):
            stale.append(entry)
            continue
        if file not in by_file:
            by_file[file] = _collected(path)
        if name.split("[", 1)[0] not in by_file[file]:
            stale.append(entry)
    assert not stale, f"slow_tests.txt entries that name no collected test: {stale}"

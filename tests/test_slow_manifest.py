"""tests/slow_manifest.txt names only tests that exist: every entry's
file is in tests/, and a node-id entry's test function is defined in
that file. A renamed slow test would otherwise drop silently into the
default gate, and a deleted one would leave a dead line."""

from __future__ import annotations

import ast
import os

TESTS = os.path.dirname(os.path.abspath(__file__))


def _manifest_entries() -> list[str]:
    with open(os.path.join(TESTS, "slow_manifest.txt")) as fh:
        return [
            ln.strip() for ln in fh if ln.strip() and not ln.startswith("#")
        ]


def _test_names(path: str) -> set[str]:
    """Top-level test functions and ``Class::method`` pairs."""
    names = set()
    for node in ast.parse(open(path).read()).body:
        if isinstance(node, ast.FunctionDef):
            names.add(node.name)
        elif isinstance(node, ast.ClassDef):
            names.update(
                f"{node.name}::{m.name}"
                for m in node.body
                if isinstance(m, ast.FunctionDef)
            )
    return names


def test_slow_manifest_entries_name_existing_tests():
    stale = []
    for entry in _manifest_entries():
        rel, _, test = entry.partition("::")
        path = os.path.join(TESTS, rel)
        if not os.path.isfile(path):
            stale.append(f"{entry} (no file {rel})")
        elif test and test.split("[", 1)[0] not in _test_names(path):
            stale.append(f"{entry} (no such test in {rel})")
    assert not stale, "stale slow_manifest.txt entries: " + ", ".join(stale)

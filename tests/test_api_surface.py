"""API-surface ratchet over three kinds of package name.

- Every public top-level function or class needs a caller outside
  tests/ (the package itself, scripts/, bench.py, perfbench/ or the
  catalog entry __spark_entry__.py), unless it is pinned in TEST_ONLY
  below. The pin list may only shrink: an entry that gains a real
  caller or is deleted must leave it (the second assert), and nothing
  may join it without a caller (the first). A public name with no
  caller at all, tests included, always fails.
- Every public method of a package class needs an ``x.<name>(`` call
  outside tests/; a bare attribute read such as ``args.compact`` does
  not count. There is no pin list for methods.
- Every module-level constant (an assignment at module level, dunders
  exempt) needs a reader anywhere in the repo's Python, tests
  included, other than its own definition.
- Every imported name must be loaded in the file that imports it, in
  the package, tests/, scripts/, bench.py and __spark_entry__.py. An
  import marked ``# noqa: F401``, a name listed in ``__all__`` and the
  re-exports of ``__init__.py`` files are exempt."""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "hospital_stain_tracker_data_pipeline_spark")
CALLER_PATHS = [PKG, "scripts", "perfbench", "bench.py", "__spark_entry__.py"]
ALL_PATHS = CALLER_PATHS + ["tests"]
IMPORT_PATHS = [PKG, "tests", "scripts", "bench.py", "__spark_entry__.py"]

# public names whose only callers are tests (shrink-only), each kept
# for the reason above its group
TEST_ONLY = {
    # reference implementations the tests compare live code against
    "bm25_reference", "cosine", "bloom_fpp",
    # fault detection and recovery
    "recover_index_swap", "verify_packed_corpus",
    # entry points carrying the only exactness tests of live code: the
    # search_ann_index path runs through _adc_table_np/_adc_topk ...
    "pq_encode", "pq_decode", "pack_codes", "unpack_codes", "knn_pq",
    # ... the hot-bucket cap of the live LSH and Hamming joins ...
    "minhash_lsh_candidates", "simhash_band_candidates", "simhash64",
    "minhash_hot_bucket_report", "simhash_hot_bucket_report",
    "ann_hot_bucket_report",
    # ... and the page walk and encryption check of the PDF extractor
    "sniff_pdf",
    # probe calibration report, pinned by its DuckDB oracle
    "probe_calibration",
    # the only form of the reference's Postgres ON CONFLICT sink
    "write_jdbc_upsert",
}


def _py_files(paths):
    for p in paths:
        p = os.path.join(REPO, p)
        if p.endswith(".py"):
            yield p
        else:
            yield from glob.glob(os.path.join(p, "**", "*.py"), recursive=True)


def _referenced(paths) -> set[str]:
    """Every name loaded or attribute read in the files: a call, a
    reference passed as a value, or a re-export used elsewhere."""
    out = set()
    for f in _py_files(paths):
        for node in ast.walk(ast.parse(open(f).read())):
            if isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
    return out


def test_public_api_has_callers_outside_tests():
    public = {
        node.name
        for f in _py_files([PKG])
        for node in ast.parse(open(f).read()).body
        if isinstance(node, (ast.FunctionDef, ast.ClassDef))
        and not node.name.startswith("_")
    }
    test_only = public - _referenced(CALLER_PATHS)
    uncalled = test_only - _referenced(["tests"])
    assert not uncalled, f"public names nothing calls: {sorted(uncalled)}"
    assert test_only <= TEST_ONLY, (
        "public names only tests call — give them a caller or delete "
        f"them: {sorted(test_only - TEST_ONLY)}"
    )
    assert TEST_ONLY <= test_only, (
        "stale TEST_ONLY entries (now called or gone) — remove them: "
        f"{sorted(TEST_ONLY - test_only)}"
    )


def test_public_methods_have_callers_outside_tests():
    called = {
        node.func.attr
        for f in _py_files(CALLER_PATHS)
        for node in ast.walk(ast.parse(open(f).read()))
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
    }
    uncalled = sorted(
        f"{cls.name}.{node.name}"
        for f in _py_files([PKG])
        for cls in ast.parse(open(f).read()).body
        if isinstance(cls, ast.ClassDef)
        for node in cls.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and not node.name.startswith("_")
        and node.name not in called
    )
    assert not uncalled, (
        f"public methods nothing outside tests calls — delete them: {uncalled}"
    )


def test_module_constants_are_read():
    read = set()
    for f in _py_files(ALL_PATHS):
        for node in ast.walk(ast.parse(open(f).read())):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                read.add(node.id)
            elif isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
                read.add(node.attr)
    unread = []
    for f in _py_files([PKG]):
        for stmt in ast.parse(open(f).read()).body:
            if isinstance(stmt, ast.Assign):
                targets = stmt.targets
            elif isinstance(stmt, ast.AnnAssign):
                targets = [stmt.target]
            else:
                continue
            unread += [
                f"{os.path.relpath(f, PKG)}:{node.id}"
                for target in targets
                for node in ast.walk(target)
                if isinstance(node, ast.Name)
                and not (node.id.startswith("__") and node.id.endswith("__"))
                and node.id not in read
            ]
    assert not unread, f"module constants nothing reads — delete them: {sorted(unread)}"


def _unused_imports(path: str) -> list[str]:
    """``file:line:name`` of each name ``path`` imports and never loads."""
    src = open(path).read()
    lines = src.splitlines()
    tree = ast.parse(src)
    loaded, exported = set(), set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            loaded.add(node.id)
        elif isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            exported |= {
                c.value for c in ast.walk(node.value) if isinstance(c, ast.Constant)
            }
    unused = []
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if any("noqa: F401" in lines[i - 1] for i in range(node.lineno, node.end_lineno + 1)):
            continue
        for alias in node.names:
            name = alias.asname or alias.name.split(".")[0]
            if name != "*" and name not in loaded | exported:
                unused.append(f"{os.path.relpath(path, REPO)}:{node.lineno}:{name}")
    return unused


def test_imported_names_are_used():
    unused = [
        hit
        for f in _py_files(IMPORT_PATHS)
        if os.path.basename(f) != "__init__.py"
        for hit in _unused_imports(f)
    ]
    assert not unused, f"imports nothing loads — remove them: {sorted(unused)}"

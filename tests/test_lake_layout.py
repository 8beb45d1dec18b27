"""Layout tripwire: the lake's table layout is declared once, in
``pipeline/lake.py``, and every module that persists state (lake
tables, index artifacts and their lifecycle dirs, markers, the run log)
reaches storage through the Hadoop ``FileSystem`` seam in ``session.py``,
never through local-path calls that read any URI (``file:``, ``hdfs:``,
``s3a:``) as a missing directory. The seam is the package's only module
that talks to the JVM."""

from __future__ import annotations

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parents[1]
PKG = REPO / "hospital_stain_tracker_data_pipeline_spark"
LAKE = PKG / "pipeline" / "lake.py"
# modules that open lake tables or persist state; a local-path call
# there misreads a URI
FS_SEAM = [
    PKG / f
    for f in (
        "pipeline/ingest_capacity.py",
        "pipeline/compute_metrics.py",
        "pipeline/seed.py",
        "pipeline/api_queries.py",
        "pipeline/curate.py",
        "operators/dedup.py",
        "operators/pq.py",
        "operators/features.py",
        "sources/sinks.py",
    )
]
LOCAL_PATH_CALLS = {
    "os.path.exists", "os.path.isdir", "os.path.isfile",
    "os.rename", "os.remove", "os.makedirs", "open",
}
# the seam: the package's one module that talks to the JVM
FS_OWNERS = {PKG / "session.py"}
# the PySpark handles into the JVM
JVM_HANDLES = {"_jvm", "_jsc", "_jsparkSession", "_gateway"}


def _calls(path):
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Call):
            yield node


def _dotted(func) -> str:
    parts = []
    while isinstance(func, ast.Attribute):
        parts.append(func.attr)
        func = func.value
    if isinstance(func, ast.Name):
        parts.append(func.id)
    return ".".join(reversed(parts))


def test_lake_tables_are_constructed_only_in_the_catalog():
    sources = [*PKG.rglob("*.py"), *(REPO / "scripts").rglob("*.py")]
    assert LAKE in sources
    found = [
        f"{path.relative_to(REPO)}:{call.lineno}"
        for path in sources
        if path != LAKE
        for call in _calls(path)
        if _dotted(call.func).split(".")[-1] == "LakeTable"
    ]
    assert not found, f"open lake tables with lake.lake_table, not LakeTable(): {found}"


def test_pipeline_modules_make_no_local_path_checks():
    found = [
        f"{path.relative_to(REPO)}:{call.lineno} {name}"
        for path in FS_SEAM
        for call in _calls(path)
        for name in [_dotted(call.func)]
        if name.startswith("shutil.") or name in LOCAL_PATH_CALLS
    ]
    assert not found, found


def test_only_the_seam_resolves_hadoop_filesystems():
    """No package module but the seam resolves a Hadoop class or
    reaches into the JVM through PySpark's handles."""
    found = [
        f"{path.relative_to(REPO)}:{node.lineno} {name}"
        for path in PKG.rglob("*.py")
        if path not in FS_OWNERS
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, (ast.Name, ast.Attribute))
        for name in [_dotted(node)]
        if name.split(".")[-1] in {"hadoop_fs", *JVM_HANDLES}
        or name.endswith("org.apache.hadoop")
    ]
    assert not found, found

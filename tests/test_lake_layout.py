"""Layout tripwire: the lake's table layout is declared once, in
``pipeline/lake.py``, and the pipeline modules that reach persisted
tables do so through the Hadoop ``FileSystem`` seam, never through
local-path checks that read any URI (``file:``, ``hdfs:``, ``s3a:``) as
a missing directory."""

from __future__ import annotations

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parents[1]
PKG = REPO / "hospital_stain_tracker_data_pipeline_spark"
LAKE = PKG / "pipeline" / "lake.py"
# modules that open lake tables; a local-path check there misreads a URI lake
FS_SEAM = [
    PKG / "pipeline" / f
    for f in ("ingest_capacity.py", "compute_metrics.py", "seed.py", "api_queries.py")
]
LOCAL_PATH_CHECKS = {"isdir", "exists", "isfile"}


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
        if name.startswith("shutil.")
        or (name.startswith("os.path.") and name.split(".")[-1] in LOCAL_PATH_CHECKS)
    ]
    assert not found, found

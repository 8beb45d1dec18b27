from __future__ import annotations

import os

import pytest

from hospital_stain_tracker_data_pipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

_SLOW_MANIFEST = os.path.join(os.path.dirname(__file__), "slow_manifest.txt")


def pytest_collection_modifyitems(config, items):
    """Round 15 suite tiers: the full suite is ~45-50 min of wall
    clock — longer than any CI/verify window — so the measured long
    tail (tests/slow_manifest.txt: per-test call time >= 4 s in a full
    instrumented run, dominated by subprocess CLI round-trips and
    planted-corpus scale guards) is marked ``slow`` here and excluded
    by pytest.ini's ``addopts = -m "not slow"``. The SAME command runs
    everything under ``SPARK_GRAFT_FULL_TESTS=1`` (nothing gets
    marked, so the filter matches nothing). Manifest entries are
    node ids relative to tests/ (a bare file path marks the whole
    module); see SCALE.md "Test-suite tiers" for what the excluded
    tier pins."""
    if os.environ.get("SPARK_GRAFT_FULL_TESTS") == "1":
        return
    # a test named explicitly — by node id or by its file — must RUN,
    # not silently deselect to a green no-op — skip the marking when
    # the invocation targets specific tests
    here = config.invocation_params.dir
    if any("::" in a or os.path.isfile(os.path.join(here, a)) for a in config.args):
        return
    try:
        with open(_SLOW_MANIFEST) as fh:
            slow = {
                ln.strip()
                for ln in fh
                if ln.strip() and not ln.startswith("#")
            }
    except FileNotFoundError:
        return
    for item in items:
        nid = item.nodeid
        if nid.startswith("tests/"):
            nid = nid[len("tests/"):]
        if nid in slow or nid.split("::", 1)[0] in slow:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR

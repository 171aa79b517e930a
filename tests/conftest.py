from __future__ import annotations

import os
import shutil
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_pipeline_fresh_picked_leads_spark.session import build_session

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    wh = tempfile.mkdtemp(prefix="fpl_test_wh_")
    s = build_session(
        app_name="fpl-tests",
        shuffle_partitions="8",
        extra_conf={"spark.sql.warehouse.dir": wh},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
    shutil.rmtree(wh, ignore_errors=True)


def pytest_collection_modifyitems(config, items):
    """Apply the slow-lane marker from tests/slow_lane.py (VERDICT r15
    #2): data-driven so the membership list stays reviewable in one
    place instead of 96 decorators across 14 files."""
    import os as _os
    import sys as _sys

    _sys.path.insert(0, _os.path.dirname(_os.path.abspath(__file__)))
    from slow_lane import SLOW_TESTS

    for item in items:
        base = item.name.split("[")[0]
        if (item.fspath.basename, base) in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)

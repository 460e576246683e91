from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_T2 = "/root/testdata/sf0.01"


@pytest.fixture
def force_at_scale(monkeypatch):
    """``force_at_scale(name, ...)``: each named ``AT_SCALE`` branch runs its
    at-scale body for the rest of the test, whatever the fixture's size."""
    from rubix_spark.queries import AT_SCALE

    def force(*names: str) -> None:
        for name in names:
            monkeypatch.setitem(AT_SCALE, name, (AT_SCALE[name][0], 0))

    return force


@pytest.fixture(scope="session")
def spark():
    from rubix_spark import get_session

    s = get_session(app_name="rubix-spark-tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    yield s
    s.stop()

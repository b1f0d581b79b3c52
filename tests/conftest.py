from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("DDW_SHUFFLE_PARTITIONS", "8")
    from demo_data_warehouse_spark.session import get_spark

    s = get_spark("ddw-tests", master="local[4]")
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _release_shared_frames():
    """Each test is one reuse scope, like one query: frames an operator
    shared (demo_data_warehouse_spark/reuse.py) never outlive the test."""
    yield
    from demo_data_warehouse_spark.reuse import release

    release()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"

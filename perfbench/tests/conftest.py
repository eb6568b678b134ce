"""Self-tests of the benchmark. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [os.path.dirname(BENCH), BENCH]


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    """A small pinned session (2 cores, 1 GiB, scratch under pytest's tmp)."""
    work = tmp_path_factory.mktemp("spark")
    os.environ.update({
        "SPARK_GRAFT_CPUS": "2",
        "SPARK_DRIVER_MEMORY": "1g",
        "SPARK_GRAFT_LOCAL_DIR": str(work / "local"),
        "SPARK_GRAFT_UI": "0",
    })
    from near_real_time_data_warehouse_spark.session import get_spark

    s = get_spark("perfbench-selftest")
    yield s
    s.stop()

from __future__ import annotations

import os

import pytest

from lsh_apg_spark.session import get_spark


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: subprocess-level end-to-end launches")


@pytest.fixture(scope="session")
def spark():
    # cores from the host (SPARK_GRAFT_CPUS), partitions fixed so plan
    # shapes do not depend on the machine
    cores = os.environ.get("SPARK_GRAFT_CPUS", "8")
    s = get_spark("lsh_apg_spark_tests", master=f"local[{cores}]",
                  shuffle_partitions=8)
    yield s

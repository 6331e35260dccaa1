from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))                   # gen, checks, ...
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))  # docrawl_spark


@pytest.fixture(scope="session")
def spark():
    from docrawl_spark.session import get_spark

    return get_spark(app_name="perfbench_tests", cpus=2, shuffle_partitions=4)

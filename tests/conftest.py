from __future__ import annotations

import pathlib
import sys

import pytest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from flink_realtime_data_eng_spark.session import get_test_spark


@pytest.fixture(scope="session")
def spark():
    s = get_test_spark()
    s.sparkContext.setLogLevel("ERROR")
    yield s

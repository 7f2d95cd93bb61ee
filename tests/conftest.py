import os
import sys

# the checkout that holds this file, ahead of any installed or other copy
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest


@pytest.fixture(scope="session")
def spark():
    from posextract_spark.session import build_session

    s = build_session(app_name="pytest", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()

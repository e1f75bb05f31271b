import os
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]
os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")


@pytest.fixture(scope="session")
def spark():
    from text2nkg_spark.session import get_spark

    s = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=4,
                  extra={"spark.driver.memory": "2g",
                         "spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()

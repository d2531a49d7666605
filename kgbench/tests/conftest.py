import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
for d in (BENCH, ROOT):
    if d not in sys.path:
        sys.path.insert(0, d)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from harness import Session

    s = Session(str(tmp_path_factory.mktemp("spark")))
    yield s.spark
    s.stop()

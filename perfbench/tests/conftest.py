import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    import harness

    run_dir = str(tmp_path_factory.mktemp("perfbench"))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    s = harness.start_spark(run_dir)
    yield s
    harness.stop_spark(s)

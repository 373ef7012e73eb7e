import os
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
ROOT = BENCH.parent
for p in (str(BENCH), str(ROOT)):
    if p not in sys.path:
        sys.path.insert(0, p)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    """A small local session whose Python workers can import tokforge and
    the benchmark modules."""
    os.environ["PYTHONPATH"] = os.pathsep.join([str(ROOT), str(BENCH), os.environ.get("PYTHONPATH", "")])
    from tokforge.engine.session import build_spark

    s = build_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
for p in (BENCH, ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    import run

    work = str(tmp_path_factory.mktemp("perfbench"))
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in [os.environ.get("PYTHONPATH")] if x])
    spark = run.start_spark(work)
    yield spark
    run.stop_spark(spark)

import json
import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "4")
# get_spark() defaults to a 24g driver heap, sized for a large serving
# host. The suite's working set is far smaller; on a 4-core, 15 GB host
# the 24g heap grows lazily until the kernel kills the JVM mid-suite.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")


#: A test whose recorded time is under this many seconds runs first.
_QUICK_S = 1.0


@pytest.hookimpl(trylast=True)
def pytest_collection_modifyitems(config, items):
    """Run the quick tests first, then the rest; file order holds
    within each group. The full suite outlasts its time limit on a
    4-core host, and this way a cut run has still given a verdict on
    every quick test.

    A test is quick if its time in ``durations.json`` (refreshed by
    ``scripts/test_durations.py``) is under ``_QUICK_S``, or, with no
    record, if it takes no Spark session."""
    path = os.path.join(os.path.dirname(__file__), "durations.json")
    recorded = {}
    if os.path.exists(path):
        with open(path) as f:
            recorded = json.load(f)

    def lengthy(item):
        t = recorded.get(item.nodeid)
        if t is None:
            return "spark" in getattr(item, "fixturenames", ())
        return t >= _QUICK_S

    items.sort(key=lengthy)


@pytest.fixture(scope="session")
def spark():
    from queens_spark.session import get_spark

    s = get_spark("queens_spark_tests")
    yield s


@pytest.fixture()
def warehouse_root(tmp_path):
    return str(tmp_path / "warehouse")

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from robokop_build_spark.datagen.fixtures import ensure_fixtures  # noqa: E402
from robokop_build_spark.session import get_spark  # noqa: E402

TEST_SF = 0.003  # 3,000 docs — big enough for every edge case, fast enough for -x -q


def _test_driver_memory() -> str:
    """Half the host's physical RAM. The program's own heap default (48g)
    can exceed physical RAM, and a local[N] JVM allowed to grow past it is
    killed by the kernel mid-session."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, ram // 2 // 2**30)}g"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": _test_driver_memory()},
    )
    yield s


@pytest.fixture(scope="session")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("fixtures") / "sf"
    return ensure_fixtures(str(d), TEST_SF)


@pytest.fixture(scope="session")
def golden(fixture_dir):
    from robokop_build_spark.datagen.oracle import compute_golden

    nodes, triples = compute_golden(fixture_dir)
    return {"nodes": nodes, "triples": triples}

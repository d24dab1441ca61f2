import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from unravelsports_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


def pytest_configure(config):
    # ADVICE r11 #5: the Unicode-pin tripwires are deliberate environment
    # couplings — a failure after a DuckDB/Python upgrade is a pin-update
    # task, not a code regression. The marker makes that recognizable
    # (deselect with `-m "not environment_parity"` while updating pins).
    config.addinivalue_line(
        "markers",
        "environment_parity: pins installed-engine Unicode/regex tables; "
        "a failure after an engine version bump means 'update the pin', "
        "not 'the operator regressed'",
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark("unravelsports-spark-tests")
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _release_tracked_caches():
    """Unpersist operator-tracked intermediate tables after every test so the
    session-scoped SparkSession doesn't accumulate cached tables across the
    suite (ADVICE r3: tracked persists need a release point)."""
    yield
    from unravelsports_spark.cache import release_tracked

    release_tracked()


@pytest.fixture(scope="session")
def duck():
    from tools.registry import gate_duckdb

    con = gate_duckdb(SF_CORRECT)
    yield con
    con.close()

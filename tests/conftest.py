from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from llm_map_reduce_summarizer_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # 16 executor threads: the pooled gates (test_oracle,
    # test_empty_sources) submit 8-12 concurrent tiny queries — with
    # only 8 threads they queue behind each other's stages
    os.environ.setdefault("SPARK_GRAFT_CPUS", "16")
    s = get_spark("tests")
    yield s


# The default run deselects `slow` tests (pytest.ini); this cap keeps
# that deselected share from growing unnoticed. Raise it only together
# with a matching cut elsewhere.
MAX_SLOW_TESTS = 18


@pytest.hookimpl(tryfirst=True)
def pytest_collection_modifyitems(config, items):
    n_slow = sum(1 for item in items if item.get_closest_marker("slow"))
    if n_slow > MAX_SLOW_TESTS:
        raise pytest.UsageError(
            f"{n_slow} tests carry the `slow` mark; at most "
            f"{MAX_SLOW_TESTS} may (the default run deselects them)"
        )

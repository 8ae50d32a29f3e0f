import os
import sys

import pytest

# the package lives at the repository root: make it importable however
# pytest is started (e.g. with a tests/ path from another directory)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from chameleon_entity_linking_spark.plans.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cores=4, shuffle_partitions=8)
    yield s

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    from jsonschema_spark.sources.session import get_spark

    session = get_spark(app_name="perfbench-tests", cores=2, shuffle_partitions=2)
    yield session
    session.stop()

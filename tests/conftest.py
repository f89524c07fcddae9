import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from split_ner_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="split-ner-spark-tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()

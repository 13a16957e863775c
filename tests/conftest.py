from __future__ import annotations

import pytest

from parquet_to_arrow_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="pytest", chunk_rows=1024, shuffle_partitions=8)
    yield s
    s.stop()

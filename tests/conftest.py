from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from hand_index_spark.session import get_spark

    # keep saveAsTable (bucketing tests) out of the repo working tree
    wh = str(tmp_path_factory.mktemp("spark_warehouse"))
    s = get_spark(
        "hand_index_spark_tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": wh},
    )
    yield s
    from pyspark import SparkContext

    # the scaling gate (last test) may already have shut the JVM down
    if SparkContext._gateway is not None:
        s.stop()

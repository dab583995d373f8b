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


@pytest.fixture
def jvm_commands(spark):
    """``with jvm_commands() as n:`` counts into ``n[0]`` the Py4J
    commands this thread sends to the JVM inside the block. Py4J's
    finalizer thread, which releases JVM handles of freed Python objects
    whenever it gets to them, is not counted."""
    import threading
    from contextlib import contextmanager

    client = spark.sparkContext._gateway._gateway_client

    @contextmanager
    def count():
        n = [0]
        me = threading.get_ident()
        send = client.send_command

        def counting(*args, **kwargs):
            if threading.get_ident() == me:
                n[0] += 1
            return send(*args, **kwargs)

        client.send_command = counting
        try:
            yield n
        finally:
            del client.send_command

    return count

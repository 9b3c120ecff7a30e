from __future__ import annotations

import os
import sys

import pytest

CHECKOUT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, CHECKOUT)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from flink_gmall2024_realtime_spark.session import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (CHECKOUT, os.environ.get("PYTHONPATH")) if p)
    spark = get_spark(
        "perfbench-tests", master="local[2]", shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("wh"))},
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]


@pytest.fixture(scope="session")
def spark():
    from kafka_clickhouse_example_spark.session import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    spark = get_spark("perfbench-tests", cpus=2, driver_memory="1g")
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()

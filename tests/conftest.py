import pytest
from pyspark.sql import SparkSession

from bench import SPARK_CONF


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .config(map=SPARK_CONF)
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "6g")
        .appName("osm-addr-tools-spark-tests")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()

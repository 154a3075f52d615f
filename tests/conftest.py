import os
import pytest
from pyspark.sql import SparkSession

#: the smallest testdata scale factor (TESTDATA.md): the oracle gate and
#: every test that reads the tpch/documents tables use it
SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    s = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("shacl_js_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "6g")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()

import os
import sys

import pytest
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from anovos_spark.core.session import DEFAULT_CONF  # noqa: E402

# static: it sizes the JVM's generated-class cache once, when this session
# creates the SparkContext
CODEGEN_CACHE = "spark.sql.codegen.cache.maxEntries"

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master(os.environ.get("SPARK_GRAFT_TEST_MASTER", "local[4]"))
        .appName("anovos_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config(CODEGEN_CACHE, DEFAULT_CONF[CODEGEN_CACHE])
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_TEST_MEM", "4g"))
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


@pytest.fixture(scope="session")
def orders(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/orders.parquet")

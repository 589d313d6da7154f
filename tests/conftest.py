import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from anovos_spark.core.session import get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # the engine session: Arrow, the BLAS pins and the codegen cache all
    # come from DEFAULT_CONF, and the driver heap is sized from the box
    spark = get_session(
        "anovos_spark-tests",
        master=os.environ.get("SPARK_GRAFT_TEST_MASTER", "local[4]"),
        extra_conf={"spark.sql.shuffle.partitions": "8", "spark.ui.enabled": "false"},
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

import pytest
from pyspark.sql import SparkSession

from covid19_spark.session import ROCKSDB_PROVIDER

SF_DIR = "/root/testdata/sf0.001"
STATE_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("covid19_spark_tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture()
def rocksdb_state_store(spark):
    """Run the test's streaming state on the RocksDB provider, as a
    ``get_spark`` session does; the session's provider is restored after."""
    prior = spark.conf.get(STATE_PROVIDER_CONF, None)
    spark.conf.set(STATE_PROVIDER_CONF, ROCKSDB_PROVIDER)
    yield
    if prior is None:
        spark.conf.unset(STATE_PROVIDER_CONF)
    else:
        spark.conf.set(STATE_PROVIDER_CONF, prior)

import pytest
from pyspark.sql import SparkSession

from covid19_spark.session import ROCKSDB_CHANGELOG_CONF, ROCKSDB_PROVIDER

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
    """Run the test's streaming state on the RocksDB provider with changelog
    checkpointing, as a ``get_spark`` session does; the session's confs are
    restored after."""
    confs = {STATE_PROVIDER_CONF: ROCKSDB_PROVIDER, ROCKSDB_CHANGELOG_CONF: "true"}
    prior = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    yield
    for k, v in prior.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)

import pytest
from pyspark.sql import SparkSession

from covid19_spark.session import ROCKSDB_CHANGELOG_CONF, ROCKSDB_PROVIDER

SF_DIR = "/root/testdata/sf0.001"
STATE_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"


@pytest.fixture(scope="session")
def spark():
    """A vanilla ``local[4]`` session, on purpose: like any plain session
    that imports the query contract (``__spark_entry__.py``), it lacks
    ``get_spark``'s confs, so a test that passes here does not depend on
    them.  ``SPARK_GRAFT_CPUS`` therefore reaches only tests that call
    ``session.get_spark``; the plan audit sees the same plans at any core
    count, and a core-count-dependent plan is checked with
    ``tools/time_queries.py`` or ``tools/scale_probe.py`` under
    ``SPARK_GRAFT_CPUS`` instead."""
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

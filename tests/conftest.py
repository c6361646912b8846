import os

import pytest

from geotreehealth_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"

# The suite reads sf0.001 and needs a few GB of heap at most. Left at the
# session default (24g), G1 grows the test JVM to ~6 GB RSS, and the
# partition-determinism test starts two more JVMs beside it; on a shared
# 15 GB host that can get the test JVM OOM-killed mid-suite. Subprocesses
# inherit the variable.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="geotreehealth-tests", cores=8)
    yield s
    s.stop()


@pytest.fixture
def persistent_rdds(spark):
    """Returns a function giving the ids in the persistent-RDD registry, for
    leak assertions around an operator call.

    The registry holds RDDs weakly: once an earlier test's dropped result is
    garbage-collected, the ContextCleaner unpersists its checkpoint blocks at
    an arbitrary moment, which would look like the call under test released
    them. Each snapshot therefore pins every RDD it saw until the test ends,
    so an id leaves the registry only by an explicit release."""
    jsc = spark.sparkContext._jsc
    pins = []

    def snapshot() -> set[int]:
        reg = jsc.getPersistentRDDs()  # a strict map: holds every RDD in it
        pins.append(reg)
        return set(reg.keys())

    yield snapshot
    pins.clear()

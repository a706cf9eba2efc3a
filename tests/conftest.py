import uuid

import pytest

from sophox_spark.plans import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("sophox_spark_tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture()
def jobs_of(spark):
    """``jobs_of(fn)`` runs ``fn()`` under a job group of its own and
    returns ``(fn's result, [description of each Spark job it ran])``;
    a job without a description reads as ``""``."""
    sc = spark.sparkContext

    def run(fn):
        group = f"test-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc._jsc.clearJobGroup()
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        descs = []
        for j in sorted(sc.statusTracker().getJobIdsForGroup(group)):
            d = jsc.statusStore().job(j).description()
            descs.append(d.get() if d.isDefined() else "")
        return out, descs

    return run

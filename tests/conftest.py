import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMALL = os.path.join(TESTDATA, "sf0.001")
SF_MED = os.path.join(TESTDATA, "sf0.01")


@pytest.fixture(scope="session")
def spark():
    from geotrellis_contrib_spark.session import get_session

    s = get_session(app_name="gcs-tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


def count_jobs(spark, fn):
    """Run ``fn()`` under a fresh job group and return (jobs, result):
    the number of Spark jobs it started — its driver syncs plus the
    stage jobs adaptive execution submits for them."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), result


ITERATE_LOG = "geotrellis_contrib_spark.plans.iterate"


def sync_probes(caplog, op):
    """The probe values of operator ``op``'s syncs, in order, from the
    per-sync records of ``plans.iterate.fixpoint`` (the test must first
    run ``caplog.set_level(logging.INFO, logger=ITERATE_LOG)``)."""
    return [r.probe for r in caplog.records if getattr(r, "op", None) == op]

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from serverless_etl_aws_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_T2 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_TEST_SF", SF_SMOKE)


@pytest.fixture
def job_task_counts(spark):
    """``job_task_counts(fn)`` runs ``fn`` and returns the task count of
    every Spark job started meanwhile, under any job group: streaming
    micro-batches run under their query's own group. The DAG scheduler
    numbers jobs in submission order, so those jobs are the ids it handed
    out while ``fn`` ran; the listener bus is drained before the status
    store is read."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    tracker = sc.statusTracker()

    def count(fn) -> list[int]:
        first = jsc.dagScheduler().nextJobId()
        fn()
        last = jsc.dagScheduler().nextJobId()
        jsc.listenerBus().waitUntilEmpty()
        return [
            sum(
                tracker.getStageInfo(sid).numTasks
                for sid in tracker.getJobInfo(jid).stageIds
            )
            for jid in range(first, last)
        ]

    return count


#: Modules whose tests form the per-round drift-axis SWEEP tier (each is
#: a full-registry strict cross-engine sweep over a perturbed fixture —
#: hundreds of cases per axis, the bulk of suite wall-clock). Everything
#: else is the CORE tier that runs every session (< 15 min). See
#: pytest.ini for the two invocations (VERDICT r10 directive #7).
SWEEP_MODULES = {"test_const_drift", "test_null_drift", "test_session_axes"}


def pytest_collection_modifyitems(config, items):
    for item in items:
        if item.module.__name__ in SWEEP_MODULES:
            item.add_marker(pytest.mark.sweep)

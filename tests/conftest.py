from __future__ import annotations

import os

import pytest


@pytest.fixture(scope="session")
def spark():
    from spatialjoin.sparkutil import get_spark

    # Job-group tests read every stage of a call back from the status
    # store. Once a session passes spark.ui.retainedStages (default
    # 1000), each cleanup drops SKIPPED stages first, the ones of the
    # job just run included, so a long test session must retain them.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.retainedStages=50000 --conf spark.ui.retainedJobs=50000 "
        + os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell"))
    s = get_spark(cpus=4, app="spatialjoin-tests")
    yield s
    s.stop()

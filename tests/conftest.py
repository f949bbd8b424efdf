from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from poet_cloud_cost_etl_spark.session import build_session  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    s = build_session(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    yield s
    s.stop()


def count_jobs(spark, fn, group: str = "count-jobs") -> tuple[int, object]:
    """(Spark jobs ``fn()`` ran, its result): ``fn`` runs under its own
    job group, and the listener bus is drained before the group's job
    ids are read. Job counts do not depend on host speed, so a test can
    pin them exactly."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group, False)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), out

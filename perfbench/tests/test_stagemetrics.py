"""Status-store attribution: counts a group's work and launches no job."""

from __future__ import annotations

import pytest

from project_orbit_spark.session import get_spark
from stagemetrics import StageMetrics


@pytest.fixture(scope="module")
def spark():
    s = get_spark("perfbench-test", master="local[2]")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _total_jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().statusStore().jobsList(None).size()


def test_group_metrics_count_the_group_work(spark):
    sm = StageMetrics(spark)
    sc = spark.sparkContext
    sc.setJobGroup("work", "work")
    spark.range(0, 200_000, numPartitions=4).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    sc.setLocalProperty("spark.jobGroup.id", None)
    m = sm.group("work")
    assert m["jobs"] >= 1
    assert m["stages"] >= 2
    assert m["tasks"] >= 5
    assert m["shuffle_write_mib"] > 0
    # a stage is counted once, under the first group that read it
    again = sm.group("work")
    assert again["stages"] == 0


def test_reading_the_status_store_launches_no_job(spark):
    sm = StageMetrics(spark)
    sc = spark.sparkContext
    sc.setJobGroup("probe", "probe")
    spark.range(1000).count()
    sc.setLocalProperty("spark.jobGroup.id", None)
    sm.drain()
    before = _total_jobs(spark)
    for _ in range(3):
        sm.group("probe")
        sm.group("no-such-group")
    sm.drain()
    assert _total_jobs(spark) == before
    # control: the counter does see a job when one runs
    spark.range(10).count()
    sm.drain()
    assert _total_jobs(spark) > before

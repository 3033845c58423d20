from __future__ import annotations

import time
from contextlib import contextmanager

import pytest

# google.protobuf for st7 (transformWithState), provided before the
# first SparkSession builds the JVM so the Python workers inherit it.
from aqi_analysis_apache_airflow_spark.vendored import provide_protobuf

provide_protobuf()

from aqi_analysis_apache_airflow_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="tests", extra_conf={"spark.sql.shuffle.partitions": "8"}
    )
    yield s


@contextmanager
def jobs_started(sc):
    """Yield a list that holds, after the block, the ids of the Spark
    jobs the block started. Listener events arrive asynchronously, so a
    sentinel job in its own group is run after the block and awaited:
    events are delivered in order, so once it shows up every earlier
    job does too. The sentinel is a JVM-only job: a Python RDD job
    costs ~10x more (it starts a Python worker task)."""
    tag = f"jobs-started-{time.monotonic_ns()}"
    ids: list[int] = []
    sc.setJobGroup(tag, tag)
    try:
        yield ids
    finally:
        sc.setJobGroup(tag + "-sentinel", tag)
        one = sc._jvm.java.util.ArrayList()
        one.add(0)
        sc._jsc.parallelize(one, 1).count()
        sc.setLocalProperty("spark.jobGroup.id", None)
        st = sc.statusTracker()
        deadline = time.monotonic() + 30
        while not st.getJobIdsForGroup(tag + "-sentinel") and time.monotonic() < deadline:
            time.sleep(0.05)
        ids.extend(st.getJobIdsForGroup(tag))


@contextmanager
def session_time_zone(spark, zone):
    """Run the block under session time zone ``zone`` (None: unset),
    then restore the zone the session had before."""
    key = "spark.sql.session.timeZone"
    before = spark.conf.get(key, None)
    if zone is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, zone)
    try:
        yield
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


def run_stage_to_nds(wh, now):
    """The stage_to_nds task chain (``dags/etl/main.py:68-84``), as the
    DAG runs it: states, then counties (with dp1 and dp2), then
    measurements."""
    from aqi_analysis_apache_airflow_spark.pipelines import stage_to_nds as s2n

    s2n.upsert_states(wh, now)
    s2n.upsert_counties(wh, now)
    s2n.upsert_measurements(wh, now)

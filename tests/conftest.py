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
    job does too."""
    tag = f"jobs-started-{time.monotonic_ns()}"
    ids: list[int] = []
    sc.setJobGroup(tag, tag)
    try:
        yield ids
    finally:
        sc.setJobGroup(tag + "-sentinel", tag)
        sc.parallelize([0], 1).count()
        sc.setLocalProperty("spark.jobGroup.id", None)
        st = sc.statusTracker()
        deadline = time.monotonic() + 30
        while not st.getJobIdsForGroup(tag + "-sentinel") and time.monotonic() < deadline:
            time.sleep(0.05)
        ids.extend(st.getJobIdsForGroup(tag))

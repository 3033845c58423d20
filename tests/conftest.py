from __future__ import annotations

import importlib.util
import os
import sys
import time
from contextlib import contextmanager

import pytest

# Un-gate the transformWithStateInPandas test: if no system
# google.protobuf exists, expose the vendored pure-Python runtime
# (vendor/README.md) to BOTH the driver (sys.path) and the Python
# workers (PYTHONPATH, inherited by the worker daemon the JVM spawns —
# must be set before the first SparkSession builds the JVM).
try:
    _HAVE_PROTOBUF = importlib.util.find_spec("google.protobuf") is not None
except ModuleNotFoundError:  # no 'google' namespace at all
    _HAVE_PROTOBUF = False
if not _HAVE_PROTOBUF:
    _VENDOR = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "vendor",
        "protobuf_py.zip",
    )
    if os.path.isfile(_VENDOR):
        sys.path.insert(0, _VENDOR)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in [_VENDOR, os.environ.get("PYTHONPATH", "")] if p
        )

from aqi_analysis_apache_airflow_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
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

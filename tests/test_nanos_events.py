"""The events corpus has shipped ``ts`` both as parquet
TIMESTAMP(NANOS) and as plain microsecond TIMESTAMP_NTZ across driver
rounds; the loaders branch on what they find (raw-nanos LONG under the
legacy conf → exact ``div 1000`` truncation). The current corpus is
microseconds, which would leave the nanos branch as untested dead code
exactly until the round it becomes load-bearing again — so this fixture
writes a real TIMESTAMP(NANOS) parquet and proves both the batch loader
and the streaming reader produce the same microsecond wall times a
microsecond file would."""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import session_time_zone

from aqi_analysis_apache_airflow_spark.sources.readers import load_table

_ROWS = [
    # (event_id, iso microsecond wall time, nanos remainder to add)
    (1, "2024-01-01 10:00:00.000001", 500),  # sub-us precision truncates
    (2, "2024-01-01 10:00:00.999999", 999),
    (3, "2024-06-15 23:59:59.123456", 0),
]


@pytest.fixture(scope="module")
def nanos_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("nanos_ev")
    ts = [
        pd.Timestamp(iso).value + extra  # .value is already nanoseconds
        for _, iso, extra in _ROWS
    ]
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in _ROWS], pa.int64()),
            "ts": pa.array(ts, pa.timestamp("ns")),
            "user_id": pa.array([7, 7, 8], pa.int64()),
            "event_type": pa.array(["click", "view", "buy"]),
            "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
            "props": pa.array(['{"k": 1}', None, "{}"]),
        }
    )
    # version 2.6 + no coercion stores the physical TIMESTAMP(NANOS)
    # annotation that Spark's reader rejects without the legacy conf
    pq.write_table(
        table, os.path.join(d, "events.parquet"),
        coerce_timestamps=None, version="2.6",
    )
    return str(d)


def test_nanos_file_really_is_nanos(nanos_dir):
    s = pq.read_schema(os.path.join(nanos_dir, "events.parquet"))
    assert str(s.field("ts").type) == "timestamp[ns]"


@pytest.mark.parametrize("zone", ["UTC", "America/New_York"])
def test_batch_loader_truncates_nanos_exactly(spark, nanos_dir, zone):
    """NTZ wall times are the file's, whatever the session zone."""
    with session_time_zone(spark, zone):
        df = load_table(spark, nanos_dir, "events")
        assert dict(df.dtypes)["ts"] == "timestamp_ntz"
        got = {r["event_id"]: r["ts"].isoformat(sep=" ") for r in df.collect()}
    want = {eid: iso for eid, iso, _ in _ROWS}
    assert got == want  # nanos remainder truncated, never rounded up


def test_stream_reader_handles_nanos(spark, nanos_dir):
    from aqi_analysis_apache_airflow_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out = run_to_memory(
        read_events_stream(spark, nanos_dir).select("event_id", "ts"),
        "nanos_probe_sink",
        mode="append",
    )
    got = {
        r["event_id"]: r["ts"].replace(tzinfo=None).isoformat(sep=" ")
        for r in out.collect()
    }
    want = {eid: iso for eid, iso, _ in _ROWS}
    assert got == want

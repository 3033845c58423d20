"""The events corpus has shipped ``ts`` both as parquet
TIMESTAMP(NANOS) and as plain microsecond TIMESTAMP_NTZ across driver
rounds; the loaders branch on what they find (raw-nanos LONG from the
footer schema → exact ``div 1000`` truncation), with the legacy
``nanosAsLong`` conf unset before and after every read. The current corpus is
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

NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"

_ROWS = [
    # (event_id, iso microsecond wall time, nanos remainder to add)
    (1, "2024-01-01 10:00:00.000001", 500),  # sub-us precision truncates
    (2, "2024-01-01 10:00:00.999999", 999),
    (3, "2024-06-15 23:59:59.123456", 0),
    (4, "2024-03-10 02:30:00.000001", 0),  # in New York's spring-forward gap
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
            "user_id": pa.array([7, 7, 8, 8], pa.int64()),
            "event_type": pa.array(["click", "view", "buy", "view"]),
            "value": pa.array([1.0, 2.0, 3.0, 4.0], pa.float64()),
            "props": pa.array(['{"k": 1}', None, "{}", None]),
        }
    )
    # version 2.6 + no coercion stores the physical TIMESTAMP(NANOS)
    # annotation that Spark's inference rejects without the legacy conf
    pq.write_table(
        table, os.path.join(d, "events.parquet"),
        coerce_timestamps=None, version="2.6",
    )
    return str(d)


@pytest.fixture(scope="module")
def micros_dir(tmp_path_factory, nanos_dir):
    """The same rows as the corpus stores them: microsecond NTZ."""
    d = tmp_path_factory.mktemp("micros_ev")
    table = pq.read_table(os.path.join(nanos_dir, "events.parquet"))
    pq.write_table(
        table, os.path.join(d, "events.parquet"),
        coerce_timestamps="us", allow_truncated_timestamps=True,
    )
    return str(d)


def test_nanos_file_really_is_nanos(nanos_dir):
    s = pq.read_schema(os.path.join(nanos_dir, "events.parquet"))
    assert str(s.field("ts").type) == "timestamp[ns]"


@pytest.mark.parametrize("zone", ["UTC", "America/New_York"])
def test_batch_loader_truncates_nanos_exactly(spark, nanos_dir, zone):
    """NTZ wall times are the file's, whatever the session zone."""
    spark.conf.unset(NANOS_CONF)
    with session_time_zone(spark, zone):
        df = load_table(spark, nanos_dir, "events")
        assert dict(df.dtypes)["ts"] == "timestamp_ntz"
        got = {r["event_id"]: r["ts"].isoformat(sep=" ") for r in df.collect()}
    assert spark.conf.get(NANOS_CONF, None) is None
    want = {eid: iso for eid, iso, _ in _ROWS}
    assert got == want  # nanos remainder truncated, never rounded up


def test_stream_reader_handles_nanos(spark, nanos_dir, micros_dir):
    """The stream's wall times, nanos or micros file, are the file's,
    whatever the session zone: also one that New York's clocks skip."""
    from aqi_analysis_apache_airflow_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        wall_time,
    )

    spark.conf.unset(NANOS_CONF)
    want = {eid: iso for eid, iso, _ in _ROWS}
    for path in (nanos_dir, micros_dir):
        for zone in ("UTC", "America/New_York"):
            with session_time_zone(spark, zone):
                events = read_events_stream(spark, path)
                out = run_to_memory(
                    events.select("event_id", wall_time("ts").alias("ts")),
                    "nanos_probe_sink",
                    mode="append",
                )
                got = {r["event_id"]: r["ts"].isoformat(sep=" ") for r in out.collect()}
            assert got == want, (path, zone)
    assert spark.conf.get(NANOS_CONF, None) is None

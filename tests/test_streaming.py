"""Structured Streaming surface tests: each streaming operator's
availableNow run over the events parquet must agree with its batch twin
(the oracle-verified plans in plans/extended.py)."""

from __future__ import annotations

import pytest
from conftest import session_time_zone

from aqi_analysis_apache_airflow_spark.plans import REGISTRY
from aqi_analysis_apache_airflow_spark.plans import extended as _extended  # noqa: F401
from aqi_analysis_apache_airflow_spark.streaming.ops import (
    dedup_within_watermark,
    read_events_stream,
    run_to_memory,
    windowed_counts,
)

SF_DIR = "/root/testdata/sf0.001"


def _canon(df, cols):
    return sorted(tuple(str(v) for v in r) for r in df.select(*cols).collect())


@pytest.fixture(scope="module")
def events_stream(spark):
    return read_events_stream(spark, SF_DIR)


def test_stream_is_streaming(events_stream):
    assert events_stream.isStreaming
    assert dict(events_stream.dtypes)["ts"].startswith("timestamp")


def test_windowed_counts_match_batch_twin(spark, events_stream):
    got = run_to_memory(windowed_counts(events_stream), "win_counts")
    want = REGISTRY["e1_tumbling_window"].fn(spark, SF_DIR)
    cols = ["window_start", "window_end", "event_type", "n_events", "total_value"]
    assert _canon(got, cols) == _canon(want, cols)


def test_dedup_within_watermark(spark, events_stream):
    got = run_to_memory(
        dedup_within_watermark(events_stream, keys=["event_id"]), "dedup", mode="append"
    )
    n_distinct = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .select("event_id")
        .distinct()
        .count()
    )
    assert got.count() == n_distinct
    assert got.select("event_id").distinct().count() == n_distinct


def test_late_rows_accounted_not_silently_dropped(spark, events_stream):
    """The reference silently drops late rows
    (``dags/etl/source_to_stage.py:73``); the streaming surface exposes
    drop counts in query progress. With availableNow over a single
    batch nothing is late, so the metric exists and reads 0."""
    q = (
        windowed_counts(events_stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("late_check")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert q.lastProgress is not None
    ops = q.lastProgress["stateOperators"]
    assert ops and "numRowsDroppedByWatermark" in ops[0]
    assert ops[0]["numRowsDroppedByWatermark"] == 0


@pytest.mark.parametrize("zone", ["America/New_York", None])
@pytest.mark.parametrize("name", ["st1_stream_dedup", "st2_stream_windowed"])
def test_stream_query_restores_session_zone(spark, name, zone):
    """An st* query pins UTC only for its own call: the caller's zone
    (or its absence) is back afterwards, and the rows, collected after
    that, equal a run on a UTC session."""
    q = REGISTRY[name].fn
    want = _canon(q(spark, SF_DIR), ["*"])
    with session_time_zone(spark, zone):
        got = _canon(q(spark, SF_DIR), ["*"])
        assert spark.conf.get("spark.sql.session.timeZone", None) == zone
    assert got == want

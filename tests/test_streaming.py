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


#: Every registry query over a live stream.
STREAM_QUERIES = sorted(n for n in REGISTRY if n.startswith("st"))
#: name -> canonical rows of the query on the UTC test session.
_UTC_ROWS: dict[str, list[tuple]] = {}


@pytest.mark.parametrize("zone", ["America/New_York", "Asia/Kolkata", None])
@pytest.mark.parametrize("name", STREAM_QUERIES)
def test_stream_query_restores_session_zone(spark, monkeypatch, name, zone):
    """An st* query neither sets nor unsets the session time zone, the
    caller's zone (or its absence) reads the same after the query ran,
    and its rows, collected under that zone, equal a run on a UTC
    session."""
    from pyspark.sql.conf import RuntimeConfig

    touched = []
    real_set, real_unset = RuntimeConfig.set, RuntimeConfig.unset

    def spy_set(self, key, value):
        touched.append(key)
        return real_set(self, key, value)

    def spy_unset(self, key):
        touched.append(key)
        return real_unset(self, key)

    q = REGISTRY[name].fn
    if name not in _UTC_ROWS:
        _UTC_ROWS[name] = _canon(q(spark, SF_DIR), ["*"])
    with session_time_zone(spark, zone):
        with monkeypatch.context() as m:
            m.setattr(RuntimeConfig, "set", spy_set)
            m.setattr(RuntimeConfig, "unset", spy_unset)
            out = q(spark, SF_DIR)
        got = _canon(out, ["*"])
        assert spark.conf.get("spark.sql.session.timeZone", None) == zone
    assert "spark.sql.session.timeZone" not in touched
    assert got == _UTC_ROWS[name]


@pytest.mark.parametrize(
    "name",
    [
        "st1_stream_dedup",
        "st2_stream_windowed",
        "st3_stream_stream_join",
        "st4_stream_session_window",
        "st5_stream_static_join",
        "st7_stream_tws_user_stats",
        "st8_stream_outer_join",
    ],
)
def test_stream_query_leaves_no_view_or_conf(spark, name):
    """A memory-sink replay drops its temp view before the query
    returns, and the returned frame still reads its rows; reading the
    events file sets no legacy parquet conf."""
    nanos_conf = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(nanos_conf)
    views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    out = REGISTRY[name].fn(spark, SF_DIR)
    assert {t.name for t in spark.catalog.listTables() if t.isTemporary} == views
    assert spark.conf.get(nanos_conf, None) is None
    assert out.count() > 0


def test_replay_leaves_unset_shuffle_partitions_unset(spark):
    """``run_to_memory`` overrides the shuffle partitions for the
    replay only: a session that never set them has them unset again
    afterwards, not pinned to the default."""
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    spark.conf.unset(key)
    try:
        REGISTRY["st2_stream_windowed"].fn(spark, SF_DIR)
        assert spark.conf.get(key, None) is None
    finally:
        spark.conf.set(key, before)

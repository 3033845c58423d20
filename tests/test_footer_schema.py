"""``sources.readers.footer_schema`` must give every corpus file the
schema Spark's own inference gives it, so that passing the footer
schema (which starts no Spark job) changes no query. The two timestamp
encodings pyarrow reports alike, INT64 TIMESTAMP(NANOS) and INT96, are
told apart by their parquet physical type; anything the mapping does
not cover falls back to Spark's inference."""

from __future__ import annotations

import glob
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import session_time_zone
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aqi_analysis_apache_airflow_spark.sources.readers import footer_schema, load_table
from aqi_analysis_apache_airflow_spark.streaming.ops import (
    read_events_stream,
    run_to_memory,
    wall_time,
)
from tests.test_adversarial_corpus import adversarial_dir  # noqa: F401
from tests.test_adversarial_embeddings import adversarial_emb_dir  # noqa: F401
from tests.test_adversarial_events import adversarial_ev_dir  # noqa: F401
from tests.test_adversarial_lineitem import adversarial_li_dir  # noqa: F401
from tests.test_adversarial_multitable import adv_dir  # noqa: F401
from tests.test_adversarial_orders import adversarial_or_dir  # noqa: F401
from tests.test_adversarial_tpch import adversarial_tpch_dir  # noqa: F401
from tests.test_oracle_parity import SF_DIR

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORPUS_FILES = sorted(
    glob.glob(os.path.join(os.path.dirname(SF_DIR), "sf*", "*.parquet"))
    + glob.glob(os.path.join(_ROOT, "perfbench", "corpus_sf0.1", "*.parquet"))
)
ADVERSARIAL_DIRS = [
    "adversarial_dir",
    "adversarial_emb_dir",
    "adversarial_ev_dir",
    "adversarial_li_dir",
    "adv_dir",
    "adversarial_or_dir",
    "adversarial_tpch_dir",
]
NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def _fields(schema: T.StructType) -> list[tuple[str, T.DataType]]:
    return [(f.name, f.dataType) for f in schema]


def _assert_matches_inference(spark, path: str) -> None:
    derived = footer_schema(path)
    assert derived is not None, path
    assert _fields(derived) == _fields(spark.read.parquet(path).schema), path


def test_corpus_files_found():
    assert len(CORPUS_FILES) >= 30


@pytest.mark.parametrize(
    "path",
    CORPUS_FILES,
    ids=lambda p: f"{os.path.basename(os.path.dirname(p))}/{os.path.basename(p)}",
)
def test_footer_schema_equals_inference_on_corpus(spark, path):
    _assert_matches_inference(spark, path)


@pytest.mark.parametrize("fixture", ADVERSARIAL_DIRS)
def test_footer_schema_equals_inference_on_adversarial(spark, request, fixture):
    fixture_dir = str(request.getfixturevalue(fixture))
    files = sorted(glob.glob(os.path.join(fixture_dir, "*.parquet")))
    assert files
    for path in files:
        _assert_matches_inference(spark, path)


_WALL = ["2024-01-01 10:00:00.000001", "2024-06-15 23:59:59.123456"]


def _ts_table() -> pa.Table:
    return pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([pd.Timestamp(w).value for w in _WALL], pa.timestamp("ns")),
        }
    )


def test_int96_reads_as_timestamp(spark, tmp_path):
    """pyarrow reports INT96 as timestamp[ns] like TIMESTAMP(NANOS);
    mapped to LONG it would fail at execution, so it must stay a
    TIMESTAMP, as Spark infers it, with the stored instants."""
    pq.write_table(
        _ts_table(), tmp_path / "events.parquet", use_deprecated_int96_timestamps=True
    )
    column = pq.ParquetFile(tmp_path / "events.parquet").schema.column(1)
    assert column.physical_type == "INT96"
    _assert_matches_inference(spark, str(tmp_path / "events.parquet"))
    df = load_table(spark, str(tmp_path), "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    with session_time_zone(spark, "UTC"):
        wall = F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        got = sorted(r[0] for r in df.select(wall).collect())
    assert got == _WALL
    # the stream keeps the instants and wall_time reads their UTC wall
    # times, whatever the session zone
    with session_time_zone(spark, "Asia/Kolkata"):
        stream = read_events_stream(spark, str(tmp_path)).select(
            F.date_format(wall_time("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
        )
        out = run_to_memory(stream, "int96_stream", mode="append")
        assert sorted(r[0] for r in out.collect()) == _WALL


def test_nanos_maps_to_long_without_conf(tmp_path):
    pq.write_table(
        _ts_table(), tmp_path / "events.parquet", coerce_timestamps=None, version="2.6"
    )
    schema = footer_schema(str(tmp_path / "events.parquet"))
    assert _fields(schema) == [("event_id", T.LongType()), ("ts", T.LongType())]


@pytest.mark.parametrize(
    "column",
    [
        pa.array([[1, 2]], pa.list_(pa.timestamp("ns"))),  # nested nanos
        pa.array([None, None], pa.null()),  # Spark infers INT
        pa.array([1, 2], pa.time64("us")),  # Spark cannot read it
    ],
    ids=["nested_nanos", "null", "time64"],
)
def test_unmapped_types_fall_back(tmp_path, column):
    table = pa.table({"id": pa.array(range(len(column)), pa.int64()), "c": column})
    path = tmp_path / "t.parquet"
    pq.write_table(table, path, coerce_timestamps=None, version="2.6")
    assert footer_schema(str(path)) is None


def test_unreadable_paths_fall_back(spark, tmp_path):
    """A directory, a missing or corrupt file and a remote URI give
    None (the reader then infers); a Spark-written directory still
    loads."""
    (tmp_path / "corrupt.parquet").write_bytes(b"not a parquet file")
    assert footer_schema(str(tmp_path / "corrupt.parquet")) is None
    assert footer_schema(str(tmp_path / "missing.parquet")) is None
    assert footer_schema("s3a://bucket/events.parquet") is None

    src = spark.range(3).withColumnRenamed("id", "event_id")
    src.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    assert footer_schema(str(tmp_path / "events.parquet")) is None
    df = load_table(spark, str(tmp_path), "events")
    assert sorted(r[0] for r in df.collect()) == [0, 1, 2]


def test_load_table_leaves_nanos_conf_untouched(spark):
    spark.conf.unset(NANOS_CONF)
    load_table(spark, SF_DIR, "events").count()
    assert spark.conf.get(NANOS_CONF, None) is None

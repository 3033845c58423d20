"""CET/LSET stamps: a small JSON file beside the warehouse tables,
written by the driver and committed by atomic rename.

The stamps bound each night's CDC window, and an unstamped table reads
as an unbounded window. So a write that fails before its commit must
leave the previous stamps readable: losing them would silently widen
the next night's extract to everything. Reading or writing a stamp
starts no Spark job.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime

import pytest
from conftest import jobs_started

from aqi_analysis_apache_airflow_spark.pipelines import metadata
from aqi_analysis_apache_airflow_spark.pipelines.metadata import (
    get_metadata,
    set_cet,
    set_lset,
)
from aqi_analysis_apache_airflow_spark.pipelines.source_to_stage import (
    AQI_STAGE,
    COUNTIES_STAGE,
)
from aqi_analysis_apache_airflow_spark.pipelines.warehouse import Warehouse

CET = datetime(2023, 1, 31, 23, 59, 59, 250000)
LSET = datetime(2023, 1, 1)


@pytest.fixture
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "warehouse"))


def test_unstamped_table_reads_none(wh):
    assert get_metadata(wh, AQI_STAGE) == (None, None)
    set_cet(wh, AQI_STAGE, CET)
    assert get_metadata(wh, AQI_STAGE) == (CET, None)


def test_stamps_are_kept_per_table(wh):
    set_cet(wh, AQI_STAGE, CET)
    set_lset(wh, AQI_STAGE, LSET)
    set_cet(wh, COUNTIES_STAGE, LSET)
    set_cet(wh, AQI_STAGE, datetime(2023, 2, 28))
    assert get_metadata(wh, AQI_STAGE) == (datetime(2023, 2, 28), LSET)
    assert get_metadata(wh, COUNTIES_STAGE) == (LSET, None)


def test_failed_stamp_write_keeps_previous_stamps(wh, monkeypatch):
    set_cet(wh, AQI_STAGE, CET)
    set_lset(wh, AQI_STAGE, LSET)

    def crash(*_args, **_kwargs):
        raise OSError("crash before the commit")

    monkeypatch.setattr(os, "replace", crash)
    with pytest.raises(OSError):
        set_lset(wh, AQI_STAGE, datetime(2023, 2, 1))
    monkeypatch.undo()
    assert get_metadata(wh, AQI_STAGE) == (CET, LSET)


def test_concurrent_stamps_of_two_tables_both_survive(wh, monkeypatch):
    """The DAG's two stage branches have no edge between them, so their
    stamps can be written at once. A read that sleeps before its write
    makes the two writes interleave; neither table's stamp may be lost."""
    load = metadata._load

    def slow_load(w):
        stamps = load(w)
        time.sleep(0.2)
        return stamps

    monkeypatch.setattr(metadata, "_load", slow_load)
    with ThreadPoolExecutor(2) as pool:
        futures = [pool.submit(set_cet, wh, t, CET) for t in (AQI_STAGE, COUNTIES_STAGE)]
        for f in futures:
            f.result(timeout=30)
    monkeypatch.undo()
    assert get_metadata(wh, AQI_STAGE) == (CET, None)
    assert get_metadata(wh, COUNTIES_STAGE) == (CET, None)


def test_stamps_start_no_job(wh):
    with jobs_started(wh.spark.sparkContext) as ids:
        set_cet(wh, AQI_STAGE, CET)
        set_lset(wh, AQI_STAGE, LSET)
        assert get_metadata(wh, AQI_STAGE) == (CET, LSET)
    assert ids == []

"""End-to-end AQI pipeline parity tests (SURVEY.md §5.4, FIXTURES.md §B).

Synthetic fixtures deliberately seed every reference edge case:
bucket boundaries, whitespace county names, the Windham CT/VT split,
counties missing from the master (dp1 backfill), Date ≠ date(Created),
CDC boundary rows, duplicate natural keys, and idempotent re-runs.
"""

from __future__ import annotations

import csv
import os
from datetime import datetime

import pytest
from conftest import run_stage_to_nds
from pyspark.sql import functions as F

from aqi_analysis_apache_airflow_spark.pipelines.metadata import (
    get_metadata,
    set_cet,
    set_lset,
)
from aqi_analysis_apache_airflow_spark.pipelines.source_to_stage import (
    AQI_STAGE,
    COUNTIES_STAGE,
    process_aqi_files,
    process_counties_file,
)
from aqi_analysis_apache_airflow_spark.pipelines.stage_to_nds import (
    COUNTY_NDS,
    MEASUREMENT_NDS,
    STATE_NDS,
)
from aqi_analysis_apache_airflow_spark.pipelines.warehouse import Warehouse
from aqi_analysis_apache_airflow_spark.schemas import (
    COUNTY_NDS_SCHEMA,
    MEASUREMENT_NDS_SCHEMA,
    STATE_NDS_SCHEMA,
)

LSET = datetime(2023, 1, 1, 0, 0, 0)
CET = datetime(2023, 1, 31, 23, 59, 59)

AQI_HEADER = [
    "State Name", "county Name", "State Code", "County Code", "Date", "AQI",
    "Category", "Defining Parameter", "Defining Site",
    "Number of Sites Reporting", "Created", "Last Updated",
]


def aqi_row(state, county, aqi, site="s-1", param="PM2.5", date="2023-01-10",
            created="2023-01-10 08:00:00", updated="2023-01-15 00:00:00",
            category="WRONG", code="09"):
    return [state, county, code, "001", date, aqi, category, param, site,
            3, created, updated]


AQI_ROWS = [
    # bucket boundaries (all inside CDC window)
    aqi_row("Connecticut", "Hartford", 0),
    aqi_row("Connecticut", "Hartford", 50, site="s-2"),
    aqi_row("Connecticut", "Hartford", 51, site="s-3"),
    aqi_row("Connecticut", "Hartford", 100, site="s-4"),
    aqi_row("Connecticut", "Hartford", 101, site="s-5"),
    aqi_row("Connecticut", "Hartford", 150, site="s-6"),
    aqi_row("Connecticut", "Hartford", 151, site="s-7"),
    aqi_row("Connecticut", "Hartford", 200, site="s-8"),
    aqi_row("Connecticut", "Hartford", 201, site="s-9"),
    aqi_row("Connecticut", "Hartford", 300, site="s-10"),
    aqi_row("Connecticut", "Hartford", 301, site="s-11"),
    aqi_row("Connecticut", "Hartford", -5, site="s-12"),
    # whitespace trim + Date != date(Created)
    aqi_row("Vermont", "  Windham  ", 42, site="s-13", date="2022-12-25",
            created="2023-01-11 09:00:00"),
    # Windham CT: missing from master (planning regions) → dp2 patch
    aqi_row("Connecticut", "Windham", 77, site="s-14"),
    # county absent from master entirely → dp1 backfill
    aqi_row("Connecticut", "Ghostville", 88, site="s-15"),
    # CDC boundaries: exactly lset (in), exactly cet (in), before (out), after (out)
    aqi_row("Vermont", "Windsor", 10, site="s-16", updated="2023-01-01 00:00:00"),
    aqi_row("Vermont", "Windsor", 20, site="s-17", updated="2023-01-31 23:59:59"),
    aqi_row("Vermont", "Windsor", 30, site="s-18", updated="2022-12-31 23:59:59"),
    aqi_row("Vermont", "Windsor", 40, site="s-19", updated="2023-02-01 00:00:00"),
    # duplicate natural key (same date/param/site) → keep-first dedup
    aqi_row("Connecticut", "Hartford", 60, site="s-1",
            created="2023-01-10 09:00:00"),
]

COUNTIES_HEADER = [
    "county", "county_ascii", "county_full", "county_fips", "state_id",
    "state_name", "lat", "lng", "population",
]

COUNTIES_ROWS = [
    ["Hartford", "Hartford", "Hartford County", "09003", "CT", "Connecticut",
     41.8, -72.7, 900000],
    ["  Windham ", "Windham", "Windham County", "50025", "VT", "Vermont",
     42.9, -72.7, 45000],
    ["Windsor", "Windsor", "Windsor County", "50027", "VT", "Vermont",
     43.6, -72.6, 57000],
    # a state with no AQI rows at all (full-outer right-only case)
    ["Ada", "Ada", "Ada County", "16001", "ID", "Idaho", 43.4, -116.2, 480000],
]


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("pipeline")
    src = root / "source"
    os.makedirs(src)
    with open(src / "10_state_aqi_2023.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(AQI_HEADER)
        w.writerows(AQI_ROWS)
    with open(src / "uscounties.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(COUNTIES_HEADER)
        w.writerows(COUNTIES_ROWS)
    # a decoy that must NOT match the glob
    with open(src / "other_data.csv", "w") as f:
        f.write("a,b\n1,2\n")

    wh = Warehouse(spark, str(root / "warehouse"))
    set_cet(wh, AQI_STAGE, CET)
    set_lset(wh, AQI_STAGE, LSET)
    process_aqi_files(wh, str(src))
    process_counties_file(wh, str(src / "uscounties.csv"))
    run_stage_to_nds(wh, now=datetime(2023, 2, 1, 12, 0, 0))
    return wh


def test_metadata_roundtrip(wh):
    cet, lset = get_metadata(wh, AQI_STAGE)
    assert (cet, lset) == (CET, LSET)


def test_cdc_window_inclusive_both_ends(wh):
    stage = wh.read(AQI_STAGE)
    windsor = {
        r["aqi_value"] for r in stage.filter(F.col("county_name") == "Windsor").collect()
    }
    # 10 (== lset) and 20 (== cet) in; 30 (before) and 40 (after) dropped
    assert windsor == {10, 20}


def test_category_recomputed_and_gaps(wh):
    stage = wh.read(AQI_STAGE)
    got = {
        r["aqi_value"]: r["aqi_category"]
        for r in stage.filter(F.col("county_name") == "Hartford").collect()
    }
    assert got[0] == "Good" and got[50] == "Good"
    assert got[51] == "Moderate" and got[100] == "Moderate"
    assert got[101] == "Unhealthy for Sensitive Groups" and got[150] == "Unhealthy for Sensitive Groups"
    assert got[151] == "Unhealthy" and got[200] == "Unhealthy"
    assert got[201] == "Very Unhealthy" and got[300] == "Very Unhealthy"
    assert got[301] == "Hazardous"
    assert got[-5] == "Unknown"
    # the source's bogus Category never survives
    assert "WRONG" not in got.values()


def test_measured_date_from_created_not_date_column(wh):
    stage = wh.read(AQI_STAGE)
    row = stage.filter(F.col("county_name") == "Windham").filter(
        F.col("state_name") == "Vermont"
    ).first()
    # CSV Date said 2022-12-25; reference derives from Created (2023-01-11)
    assert str(row["measured_date"]) == "2023-01-11"


def test_county_trimmed_in_both_stages(wh):
    assert wh.read(AQI_STAGE).filter(F.col("county_name") == "  Windham  ").count() == 0
    assert wh.read(COUNTIES_STAGE).filter(F.col("county_name") == "Windham").count() == 1


def test_state_nds_full_outer_universe(wh):
    states = {r["state_name"] for r in wh.read(STATE_NDS).collect()}
    # Idaho: counties-master only; Connecticut/Vermont: both sides
    assert states == {"Connecticut", "Vermont", "Idaho"}
    sks = [r["state_id_sk"] for r in wh.read(STATE_NDS).collect()]
    assert len(sks) == len(set(sks)) and all(sk is not None for sk in sks)


def test_county_nds_master_plus_backfills(wh):
    rows = wh.read(COUNTY_NDS).collect()
    by_name = {}
    for r in rows:
        by_name.setdefault(r["county_name"], []).append(r)
    # master rows carry fips
    assert by_name["Hartford"][0]["county_fips"] == "09003"
    # dp1 backfill: Ghostville has measurements but no master row → name-only
    assert len(by_name["Ghostville"]) == 1
    assert by_name["Ghostville"][0]["county_fips"] is None
    # dp2: Windham appears twice — VT master row (fips) + CT patch (no fips)
    windhams = by_name["Windham"]
    assert len(windhams) == 2
    fips = sorted((w["county_fips"] or "NULL") for w in windhams)
    assert fips == ["50025", "NULL"]
    sks = [r["county_id_sk"] for r in rows]
    assert len(sks) == len(set(sks))


def test_measurement_nds_join_and_dedup(wh):
    m = wh.read(MEASUREMENT_NDS)
    rows = m.collect()
    # natural key is unique after keep-first dedup
    keys = [(str(r["measured_date"]), r["defining_parameter"], r["defining_site"]) for r in rows]
    assert len(keys) == len(set(keys))
    # the duplicated s-1 key kept the EARLIEST created (08:00 → aqi 0)
    s1 = [r for r in rows if r["defining_site"] == "s-1"]
    assert len(s1) == 1 and s1[0]["aqi_value"] == 0
    # Ghostville's measurement made it via the dp1-backfilled county row
    assert any(r["defining_site"] == "s-15" for r in rows)
    # Windham CT (s-14) joined through the dp2 patch row
    assert any(r["defining_site"] == "s-14" for r in rows)


def test_idempotent_rerun(wh):
    before = {
        t: wh.read(t).count() for t in (STATE_NDS, COUNTY_NDS, MEASUREMENT_NDS)
    }
    state_sks = {r["state_name"]: r["state_id_sk"] for r in wh.read(STATE_NDS).collect()}
    rerun_at = datetime(2023, 2, 2, 12, 0, 0)
    run_stage_to_nds(wh, now=rerun_at)
    after = {t: wh.read(t).count() for t in (STATE_NDS, COUNTY_NDS, MEASUREMENT_NDS)}
    assert before == after
    # surrogate keys are stable across re-runs
    assert state_sks == {
        r["state_name"]: r["state_id_sk"] for r in wh.read(STATE_NDS).collect()
    }
    # matched rows got their last_updated_nds bumped to the rerun stamp
    st = wh.read(STATE_NDS).filter(F.col("state_name") == "Connecticut").first()
    assert st["last_updated_nds"] == rerun_at


@pytest.mark.parametrize("scheme", ["file://", "s3a://bucket"])
def test_warehouse_rejects_uri_root(spark, tmp_path, monkeypatch, scheme):
    """os.path reads "file:///x" as a relative "file:" directory while
    Spark writes to /x, so a URI root would make reads silently empty."""
    monkeypatch.chdir(tmp_path)
    with pytest.raises(ValueError, match="local path"):
        Warehouse(spark, f"{scheme}{tmp_path}/wh")
    assert os.listdir(tmp_path) == []

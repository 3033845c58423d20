"""Surrogate keys across loads, and the plan-building contract of the
stage → NDS path.

Two nights load a small warehouse. The second inserts a state, master
counties, a dp1 county (measurements but no master row) and new
measurements, and restates one loaded measurement. Every expected key
is computed from the rows written here, never read back from the
program: existing keys must survive and new keys must continue from
the table's max in the documented order.

The same warehouse then backs two guards. The upserts must build their
MERGE plans without starting a Spark job: reads trust the declared
schemas and the surrogate-key offset lives inside the plan. And since
reads trust the declared schemas, what the transforms and the upserts
produce must be exactly those schemas.
"""

from __future__ import annotations

import csv
import os
from datetime import date, datetime

import pytest
from conftest import jobs_started, run_stage_to_nds

from aqi_analysis_apache_airflow_spark.pipelines import stage_to_nds as s2n
from aqi_analysis_apache_airflow_spark.pipelines.metadata import set_cet, set_lset
from aqi_analysis_apache_airflow_spark.pipelines.source_to_stage import (
    AQI_STAGE,
    COUNTIES_STAGE,
    process_aqi_files,
    process_counties_file,
    transform_aqi,
    transform_counties,
)
from aqi_analysis_apache_airflow_spark.pipelines.warehouse import Warehouse
from aqi_analysis_apache_airflow_spark.schemas import (
    COUNTY_NDS_SCHEMA,
    MEASUREMENT_NDS_SCHEMA,
    STATE_AQI_STAGE_SCHEMA,
    STATE_NDS_SCHEMA,
    US_COUNTIES_STAGE_SCHEMA,
)
from aqi_analysis_apache_airflow_spark.sources.readers import (
    read_aqi_csv_glob,
    read_counties_csv,
)

AQI_HEADER = [
    "State Name", "county Name", "State Code", "County Code", "Date", "AQI",
    "Category", "Defining Parameter", "Defining Site",
    "Number of Sites Reporting", "Created", "Last Updated",
]
COUNTIES_HEADER = [
    "county", "county_ascii", "county_full", "county_fips", "state_id",
    "state_name", "lat", "lng", "population",
]

#: (state, county, aqi, site, parameter, created); measured_date = date(created)
NIGHT1 = [
    ("Connecticut", "Hartford", 40, "s-a", "PM2.5", "2023-01-10 08:00:00"),
    ("Connecticut", "Hartford", 55, "s-b", "PM2.5", "2023-01-10 08:00:00"),
    ("Vermont", "Windsor", 30, "s-c", "Ozone", "2023-01-12 08:00:00"),
    ("Connecticut", "Ghostville", 70, "s-d", "PM2.5", "2023-01-11 08:00:00"),  # dp1
    ("Connecticut", "Windham", 20, "s-e", "PM2.5", "2023-01-11 08:00:00"),  # dp2
]
NIGHT2 = [
    ("Connecticut", "Hartford", 99, "s-b", "PM2.5", "2023-01-10 08:00:00"),  # restated
    ("Connecticut", "Hartford", 41, "s-a", "PM2.5", "2023-02-10 08:00:00"),
    ("Vermont", "Windsor", 31, "s-c", "Ozone", "2023-02-03 08:00:00"),
    ("Connecticut", "Tolland", 60, "s-f", "PM2.5", "2023-02-05 08:00:00"),  # new master
    ("Connecticut", "Phantom", 80, "s-g", "Ozone", "2023-02-04 08:00:00"),  # new dp1
    ("Connecticut", "Ghostville", 71, "s-d", "PM2.5", "2023-02-06 08:00:00"),
    ("Maine", "York", 15, "s-h", "PM2.5", "2023-02-07 08:00:00"),  # new state
]
#: one load whose dp1 county sorts after "Windham" and that patches Windham CT
NIGHT_MIXED = [
    ("Connecticut", "Hartford", 40, "s-a", "PM2.5", "2023-01-10 08:00:00"),
    ("Connecticut", "Yellowstone Gap", 70, "s-d", "PM2.5", "2023-01-11 08:00:00"),  # dp1
    ("Connecticut", "Windham", 20, "s-e", "PM2.5", "2023-01-11 08:00:00"),  # dp2
]
#: (county, fips, state_id, state_name)
MASTER1 = [
    ("Hartford", "09003", "CT", "Connecticut"),
    ("Windham", "50025", "VT", "Vermont"),
    ("Windsor", "50027", "VT", "Vermont"),
]
MASTER2 = MASTER1 + [
    ("York", "23031", "ME", "Maine"),
    ("Tolland", "09013", "CT", "Connecticut"),
]
#: (lset, cet, updated stamp of the night's rows, now)
WINDOW1 = (datetime(2023, 1, 1), datetime(2023, 1, 31, 23, 59, 59),
           "2023-01-15 00:00:00", datetime(2023, 2, 1, 12))
WINDOW2 = (datetime(2023, 2, 1), datetime(2023, 2, 28, 23, 59, 59),
           "2023-02-15 00:00:00", datetime(2023, 3, 1, 12))


def natural_key(row) -> tuple:
    return (date.fromisoformat(row[5][:10]), row[3], row[4])


def numbered(start_after: int, keys) -> dict:
    """``keys`` in sorted order numbered ``start_after + 1, + 2, …``."""
    return {k: start_after + i for i, k in enumerate(sorted(keys), 1)}


def write_sources(src: str, nights=((NIGHT1, WINDOW1), (NIGHT2, WINDOW2))) -> None:
    os.makedirs(os.path.join(src, "aqi"), exist_ok=True)
    with open(os.path.join(src, "aqi", "10_state_aqi_2023.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(AQI_HEADER)
        for rows, (_, _, updated, _) in nights:
            for state, county, aqi, site, param, created in rows:
                w.writerow([state, county, "09", "001", created[:10], aqi, "x",
                            param, site, 1, created, updated])


def write_master(path: str, master) -> None:
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(COUNTIES_HEADER)
        for county, fips, sid, state in master:
            w.writerow([county, county, f"{county} County", fips, sid, state, 0.0, 0.0, 1])


def load(wh: Warehouse, src: str, master, window) -> None:
    lset, cet, _, now = window
    write_master(os.path.join(src, "uscounties.csv"), master)
    set_cet(wh, AQI_STAGE, cet)
    set_lset(wh, AQI_STAGE, lset)
    process_aqi_files(wh, os.path.join(src, "aqi"))
    process_counties_file(wh, os.path.join(src, "uscounties.csv"))
    run_stage_to_nds(wh, now)


def snapshot(wh: Warehouse) -> dict:
    """Natural key → surrogate key of every NDS table."""
    return {
        "states": {
            r["state_name"]: r["state_id_sk"] for r in wh.read(s2n.STATE_NDS).collect()
        },
        "counties": {
            (r["county_name"], r["county_fips"]): r["county_id_sk"]
            for r in wh.read(s2n.COUNTY_NDS).collect()
        },
        "measurements": {
            (r["measured_date"], r["defining_site"], r["defining_parameter"]): r[
                "measurement_id_sk"
            ]
            for r in wh.read(s2n.MEASUREMENT_NDS).collect()
        },
    }


@pytest.fixture(scope="module")
def src(tmp_path_factory):
    src = str(tmp_path_factory.mktemp("nds_keys_source"))
    write_sources(src)
    write_master(os.path.join(src, "uscounties.csv"), MASTER1)
    return src


@pytest.fixture(scope="module")
def loaded(spark, src, tmp_path_factory):
    wh = Warehouse(spark, str(tmp_path_factory.mktemp("nds_keys_warehouse")))
    load(wh, src, MASTER1, WINDOW1)
    first = snapshot(wh)
    load(wh, src, MASTER2, WINDOW2)
    return wh, first, snapshot(wh)


def test_first_load_numbers_from_one(loaded):
    _, first, _ = loaded
    assert first["states"] == numbered(0, ["Connecticut", "Vermont"])
    # master rows by (fips, name), then dp1 (Ghostville), then dp2 (Windham CT)
    assert first["counties"] == {
        ("Hartford", "09003"): 1,
        ("Windham", "50025"): 2,
        ("Windsor", "50027"): 3,
        ("Ghostville", None): 4,
        ("Windham", None): 5,
    }
    assert first["measurements"] == numbered(0, {natural_key(r) for r in NIGHT1})


def test_second_load_keeps_existing_keys(loaded):
    _, first, second = loaded
    for table in ("states", "counties", "measurements"):
        kept = {k: second[table].get(k) for k in first[table]}
        assert kept == first[table], table


def test_second_load_continues_from_max(loaded):
    _, first, second = loaded
    new_states = {k: v for k, v in second["states"].items() if k not in first["states"]}
    assert new_states == numbered(max(first["states"].values()), ["Maine"])

    old = {natural_key(r) for r in NIGHT1}
    new = {natural_key(r) for r in NIGHT2} - old
    assert len(new) == len(NIGHT2) - 1  # one row restates a loaded key
    new_measurements = {
        k: v for k, v in second["measurements"].items() if k not in first["measurements"]
    }
    assert new_measurements == numbered(max(first["measurements"].values()), new)


def test_dp1_numbered_after_master_inserts(loaded):
    _, first, second = loaded
    top = max(first["counties"].values())
    new_counties = {k: v for k, v in second["counties"].items() if k not in first["counties"]}
    # the county upsert numbers master inserts by (fips, name); dp1 then
    # appends Phantom (measurements, no master row) after them
    assert new_counties == {
        ("Tolland", "09013"): top + 1,
        ("York", "23031"): top + 2,
        ("Phantom", None): top + 3,
    }


def test_dp1_and_dp2_rows_numbered_together(spark, tmp_path):
    """dp1 and dp2 are one append numbered in (county_name, state_id_sk)
    order, so Windham CT (dp2) takes its key before Yellowstone Gap
    (dp1); each is inserted once, and a rerun of the load inserts
    nothing."""
    src = str(tmp_path / "source")
    write_sources(src, [(NIGHT_MIXED, WINDOW1)])
    wh = Warehouse(spark, str(tmp_path / "warehouse"))

    def counties() -> list[tuple]:
        return sorted(
            (r["county_id_sk"], r["county_name"], r["county_fips"])
            for r in wh.read(s2n.COUNTY_NDS).collect()
        )

    load(wh, src, MASTER1, WINDOW1)
    expected = [
        (1, "Hartford", "09003"),
        (2, "Windham", "50025"),
        (3, "Windsor", "50027"),
        (4, "Windham", None),
        (5, "Yellowstone Gap", None),
    ]
    assert counties() == expected
    load(wh, src, MASTER1, WINDOW1)
    assert counties() == expected


@pytest.fixture
def captured(loaded, monkeypatch):
    """The loaded warehouse with ``overwrite`` stubbed to record the
    frames the upserts would write, in call order."""
    wh = loaded[0]
    frames: list[tuple[str, object]] = []
    monkeypatch.setattr(wh, "overwrite", lambda df, table: frames.append((table, df)))
    return wh, frames


def test_job_probe_sees_a_footer_read(loaded):
    """The probe is live: a bare parquet read infers its schema with a job."""
    wh = loaded[0]
    with jobs_started(wh.spark.sparkContext) as ids:
        wh.spark.read.parquet(wh.path(s2n.MEASUREMENT_NDS))
    assert ids


def test_schema_read_starts_no_job(loaded):
    wh = loaded[0]
    with jobs_started(wh.spark.sparkContext) as ids:
        for table, schema in (
            (AQI_STAGE, STATE_AQI_STAGE_SCHEMA),
            (COUNTIES_STAGE, US_COUNTIES_STAGE_SCHEMA),
            (s2n.STATE_NDS, STATE_NDS_SCHEMA),
            (s2n.COUNTY_NDS, COUNTY_NDS_SCHEMA),
            (s2n.MEASUREMENT_NDS, MEASUREMENT_NDS_SCHEMA),
        ):
            wh.read(table, schema)
    assert ids == []


@pytest.mark.parametrize(
    "upsert", ["upsert_states", "upsert_counties", "upsert_measurements"]
)
def test_upsert_plans_start_no_job(captured, upsert):
    wh, frames = captured
    with jobs_started(wh.spark.sparkContext) as ids:
        getattr(s2n, upsert)(wh, datetime(2023, 3, 2))
    assert frames, "the upsert wrote nothing"
    assert ids == []


def fields(schema) -> list[tuple]:
    """Names, order and types; nullability is not part of the contract."""
    return [(f.name, f.dataType) for f in schema.fields]


def test_transforms_produce_declared_stage_schemas(spark, src):
    lset, cet, _, _ = WINDOW1
    aqi = transform_aqi(read_aqi_csv_glob(spark, os.path.join(src, "aqi")), lset, cet)
    counties = transform_counties(read_counties_csv(spark, os.path.join(src, "uscounties.csv")))
    assert fields(aqi.schema) == fields(STATE_AQI_STAGE_SCHEMA)
    assert fields(counties.schema) == fields(US_COUNTIES_STAGE_SCHEMA)


def test_upserts_produce_declared_nds_schemas(captured):
    wh, frames = captured
    run_stage_to_nds(wh, datetime(2023, 3, 2))
    declared = {
        s2n.STATE_NDS: STATE_NDS_SCHEMA,
        s2n.COUNTY_NDS: COUNTY_NDS_SCHEMA,
        s2n.MEASUREMENT_NDS: MEASUREMENT_NDS_SCHEMA,
    }
    # states, counties (the upsert, then the dp1 + dp2 append), measurements
    assert [t for t, _ in frames] == [s2n.STATE_NDS] + [s2n.COUNTY_NDS] * 2 + [
        s2n.MEASUREMENT_NDS
    ]
    for table, df in frames:
        assert fields(df.schema) == fields(declared[table]), table

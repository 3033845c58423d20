"""Explicit StructType schemas (schema-on-write).

The reference has *no* schema source of truth: SQLAlchemy ``automap_base``
reflects the live Postgres catalog at import time (``dags/etl/models.py:9-12``)
and CSV ingestion relies on pandas dtype inference
(``dags/etl/source_to_stage.py:53``). We invert that: every table has an
explicit StructType here, reads are schema'd (no ``inferSchema``), and a
mismatch fails fast at the scan instead of downstream.

Two groups:

1. AQI domain — the reference's six tables, reconstructed from usage
   (SURVEY.md §1.3; rename maps at ``dags/etl/source_to_stage.py:55-68,92-98``,
   NDS construction at ``dags/etl/stage_to_nds.py:21-28,66-77,156-169``).
2. Test corpus — the driver's TPC-H-ish parquet tables (TESTDATA.md).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --------------------------------------------------------------------------
# AQI domain: raw CSV headers (pre-rename)
# --------------------------------------------------------------------------

#: Raw EPA daily-AQI CSV header, incl. the lowercase-c ``county Name`` quirk
#: (``dags/etl/source_to_stage.py:57``) and the audit columns the reference's
#: source files carry (``source_to_stage.py:66-67``).
AQI_RAW_SCHEMA = T.StructType(
    [
        T.StructField("State Name", T.StringType()),
        T.StructField("county Name", T.StringType()),
        T.StructField("State Code", T.StringType()),
        T.StructField("County Code", T.StringType()),
        T.StructField("Date", T.StringType()),
        T.StructField("AQI", T.IntegerType()),
        T.StructField("Category", T.StringType()),
        T.StructField("Defining Parameter", T.StringType()),
        T.StructField("Defining Site", T.StringType()),
        T.StructField("Number of Sites Reporting", T.IntegerType()),
        T.StructField("Created", T.StringType()),
        T.StructField("Last Updated", T.StringType()),
    ]
)

#: Raw uscounties.csv header (``dags/uscounties.csv:1``).
COUNTIES_RAW_SCHEMA = T.StructType(
    [
        T.StructField("county", T.StringType()),
        T.StructField("county_ascii", T.StringType()),
        T.StructField("county_full", T.StringType()),
        # zero-padded FIPS, e.g. 06037 — string, never int (leading zeros)
        T.StructField("county_fips", T.StringType()),
        T.StructField("state_id", T.StringType()),
        T.StructField("state_name", T.StringType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("lng", T.DoubleType()),
        T.StructField("population", T.LongType()),
    ]
)

# --------------------------------------------------------------------------
# AQI domain: stage + NDS + control tables (post-rename, snake_case)
# --------------------------------------------------------------------------

STATE_AQI_STAGE_SCHEMA = T.StructType(
    [
        T.StructField("state_name", T.StringType()),
        T.StructField("county_name", T.StringType()),
        T.StructField("state_code", T.StringType()),
        T.StructField("county_code", T.StringType()),
        T.StructField("measured_date", T.DateType()),
        T.StructField("aqi_value", T.IntegerType()),
        T.StructField("aqi_category", T.StringType()),
        T.StructField("defining_parameter", T.StringType()),
        T.StructField("defining_site", T.StringType()),
        T.StructField("num_of_sites_reporting", T.IntegerType()),
        T.StructField("created", T.TimestampType()),
        T.StructField("last_updated", T.TimestampType()),
    ]
)

US_COUNTIES_STAGE_SCHEMA = T.StructType(
    [
        T.StructField("county_name", T.StringType()),
        T.StructField("county_ascii", T.StringType()),
        T.StructField("county_fullname", T.StringType()),
        T.StructField("county_fips", T.StringType()),
        T.StructField("state_id", T.StringType()),
        T.StructField("state_name", T.StringType()),
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
        T.StructField("county_population", T.LongType()),
    ]
)

STATE_NDS_SCHEMA = T.StructType(
    [
        T.StructField("state_id_sk", T.LongType(), False),
        T.StructField("state_code", T.StringType()),
        T.StructField("state_name", T.StringType()),
        T.StructField("state_id", T.StringType()),
        T.StructField("created_date_nds", T.TimestampType()),
        T.StructField("last_updated_nds", T.TimestampType()),
        T.StructField("source_id", T.IntegerType()),
    ]
)

COUNTY_NDS_SCHEMA = T.StructType(
    [
        T.StructField("county_id_sk", T.LongType(), False),
        T.StructField("county_fips", T.StringType()),
        T.StructField("county_name", T.StringType()),
        T.StructField("county_fullname", T.StringType()),
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
        T.StructField("county_population", T.LongType()),
        T.StructField("state_id_sk", T.LongType()),
        T.StructField("created_date_nds", T.TimestampType()),
        T.StructField("last_updated_nds", T.TimestampType()),
        T.StructField("source_id", T.IntegerType()),
    ]
)

MEASUREMENT_NDS_SCHEMA = T.StructType(
    [
        T.StructField("measurement_id_sk", T.LongType(), False),
        T.StructField("measured_date", T.DateType()),
        T.StructField("defining_site", T.StringType()),
        T.StructField("defining_parameter", T.StringType()),
        T.StructField("aqi_value", T.IntegerType()),
        T.StructField("aqi_category", T.StringType()),
        T.StructField("num_of_sites_reporting", T.IntegerType()),
        T.StructField("created", T.TimestampType()),
        T.StructField("last_updated", T.TimestampType()),
        T.StructField("county_id_sk", T.LongType()),
        T.StructField("created_date_nds", T.TimestampType()),
        T.StructField("last_updated_nds", T.TimestampType()),
        T.StructField("source_id", T.IntegerType()),
    ]
)

#: Every table the pipelines write, with its declared schema. Reads
#: trust the declaration (``Warehouse.read``) and a mispaired schema
#: reads its columns as NULL, so a table meets its schema only here.
TABLE_SCHEMAS = {
    "state_aqi_stage": STATE_AQI_STAGE_SCHEMA,
    "us_counties_stage": US_COUNTIES_STAGE_SCHEMA,
    "state_nds": STATE_NDS_SCHEMA,
    "county_nds": COUNTY_NDS_SCHEMA,
    "measurement_nds": MEASUREMENT_NDS_SCHEMA,
}

#: Natural (upsert) keys per NDS table (``dags/etl/stage_to_nds.py:16,61,145-149``).
NDS_NATURAL_KEYS = {
    "state_nds": ["state_name"],
    "county_nds": ["county_fips"],
    "measurement_nds": ["measured_date", "defining_site", "defining_parameter"],
}

# --------------------------------------------------------------------------
# Driver test corpus (TESTDATA.md / FIXTURES.md §A)
# --------------------------------------------------------------------------

CORPUS_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
